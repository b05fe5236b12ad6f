"""End-to-end QC pipeline composition (the north-rule flagship).

Stages (lazy; one physical pass over the data per output, with the scored
frame materialized once by score_clips — the single most important
physical decision when ~5 downstream aggregates share it, SURVEY §4):

  read clips
    -> optional acoustic features     [ONE decode Arrow crossing, or
                                       reused as carried by the input]
    -> optional PCM consistency       [byte-length column expressions]
    -> text_scores: explicit clip_id-hash bucketing (the unit of
       parallelism & resume), merged to one task per core (no shuffle)
    -> transcript features            [column expressions, codegen]
    -> langid + perplexity            [ONE Arrow crossing, one task wave]
    -> thresholds (derived once, globally — exact or sketch)
    -> rule engine -> keep / drop_reasons
    -> scrub                          [regexp_replace chain]
  outputs (write_outputs: one commit through checkpoint._write_attempt,
  whose data half writes every resumable load's rows too): kept /
  dropped parquet (flat, rows clustered by bucket), metrics side tables
  (drop-reason histogram, langid-confidence histogram, quantiles),
  lineage rows per bucket (input/kept/dropped counts) — the resume
  manifest.

Scale notes: `bytes` is pruned out of every path unless a bytes-reading
stage (PCM consistency, or acoustic features the input does not already
carry — dedup_table's survivors carry them) is on — verify with
.explain: ReadSchema excludes it; decode-crossing variants stage through
parquet instead of persist (measured 5x). Buckets are
pmod(xxhash64(clip_id), n_buckets) — stable across cluster sizes, so
lineage and resume are parallelism-independent. Skewed language buckets
only matter to the metrics aggregates, whose keys include lang; the salt
is the bucket id already present in the group key.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qcflow.features import clip_features, pcm_consistency
from qcflow.rules import (
    Thresholds,
    acoustic_rule_conditions,
    apply_rules,
    derive_thresholds,
)
from qcflow.scrub import scrub
from qcflow.udfs import with_langid_ppl

N_BUCKETS = 64


@dataclass
class QcResult:
    scored: DataFrame  # full frame: features + lang + rules + scrub
    thresholds: Thresholds
    _cached: DataFrame | None = None  # the internal persisted frame
    _stage_dir: str | None = None  # parquet staging dir (decode path)

    def release(self) -> None:
        """Free the materialization backing ``scored`` (cache or staging
        files). ``scored`` itself is derived, so unpersisting it directly
        would be a silent no-op."""
        if self._cached is not None:
            self._cached.unpersist()
        if self._stage_dir is not None:
            import shutil

            shutil.rmtree(self._stage_dir, ignore_errors=True)


def bucket_col(n_buckets: int = N_BUCKETS):
    return F.pmod(F.xxhash64("clip_id"), F.lit(n_buckets)).cast("int")


def text_scores(df: DataFrame, n_buckets: int = N_BUCKETS) -> DataFrame:
    """The one text pass (score_clips, which every checkpoint write
    scores through): ``df`` minus ``bytes``, plus ``bucket``, the text
    features and lang / lang_conf / perplexity in one Arrow crossing, over ONE
    partition per core. The payload-sized scan splits over-fragment
    this narrow frame, and the crossing costs a fixed ~0.3 s per wave of
    Python tasks on 4 cores against ~40 ms of kernel per 4000 rows, so
    the coalesce (no shuffle; a no-op when already narrower) is the
    lever — and it sizes every action downstream of the result."""
    spark = df.sparkSession
    one_wave = (
        df.drop("bytes")
        .withColumn("bucket", bucket_col(n_buckets))
        .coalesce(max(spark.sparkContext.defaultParallelism, 1))
    )
    return with_langid_ppl(clip_features(one_wave), spark)


def score_clips(
    spark: SparkSession,
    clips: DataFrame,
    exact_thresholds: bool = True,
    check_pcm: bool = False,
    check_acoustics: bool = False,
    n_buckets: int = N_BUCKETS,
    thresholds: Thresholds | None = None,
) -> QcResult:
    """Run features + models + rules + scrub; returns the scored frame
    and the derived (or given) thresholds. The scored frame is
    materialized exactly once here — persisted, or staged to parquet
    whole when ``check_pcm`` reads the bytes — and ``QcResult.release``
    frees it (also when deriving the thresholds fails, e.g. on an empty
    input); its consumers (``write_outputs``, the checkpoint writes)
    read that materialization and add none of their own.

    ``check_acoustics`` adds the acoustic feature stage
    (clip/silence/DC rules): features the input already carries
    (dedup_table's survivors) are reused without reading ``bytes``;
    otherwise one extra Arrow crossing decodes them. Without
    ``check_pcm`` that decode pass's output — the input's columns minus
    ``bytes``, plus the decoded features, one row per input row — is
    staged to parquet and the text/model pass runs over that slim stage
    (the full scored frame through the vdisk measured up to 2.45x slower,
    BENCH/ab_stage_slim.json). No join puts the features back, so a
    repeated ``clip_id`` keeps one row per copy, each with its own
    features."""
    import tempfile

    from qcflow.udfs import acoustic_features, has_audio_features

    decode = check_acoustics and not has_audio_features(clips)
    stage_dir = None
    if decode or check_pcm:
        stage_dir = tempfile.mkdtemp(prefix="qcflow_stage_")
    if decode and not check_pcm:
        # slim decode pass: bytes never leave the scan stage
        acoustic_features(clips).drop("bytes").write.parquet(
            f"{stage_dir}/acoustic.parquet"
        )
        df = spark.read.parquet(f"{stage_dir}/acoustic.parquet")
    else:
        df = acoustic_features(clips) if check_acoustics else clips
        # the consistency columns derive from byte LENGTHS only; the
        # text pass drops `bytes` right after
        df = pcm_consistency(df) if check_pcm else df
    df = text_scores(df, n_buckets)
    # The UDF output feeds threshold derivation and every output of the
    # commit, so it is materialized once, not recomputed per downstream
    # action: persisted (in-memory columnar, cheap), except on the full
    # byte-reading path, which stages through parquet — persist on a
    # plan whose scan stage carries the audio bytes measured 5x slower
    # than staging (cache-build GC churn); at 10^12 rows the staged
    # frame is the Iceberg intermediate table anyway.
    cached = None
    if check_pcm:
        df.write.parquet(f"{stage_dir}/scored.parquet")
        df = spark.read.parquet(f"{stage_dir}/scored.parquet")
    else:
        df = cached = df.persist()
    try:
        thr = thresholds or derive_thresholds(df, exact=exact_thresholds)
    except Exception:
        QcResult(df, None, cached, stage_dir).release()
        raise
    extra = []
    if check_pcm:
        extra.append(("pcm_inconsistent", F.col("pcm_inconsistent")))
    if check_acoustics:
        extra.extend(acoustic_rule_conditions())
    flagged = scrub(apply_rules(df, thr, extra_rules=extra))
    return QcResult(
        scored=flagged, thresholds=thr, _cached=cached, _stage_dir=stage_dir
    )


KEEP_COLS = [
    "clip_id",
    "bucket",
    "sr_hz",
    "dur_ms",
    "codec",
    "lang",
    "lang_conf",
    "perplexity",
    "scrubbed_transcript",
]
DROP_COLS = ["clip_id", "bucket", "lang", "lang_conf", "drop_reasons"]


def write_outputs(res: QcResult, out_dir: str, mode: str = "overwrite") -> dict:
    """Commit a one-shot run as ONE increment of the snapshot manifest:
    kept/dropped/metrics partials/lineage through
    ``checkpoint._write_attempt`` (the write the resumable, snapshot-diff
    and replace paths use), then the merged metrics tables
    (``finalize_metrics``, driver-side). Returns counts, taken from the
    committed lineage rows.

    ``res.scored`` is already materialized by score_clips, so the write
    is _write_attempt's three concurrent jobs over it, with kept/dropped
    rebalanced on bucket: AQE sizes the writer-task count to the data
    and each writer task writes ONE flat, bucket-sorted file.

    Every run commits under its own snapshot id from
    checkpoint.next_snapshot_id, allocated before any data is written:
    a run that crashes before its lineage commit burns its id, so its
    rows stay invisible to committed readers after any later run, and
    one-shot appends can share a directory with resumable increments.
    ``mode='overwrite'`` first removes the previous kept/dropped rows
    and manifest (partials, lineage and a resumable load's pending
    record), so the run starts fresh;
    ``'append'`` adds a snapshot to them."""
    import shutil

    from qcflow.checkpoint import (
        _drop_pending,
        _write_attempt,
        finalize_metrics,
        next_snapshot_id,
    )

    spark = res.scored.sparkSession
    if mode == "overwrite":
        # a fresh manifest BEFORE any data write: a crash mid-run then
        # leaves an empty committed view, never old lineage over new rows
        for tbl in ("kept", "dropped", "metrics_partials", "lineage"):
            shutil.rmtree(f"{out_dir}/{tbl}.parquet", ignore_errors=True)
        _drop_pending(out_dir)
    snap = next_snapshot_id(spark, out_dir)
    lin = _write_attempt(res.scored, out_dir, snap, "append")
    finalize_metrics(spark, out_dir)
    return {"n_input": int(lin["n_input"].sum()), "n_kept": int(lin["n_kept"].sum())}


def normalize_clips(
    clips: DataFrame,
    target_sr: int = 16000,
    trim: bool = True,
    gain: bool = True,
) -> DataFrame:
    """Audio-normalization stage producing a VALID clips table: every
    decodable row is re-emitted with ``bytes`` = the trimmed, resampled
    (``target_sr``), loudness-normalized pcm16 payload, ``codec`` =
    'pcm16', ``sr_hz`` = target_sr and ``dur_ms`` recomputed — so the
    output parquet feeds straight back into score_clips / the stream /
    downstream models. All other input columns pass through unchanged;
    ``gain_db`` / ``clip_after`` / ``lead_samples`` ride along for
    metrics. Input rows with NULL bytes or an unknown codec are
    filtered at the SCAN (never decoded — filtering on the UDF output
    would clone the Arrow node, CLAUDE.md r5); rows whose payload fails
    decode despite a known codec keep NULL bytes in the output for
    lineage and are cheap to drop downstream. Map-only: one Arrow
    crossing, no shuffle at any scale."""
    from qcflow import audio
    from qcflow.udfs import AUDIO_FEATURE_COLS, with_normalize

    decodable = clips.filter(
        F.col("bytes").isNotNull() & F.col("codec").isin(*audio.KNOWN_CODECS)
    )
    # features of the OLD payload must not ride along with the new bytes
    carried = [
        c
        for c in clips.columns
        if c not in ("bytes", "codec", "sr_hz", "dur_ms", *AUDIO_FEATURE_COLS)
    ]
    ndf = with_normalize(decodable, target_sr=target_sr, trim=trim, gain=gain)
    return ndf.select(
        *carried,
        F.col("norm_bytes").alias("bytes"),
        F.lit("pcm16").alias("codec"),
        F.lit(target_sr).alias("sr_hz"),
        F.round(F.col("norm_samples") * 1000.0 / F.lit(target_sr))
        .cast("int")
        .alias("dur_ms"),
        "gain_db",
        "clip_after",
        "lead_samples",
    )


def segment_table(
    clips: DataFrame, win_ms: int = 400, align: bool = True
) -> DataFrame:
    """Segmentation stage producing a VALID clips table of training
    segments: each decodable clip becomes one row per 400 ms window with
    ``clip_id`` = '<parent>#<seg_idx>', ``bytes`` = the pcm16 segment
    payload, ``dur_ms`` recomputed from the true segment length, and —
    when ``align`` and a transcript column exist — ``transcript`` = the
    words whose uniform-rate midpoints fall in that window
    (features.align_transcript_segments). The output feeds straight
    back into score_clips / the stream, closing the loop: normalize ->
    segment -> QC each training row.

    Scale shape: the decode/segment pass is map-only (one Arrow
    crossing, JVM-side generator); the alignment side derives counts
    from BYTE LENGTH (no second decode) and joins back on
    (clip_id, seg_idx) — both sides hash-partition on the same key, and
    segment rows are payload-heavy while alignment rows are strings, so
    the shuffle ships each exactly once. parent_id/seg_idx ride along
    for lineage."""
    from qcflow import audio
    from qcflow.features import align_transcript_segments, valid_sr_col
    from qcflow.udfs import AUDIO_FEATURE_COLS, segment_clips

    decodable = clips.filter(
        F.col("bytes").isNotNull() & F.col("codec").isin(*audio.KNOWN_CODECS)
    )
    # segment_clips decodes invalid/NULL sr on the 8000 Hz fallback grid;
    # the emitted rows must carry that EFFECTIVE rate (sr_hz=0 would both
    # mislabel the payload and ANSI-throw in the dur_ms division)
    sr_eff = F.when(valid_sr_col(), F.col("sr_hz")).otherwise(F.lit(8000))
    # features of the parent payload must not ride along with the segments
    drop = ("clip_id", "bytes", "codec", "sr_hz", "dur_ms", "transcript")
    carried = [
        c for c in clips.columns if c not in (*drop, *AUDIO_FEATURE_COLS)
    ]
    segs = segment_clips(decodable, win_ms=win_ms).select(
        F.col("clip_id").alias("parent_id"),
        "seg_idx",
        *carried,
        F.concat_ws(
            "#", F.col("clip_id").cast("string"), F.col("seg_idx").cast("string")
        ).alias("clip_id"),
        F.col("seg_bytes").alias("bytes"),
        F.lit("pcm16").alias("codec"),
        sr_eff.alias("sr_hz"),
        F.round(F.col("n_samples") * 1000.0 / sr_eff).cast("int").alias("dur_ms"),
    )
    if align and "transcript" in clips.columns:
        al = align_transcript_segments(decodable, win_ms=win_ms).select(
            F.col("clip_id").alias("parent_id"),
            "seg_idx",
            F.col("seg_text").alias("transcript"),
        )
        segs = segs.join(al, ["parent_id", "seg_idx"], "left").withColumn(
            "transcript", F.coalesce(F.col("transcript"), F.lit(""))
        )
    return segs


def _fp_bands(fp: DataFrame, id_col: str, fp_col: str = "audio_fp") -> DataFrame:
    """Explode a 64-bit fingerprint frame into its 4x16-bit
    (band, bucket) rows — the banded-Hamming join key (pigeonhole:
    Hamming <= 3 guarantees one shared clean band)."""
    return fp.select(
        id_col,
        fp_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.expr(f"({fp_col} >> {j * 16}) & 65535").alias(
                            "bucket"
                        ),
                    )
                    for j in range(4)
                ]
            )
        ).alias("bb"),
    ).select(id_col, fp_col, "bb.band", "bb.bucket")


def fp_pairs(fp: DataFrame, id_col: str, ham_max: int = 3) -> DataFrame:
    """Near-dup pairs (id_a < id_b) of a fingerprint frame (``id_col``,
    ``audio_fp``): band explode, (band, bucket) self-join, exact Hamming
    filter within ``ham_max``. The only rows shuffled are the 8-byte
    hashes and ids. Shared by dedup_table, dedup_increment and the
    dedup_audio_fp_10k bench key, so the bench times this code."""
    bands = _fp_bands(fp, id_col)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(F.bit_count(F.expr("a.audio_fp ^ b.audio_fp")) <= ham_max)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .dropDuplicates()
    )


def dedup_table(
    clips: DataFrame, ham_max: int = 3, quality: str = "snr"
) -> DataFrame:
    """Audio near-dup dedup stage producing a VALID clips table of
    SURVIVORS: banded Hamming self-join of spectral fingerprints within
    ``ham_max``, distributed connected components over the pair graph,
    then ONE survivor per cluster — the highest-quality member (blind
    SNR estimate) with a min-clip_id tie-break, the dedup_best_survivor
    shape. Non-clustered rows pass through untouched; ``cluster_rep`` /
    ``cluster_size`` ride along (NULL for singletons) for lineage, and
    every row carries ``AUDIO_FEATURE_COLS`` (NULL where undecodable),
    which score_clips(check_acoustics=True) reuses instead of decoding
    the survivors again.

    Scale shape: clip bytes cross into Python exactly ONCE — one decode
    (udfs.with_decode) emits the fingerprint, the SNR and the acoustic
    features into a localCheckpointed slim frame (no bytes). The band
    self-join, the connected components and the survivor choice all
    read that frame and shuffle only hashes, ids and a few doubles; the
    cluster size is a count over the component labels (one row per
    member) and the survivor a min over one window per cluster. The
    survivor decision (one slim row per clip row) is BROADCAST onto the
    clips frame while its row-count bound (observed when the stage is
    checkpointed) fits spark.sql.autoBroadcastJoinThreshold, so the
    payload-carrying frame never shuffles; a larger decision takes a
    shuffle join, which moves the payload once. The
    decision is keyed on (xxhash64(clip_id), a content hash of
    bytes/codec/sr_hz) and deduplicated on that key, so a repeated
    clip_id never multiplies rows and each copy keeps its own features.
    The graph is keyed on xxhash64(clip_id) so string ids work with the
    long-keyed CC kernel; survivor choice never depends on the hash
    (quality + lexicographic clip_id only)."""
    from pyspark.sql import Observation, Window

    from qcflow import audio
    from qcflow.graph import connected_components
    from qcflow.udfs import AUDIO_FEATURE_COLS, with_decode

    decodable = F.col("bytes").isNotNull() & F.col("codec").isin(*audio.KNOWN_CODECS)
    keys = [
        F.xxhash64("clip_id").alias("nid"),
        F.xxhash64("bytes", "codec", "sr_hz").alias("_ch"),
    ]
    # every clip row, its payload handed to the decode only when decodable
    # (the rest decode to NULL without their bytes crossing into Python)
    staged = Observation()
    stage = (
        with_decode(
            clips.select(
                *keys,
                "clip_id",
                F.when(decodable, F.col("bytes")).alias("bytes"),
                "codec",
                "sr_hz",
            ),
            ["audio_fp", "snr_est_db", *AUDIO_FEATURE_COLS],
        )
        .drop("bytes", "codec", "sr_hz")
        .observe(staged, F.count(F.lit(1)).alias("rows"))
        .localCheckpoint()
    )
    pairs = fp_pairs(stage.filter(F.col("audio_fp").isNotNull()), "nid", ham_max)
    # cc has one row per clustered nid, so the size is an O(k) count
    cc = connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("id").alias("nid"),
        F.col("comp").alias("cluster_rep"),
        F.count("*").over(Window.partitionBy("comp")).alias("cluster_size"),
    )
    # survivor: one window per cluster; a singleton's window is its own
    # nid, so no window partition grows with the corpus
    w = Window.partitionBy(F.coalesce("cluster_rep", "nid"))
    rank = F.struct(  # quality first, then min clip_id
        (-F.coalesce(F.col("snr_est_db"), F.lit(-1e9))).alias("nq"),
        F.col("clip_id").alias("sid"),
    )
    decision = (
        stage.join(cc, "nid", "left")
        .withColumn("_survivor", F.min(rank).over(w)["sid"])
        .filter(
            F.col("cluster_rep").isNull() | (F.col("clip_id") == F.col("_survivor"))
        )
        .select("nid", "_ch", "cluster_rep", "cluster_size", *AUDIO_FEATURE_COLS)
        .dropDuplicates(["nid", "_ch"])
    )
    # at most one fixed-width decision row per staged row: broadcast the
    # decision while that bound fits the session's broadcast threshold
    conf = clips.sparkSession._jsparkSession.sessionState().conf()
    if staged.get["rows"] * 8 * (1 + len(decision.columns)) <= (
        conf.autoBroadcastJoinThreshold()
    ):
        decision = F.broadcast(decision)
    return (
        clips.drop("cluster_rep", "cluster_size", *AUDIO_FEATURE_COLS)
        .select("*", *keys)
        .join(decision, ["nid", "_ch"])
        .drop("nid", "_ch")
    )


def decontaminate_table(
    clips: DataFrame, eval_clips: DataFrame, ham_max: int = 3
) -> DataFrame:
    """Eval-set decontamination stage: every corpus clip gains
    ``contam_eval_id`` / ``contam_hamming`` (NULL = clean) by spectral-
    fingerprint banded-Hamming match against the held-out eval clips —
    the production form of the audio_decontaminate gate. The eval set
    is dimension-sized at any corpus scale, so its fingerprint band
    rows BROADCAST: corpus scan -> one Arrow fp crossing -> band
    explode -> broadcast hash join -> exact Hamming filter -> left join
    of the (tiny) hit set back onto the corpus; corpus bytes never
    shuffle. Rows the fingerprint can't read (NULL bytes, unknown
    codec) are conservatively left unflagged — they fail QC decode
    rules downstream anyway."""
    from qcflow import audio
    from qcflow.udfs import with_audio_fp

    decodable = clips.filter(
        F.col("bytes").isNotNull() & F.col("codec").isin(*audio.KNOWN_CODECS)
    )
    corp_fp = (
        with_audio_fp(decodable)
        .select("clip_id", "audio_fp")
        .filter(F.col("audio_fp").isNotNull())
    )
    eval_dec = eval_clips.filter(
        F.col("bytes").isNotNull() & F.col("codec").isin(*audio.KNOWN_CODECS)
    )
    eval_fp = (
        with_audio_fp(eval_dec)
        .select(
            F.col("clip_id").alias("contam_eval_id"),
            F.col("audio_fp").alias("eval_fp"),
        )
        .filter(F.col("eval_fp").isNotNull())
    )
    eval_bands = _fp_bands(eval_fp, "contam_eval_id", fp_col="eval_fp")
    hits = (
        _fp_bands(corp_fp, "clip_id")
        .join(F.broadcast(eval_bands), ["band", "bucket"])
        .withColumn(
            "contam_hamming",
            F.bit_count(F.expr("audio_fp ^ eval_fp")).cast("int"),
        )
        .filter(F.col("contam_hamming") <= ham_max)
        .groupBy("clip_id")
        .agg(
            F.min(
                F.struct(
                    F.col("contam_hamming").alias("h"),
                    F.col("contam_eval_id").alias("e"),
                )
            ).alias("m")
        )
        .select(
            "clip_id",
            F.col("m.e").alias("contam_eval_id"),
            F.col("m.h").alias("contam_hamming"),
        )
    )
    return clips.join(hits, "clip_id", "left")


def dedup_increment(
    new_clips: DataFrame, committed_fp: DataFrame, ham_max: int = 3
) -> DataFrame:
    """Incremental near-dup dedup for a resumable load: dedup a NEW
    snapshot's clips against (a) the already-committed corpus — via its
    persisted fingerprint table, 8 bytes/clip, history never rescanned —
    and (b) themselves (intra-increment copies). Returns the new rows
    that survive, with ``dup_of_committed`` (the committed fp it
    collided with, NULL if none — survivors always have NULL) dropped
    and intra-increment clusters reduced to their min-id member.

    Scale shape: the increment's bytes cross into Python once (the
    fingerprint); both the committed probe and the self-join are hash
    joins keyed on (band, bucket) over 8-byte rows — the committed side
    is corpus-sized, so it is NEVER broadcast; at 10^12 clips its
    fingerprint table is what the snapshot manifest stages per commit
    (the audio analogue of index_store's encoded appends)."""
    from qcflow import audio
    from qcflow.graph import resolve_clusters
    from qcflow.udfs import with_audio_fp

    decodable = new_clips.filter(
        F.col("bytes").isNotNull() & F.col("codec").isin(*audio.KNOWN_CODECS)
    )
    fp = (
        with_audio_fp(decodable)
        .select(F.xxhash64("clip_id").alias("nid"), "clip_id", "audio_fp")
        .filter(F.col("audio_fp").isNotNull())
        .localCheckpoint()
    )
    new_bands = _fp_bands(fp, "nid")
    # (a) probe the committed fingerprint table
    com_bands = _fp_bands(
        committed_fp.select(
            F.col("clip_id").alias("committed_id"),
            F.col("audio_fp").alias("committed_fp"),
        ),
        "committed_id",
        fp_col="committed_fp",
    )
    hit_committed = (
        new_bands.join(com_bands, ["band", "bucket"])
        .filter(
            F.bit_count(F.expr("audio_fp ^ committed_fp")) <= ham_max
        )
        .select("nid")
        .distinct()
    )
    # (b) intra-increment clusters -> min-id survivor
    clusters = resolve_clusters(fp_pairs(fp, "nid", ham_max)).withColumnRenamed(
        "doc_id", "nid"
    )
    withc = (
        new_clips.withColumn("nid", F.xxhash64("clip_id"))
        .join(clusters, "nid", "left")
        .join(hit_committed.withColumn("_hit", F.lit(1)), "nid", "left")
    )
    # cluster representative chosen among members that did NOT hit the
    # committed corpus — a cluster keeps one member unless every member
    # is a committed dup; the tie-break is min clip_id (never the graph
    # hash, which is layout-stable but not caller-meaningful)
    reps = (
        withc.filter(F.col("_hit").isNull() & F.col("cluster_rep").isNotNull())
        .groupBy("cluster_rep")
        .agg(F.min("clip_id").alias("_rep_cid"))
    )
    return (
        withc.join(reps, "cluster_rep", "left")
        .filter(
            F.col("_hit").isNull()
            & (
                F.col("cluster_rep").isNull()
                | (F.col("clip_id") == F.col("_rep_cid"))
            )
        )
        .drop("nid", "_hit", "_rep_cid")
    )


def pack_table(clips: DataFrame, budget_ms: int = 3000) -> DataFrame:
    """Packing stage producing a VALID clips table of training EXAMPLES:
    pcm16 rows (run `normalize` first — it emits uniform pcm16) are
    folded into ~``budget_ms`` packs (the next-fit decision sums
    per-member floor(dur_ms), so a pack's exact emitted duration can
    exceed the budget by up to n_members - 1 ms of accumulated sub-ms
    floor losses) by greedy next-fit inside
    deterministic hash-ordered groups, then each pack's payloads are
    physically CONCATENATED (JVM binary fold — bytes never enter
    Python) with transcripts joined in the same order and ``parents``
    carrying lineage. Rows longer than the budget pack alone; non-pcm16
    rows are dropped (mixed codecs cannot concatenate — the stage
    contract is normalize -> segment -> dedup -> pack). Packing groups
    key on (sr_hz, hash-group) so a pack never mixes sample rates.

    Scale shape: the packing DECISION runs on a SLIM frame (id, hash,
    duration from byte length — no payloads through Python); payloads
    shuffle exactly once, on the join that co-locates each pack's
    members, then reduce in a single collect_list aggregation whose
    output is the training row."""
    import pandas as pd

    from qcflow.features import valid_sr_col

    # defect rows (the synth table plants sr_hz=0 on ~1% of pcm16 rows)
    # must not ANSI-throw in the duration division: ride the same
    # valid-sr-else-8000 fallback segment_table uses, and key the pack
    # group on the EFFECTIVE rate so a bad-sr row never lands in a
    # mixed-rate pack (advisor r5 finding)
    sr_eff = F.when(valid_sr_col(), F.col("sr_hz")).otherwise(F.lit(8000))
    slim = clips.filter(F.col("codec") == "pcm16").select(
        "clip_id",
        sr_eff.alias("sr_hz"),
        F.pmod(F.xxhash64("clip_id"), F.lit(1_000_000_007)).alias("h"),
        F.expr("(length(bytes) DIV 2) * 1000").alias("_ns1000"),
    ).select(
        "clip_id",
        "sr_hz",
        "h",
        F.expr("_ns1000 DIV sr_hz").alias("dur_ms"),
    ).withColumn("grp", F.pmod(F.col("h"), F.lit(64)).cast("int"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["h", "clip_id"]).reset_index(drop=True)
        packs, used, cur = [], 0, 0
        for d in pdf["dur_ms"]:
            if packs and used + d > budget_ms:
                cur += 1
                used = 0
            used += int(d)
            packs.append(cur)
        pdf["pack_id"] = pd.Series(packs, dtype="int32")
        return pdf[["clip_id", "sr_hz", "grp", "h", "pack_id"]]

    assign = slim.groupBy("sr_hz", "grp").applyInPandas(
        pack, "clip_id string, sr_hz int, grp int, h long, pack_id int"
    )
    tr_col = (
        F.col("transcript")
        if "transcript" in clips.columns
        else F.lit("").alias("transcript")
    )
    members = clips.select("clip_id", "bytes", tr_col).join(
        assign, "clip_id"
    )
    ms = F.array_sort(
        F.collect_list(
            F.struct(
                "h",
                "clip_id",
                F.col("bytes").alias("b"),
                F.coalesce(F.col("transcript"), F.lit("")).alias("tr"),
            )
        )
    )
    agg = members.groupBy("sr_hz", "grp", "pack_id").agg(ms.alias("ms"))
    payload = F.aggregate(
        "ms", F.expr("X''"), lambda acc, m: F.concat(acc, m["b"])
    )
    return agg.select(
        F.concat_ws(
            "-", F.lit("pack"), F.col("sr_hz"), F.col("grp"), F.col("pack_id")
        ).alias("clip_id"),
        payload.alias("bytes"),
        F.lit("pcm16").alias("codec"),
        F.col("sr_hz"),
        F.array_join(
            F.transform(F.col("ms"), lambda m: m["tr"]), " "
        ).alias("transcript"),
        F.transform(F.col("ms"), lambda m: m["clip_id"]).alias("parents"),
        F.size("ms").alias("n_members"),
    ).withColumn(
        "dur_ms",
        F.expr("((length(bytes) DIV 2) * 1000) DIV sr_hz").cast("int"),
    )
