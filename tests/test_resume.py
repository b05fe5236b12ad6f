"""Checkpoint/resume/upsert semantics over the snapshot manifest:
kill-resume identity, crash-invisibility, incremental metrics,
MERGE-shaped bucket replace, zero-row buckets, vacuum."""

from __future__ import annotations

import os
import re
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from qcflow.checkpoint import (
    completed_buckets,
    finalize_metrics,
    merge_replace_buckets,
    process_increment,
    read_committed,
    read_metrics,
    read_pending,
    run_resumable,
    vacuum,
)
from qcflow.pipeline import score_clips, write_outputs

CLIPS_T2K = str(Path(__file__).resolve().parent.parent / ".cache" / "clips_t2k")
CLIPS = f"{CLIPS_T2K}/clips.parquet"
N_BUCKETS = 16


@pytest.fixture()
def out_dirs(tmp_path, spark, clips_ready):
    return str(tmp_path / "resumed"), str(tmp_path / "oneshot")


@pytest.fixture(scope="session")
def clips_ready(spark):
    import os

    from qcflow import synth

    if not os.path.exists(f"{CLIPS}/_SUCCESS"):
        synth.generate_clips(spark, 2000, CLIPS_T2K, partitions=8)
    return CLIPS


def _pdf(df, drop=("bucket", "snapshot_id")):
    cols = [c for c in df.columns if c not in drop]
    out = df.select(*cols).toPandas().sort_values("clip_id").reset_index(drop=True)
    return out[sorted(out.columns)]


_PART_FILE = re.compile(r"^part-(\d{5})-(.+)-c(\d{3})(\.\w+)?\.parquet$")


def _data_files(table_dir: str) -> set[str]:
    """Every parquet data file under a table directory; fails on a
    ``bucket=N`` subdirectory (the flat layout has none)."""
    out = set()
    for root, dirs, files in os.walk(table_dir):
        assert not [d for d in dirs if d.startswith("bucket=")], root
        out |= {os.path.join(root, f) for f in files if f.endswith(".parquet")}
    return out


def _writer_tasks(files: set[str]) -> set[tuple[str, str]]:
    """Spark names a data file part-<task partition>-<write job>-c<file
    counter>. A flat write emits ONE file (counter 000) per writer task,
    so (task, job) never repeats — a bucket-partitioned write repeats it
    once per bucket directory. Also checks every file is bucket-sorted.
    Returns the (task, job) pairs."""
    keys = []
    for path in files:
        m = _PART_FILE.match(os.path.basename(path))
        assert m and m.group(3) == "000", path
        keys.append((m.group(1), m.group(2)))
        b = pq.read_table(path, columns=["bucket"]).column("bucket").to_numpy()
        assert (np.diff(b) >= 0).all(), f"{path} is not bucket-sorted"
    assert len(keys) == len(set(keys)), "a writer task wrote several files"
    return set(keys)


def _assert_one_write(table_dir: str, fan_out: int) -> set[str]:
    """One write job, one flat bucket-sorted file per writer task, and
    the rebalance sizes the writer count to the data (never above the
    shuffle fan-out, never one per bucket). Returns the data files."""
    files = _data_files(table_dir)
    tasks = _writer_tasks(files)
    assert len({job for _, job in tasks}) == 1, table_dir
    assert 1 <= len(tasks) <= fan_out, table_dir
    return files


def test_resume_matches_oneshot(spark, out_dirs):
    resumed, oneshot = out_dirs
    fan_out = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # attempt 1 "dies" after 5 of 16 buckets
    r1 = run_resumable(spark, CLIPS, resumed, n_buckets=N_BUCKETS, max_buckets=5)
    assert r1["processed_buckets"] == 5
    assert len(completed_buckets(spark, resumed)) == 5
    # ... having written the rows of all 16 buckets in one job per table
    before = {
        t: _assert_one_write(f"{resumed}/{t}.parquet", fan_out)
        for t in ("kept", "dropped")
    }

    # attempt 2 finishes the rest, committing lineage only
    r2 = run_resumable(spark, CLIPS, resumed, n_buckets=N_BUCKETS)
    assert r2["processed_buckets"] == 11
    assert r2["remaining"] == 0
    for table in ("kept", "dropped"):
        assert _data_files(f"{resumed}/{table}.parquet") == before[table], table

    # attempt 3 is a no-op (idempotence)
    r3 = run_resumable(spark, CLIPS, resumed, n_buckets=N_BUCKETS)
    assert r3["processed_buckets"] == 0

    # one-shot ground truth
    clips = spark.read.parquet(CLIPS)
    res = score_clips(spark, clips, n_buckets=N_BUCKETS)
    write_outputs(res, oneshot)
    for table in ("kept", "dropped"):
        _assert_one_write(f"{oneshot}/{table}.parquet", fan_out)
    _assert_matches_oneshot(spark, resumed, oneshot)


def _assert_matches_oneshot(spark, resumed: str, oneshot: str) -> None:
    """The resumed load's committed kept/dropped, lineage and three
    finalized metrics tables equal the one-shot run's."""
    for table in ["kept", "dropped"]:
        a = _pdf(read_committed(spark, resumed, table))
        b = _pdf(spark.read.parquet(f"{oneshot}/{table}.parquet"))
        pd.testing.assert_frame_equal(a, b)

    # lineage covers all buckets exactly once, totals match input
    lin = spark.read.parquet(f"{resumed}/lineage.parquet").toPandas()
    assert sorted(lin.bucket.tolist()) == sorted(set(lin.bucket.tolist()))
    assert lin.n_input.sum() == 2000
    assert (lin.n_kept + lin.n_dropped == lin.n_input).all()

    # metrics side tables were finalized and equal the one-shot's — all
    # THREE tables, since finalize_metrics computes them driver-side
    # (pandas twins of the Spark aggregations must stay row-identical)
    hist = spark.read.parquet(f"{resumed}/metrics_drop_reasons.parquet").toPandas()
    assert hist.n.sum() > 0
    for table, key in [
        ("metrics_drop_reasons", ["lang", "drop_reason"]),
        ("metrics_lang_conf", ["lang", "conf_bin"]),
        ("metrics_quantiles", ["lang"]),
    ]:
        a = spark.read.parquet(f"{resumed}/{table}.parquet").toPandas()
        b = spark.read.parquet(f"{oneshot}/{table}.parquet").toPandas()
        cols = key + [c for c in sorted(b.columns) if c not in key]
        pd.testing.assert_frame_equal(
            a.sort_values(key).reset_index(drop=True)[cols],
            b.sort_values(key).reset_index(drop=True)[cols],
            check_dtype=False,
        )


def test_crashed_attempt_rows_are_invisible(spark, tmp_path, clips_ready):
    """Rows appended by an attempt that never reached its lineage commit
    must not appear in the committed view, and a resume must land the
    identical final state (ADVICE r1: crash between kept/dropped append
    and lineage append). The dead rows carry the snapshot id a REAL crash
    leaves behind — allocated through the counter, so the resume must
    prove it never reuses it (an id derived from committed lineage alone
    would collide and resurrect these rows)."""
    from qcflow.checkpoint import next_snapshot_id

    out = str(tmp_path / "crashy")
    run_resumable(spark, CLIPS, out, n_buckets=N_BUCKETS, max_buckets=4)

    # simulate a crash: the attempt allocates its snapshot id, appends
    # kept rows, and dies before the lineage commit
    burned = next_snapshot_id(spark, out)
    kept = spark.read.parquet(f"{out}/kept.parquet")
    dead = kept.limit(50).withColumn("snapshot_id", F.lit(burned).cast("long"))
    dead.write.mode("append").parquet(f"{out}/kept.parquet")

    assert (
        read_committed(spark, out, "kept")
        .filter(F.col("snapshot_id") == burned)
        .count()
        == 0
    )

    run_resumable(spark, CLIPS, out, n_buckets=N_BUCKETS)
    committed = read_committed(spark, out, "kept")
    # committed view has no duplicates even though dead rows exist on disk
    n_raw = spark.read.parquet(f"{out}/kept.parquet").count()
    ids = committed.select("clip_id").toPandas().clip_id
    assert ids.is_unique
    assert n_raw == len(ids) + 50


def test_process_increment(spark, tmp_path, clips_ready):
    """Snapshot-diff: first 1500 clips processed, then the full 2000-row
    snapshot arrives -> only the 500 new ones are scored and appended;
    metrics merge across increments without rescanning history."""
    out = str(tmp_path / "incr")
    v1 = str(tmp_path / "clips_v1")
    clips = spark.read.parquet(CLIPS)
    clips.filter(F.col("clip_id") < "clip-000000001500").write.parquet(v1)

    r1 = run_resumable(spark, v1, out, n_buckets=N_BUCKETS)
    assert r1["remaining"] == 0
    n1 = read_committed(spark, out, "kept").count() + read_committed(
        spark, out, "dropped"
    ).count()
    assert n1 == 1500

    r2 = process_increment(spark, CLIPS, out, n_buckets=N_BUCKETS)
    assert r2["n_new"] == 500
    kept = read_committed(spark, out, "kept")
    dropped = read_committed(spark, out, "dropped")
    assert kept.count() + dropped.count() == 2000
    # no clip scored twice
    ids = kept.select("clip_id").unionByName(dropped.select("clip_id")).toPandas()
    assert ids.clip_id.is_unique

    # idempotent: re-running the same snapshot adds nothing
    r3 = process_increment(spark, CLIPS, out, n_buckets=N_BUCKETS)
    assert r3["n_new"] == 0

    # metrics across both increments equal a from-scratch recompute ...
    merged = read_metrics(spark, out, "drop_reasons").toPandas()
    scratch = (
        dropped.select("lang", F.explode(F.split("drop_reasons", ",")).alias("drop_reason"))
        .groupBy("lang", "drop_reason")
        .agg(F.count("*").alias("n"))
        .toPandas()
    )
    key = ["lang", "drop_reason"]
    pd.testing.assert_frame_equal(
        merged.sort_values(key).reset_index(drop=True),
        scratch.sort_values(key).reset_index(drop=True),
    )
    # ... and the merge plan never scans the kept/dropped history
    plan = read_metrics(spark, out, "drop_reasons")._jdf.queryExecution().toString()
    assert "kept.parquet" not in plan and "dropped.parquet" not in plan


def test_merge_replace_buckets_upserts(spark, tmp_path, clips_ready):
    """MERGE-shaped upsert: re-processing a bucket from corrected input
    REPLACES its committed rows instead of duplicating them."""
    out = str(tmp_path / "merge")
    run_resumable(spark, CLIPS, out, n_buckets=N_BUCKETS)
    before = read_committed(spark, out, "kept")
    total_before = before.count() + read_committed(spark, out, "dropped").count()

    bucket = int(before.select("bucket").first()["bucket"])
    n_bucket = (
        before.filter(F.col("bucket") == bucket).count()
        + read_committed(spark, out, "dropped").filter(F.col("bucket") == bucket).count()
    )

    # corrected input: same clips, transcripts upper-cased for the bucket
    fixed = str(tmp_path / "clips_fixed")
    spark.read.parquet(CLIPS).withColumn(
        "transcript", F.upper("transcript")
    ).write.parquet(fixed)
    r = merge_replace_buckets(spark, fixed, out, [bucket], n_buckets=N_BUCKETS)
    assert r["replaced_buckets"] == 1

    kept = read_committed(spark, out, "kept")
    dropped = read_committed(spark, out, "dropped")
    assert kept.count() + dropped.count() == total_before  # replaced, not duplicated
    assert (
        kept.filter(F.col("bucket") == bucket).count()
        + dropped.filter(F.col("bucket") == bucket).count()
        == n_bucket
    )
    ids = kept.select("clip_id").unionByName(dropped.select("clip_id")).toPandas()
    assert ids.clip_id.is_unique
    # the replacement actually took effect: scrubbed transcripts upper-cased
    sample = kept.filter(F.col("bucket") == bucket).select("scrubbed_transcript").first()
    if sample is not None:
        assert sample[0] == sample[0].upper()


def test_zero_row_buckets_commit(spark, tmp_path, clips_ready):
    """Sparse input (20 rows over 64 buckets): empty buckets still get
    lineage rows, so the second invocation is the documented no-op
    (ADVICE r1)."""
    out = str(tmp_path / "sparse")
    v = str(tmp_path / "clips_sparse")
    spark.read.parquet(CLIPS).limit(20).write.parquet(v)
    r1 = run_resumable(spark, v, out, n_buckets=64)
    assert r1["remaining"] == 0
    assert len(completed_buckets(spark, out)) == 64
    r2 = run_resumable(spark, v, out, n_buckets=64)
    assert r2["processed_buckets"] == 0


def test_vacuum_drops_dead_rows(spark, tmp_path, clips_ready):
    out = str(tmp_path / "vac")
    run_resumable(spark, CLIPS, out, n_buckets=N_BUCKETS)
    # superseded snapshots: replace one bucket, creating dead history
    bucket = int(spark.read.parquet(f"{out}/kept.parquet").first()["bucket"])
    merge_replace_buckets(spark, CLIPS, out, [bucket], n_buckets=N_BUCKETS)
    kept = spark.read.parquet(f"{out}/kept.parquet")
    dead = kept.limit(30).withColumn("snapshot_id", F.lit(777).cast("long"))
    dead.write.mode("append").parquet(f"{out}/kept.parquet")

    before = _pdf(read_committed(spark, out, "kept"))
    metrics_before = read_metrics(spark, out, "drop_reasons").toPandas()
    vacuum(spark, out)
    raw = spark.read.parquet(f"{out}/kept.parquet")
    assert raw.filter(F.col("snapshot_id") == 777).count() == 0
    for table in ("kept", "dropped"):  # rewritten in one flat write each
        tasks = _writer_tasks(_data_files(f"{out}/{table}.parquet"))
        assert len({job for _, job in tasks}) == 1, table
    after = _pdf(read_committed(spark, out, "kept"))
    pd.testing.assert_frame_equal(before, after)
    # manifest + partials expired to the committed view: no dead slices
    lin = spark.read.parquet(f"{out}/lineage.parquet").toPandas()
    assert len(lin) == len(lin[["snapshot_id", "bucket"]].drop_duplicates())
    assert (
        lin.groupby("bucket").size().max() == 1
    ), "superseded lineage rows survived vacuum"
    metrics_after = read_metrics(spark, out, "drop_reasons").toPandas()
    key = ["lang", "drop_reason"]
    pd.testing.assert_frame_equal(
        metrics_before.sort_values(key).reset_index(drop=True),
        metrics_after.sort_values(key).reset_index(drop=True),
    )
    finalize_metrics(spark, out)  # still works post-compaction


def test_time_travel_read_as_of(spark, tmp_path, clips_ready):
    """read_as_of(S): later appends invisible, later replaces undone —
    the Iceberg snapshot-as-of contract over the parquet manifest."""
    from qcflow.checkpoint import read_as_of, valid_pairs

    out = str(tmp_path / "tt")
    v1 = str(tmp_path / "tt_clips_v1")
    clips = spark.read.parquet(CLIPS)
    clips.filter(F.col("clip_id") < "clip-000000001500").write.parquet(v1)

    run_resumable(spark, v1, out, n_buckets=N_BUCKETS)
    s1 = int(
        valid_pairs(spark, out).agg(F.max("snapshot_id")).collect()[0][0]
    )
    ids_s1 = sorted(
        r["clip_id"]
        for t in ("kept", "dropped")
        for r in read_committed(spark, out, t).select("clip_id").collect()
    )
    assert len(ids_s1) == 1500

    # append an increment, then replace one bucket with altered rows
    process_increment(spark, CLIPS, out, n_buckets=N_BUCKETS)
    bucket = 3
    fixed = str(tmp_path / "tt_fixed")
    clips.withColumn(
        "transcript", F.concat(F.lit("edited "), F.col("transcript"))
    ).write.parquet(fixed)
    merge_replace_buckets(spark, fixed, out, [bucket], n_buckets=N_BUCKETS)

    # current view: 2000 unique rows incl. the replaced bucket
    now_ids = sorted(
        r["clip_id"]
        for t in ("kept", "dropped")
        for r in read_committed(spark, out, t).select("clip_id").collect()
    )
    assert len(now_ids) == 2000

    # as-of s1: exactly the first 1500 rows, later append + replace gone
    tt_ids = sorted(
        r["clip_id"]
        for t in ("kept", "dropped")
        for r in read_as_of(spark, out, t, s1).select("clip_id").collect()
    )
    assert tt_ids == ids_s1

    # as-of the latest snapshot == the committed view
    s_latest = int(
        valid_pairs(spark, out).agg(F.max("snapshot_id")).collect()[0][0]
    )
    latest_ids = sorted(
        r["clip_id"]
        for t in ("kept", "dropped")
        for r in read_as_of(spark, out, t, s_latest).select("clip_id").collect()
    )
    assert latest_ids == now_ids


def test_quantile_metrics_survive_increments(spark, tmp_path, clips_ready):
    """Per-lang p50/p99 sketches (perplexity log-bins + conf bins) merge
    across >=2 committed snapshots exactly: the partial-histogram merge
    is lossless, so the incremental view equals a single-shot recompute
    over the full input — and the read plan never scans the kept/dropped
    history."""
    from qcflow.checkpoint import load_thresholds, read_quantile_metrics
    from qcflow.summary import conf_bin_col, hist_quantiles, ppl_bin_col, ppl_bin_upper

    out = str(tmp_path / "qtiles")
    v1 = str(tmp_path / "q_clips_v1")
    clips = spark.read.parquet(CLIPS)
    clips.filter(F.col("clip_id") < "clip-000000001500").write.parquet(v1)
    run_resumable(spark, v1, out, n_buckets=N_BUCKETS)
    process_increment(spark, CLIPS, out, n_buckets=N_BUCKETS)

    merged = read_quantile_metrics(spark, out).toPandas()
    assert len(merged) > 0

    # single-shot truth: same thresholds, full input, same sketch
    res = score_clips(
        spark, clips, thresholds=load_thresholds(out), n_buckets=N_BUCKETS
    )
    scored = res.scored
    truth_ppl = hist_quantiles(
        scored.groupBy("lang", ppl_bin_col().alias("ppl_bin")).agg(
            F.count("*").alias("n")
        ),
        ["lang"],
        [50, 99],
        bin_col="ppl_bin",
    ).select(
        "lang",
        ppl_bin_upper(F.col("p50_bin")).alias("ppl_p50"),
        ppl_bin_upper(F.col("p99_bin")).alias("ppl_p99"),
    ).toPandas()
    truth_conf = hist_quantiles(
        scored.groupBy("lang", conf_bin_col().alias("conf_bin")).agg(
            F.count("*").alias("n")
        ),
        ["lang"],
        [50, 99],
        bin_col="conf_bin",
    ).toPandas()
    res.release()

    m = merged.sort_values("lang").reset_index(drop=True)
    tp = truth_ppl.sort_values("lang").reset_index(drop=True)
    pd.testing.assert_frame_equal(m[["lang", "ppl_p50", "ppl_p99"]], tp)
    from qcflow.summary import CONF_BINS

    tc = truth_conf.sort_values("lang").reset_index(drop=True)
    assert (m["conf_p50"].to_numpy() == ((tc["p50_bin"] + 1) / CONF_BINS).to_numpy()).all()
    assert (m["conf_p99"].to_numpy() == ((tc["p99_bin"] + 1) / CONF_BINS).to_numpy()).all()

    plan = read_quantile_metrics(spark, out)._jdf.queryExecution().toString()
    assert "kept.parquet" not in plan and "dropped.parquet" not in plan


def test_read_committed_missing_table_is_empty(spark, tmp_path, clips_ready):
    """A committed manifest whose table was never materialized (e.g. a
    corpus where nothing is dropped: the empty append leaves no data
    files) must read as an EMPTY committed view with the documented
    schema, not raise UNABLE_TO_INFER_SCHEMA (ADVICE r2)."""
    import shutil

    from qcflow.checkpoint import read_as_of

    out = str(tmp_path / "notables")
    v = str(tmp_path / "clips_few")
    spark.read.parquet(CLIPS).limit(30).write.parquet(v)
    run_resumable(spark, v, out, n_buckets=8)
    shutil.rmtree(f"{out}/dropped.parquet")

    empty = read_committed(spark, out, "dropped")
    assert empty.count() == 0
    assert set(empty.columns) == {
        "clip_id", "bucket", "lang", "lang_conf", "drop_reasons", "snapshot_id",
    }
    assert read_as_of(spark, out, "dropped", 0).count() == 0
    # kept view unaffected
    assert read_committed(spark, out, "kept").count() > 0


# A hand-written append + replace history over buckets 0-5:
#   0 append 0,1,2,3 | 1 append 4,5 | 2 replace 1,4 | 3 append 1 | 4 replace 0
_HISTORY = [
    (0, "append", 0, 10, 7, 3), (0, "append", 1, 11, 8, 3),
    (0, "append", 2, 12, 9, 3), (0, "append", 3, 13, 10, 3),
    (1, "append", 4, 14, 11, 3), (1, "append", 5, 15, 12, 3),
    (2, "replace", 1, 21, 20, 1), (2, "replace", 4, 24, 20, 4),
    (3, "append", 1, 5, 5, 0),
    (4, "replace", 0, 30, 25, 5),
]


def _write_history(out: str) -> None:
    """``_HISTORY`` as a lineage table, one committed file per snapshot."""
    from qcflow.checkpoint import _LINEAGE_SPEC, _append_parquet_file

    lin = pd.DataFrame(
        _HISTORY,
        columns=["snapshot_id", "kind", "bucket", "n_input", "n_kept", "n_dropped"],
    )
    for snap, rows in lin.groupby("snapshot_id"):
        _append_parquet_file(
            f"{out}/lineage.parquet", rows, _LINEAGE_SPEC, f"snap{snap:010d}"
        )


def test_live_pairs_over_append_replace_history(spark, tmp_path):
    """The cutoff rule — a bucket's rows count from its latest 'replace'
    on — over a hand-written history, now and as of earlier snapshots;
    completed_buckets, valid_pairs and next_snapshot_id read the same
    manifest."""
    from qcflow.checkpoint import live_pairs, next_snapshot_id, valid_pairs

    out = str(tmp_path / "manifest")

    def pairs(df):
        return sorted(
            (int(r.snapshot_id), int(r.bucket)) for r in df.itertuples()
        )

    assert pairs(live_pairs(out)) == []
    assert valid_pairs(spark, out) is None
    assert completed_buckets(spark, out) == []
    _write_history(out)
    assert pairs(live_pairs(out)) == [
        (0, 2), (0, 3), (1, 5), (2, 1), (2, 4), (3, 1), (4, 0),
    ]
    # before the bucket-0 replace, and before any replace
    assert pairs(live_pairs(out, as_of=3)) == [
        (0, 0), (0, 2), (0, 3), (1, 5), (2, 1), (2, 4), (3, 1),
    ]
    assert pairs(live_pairs(out, as_of=1)) == [
        (0, 0), (0, 1), (0, 2), (0, 3), (1, 4), (1, 5),
    ]
    assert pairs(live_pairs(out, as_of=0)) == [(0, 0), (0, 1), (0, 2), (0, 3)]
    assert pairs(valid_pairs(spark, out, as_of=3).toPandas()) == pairs(
        live_pairs(out, as_of=3)
    )
    assert completed_buckets(spark, out) == [0, 1, 2, 3, 4, 5]
    # the counter allocates strictly past everything ever written
    assert next_snapshot_id(spark, out) == 5


def _jobs(spark, fn) -> int:
    """Spark jobs that ``fn`` submits from this thread."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_metric_reads_run_no_spark_jobs(spark, tmp_path, clips_ready):
    """Merged metric reads are merged on the driver from the
    manifest-sized partials: collecting them submits no Spark job."""
    from qcflow.checkpoint import read_quantile_metrics

    out = str(tmp_path / "nojobs")
    run_resumable(spark, CLIPS, out, n_buckets=N_BUCKETS, max_buckets=3)
    merge_replace_buckets(spark, CLIPS, out, [0], n_buckets=N_BUCKETS)
    for which in ("drop_reasons", "lang_conf", "ppl_hist"):
        rows = []
        assert _jobs(spark, lambda: rows.extend(read_metrics(spark, out, which).collect())) == 0
        assert rows, which
    rows = []
    assert _jobs(spark, lambda: rows.extend(read_quantile_metrics(spark, out).collect())) == 0
    assert rows


def _all_jobs(spark, fn) -> int:
    """Spark jobs that ``fn`` submits from ANY thread: job ids new to the
    application's status store once its listener bus has drained."""
    sc = spark.sparkContext._jsc.sc()

    def ids():
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    before = ids()
    fn()
    return len(ids() - before)


def test_commit_only_call_runs_no_spark_jobs(spark, tmp_path, clips_ready):
    """Once a resumable load's rows are written, a call that only commits
    appends lineage: it submits no Spark job from any thread — the last
    call's metrics finalize included — and adds no file to kept, dropped
    or metrics_partials."""
    out = str(tmp_path / "commit_only")
    run_resumable(spark, CLIPS, out, n_buckets=N_BUCKETS, max_buckets=5)
    tables = ("kept", "dropped", "metrics_partials")
    before = {t: _data_files(f"{out}/{t}.parquet") for t in tables}
    for cap, want in ((5, {"processed_buckets": 5, "remaining": 6}),
                      (None, {"processed_buckets": 6, "remaining": 0})):
        got = []
        assert _all_jobs(spark, lambda: got.append(run_resumable(
            spark, CLIPS, out, n_buckets=N_BUCKETS, max_buckets=cap
        ))) == 0
        assert got == [want]
        for t in tables:
            assert _data_files(f"{out}/{t}.parquet") == before[t], t
    assert len(completed_buckets(spark, out)) == N_BUCKETS
    assert read_pending(out) is None
    assert os.path.exists(f"{out}/metrics_drop_reasons.parquet")


def test_read_committed_builds_without_jobs(spark, tmp_path, clips_ready):
    """A committed read takes the data schema from one file's footer:
    building the DataFrame submits no Spark job (no schema inference),
    and the schema equals what Spark infers from the written files."""
    out = str(tmp_path / "schema")
    run_resumable(spark, CLIPS, out, n_buckets=N_BUCKETS, max_buckets=2)
    for table in ("kept", "dropped"):
        got = []
        assert _jobs(spark, lambda: got.append(read_committed(spark, out, table))) == 0
        inferred = spark.read.parquet(f"{out}/{table}.parquet")
        # the semi-join moves its keys to the front: compare by name
        assert sorted(got[0].schema, key=lambda f: f.name) == sorted(
            inferred.schema, key=lambda f: f.name
        ), table
        # the load's other 14 buckets are written but not committed yet
        done = completed_buckets(spark, out)
        assert got[0].count() == inferred.filter(F.col("bucket").isin(done)).count(), table


def test_remaining_counts_buckets_left_when_capped(spark, tmp_path, clips_ready):
    """``remaining`` counts the uncommitted buckets also when the capped
    to-do list is empty."""
    out = str(tmp_path / "capped")
    r0 = run_resumable(spark, CLIPS, out, n_buckets=4, max_buckets=0)
    assert r0 == {"processed_buckets": 0, "remaining": 4}
    r1 = run_resumable(spark, CLIPS, out, n_buckets=4, max_buckets=1)
    assert r1 == {"processed_buckets": 1, "remaining": 3}


def test_inspect_reads_manifest_without_jobs(spark, tmp_path, capsys):
    """`qcflow inspect` on an append + replace history: the JSON is
    pinned, and printing it submits no Spark job."""
    import json

    from qcflow import cli

    out = str(tmp_path / "inspect")
    _write_history(out)
    assert _jobs(spark, lambda: cli.main(["inspect", "--out", out])) == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    del got["sec"]
    snap = ["snapshot_id", "kind", "n_buckets", "n_input", "n_kept", "n_dropped"]
    assert got == {
        "cmd": "inspect",
        "snapshots": [
            dict(zip(snap, r))
            for r in [
                (4, "replace", 1, 30, 25, 5),
                (3, "append", 1, 5, 5, 0),
                (2, "replace", 2, 45, 40, 5),
                (1, "append", 2, 29, 23, 6),
                (0, "append", 4, 46, 34, 12),
            ]
        ],
        "committed_buckets": 6,
        "pending": None,
    }


def test_inspect_reports_pending_load(spark, tmp_path, clips_ready, capsys):
    """In the middle of a resumable load, `qcflow inspect` reports the
    pending snapshot and its buckets not yet committed, from the pending
    record and the manifest: no Spark job."""
    import json

    from qcflow import cli

    out = str(tmp_path / "inspect_pending")
    run_resumable(spark, CLIPS, out, n_buckets=N_BUCKETS, max_buckets=6)
    capsys.readouterr()
    assert _jobs(spark, lambda: cli.main(["inspect", "--out", out])) == 0
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["pending"] == {"snapshot_id": 0, "buckets": 10}
    assert got["committed_buckets"] == 6
    assert [(s["snapshot_id"], s["kind"], s["n_buckets"]) for s in got["snapshots"]] == [
        (0, "append", 6)
    ]


def test_staged_scores_exist_and_legacy_fallback(spark, tmp_path, clips_ready):
    """The first call writes the rows of every bucket, committing only
    its share; later calls commit the rest without re-scoring. A
    directory whose pending record is gone (thresholds saved, rows of
    the uncommitted buckets dead) must still resume correctly by
    re-scoring those buckets, and both paths land the identical kept
    set."""
    import os

    staged_dir = str(tmp_path / "staged")
    run_resumable(spark, CLIPS, staged_dir, n_buckets=N_BUCKETS, max_buckets=6)
    # the raw rows cover the FULL input, one row per clip ...
    raw = spark.read.parquet(f"{staged_dir}/kept.parquet").select(
        "clip_id", "bucket"
    ).unionByName(
        spark.read.parquet(f"{staged_dir}/dropped.parquet").select("clip_id", "bucket")
    )
    assert raw.count() == 2000
    assert raw.select("clip_id").distinct().count() == 2000
    # ... and the committed view covers the 6 committed buckets, whole
    done = completed_buckets(spark, staged_dir)
    assert len(done) == 6
    committed = read_committed(spark, staged_dir, "kept").select(
        "clip_id", "bucket"
    ).unionByName(read_committed(spark, staged_dir, "dropped").select("clip_id", "bucket"))
    assert sorted(r[0] for r in committed.select("bucket").distinct().collect()) == done
    assert committed.count() == raw.filter(F.col("bucket").isin(done)).count()

    # legacy twin: same thresholds, pending record deleted before the resume
    legacy_dir = str(tmp_path / "legacy")
    run_resumable(spark, CLIPS, legacy_dir, n_buckets=N_BUCKETS, max_buckets=6)
    os.remove(f"{legacy_dir}/pending.json")
    run_resumable(spark, CLIPS, legacy_dir, n_buckets=N_BUCKETS)

    run_resumable(spark, CLIPS, staged_dir, n_buckets=N_BUCKETS)
    for table in ["kept", "dropped"]:
        a = _pdf(read_committed(spark, staged_dir, table))
        b = _pdf(read_committed(spark, legacy_dir, table))
        pd.testing.assert_frame_equal(a, b)


def test_resume_with_byte_stages_matches_oneshot(spark, tmp_path, clips_ready):
    """The resume path with check_pcm on (byte-derived columns scored in
    the first call, committed over two) must equal the one-shot
    check_pcm pipeline row-for-row."""
    resumed = str(tmp_path / "resumed_pcm")
    oneshot = str(tmp_path / "oneshot_pcm")
    run_resumable(
        spark, CLIPS, resumed, n_buckets=N_BUCKETS, max_buckets=7, check_pcm=True
    )
    run_resumable(spark, CLIPS, resumed, n_buckets=N_BUCKETS, check_pcm=True)

    clips = spark.read.parquet(CLIPS)
    res = score_clips(spark, clips, n_buckets=N_BUCKETS, check_pcm=True)
    write_outputs(res, oneshot)
    res.release()
    for table in ["kept", "dropped"]:
        a = _pdf(read_committed(spark, resumed, table))
        b = _pdf(spark.read.parquet(f"{oneshot}/{table}.parquet"))
        pd.testing.assert_frame_equal(a, b)


def test_merge_replace_refreshes_stage(spark, tmp_path, clips_ready):
    """Replacing a bucket from a corrected input replaces its committed
    rows: every row of the corrected bucket is dropped for
    ``empty_transcript``, while other buckets' committed rows stay
    untouched."""
    out = str(tmp_path / "replace_stage")
    run_resumable(spark, CLIPS, out, n_buckets=N_BUCKETS)

    corrected_path = str(tmp_path / "corrected.parquet")
    clips = spark.read.parquet(CLIPS)
    target = 3
    corrected = clips.withColumn(
        "transcript",
        F.when(
            F.pmod(F.xxhash64("clip_id"), F.lit(N_BUCKETS)).cast("int") == target,
            F.lit(""),  # corrected transcripts: now empty -> must drop
        ).otherwise(F.col("transcript")),
    )
    corrected.write.mode("overwrite").parquet(corrected_path)

    def others():
        return {
            t: _pdf(read_committed(spark, out, t).filter(F.col("bucket") != target), ())
            for t in ("kept", "dropped")
        }

    def n_target(t):
        return read_committed(spark, out, t).filter(F.col("bucket") == target).count()

    before, n_before = others(), n_target("kept") + n_target("dropped")
    merge_replace_buckets(spark, corrected_path, out, [target], n_buckets=N_BUCKETS)

    # other buckets' committed rows untouched
    after = others()
    for t in ("kept", "dropped"):
        pd.testing.assert_frame_equal(before[t], after[t])
    # and the committed view dropped every corrected clip
    dropped = read_committed(spark, out, "dropped").filter(
        F.col("bucket") == target
    )
    assert n_target("kept") == 0
    assert n_before > 0 and dropped.count() == n_before
    assert dropped.filter(F.col("drop_reasons").contains("empty_transcript")).count() == dropped.count()


def _clipped_table(spark, tmp_path, n_buckets: int):
    """80 pcm16 clips plus a planted clipped clip ``x-clipped``; returns
    the table's path and the planted clip's bucket."""
    from qcflow import audio
    from qcflow.pipeline import bucket_col

    base = (
        spark.read.parquet(CLIPS)
        .filter(F.col("bytes").isNotNull() & (F.col("codec") == "pcm16"))
        .orderBy("clip_id")
        .limit(80)
    )
    rows = [r.asDict() for r in base.collect()]
    t = np.arange(8000) / 16000
    wave = np.clip(3.0 * np.sin(2 * np.pi * 200 * t), -0.999, 0.999)
    rows.append(
        {**rows[0], "clip_id": "x-clipped", "sr_hz": 16000,
         "bytes": audio.pcm16_encode(wave.astype(np.float32))}
    )
    path = str(tmp_path / "clips.parquet")
    spark.createDataFrame(rows, schema=base.schema).write.parquet(path)
    target = (
        spark.read.parquet(path).filter(F.col("clip_id") == "x-clipped")
        .select(bucket_col(n_buckets)).first()[0]
    )
    return path, target


def _assert_clipped_dropped(spark, out: str) -> None:
    """``x-clipped`` is committed once, dropped for ``clipped_audio``, and
    the committed view holds each clip at most once."""
    row = (
        read_committed(spark, out, "dropped")
        .filter(F.col("clip_id") == "x-clipped").collect()
    )
    assert len(row) == 1
    assert "clipped_audio" in row[0]["drop_reasons"].split(",")
    kept = read_committed(spark, out, "kept")
    assert kept.filter(F.col("clip_id") == "x-clipped").count() == 0
    ids = kept.select("clip_id").unionByName(
        read_committed(spark, out, "dropped").select("clip_id")
    ).toPandas()["clip_id"]
    assert ids.is_unique


@pytest.mark.parametrize("pending", [True, False], ids=["pending", "complete"])
def test_merge_replace_keeps_acoustic_rules(spark, tmp_path, clips_ready, pending):
    """A bucket replace in a run with check_acoustics applies the
    acoustic rules too: a planted clipped clip in the replaced bucket
    stays dropped for ``clipped_audio``, whether the replace comes while
    a resumable load's write is pending (the load then commits its other
    buckets, never its own rows for the replaced one) or after the load
    is complete."""
    path, target = _clipped_table(spark, tmp_path, 4)
    out = str(tmp_path / "out")
    run_resumable(
        spark, path, out, n_buckets=4, check_acoustics=True,
        max_buckets=0 if pending else None,
    )
    assert (read_pending(out) is not None) == pending
    merge_replace_buckets(
        spark, path, out, [target], n_buckets=4, check_acoustics=True
    )
    _assert_clipped_dropped(spark, out)
    if pending:
        r = run_resumable(spark, path, out, n_buckets=4, check_acoustics=True)
        assert r == {"processed_buckets": 3, "remaining": 0}
        assert read_pending(out) is None
        _assert_clipped_dropped(spark, out)
        n = sum(read_committed(spark, out, t).count() for t in ("kept", "dropped"))
        assert n == 81


def test_pending_rows_of_other_flags_are_rescored(spark, tmp_path, clips_ready):
    """A call with check_acoustics, after a first call without it, does
    not commit the pending rows scored without the acoustic rules: it
    re-scores the uncommitted buckets, so the planted clipped clip is
    dropped for ``clipped_audio``."""
    path, _ = _clipped_table(spark, tmp_path, 4)
    out = str(tmp_path / "out")
    run_resumable(spark, path, out, n_buckets=4, max_buckets=0)
    first = read_pending(out)["snapshot_id"]
    r = run_resumable(spark, path, out, n_buckets=4, check_acoustics=True)
    assert r == {"processed_buckets": 4, "remaining": 0}
    _assert_clipped_dropped(spark, out)
    n = sum(read_committed(spark, out, t).count() for t in ("kept", "dropped"))
    assert n == 81
    # the first call's rows stay dead
    snaps = read_committed(spark, out, "dropped").select("snapshot_id").distinct()
    assert first not in [r[0] for r in snaps.collect()]


def test_vacuum_keeps_pending_rows(spark, out_dirs):
    """``vacuum`` between two calls of a resumable load drops dead rows
    but keeps the rows and partials of the uncommitted buckets: finishing
    the load then equals the one-shot run."""
    from qcflow.checkpoint import next_snapshot_id

    resumed, oneshot = out_dirs
    run_resumable(spark, CLIPS, resumed, n_buckets=N_BUCKETS, max_buckets=5)
    burned = next_snapshot_id(spark, resumed)
    kept = spark.read.parquet(f"{resumed}/kept.parquet")
    kept.limit(30).withColumn("snapshot_id", F.lit(burned).cast("long")).write.mode(
        "append"
    ).parquet(f"{resumed}/kept.parquet")
    vacuum(spark, resumed)
    raw = spark.read.parquet(f"{resumed}/kept.parquet")
    assert raw.filter(F.col("snapshot_id") == burned).count() == 0
    r = run_resumable(spark, CLIPS, resumed, n_buckets=N_BUCKETS)
    assert r == {"processed_buckets": 11, "remaining": 0}

    res = score_clips(spark, spark.read.parquet(CLIPS), n_buckets=N_BUCKETS)
    write_outputs(res, oneshot)
    res.release()
    _assert_matches_oneshot(spark, resumed, oneshot)


def test_empty_input_resumable(spark, tmp_path):
    """An empty input through run_resumable raises derive_thresholds'
    named error and leaves no lineage, no pending record and no
    persisted frame behind."""
    from qcflow.schema import CLIPS_SCHEMA

    src = str(tmp_path / "empty.parquet")
    spark.createDataFrame([], CLIPS_SCHEMA).write.parquet(src)
    out = str(tmp_path / "out")
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="cannot derive thresholds"):
        run_resumable(spark, src, out, n_buckets=4)
    assert not os.path.exists(f"{out}/lineage.parquet")
    assert read_pending(out) is None
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


_COMMITTED_TABLES = (
    "kept", "dropped", "metrics_partials", "lineage",
    "metrics_drop_reasons", "metrics_lang_conf", "metrics_quantiles",
)


def _table_bytes(out: str, table: str) -> list[bytes]:
    """The contents of a table's data files, in a name-free order (Spark
    file names carry a per-job id)."""
    files = _data_files(f"{out}/{table}.parquet")
    assert files, (out, table)
    return sorted(Path(f).read_bytes() for f in files)


def _assert_compact(out: str) -> None:
    """Every column chunk of every committed table is zstd, and no
    driver-written file (everything but kept and dropped, which Spark
    writes) carries a pandas or Arrow schema blob."""
    for table in _COMMITTED_TABLES:
        for path in _data_files(f"{out}/{table}.parquet"):
            md = pq.read_metadata(path)
            codecs = {
                md.row_group(g).column(c).compression
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)
            }
            assert codecs == {"ZSTD"}, (path, codecs)
            if table not in ("kept", "dropped"):
                keys = set(md.metadata or {})
                assert not keys & {b"pandas", b"ARROW:schema"}, (path, keys)


def test_committed_tables_are_compact(spark, tmp_path, clips_ready):
    """The committed format, over the three paths that write it: a
    one-shot ``write_outputs``, a resumable load, and a ``vacuum`` of a
    directory with dead rows. Two writes of one scored frame give the
    same bytes."""
    res = score_clips(spark, spark.read.parquet(CLIPS), n_buckets=N_BUCKETS)
    one, two = str(tmp_path / "one"), str(tmp_path / "two")
    write_outputs(res, one)
    write_outputs(res, two)
    res.release()
    _assert_compact(one)
    for table in _COMMITTED_TABLES:
        assert _table_bytes(one, table) == _table_bytes(two, table), table

    out = str(tmp_path / "resumed")
    run_resumable(spark, CLIPS, out, n_buckets=N_BUCKETS, max_buckets=5)
    run_resumable(spark, CLIPS, out, n_buckets=N_BUCKETS)
    _assert_compact(out)
    merge_replace_buckets(spark, CLIPS, out, [0], n_buckets=N_BUCKETS)
    vacuum(spark, out)
    _assert_compact(out)


def _old_format_append(dir_path: str, pdf, spec, name: str) -> None:
    """``_append_parquet_file`` as it wrote before zstd: snappy, with
    the pandas and ARROW:schema blobs in the footer."""
    import pyarrow as pa

    types = {
        "long": pa.int64(), "int": pa.int32(),
        "string": pa.string(), "double": pa.float64(),
    }
    schema = pa.schema([(n, types[t]) for n, t in spec])
    os.makedirs(dir_path, exist_ok=True)
    table = pa.Table.from_pandas(
        pdf[[n for n, _ in spec]], schema=schema, preserve_index=False
    )
    tmp = f"{dir_path}.__tmp-{name}"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, os.path.join(dir_path, f"part-{name}.parquet"))


def test_old_format_manifest_files_read_alike(
    spark, tmp_path, clips_ready, monkeypatch, capsys
):
    """An output directory written before zstd keeps reading the same
    after an upgrade: old-format lineage and partials files next to
    new ones, and new ones alone, give the same committed pairs, merged
    metrics, quantiles and ``qcflow inspect`` output as old-format files
    alone. Without the pandas blob the partials' nullable ``bin`` reads
    back as float64; ``_merge_grain`` returns the same dtypes anyway."""
    import json

    from qcflow import checkpoint, cli
    from qcflow.checkpoint import (
        _committed_partials,
        _merge_grain,
        live_pairs,
        read_quantile_metrics,
    )

    new_writer = checkpoint._append_parquet_file

    def history(out: str, upgrade_after: int) -> None:
        """A capped resumable load, its finishing call and a bucket
        replace; old-format writes for the first ``upgrade_after``
        steps."""
        steps = [
            lambda: run_resumable(spark, CLIPS, out, n_buckets=N_BUCKETS, max_buckets=5),
            lambda: run_resumable(spark, CLIPS, out, n_buckets=N_BUCKETS),
            lambda: merge_replace_buckets(spark, CLIPS, out, [3], n_buckets=N_BUCKETS),
        ]
        for i, step in enumerate(steps):
            writer = _old_format_append if i < upgrade_after else new_writer
            monkeypatch.setattr(checkpoint, "_append_parquet_file", writer)
            step()
        monkeypatch.setattr(checkpoint, "_append_parquet_file", new_writer)

    def inspect(out: str) -> dict:
        capsys.readouterr()
        cli.main(["inspect", "--out", out])
        got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        del got["sec"]
        return got

    grains = ("drop_reasons", "lang_conf", "ppl_hist")

    def view(out: str) -> dict:
        partials = _committed_partials(out)
        return {
            "pairs": live_pairs(out).sort_values(["snapshot_id", "bucket"])
            .reset_index(drop=True),
            **{f"merged_{w}": _merge_grain(partials, w) for w in grains},
            **{w: read_metrics(spark, out, w).toPandas() for w in grains},
            "quantiles": read_quantile_metrics(spark, out).toPandas(),
            "inspect": inspect(out),
        }

    dirs = {name: str(tmp_path / name) for name in ("old", "mixed", "new")}
    for name, upgrade_after in (("old", 3), ("mixed", 1), ("new", 0)):
        history(dirs[name], upgrade_after)
    for table in ("lineage", "metrics_partials"):
        kinds = {
            b"pandas" in (pq.read_metadata(f).metadata or {})
            for f in _data_files(f"{dirs['mixed']}/{table}.parquet")
        }
        assert kinds == {True, False}, table
    assert str(_committed_partials(dirs["new"])["bin"].dtype) == "float64"
    want = view(dirs["old"])
    for name in ("mixed", "new"):
        got = view(dirs[name])
        assert got.pop("inspect") == want["inspect"], name
        for key in got:
            pd.testing.assert_frame_equal(got[key], want[key], obj=f"{name} {key}")
        # the finalized metrics tables hold the same values in either format
        for table in ("metrics_drop_reasons", "metrics_lang_conf", "metrics_quantiles"):
            a = pd.read_parquet(f"{dirs['old']}/{table}.parquet")
            b = pd.read_parquet(f"{dirs[name]}/{table}.parquet")
            pd.testing.assert_frame_equal(a, b, check_dtype=False, obj=table)
