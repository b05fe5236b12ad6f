"""Structured Streaming ingest for the QC pipeline.

The reference has no streams (SURVEY §2.7) and the batch engine's resume
is snapshot-based; this module is the engine addition for continuous
ingest: new clip parquet files landing in a directory are scored
incrementally with exactly-once sinks.

Semantics notes:
- Thresholds CANNOT be percentile-derived inside an unbounded stream
  (a global quantile over future data is undefined) — they come from a
  calibration batch / saved config (qcflow.checkpoint.load_thresholds),
  exactly how the batch resume path freezes them across attempts.
- foreachBatch is at-least-once; effectively-once comes from batch_id-
  partitioned dynamic-overwrite writes (a retried batch replaces its own
  partition) on top of checkpointLocation's source-progress tracking.
  The overwrite mode is scoped to the WRITER (never session conf — a
  session-level dynamic mode would silently turn later partitioned
  overwrite writes elsewhere into partition-scoped ones).
- An ingest pipeline dedups at the door: ``dedup_within`` enables
  ``dropDuplicatesWithinWatermark`` on clip_id over the ``ingest_ts``
  event-time column — state is bounded by the watermark delay instead of
  growing with the corpus (the unbounded-state failure of a plain
  dropDuplicates on an infinite stream).
- batch_id-partitioned output grows one directory per trigger;
  ``compact_stream_output`` folds committed batches into a single
  batch_id = -1 partition between runs so file count stays bounded
  across thousands of triggers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from qcflow.features import clip_features
from qcflow.pipeline import DROP_COLS, KEEP_COLS, N_BUCKETS, bucket_col
from qcflow.rules import Thresholds, apply_rules
from qcflow.schema import CLIPS_SCHEMA
from qcflow.scrub import scrub
from qcflow.udfs import with_langid_ppl

# continuous-ingest source schema: the clip table plus the landing-time
# event-time column the watermark dedup keys state eviction on
CLIPS_INGEST_SCHEMA = T.StructType(
    CLIPS_SCHEMA.fields + [T.StructField("ingest_ts", T.TimestampType(), True)]
)

COMPACTED_BATCH_ID = -1


def stream_score(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    thresholds: Thresholds,
    n_buckets: int = N_BUCKETS,
    max_files_per_trigger: int = 8,
    dedup_within: str | None = None,
    check_acoustics: bool = False,
    _inject_fail_batch: int | None = None,
) -> StreamingQuery:
    """File-source stream -> (optional watermarked dedup) -> QC score ->
    exactly-once parquet appends. ``dedup_within`` (e.g. "10 minutes")
    drops re-deliveries of the same clip_id arriving within the watermark
    delay; the source schema must then carry ``ingest_ts``.
    ``check_acoustics`` adds the decoded-PCM feature stage + rules (one
    Arrow crossing per micro-batch, before bytes are dropped) — stream
    twin of score_clips(check_acoustics=True)."""
    schema = CLIPS_INGEST_SCHEMA if dedup_within else CLIPS_SCHEMA
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    if dedup_within:
        stream = (
            stream.withWatermark("ingest_ts", dedup_within)
            .dropDuplicatesWithinWatermark(["clip_id"])
            .drop("ingest_ts")
        )
    extra_rules = []
    if check_acoustics:
        from qcflow.rules import acoustic_rule_conditions
        from qcflow.udfs import acoustic_features

        stream = acoustic_features(stream)
        extra_rules = acoustic_rule_conditions()
    scored = stream.drop("bytes").withColumn("bucket", bucket_col(n_buckets))
    scored = clip_features(scored)
    scored = with_langid_ppl(scored, spark)
    scored = scrub(apply_rules(scored, thresholds, extra_rules=extra_rules))

    def sink(batch: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a failed/restarted batch re-runs
        # with the SAME batch_id. Writes are batch_id-partitioned with
        # dynamic partition overwrite (writer-scoped option), so a retry
        # replaces its own partition instead of appending duplicates ->
        # effectively-once.
        batch = batch.withColumn("batch_id", F.lit(batch_id)).persist()
        (
            batch.filter(F.col("keep"))
            .select("batch_id", *KEEP_COLS)
            .repartition("bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "bucket")
            .parquet(f"{out_dir}/kept.parquet")
        )
        (
            batch.filter(~F.col("keep"))
            .select("batch_id", *DROP_COLS)
            .repartition("bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "bucket")
            .parquet(f"{out_dir}/dropped.parquet")
        )
        if _inject_fail_batch is not None and batch_id == _inject_fail_batch:
            # test hook (like run_resumable's max_buckets): die in the
            # at-least-once window — data partitions appended, batch
            # bookkeeping (lineage + checkpoint offset commit) not yet
            raise RuntimeError(
                f"injected crash after data append of batch {batch_id}"
            )
        (
            batch.groupBy("batch_id", "bucket")
            .agg(
                F.count("*").alias("n_input"),
                F.sum(F.col("keep").cast("long")).alias("n_kept"),
                F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{out_dir}/lineage.parquet")
        )
        batch.unpersist()

    return (
        scored.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def _finish_fold(path: str) -> None:
    """Phase 2 of the compaction swap: with the staged merge complete
    (manifest present), delete the folded source partitions and move the
    staged data in as the compacted partition. Idempotent — every step
    re-runs safely, so a crash anywhere in phase 2 is recovered by
    calling compact again."""
    import json
    import shutil

    staging = path + ".compact"
    with open(f"{staging}/_fold_manifest.json") as f:
        fold = json.load(f)["fold"]
    for b in fold:
        shutil.rmtree(f"{path}/batch_id={b}", ignore_errors=True)
    shutil.rmtree(f"{path}/batch_id={COMPACTED_BATCH_ID}", ignore_errors=True)
    os.rename(staging, f"{path}/batch_id={COMPACTED_BATCH_ID}")


def compact_stream_output(
    spark: SparkSession, out_dir: str, keep_last: bool = True
) -> dict:
    """Fold committed batch partitions into one ``batch_id = -1``
    partition so file/directory count stays bounded across triggers.

    Run between streaming runs (the availableNow pattern: stream ->
    compact -> stream; single writer, no concurrent readers during the
    swap). ``keep_last`` leaves the highest live batch_id uncompacted:
    if the previous run crashed mid-batch before its checkpoint commit,
    the restart re-runs that batch_id and dynamic overwrite must find
    its rows in its OWN partition, not already moved into the compacted
    one (which would duplicate them).

    Crash-safe two-phase protocol: phase 1 stages the merged rows OUTSIDE
    the table and commits a fold manifest; phase 2 deletes the folded
    partitions and renames the staging in as batch_id=-1. A crash before
    the manifest leaves the table untouched (stale staging is discarded);
    a crash after it is finished by the next invocation from the staged
    copy — the table is never read mid-swap to rebuild state, so folded
    rows can never be double-merged."""
    import json
    import shutil

    stats = {}
    for table in ("kept", "dropped", "lineage"):
        path = f"{out_dir}/{table}.parquet"
        staging = path + ".compact"
        if os.path.exists(f"{staging}/_fold_manifest.json"):
            _finish_fold(path)  # complete an interrupted phase 2 first
        shutil.rmtree(staging, ignore_errors=True)  # pre-manifest garbage

        # zero-batch rerun (scheduled drain before any files landed): the
        # table directory does not exist yet — nothing to fold, and
        # spark.read.parquet would raise PATH_NOT_FOUND
        if not any(
            f.endswith(".parquet")
            for _, _, files in os.walk(path)
            for f in files
        ):
            stats[table] = 0
            continue

        df = spark.read.parquet(path)
        ids = sorted(
            r["batch_id"]
            for r in df.select("batch_id").distinct().collect()
            if r["batch_id"] != COMPACTED_BATCH_ID
        )
        fold = ids[:-1] if keep_last else ids
        if not fold:
            stats[table] = 0
            continue
        merged = df.filter(
            F.col("batch_id").isin(fold + [COMPACTED_BATCH_ID])
        ).drop("batch_id")
        # phase 1: stage outside the table, then commit the manifest
        if table == "lineage":
            merged.coalesce(1).write.mode("overwrite").parquet(staging)
        else:
            merged.repartition("bucket").write.mode("overwrite").partitionBy(
                "bucket"
            ).parquet(staging)
        with open(f"{staging}/_fold_manifest.json", "w") as f:
            json.dump({"fold": fold}, f)
        # phase 2: swap in
        _finish_fold(path)
        stats[table] = len(fold)
    return stats


def stateful_lang_monitor(
    spark: SparkSession,
    input_dir: str,
    queryName: str = "qc_lang_monitor",
) -> StreamingQuery:
    """Custom stateful operator (applyInPandasWithState): per-language
    cumulative keep/drop totals maintained across micro-batches — the
    running QC health monitor a continuous ingest pipeline exports.

    State per lang is two longs (bounded by language cardinality, never
    by stream length); each batch's groups arrive as Arrow-backed pandas
    frames, so the update is a vectorized sum, not per-row Python. Update
    output mode emits only languages touched by the batch."""
    import pandas as pd  # noqa: F401 (signature of the state func)

    schema = "lang string, keep boolean"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one arrival file per micro-batch
        .parquet(input_dir)
    )

    def update(key, pdfs, state):
        n, dropped = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            dropped += int((~pdf["keep"]).sum())
        state.update((n, dropped))
        import pandas as pd

        yield pd.DataFrame(
            {"lang": [key[0]], "n_total": [n], "n_dropped_total": [dropped]}
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    out = stream.groupBy("lang").applyInPandasWithState(
        update,
        outputStructType="lang string, n_total long, n_dropped_total long",
        stateStructType="n long, dropped long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(queryName)
        .trigger(availableNow=True)
        .start()
    )


def windowed_drop_metrics(
    spark: SparkSession,
    input_dir: str,
    queryName: str = "qc_drop_metrics",
) -> StreamingQuery:
    """Event-time windowed drop metrics demo: watermark + tumbling window
    over an event-shaped stream (ts, lang, keep). Memory sink for tests."""
    schema = "ts timestamp, lang string, keep boolean"
    stream = spark.readStream.schema(schema).parquet(input_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "lang")
        .agg(
            F.count("*").alias("n"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        )
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(availableNow=True)
        .start()
    )
