"""SparkSession factory.

Defaults are tuned for the sandbox (single-JVM local[N]) but every choice is
the one you'd make on a real cluster too: AQE on (runtime re-planning, skew
join splitting, partition coalescing), Arrow on (all Python crossings are
vectorized), UTC session timezone (oracle comparability), shuffle partitions
sized to parallelism instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

DRIVER_MEM_FRACTION = 0.5
DRIVER_MEM_CAP_MB = 48 * 1024


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` default sized to the host: half of
    physical RAM, capped at 48g. In local mode the driver JVM holds
    every executor, but it shares the host with the Python workers and
    the page cache — a fixed 48g heap on a 15 GB host let G1 grow until
    the kernel OOM-killed the JVM. ``phys_bytes`` defaults to this
    host's physical memory; ``QCFLOW_DRIVER_MEM`` overrides the result
    (a deployment setting, read by get_spark)."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = int(phys_bytes * DRIVER_MEM_FRACTION) // (1024 * 1024)
    return f"{min(mb, DRIVER_MEM_CAP_MB)}m"


def get_spark(
    app_name: str = "qcflow",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` controls local parallelism; ``shuffle_partitions`` defaults to
    2x cpus (small multiple of cores — AQE coalesces down when partitions
    are tiny, and on a real cluster this scales with executor count).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus * 2, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan ABOVE cached relations (off by default): the QC
        # pipeline's dimension-sized aggregates/writes over the persisted
        # scored frame otherwise run at the full static shuffle fan-out —
        # measured 64 near-empty reduce tasks costing ~3 s per action at
        # bench scale, coalesced to data-sized tasks with this on. Only
        # output PARTITIONING of cached plans may change, never values;
        # every oracle-gated query is layout-invariant by design
        # (CLAUDE.md percentile_approx discipline).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # audio `bytes` rows are large; keep Arrow batches bounded so a
        # batch of clips fits comfortably in executor memory at any scale
        # (2048 x ~113 KB = 230 MB in flight PER WORKER made 32 cores run
        # slower than 8 on the decode path; 256 keeps it ~30 MB)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # same reason for the parquet vectorized reader: the default 4096
        # rows/batch means ~460 MB column buffers per task on ~113 KB
        # binary cells -> GC collapse (measured 346s vs 36s for a 7 GB
        # bytes-column scan). 512 keeps buffers ~60 MB with no measurable
        # cost on narrow scans.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        # split payload scans finer than the 128m default: the clip table
        # is ~110 MB/file of incompressible audio bytes, and a filtered
        # slice of it (the decode-stage unit of work) otherwise lands on
        # one task per file — 11 tasks for the bench's 10k slice on 32
        # cores. 32m x 16 MB row groups (synth writer) keeps every decode
        # stage at full width; map-only stages feed no shuffle, so the
        # extra task count costs only scheduling. Parameterized: a real
        # cluster scanning narrow tables wants the default or larger.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("QCFLOW_MAX_PARTITION_BYTES", "32m"),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("QCFLOW_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # one dedup + acoustic QC + write pass generates ~123 distinct
        # classes; at the default 100-entry (segmented LRU) cache every
        # repeat of that pass recompiled ~66 of them
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
