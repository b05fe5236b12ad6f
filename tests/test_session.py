"""Session defaults: pure functions of the host, and the codegen cache."""

from __future__ import annotations

from qcflow.session import default_driver_memory

GiB = 1024**3


def test_driver_memory_is_half_of_ram_capped_at_48g():
    assert default_driver_memory(16 * GiB) == "8192m"
    assert default_driver_memory(int(15.7 * GiB)) == f"{int(15.7 * GiB) // 2 // 2**20}m"
    assert default_driver_memory(96 * GiB) == "49152m"  # the cap: 48g
    assert default_driver_memory(512 * GiB) == "49152m"
    assert default_driver_memory(2 * GiB) == "1024m"


def test_driver_memory_defaults_to_this_host():
    import os

    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = int(default_driver_memory().rstrip("m"))
    assert 0 < mb <= min(phys // 2**20 // 2, 48 * 1024)


def _compiled_classes(spark) -> int:
    """Classes Spark's whole-stage and expression codegen has compiled in
    this JVM (a cache hit compiles none)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_payload_pass_reuses_compiled_code(spark, clips_t2k, tmp_path):
    """A payload pass (dedup, acoustic QC of the survivors, committed
    write) generates more distinct classes than Spark's default 100-entry
    codegen cache holds; with the session's larger cache an identical
    second pass compiles (almost) nothing."""
    from qcflow.pipeline import dedup_table, score_clips, write_outputs

    # a LIMIT names its counter afresh in every plan, so a limited read
    # would never hit the cache: the passes read a written slice
    src = str(tmp_path / "clips.parquet")
    spark.read.parquet(clips_t2k).limit(200).write.parquet(src)

    def one_pass(i: int) -> None:
        deduped = str(tmp_path / f"deduped{i}.parquet")
        dedup_table(spark.read.parquet(src)).write.parquet(deduped)
        res = score_clips(
            spark, spark.read.parquet(deduped), exact_thresholds=True,
            check_acoustics=True,
        )
        write_outputs(res, str(tmp_path / f"qc{i}"))
        res.release()

    one_pass(0)
    before = _compiled_classes(spark)
    one_pass(1)
    assert _compiled_classes(spark) - before <= 2
