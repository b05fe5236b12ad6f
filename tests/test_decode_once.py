"""Decode each payload once: the fused decode kernel (udfs.with_decode),
dedup_table's single decode crossing, and acoustic QC reusing the
features the dedup survivors carry."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from qcflow.pipeline import dedup_table, normalize_clips, score_clips, segment_table
from qcflow.udfs import AUDIO_FEATURE_COLS, SNR_COLS, with_audio_features, with_decode


@pytest.fixture(scope="module")
def odd_table(spark, clips_t2k, tmp_path_factory):
    """40 pcm16 clips + exact copies of the first 8 (Hamming 0), plus a
    NULL-bytes row, an unknown-codec row, an undecodable (odd-length
    pcm16) row, a NULL-sr_hz row and three repeated clip_ids: an exact
    copy of a clustered row, of a singleton, and a NULL-bytes copy of a
    clustered row. Written to parquet so every read scans files."""
    base = (
        spark.read.parquet(clips_t2k)
        .filter(F.col("bytes").isNotNull() & (F.col("codec") == "pcm16"))
        .orderBy("clip_id")
        .limit(40)
    )
    rows = [r.asDict() for r in base.collect()]

    def row(i, **kw):
        return {**rows[i], **kw}

    extra = [
        row(30, clip_id="x-nullbytes", bytes=None),
        row(31, clip_id="x-mp3", codec="mp3"),
        row(32, clip_id="x-odd", bytes=bytes(rows[32]["bytes"])[:-1]),
        row(33, clip_id="x-nullsr", sr_hz=None),
        row(0),
        row(20),
        row(1, bytes=None),
    ]
    copies = [row(i, clip_id=rows[i]["clip_id"] + "#copy") for i in range(8)]
    path = str(tmp_path_factory.mktemp("odd") / "clips.parquet")
    spark.createDataFrame(rows + copies + extra, schema=base.schema).write.parquet(
        path
    )
    return path, rows


def _executions(spark, fn) -> list[str]:
    """Physical plans of every SQL execution ``fn`` runs."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n0 = store.executionsList().size()
    fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    lst = store.executionsList()
    return [lst.apply(i).physicalPlanDescription() for i in range(n0, lst.size())]


def _decode_evals(plans: list[str]) -> int:
    """Python evals whose arguments read the ``bytes`` column, each
    counted once per execution: an adaptive plan's details list every
    node of its initial plan again, with the same arguments."""
    args = {
        (i, m.group(1))
        for i, p in enumerate(plans)
        for m in re.finditer(r"ArrowEvalPython\nInput [^\n]*\nArguments: ([^\n]*)", p)
    }
    return sum("bytes" in a for _, a in args)


def _reads_bytes(plans: list[str]) -> bool:
    schemas = [seg.split("\n")[0] for p in plans for seg in p.split("ReadSchema:")[1:]]
    return any("bytes" in s for s in schemas)


def test_with_decode_guards_per_output(spark, odd_table):
    """NULL bytes / unknown codec / undecodable rows: every output NULL.
    NULL sr_hz: NULL fingerprint and SNR, features on the 8000 Hz
    fallback. Outputs asked for separately equal the fused call."""
    path, _ = odd_table
    clips = spark.read.parquet(path)
    cols = ["audio_fp", *SNR_COLS, *AUDIO_FEATURE_COLS]
    fused = with_decode(clips, cols).select("clip_id", *cols).toPandas()
    fused = fused.drop_duplicates("clip_id").set_index("clip_id").sort_index()
    for c in ("x-nullbytes", "x-mp3", "x-odd"):
        assert fused.loc[c].isna().all(), c
    assert pd.isna(fused.loc["x-nullsr", "audio_fp"])
    assert fused.loc["x-nullsr", SNR_COLS].isna().all()
    assert fused.loc["x-nullsr", AUDIO_FEATURE_COLS].notna().all()
    for part in (["audio_fp"], SNR_COLS, AUDIO_FEATURE_COLS):
        one = with_decode(clips, part).select("clip_id", *part).toPandas()
        one = one.drop_duplicates("clip_id").set_index("clip_id").sort_index()
        pd.testing.assert_frame_equal(one, fused[part])


def test_dedup_survivors_carry_decoded_features(spark, odd_table):
    """Survivors carry AUDIO_FEATURE_COLS equal to with_audio_features on
    the same rows, and a repeated clip_id keeps its multiplicity: the
    decision join never multiplies rows."""
    path, rows = odd_table
    clips = spark.read.parquet(path)
    key = F.xxhash64("clip_id", "bytes", "codec", "sr_hz").alias("_k")
    got = dedup_table(clips).select("clip_id", key, *AUDIO_FEATURE_COLS).toPandas()
    want = (
        with_audio_features(clips)
        .select("clip_id", key, *AUDIO_FEATURE_COLS)
        .toPandas()
        .drop_duplicates(["clip_id", "_k"])
    )
    both = got.merge(want, on=["clip_id", "_k"], how="left", suffixes=("", "_w"))
    assert len(both) == len(got)
    for c in AUDIO_FEATURE_COLS:
        a, b = both[c].to_numpy(dtype=float), both[f"{c}_w"].to_numpy(dtype=float)
        assert np.array_equal(a, b, equal_nan=True), c
    counts = got["clip_id"].value_counts()
    # an exact repeat of a clustered row and of a singleton: both copies
    # survive once each; the planted copy of the clustered row does not
    assert counts[rows[0]["clip_id"]] == 2
    assert counts[rows[20]["clip_id"]] == 2
    assert rows[0]["clip_id"] + "#copy" not in counts
    for c in ("x-nullbytes", "x-mp3", "x-odd", "x-nullsr"):
        assert counts[c] == 1, c


def test_dedup_table_decodes_once(spark, odd_table, tmp_path):
    """One Python eval over `bytes` across every job dedup_table runs:
    fingerprint, SNR and features come from the same crossing."""
    path, _ = odd_table
    clips = spark.read.parquet(path)
    plans = _executions(
        spark,
        lambda: dedup_table(clips).write.parquet(str(tmp_path / "dd.parquet")),
    )
    assert _decode_evals(plans) == 1, plans


def test_dedup_shuffle_join_equals_broadcast(spark, odd_table, tmp_path):
    """A decision too large for the broadcast threshold takes a shuffle
    join and yields the same survivors as the broadcast decision."""
    path, _ = odd_table
    clips = spark.read.parquet(path)
    cols = ["clip_id", "cluster_rep", "cluster_size", *AUDIO_FEATURE_COLS]
    frames = []

    def survivors():
        got = dedup_table(clips).select(*cols).toPandas()
        frames.append(got.sort_values(cols).reset_index(drop=True))

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plans = _executions(spark, survivors)
    finally:
        spark.conf.set(key, old)
    assert not any("BroadcastExchange" in p for p in plans), plans
    survivors()
    pd.testing.assert_frame_equal(frames[0], frames[1])


def test_score_clips_reuses_carried_features(spark, odd_table, tmp_path):
    """score_clips(check_acoustics=True) on survivors that carry the
    features runs no decode eval and never scans `bytes`, and scores
    exactly like the decode path under fixed thresholds."""
    from qcflow.rules import Thresholds

    path, _ = odd_table
    dd = str(tmp_path / "dd.parquet")
    dedup_table(spark.read.parquet(path)).write.parquet(dd)
    # repeated clip_ids included: each copy keeps its own features on
    # both paths
    survivors = spark.read.parquet(dd)
    thr = Thresholds(repetition_lo=0.3, cps_lo=5.0, cps_hi=30.0, ppl_hi=50.0)
    cols = ["clip_id", "keep", "drop_reasons", *AUDIO_FEATURE_COLS]
    frames = {}

    def run(name, df):
        res = score_clips(spark, df, thresholds=thr, check_acoustics=True)
        frames[name] = (
            res.scored.select(*cols)
            .toPandas()
            .sort_values(cols, na_position="first")
            .reset_index(drop=True)
        )
        res.release()

    plans = _executions(spark, lambda: run("reuse", survivors))
    assert _decode_evals(plans) == 0, plans
    assert not _reads_bytes(plans), plans
    run("decode", survivors.drop(*AUDIO_FEATURE_COLS))
    pd.testing.assert_frame_equal(frames["reuse"], frames["decode"])


def test_payload_rewriting_stages_drop_carried_features(spark, odd_table):
    """normalize/segment write new bytes, so features computed from the
    old payload must not ride along."""
    path, _ = odd_table
    carrying = with_audio_features(spark.read.parquet(path))
    for out in (normalize_clips(carrying), segment_table(carrying)):
        assert not set(AUDIO_FEATURE_COLS) & set(out.columns), out.columns


def test_resume_on_dedup_survivors_reuses_features(spark, odd_table, tmp_path):
    """The dedup -> run --resume --check-acoustics chain: dedup survivors
    already carry the features, so the resumable load's one scoring pass
    reuses them instead of decoding again. The resumed kept/dropped
    equal the one-shot run, and a bucket replace on the same input
    commits."""
    from qcflow.checkpoint import merge_replace_buckets, read_committed, run_resumable
    from qcflow.pipeline import write_outputs

    path, _ = odd_table
    dd = dedup_table(spark.read.parquet(path))
    once = dd.groupBy("clip_id").count().filter("count = 1").select("clip_id")
    src = str(tmp_path / "dd.parquet")
    dd.join(once, "clip_id").write.parquet(src)
    resumed, oneshot = str(tmp_path / "resumed"), str(tmp_path / "oneshot")
    run_resumable(spark, src, resumed, n_buckets=4, max_buckets=2, check_acoustics=True)
    run_resumable(spark, src, resumed, n_buckets=4, check_acoustics=True)
    res = score_clips(spark, spark.read.parquet(src), n_buckets=4, check_acoustics=True)
    write_outputs(res, oneshot)
    res.release()

    def pdf(df):
        cols = sorted(c for c in df.columns if c not in ("bucket", "snapshot_id"))
        return df.select(*cols).toPandas().sort_values("clip_id").reset_index(drop=True)

    for table in ("kept", "dropped"):
        pd.testing.assert_frame_equal(
            pdf(read_committed(spark, resumed, table)),
            pdf(spark.read.parquet(f"{oneshot}/{table}.parquet")),
        )
    n = spark.read.parquet(src).count()
    merge_replace_buckets(spark, src, resumed, [1], n_buckets=4)
    got = sum(read_committed(spark, resumed, t).count() for t in ("kept", "dropped"))
    assert got == n


def test_byte_joined_increment_decodes_once(spark, odd_table, tmp_path):
    """A check_acoustics resumable load decodes each payload once across
    all its calls: the call that writes the rows makes one Python eval
    over `bytes` across all its SQL executions, and the call that
    commits them makes none."""
    from qcflow.checkpoint import read_committed, run_resumable

    path, _ = odd_table
    out = str(tmp_path / "resumed")
    for max_buckets, evals in ((0, 1), (None, 0)):
        plans = _executions(
            spark,
            lambda: run_resumable(
                spark, path, out, n_buckets=4, max_buckets=max_buckets,
                check_acoustics=True,
            ),
        )
        assert _decode_evals(plans) == evals, plans
    n = spark.read.parquet(path).count()
    assert sum(read_committed(spark, out, t).count() for t in ("kept", "dropped")) == n


def test_repeated_clip_id_keeps_one_row_per_copy(spark, clips_t2k, tmp_path):
    """21 rows where one clip_id appears twice, the second copy with
    NULL bytes: score_clips' slim decode path, its full path with PCM
    consistency and acoustic features, and the resumable load over
    both yield 21 scored rows, each copy with its own features."""
    from qcflow.checkpoint import read_committed, run_resumable
    from qcflow.rules import Thresholds

    base = (
        spark.read.parquet(clips_t2k)
        .filter(F.col("bytes").isNotNull() & (F.col("codec") == "pcm16"))
        .orderBy("clip_id")
        .limit(20)
    )
    rows = [r.asDict() for r in base.collect()]
    dup = rows[0]["clip_id"]
    path = str(tmp_path / "clips.parquet")
    spark.createDataFrame(
        rows + [{**rows[0], "bytes": None}], schema=base.schema
    ).write.parquet(path)
    clips = spark.read.parquet(path)
    want = (
        with_audio_features(clips.filter(F.col("bytes").isNotNull()))
        .filter(F.col("clip_id") == dup)
        .first()["ac_rms"]
    )

    def check(scored, cols=("ac_rms",)):
        pdf = scored.select("clip_id", *cols).toPandas()
        assert len(pdf) == 21
        copies = pdf[pdf["clip_id"] == dup]
        assert len(copies) == 2
        # the NULL-bytes copy derives NULLs, the other copy its own bytes'
        for c in cols:
            assert copies[c].isna().sum() == 1, c
        assert copies["ac_rms"].dropna().tolist() == [want]

    thr = Thresholds(repetition_lo=0.3, cps_lo=5.0, cps_hi=30.0, ppl_hi=50.0)
    res = score_clips(spark, clips, thresholds=thr, check_acoustics=True)
    check(res.scored)
    res.release()
    res = score_clips(
        spark, clips, thresholds=thr, check_pcm=True, check_acoustics=True
    )
    check(res.scored, ("ac_rms", "pcm_dur_ms"))
    res.release()

    out = str(tmp_path / "resumed")
    run_resumable(spark, path, out, n_buckets=4, max_buckets=0)
    run_resumable(spark, path, out, n_buckets=4, check_pcm=True, check_acoustics=True)
    ids = [
        r["clip_id"]
        for t in ("kept", "dropped")
        for r in read_committed(spark, out, t).select("clip_id").collect()
    ]
    assert len(ids) == 21 and ids.count(dup) == 2
