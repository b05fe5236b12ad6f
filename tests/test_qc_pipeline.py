"""Flagship QC pipeline vs the independent pandas reference labeler.

BASELINE.json targets: keep/drop F1 >= 0.99; per-row transcript equality
post-scrub; per-row PCM invariant (SNR >= 30 dB); partition-count
invariance.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from qcflow import synth
from qcflow.pipeline import score_clips
from qcflow.reference_labeler import label

CACHE = str(Path(__file__).resolve().parent.parent / ".cache" / "clips_t2k")
N_ROWS = 2000


@pytest.fixture(scope="session")
def clips_dir(spark):
    if not os.path.exists(f"{CACHE}/clips.parquet/_SUCCESS"):
        synth.generate_clips(spark, N_ROWS, CACHE, partitions=8)
    return CACHE


@pytest.fixture(scope="session")
def scored(spark, clips_dir):
    clips = spark.read.parquet(f"{clips_dir}/clips.parquet")
    res = score_clips(spark, clips, exact_thresholds=True)
    pdf = res.scored.toPandas().sort_values("clip_id").reset_index(drop=True)
    yield pdf, res.thresholds


@pytest.fixture(scope="session")
def ref_labels(spark, clips_dir):
    clips = (
        spark.read.parquet(f"{clips_dir}/clips.parquet")
        .drop("bytes")
        .toPandas()
    )
    return label(clips).sort_values("clip_id").reset_index(drop=True)


def test_keep_f1(scored, ref_labels):
    got, _ = scored
    merged = got.merge(ref_labels, on="clip_id", suffixes=("", "_ref"))
    assert len(merged) == N_ROWS
    tp = ((merged.keep) & (merged.keep_ref)).sum()
    fp = ((merged.keep) & (~merged.keep_ref)).sum()
    fn = ((~merged.keep) & (merged.keep_ref)).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"keep/drop F1 {f1:.4f} < 0.99 (fp={fp}, fn={fn})"
    # stronger than the target: reasons should agree exactly
    mism = (merged.drop_reasons != merged.drop_reasons_ref).sum()
    assert mism <= N_ROWS * 0.01, f"{mism} rows differ in drop_reasons"


def test_lang_and_scrub_parity(scored, ref_labels):
    got, _ = scored
    merged = got.merge(ref_labels, on="clip_id", suffixes=("", "_ref"))
    assert (merged.lang == merged.lang_ref).all()
    # fp association differs (batch segment-sums vs per-row matmul): the
    # spec fixes the math, not the summation order
    assert np.allclose(merged.lang_conf, merged.lang_conf_ref, atol=1e-5)
    assert np.allclose(merged.perplexity, merged.perplexity_ref, rtol=1e-5)
    # per-row transcript invariant: exact equality post-scrub
    s = merged.scrubbed_transcript.fillna("")
    r = merged.scrubbed_transcript_ref.fillna("")
    assert (s == r).all()


def test_langid_quality_vs_truth(spark, clips_dir, scored):
    """The model itself must be good: predicted lang == generator truth on
    clean kept rows."""
    got, _ = scored
    meta = spark.read.parquet(f"{clips_dir}/clips_meta.parquet").toPandas()
    m = got.merge(meta, on="clip_id")
    clean = m[(m.planted == "") & (m.keep)]
    acc = (clean.lang == clean.true_lang).mean()
    assert acc >= 0.99, f"langid accuracy vs truth {acc:.4f}"


def test_planted_defect_recall(spark, clips_dir, scored):
    """Planted structural defects must be dropped with the right reason."""
    got, _ = scored
    meta = spark.read.parquet(f"{clips_dir}/clips_meta.parquet").toPandas()
    m = got.merge(meta, on="clip_id")
    expect = {
        "invalid_sr": "invalid_sr",
        "short_dur": "bad_duration",
        "long_dur": "bad_duration",
        "unknown_codec": "unknown_codec",
        "empty_transcript": "empty_transcript",
        "high_repetition": "high_repetition",
    }
    for planted, reason in expect.items():
        sub = m[m.planted.str.contains(planted)]
        assert len(sub) > 0
        hit = sub.drop_reasons.str.contains(reason).mean()
        assert hit == 1.0, f"{planted}: only {hit:.2%} flagged {reason}"


def test_scrub_removes_pii(spark, clips_dir, scored):
    got, _ = scored
    meta = spark.read.parquet(f"{clips_dir}/clips_meta.parquet").toPandas()
    m = got.merge(meta, on="clip_id")
    pii = m[m.planted.str.contains("pii")]
    assert len(pii) > 0
    for tok in synth.PII_EMAILS + synth.PII_PHONES + synth.PII_IDS:
        assert not pii.scrubbed_transcript.str.contains(tok, regex=False).any(), tok
    # every planted-PII transcript must contain a scrub placeholder
    assert pii.scrubbed_transcript.str.contains("<EMAIL>|<PHONE>|<ID>").all()
    tox = m[m.planted.str.contains("tox")]
    for w in synth.TOX_WORDS:
        assert not tox.scrubbed_transcript.str.contains(rf"\b{w}\b", regex=True).any()


def test_partition_invariance(spark, clips_dir, scored):
    """Same outputs at a different parallelism (determinism requirement —
    doubles as the scaling-run correctness check)."""
    got, thr = scored
    clips = spark.read.parquet(f"{clips_dir}/clips.parquet").repartition(3)
    res2 = score_clips(spark, clips, exact_thresholds=True)
    got2 = res2.scored.toPandas().sort_values("clip_id").reset_index(drop=True)
    assert thr == res2.thresholds
    pd.testing.assert_series_equal(got.keep, got2.keep)
    pd.testing.assert_series_equal(got.drop_reasons, got2.drop_reasons)


def test_pcm_snr_invariant(spark, clips_dir):
    """Decoded PCM vs re-synthesized original: SNR >= 30 dB on every
    decodable clip (pcm16 ~87 dB, ulaw ~37 dB)."""
    from qcflow.udfs import with_snr

    clips = spark.read.parquet(f"{clips_dir}/clips.parquet").limit(300)
    snr = with_snr(clips).select("clip_id", "codec", "snr_db").toPandas()
    dec = snr[snr.codec.isin(["pcm16", "ulaw"])]
    assert len(dec) > 100
    # planted pcm_inconsistent rows have truncated/extended waves; the
    # overlapping prefix still matches, so SNR holds there too
    assert (dec.snr_db >= 30.0).all(), dec[dec.snr_db < 30].head()


def test_pcm_consistency_flags(spark, clips_dir):
    from qcflow.pipeline import score_clips

    clips = spark.read.parquet(f"{clips_dir}/clips.parquet")
    res = score_clips(spark, clips, check_pcm=True)
    got = res.scored.select("clip_id", "drop_reasons").toPandas()
    meta = spark.read.parquet(f"{clips_dir}/clips_meta.parquet").toPandas()
    m = got.merge(meta, on="clip_id")
    # invalid-sr rows have NULL pcm duration -> NaN never flags (by design)
    planted = m[
        m.planted.str.contains("pcm_inconsistent")
        & ~m.planted.str.contains("invalid_sr")
    ]
    assert len(planted) > 0
    assert planted.drop_reasons.str.contains("pcm_inconsistent").all()
    # and clean valid-sr clips must NOT be flagged pcm_inconsistent
    clean = m[(m.planted == "")]
    assert not clean.drop_reasons.str.contains("pcm_inconsistent").any()


def test_meta_only_generation_matches_full():
    """Meta-only synth (skips audio) must produce identical metadata —
    the RNG streams stay aligned."""
    import pandas as pd

    from qcflow.synth import gen_batch

    full = gen_batch(np.arange(80), with_audio=True)
    meta = gen_batch(np.arange(80), with_audio=False)
    for c in ["clip_id", "sr_hz", "dur_ms", "codec", "transcript", "true_lang", "planted"]:
        pd.testing.assert_series_equal(full[c], meta[c], check_names=True)
    assert meta["bytes"].isna().all() or (meta["bytes"].isnull()).all()


def test_pcm_stats_udf(spark, clips_dir):
    """with_pcm_stats decode: sample counts must match the byte-length
    estimate (pcm16 = 2 B/sample, ulaw = 1 B/sample), RMS in (0, 1)."""
    from pyspark.sql import functions as F

    from qcflow.udfs import with_pcm_stats

    clips = spark.read.parquet(f"{clips_dir}/clips.parquet").limit(200)
    stats = with_pcm_stats(clips).select(
        "clip_id", "codec", "n_samples", "rms", F.length("bytes").alias("blen")
    ).toPandas()
    dec = stats[stats.codec.isin(["pcm16", "ulaw"])]
    assert len(dec) > 100
    expect = np.where(dec.codec == "pcm16", dec.blen // 2, dec.blen)
    assert (dec.n_samples.values == expect).all()
    assert ((dec.rms > 0) & (dec.rms < 1)).all()
    # unknown codec rows decode to nothing, not an error
    unk = stats[~stats.codec.isin(["pcm16", "ulaw"])]
    if len(unk):
        assert (unk.n_samples == 0).all()


def test_empty_input(spark, tmp_path):
    """Empty table: explicit thresholds run to empty outputs — including
    a schema-complete empty metrics_partials table and all three merged
    metrics tables; derived thresholds fail with a clear error, not a
    TypeError."""
    import pyarrow.parquet as pq
    import pytest as _pytest

    from qcflow.checkpoint import _PARTIALS_SPEC, _QUANTILE_SPEC, _grain_spec
    from qcflow.pipeline import score_clips, write_outputs
    from qcflow.rules import Thresholds
    from qcflow.schema import CLIPS_SCHEMA

    empty = spark.createDataFrame([], CLIPS_SCHEMA)
    thr = Thresholds(repetition_lo=0.1, cps_lo=1.0, cps_hi=100.0, ppl_hi=100.0)
    res = score_clips(spark, empty, thresholds=thr)
    out_dir = str(tmp_path / "empty")
    out = write_outputs(res, out_dir)
    assert out == {"n_input": 0, "n_kept": 0}
    res.release()
    for name, spec in [
        ("metrics_partials", _PARTIALS_SPEC),
        ("metrics_drop_reasons", _grain_spec("drop_reasons")),
        ("metrics_lang_conf", _grain_spec("lang_conf")),
        ("metrics_quantiles", _QUANTILE_SPEC),
    ]:
        table = pq.read_table(f"{out_dir}/{name}.parquet")
        assert table.num_rows == 0, name
        assert table.column_names == [n for n, _ in spec], name

    with _pytest.raises(ValueError, match="cannot derive thresholds"):
        score_clips(spark, empty)


def test_snr_tolerates_foreign_rows(spark):
    """Foreign clip_ids / null sr must yield NaN, not a task failure."""
    import pandas as pd
    from pyspark.sql import functions as F

    from qcflow import audio
    from qcflow.udfs import with_snr

    wave = audio.synth_wave(3, 1000, 8000)
    pdf = pd.DataFrame(
        {
            "clip_id": ["not-a-synthetic-id", "clip-000000000003", "clip-xyz"],
            "bytes": [audio.pcm16_encode(wave)] * 3,
            "sr_hz": [None, 8000, 8000],
            "codec": ["pcm16"] * 3,
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "sr_hz", F.col("sr_hz").cast("int")
    )
    out = with_snr(df).toPandas().set_index("clip_id")
    assert np.isnan(out.loc["not-a-synthetic-id", "snr_db"])
    assert np.isnan(out.loc["clip-xyz", "snr_db"])
    assert out.loc["clip-000000000003", "snr_db"] > 60


def test_write_outputs_metrics_match_spark_kernels(spark, clips_t2k, tmp_path):
    """write_outputs lands partials/lineage/metrics via the pandas
    kernels (driver-side pyarrow, 3 Spark jobs total); every written
    table must be row-identical to the Spark aggregation twins in
    qcflow.summary — the cross-engine check that keeps the two
    implementations pinned together (test_resume compares resumable vs
    one-shot, which now share the pandas path)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from qcflow.pipeline import score_clips, write_outputs
    from qcflow.summary import (
        cube_conf_histogram,
        cube_drop_reasons,
        cube_lineage,
        metrics_grains,
        metrics_partials,
        quantile_metrics,
    )

    clips = spark.read.parquet(clips_t2k).limit(600)
    res = score_clips(spark, clips, exact_thresholds=True)
    out = str(tmp_path / "one_shot")
    counts = write_outputs(res, out)

    def norm(pdf, keys):
        # keys as strings for a total sort order; float payload columns
        # stay numeric so assert_frame_equal's default tolerance absorbs
        # the documented cross-engine pow() last-ulp gap (numpy libm vs
        # Java Math.pow in the quantile upper-edge arithmetic)
        pdf = pdf.copy()
        for k in keys:
            pdf[k] = pdf[k].astype(str)
        return pdf.sort_values(keys).reset_index(drop=True)

    cube, ppl_hist = metrics_grains(res.scored)
    pairs = [
        (
            "metrics_drop_reasons",
            cube_drop_reasons(cube, "lang").toPandas(),
            ["lang", "drop_reason"],
        ),
        (
            "metrics_lang_conf",
            cube_conf_histogram(cube).toPandas(),
            ["lang", "conf_bin"],
        ),
        (
            "metrics_quantiles",
            quantile_metrics(
                ppl_hist.groupBy("lang", "ppl_bin").agg(F.sum("n").alias("n")),
                cube_conf_histogram(cube),
            ).toPandas(),
            ["lang"],
        ),
        (
            "metrics_partials",
            metrics_partials(cube, ppl_hist)
            .withColumn("snapshot_id", F.lit(0).cast("long"))
            .select(
                "snapshot_id", "kind", "bucket", "lang", "drop_reason", "bin", "n"
            )
            .toPandas(),
            ["kind", "bucket", "lang", "drop_reason", "bin"],
        ),
        (
            "lineage",
            cube_lineage(cube)
            .select(
                F.lit(0).cast("long").alias("snapshot_id"),
                F.lit("append").alias("kind"),
                "bucket",
                "n_input",
                "n_kept",
                "n_dropped",
            )
            .toPandas(),
            ["bucket"],
        ),
    ]
    for name, want, keys in pairs:
        got = spark.read.parquet(f"{out}/{name}.parquet").toPandas()
        assert sorted(got.columns) == sorted(want.columns), name
        got = got[want.columns]
        pd.testing.assert_frame_equal(
            norm(got, keys), norm(want, keys), check_dtype=False, obj=name
        )
    total = res.scored.count()
    kept_n = res.scored.filter(F.col("keep")).count()
    assert counts == {"n_input": total, "n_kept": kept_n}
    res.release()


def test_write_outputs_append_accumulates_partials(spark, clips_t2k, tmp_path):
    """Append-mode write_outputs must ACCUMULATE metrics_partials and
    lineage across runs, exactly like the kept/dropped row tables do:
    the one-shot path writes snapshot_id=0 bookkeeping under a fixed
    file name, so without per-run uniquified tags the second append
    os.replace'd the first run's partials/lineage while kept rows kept
    accumulating — finalized metrics then disagreed with the kept table
    (r6 review finding). finalize_metrics sums duplicate
    (snapshot, bucket) partials, so doubled partials = doubled rows."""
    from pyspark.sql import functions as F

    from qcflow.pipeline import score_clips, write_outputs

    clips = spark.read.parquet(clips_t2k).limit(400)
    res = score_clips(spark, clips, exact_thresholds=False)
    out = str(tmp_path / "appended")
    write_outputs(res, out, mode="append")
    kept_1 = spark.read.parquet(f"{out}/kept.parquet").count()
    lin_1 = spark.read.parquet(f"{out}/lineage.parquet").toPandas()
    part_1 = spark.read.parquet(f"{out}/metrics_partials.parquet").toPandas()
    dr_1 = spark.read.parquet(f"{out}/metrics_drop_reasons.parquet").toPandas()
    write_outputs(res, out, mode="append")
    res.release()

    assert spark.read.parquet(f"{out}/kept.parquet").count() == 2 * kept_1
    lin_2 = spark.read.parquet(f"{out}/lineage.parquet").toPandas()
    part_2 = spark.read.parquet(f"{out}/metrics_partials.parquet").toPandas()
    assert len(lin_2) == 2 * len(lin_1)
    assert len(part_2) == 2 * len(part_1)
    assert int(lin_2["n_kept"].sum()) == 2 * int(lin_1["n_kept"].sum())
    # finalized metrics follow the accumulated rows (summed partials)
    dr_2 = spark.read.parquet(f"{out}/metrics_drop_reasons.parquet").toPandas()
    assert int(dr_2["n"].sum()) == 2 * int(dr_1["n"].sum())


def test_write_outputs_append_crash_stays_invisible(
    spark, clips_t2k, tmp_path, monkeypatch
):
    """An append-mode run that dies at its lineage commit leaves rows on
    disk that no committed reader may ever see — also after a LATER
    append run commits. Each run allocates its own snapshot id through
    the counter, so the later commit cannot retro-commit the crashed
    run's rows (a shared snapshot 0 did)."""
    from pyspark.sql import functions as F

    from qcflow import checkpoint
    from qcflow.checkpoint import read_committed
    from qcflow.pipeline import QcResult, write_outputs

    clips = spark.read.parquet(clips_t2k).limit(600)
    res = score_clips(spark, clips, exact_thresholds=False)
    third = F.pmod(F.xxhash64("clip_id"), F.lit(3))

    def part(k):
        return QcResult(scored=res.scored.filter(third == k), thresholds=res.thresholds)

    def ids(k):
        return {r[0] for r in res.scored.filter(third == k).select("clip_id").collect()}

    out = str(tmp_path / "appended")
    write_outputs(part(0), out, mode="append")

    real_append = checkpoint._append_parquet_file

    def crash_at_commit(dir_path, *a, **kw):
        if dir_path.endswith("lineage.parquet"):
            raise RuntimeError("simulated crash at the lineage commit")
        return real_append(dir_path, *a, **kw)

    monkeypatch.setattr(checkpoint, "_append_parquet_file", crash_at_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        write_outputs(part(1), out, mode="append")
    monkeypatch.setattr(checkpoint, "_append_parquet_file", real_append)
    write_outputs(part(2), out, mode="append")
    res.release()

    raw = {
        r[0]
        for t in ("kept", "dropped")
        for r in spark.read.parquet(f"{out}/{t}.parquet").select("clip_id").collect()
    }
    assert ids(1) <= raw  # the crashed run's rows are on disk ...
    committed = [
        r[0]
        for t in ("kept", "dropped")
        for r in read_committed(spark, out, t).select("clip_id").collect()
    ]
    # ... but only the two committed runs are visible, each row once
    assert len(committed) == len(set(committed))
    assert set(committed) == ids(0) | ids(2)
    lin = spark.read.parquet(f"{out}/lineage.parquet").toPandas()
    assert lin.snapshot_id.nunique() == 2
    assert int(lin.n_input.sum()) == len(committed)
    # finalized metrics count the committed runs only
    dropped = read_committed(spark, out, "dropped")
    n_reasons = dropped.select(F.explode(F.split("drop_reasons", ","))).count()
    dr = spark.read.parquet(f"{out}/metrics_drop_reasons.parquet").toPandas()
    assert int(dr["n"].sum()) == n_reasons
