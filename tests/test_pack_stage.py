"""Packing stage (pipeline.pack_table + CLI `pack`)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F

from qcflow.pipeline import normalize_clips, pack_table

REPO = Path(__file__).resolve().parent.parent


def _normalized(spark, clips_t2k, n=60):
    base = (
        spark.read.parquet(clips_t2k)
        .filter(F.col("bytes").isNotNull())
        .limit(n)
    )
    return normalize_clips(base).filter(F.col("bytes").isNotNull()).cache()


def test_pack_table_concatenates_exactly(spark, clips_t2k):
    """Every normalized clip lands in exactly one pack; each pack's
    payload length is the exact sum of its members' payload lengths (in
    the pack's member order); packs respect the budget unless a single
    member overflows it; transcripts join in the same order."""
    norm = _normalized(spark, clips_t2k)
    packs = pack_table(norm, budget_ms=3000).cache()
    got = packs.toPandas()
    src = norm.select(
        "clip_id", F.length("bytes").alias("n_bytes"), "transcript", "sr_hz"
    ).toPandas().set_index("clip_id")
    seen: list = []
    for r in got.itertuples():
        member_bytes = sum(int(src.loc[p].n_bytes) for p in r.parents)
        assert len(r.bytes) == member_bytes
        assert r.n_members == len(r.parents)
        assert (src.loc[list(r.parents)].sr_hz == r.sr_hz).all()
        want_tr = " ".join(
            (src.loc[p].transcript or "") for p in r.parents
        )
        assert r.transcript == want_tr
        if r.n_members > 1:
            # the next-fit decision sums per-member FLOOR(dur) while the
            # emitted dur_ms is the floor of the exact concatenated
            # duration, so accumulated sub-ms floor losses can push a
            # pack up to n_members - 1 ms past the budget (advisor r5
            # finding: the bare <= budget assert held on fixture luck)
            assert r.dur_ms <= 3000 + r.n_members - 1
        seen.extend(r.parents)
    assert sorted(seen) == sorted(src.index)


def test_pack_table_is_deterministic(spark, clips_t2k):
    norm = _normalized(spark, clips_t2k, n=40)
    a = pack_table(norm).toPandas().sort_values("clip_id").reset_index(drop=True)
    b = pack_table(norm).toPandas().sort_values("clip_id").reset_index(drop=True)
    assert a[["clip_id", "n_members", "dur_ms"]].equals(
        b[["clip_id", "n_members", "dur_ms"]]
    )
    assert (a.bytes == b.bytes).all()


def test_cli_pack_stage(tmp_path, clips_t2k, spark):
    src = str(tmp_path / "norm.parquet")
    _normalized(spark, clips_t2k, n=30).write.mode("overwrite").parquet(src)
    p = subprocess.run(
        [
            sys.executable,
            "-m",
            "qcflow.cli",
            "pack",
            "--clips",
            src,
            "--out",
            str(tmp_path / "out"),
            "--cpus",
            "4",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    summary = json.loads(p.stdout.strip().splitlines()[-1])
    assert summary["cmd"] == "pack"
    assert summary["n_packed"] == 30, summary
    assert summary["n_packs"] >= 1


def test_pack_table_survives_defect_rows(spark, clips_t2k):
    """Raw (non-normalized) tables carry defect rows — sr_hz=0 pcm16, no
    transcript column — and the pack stage must neither ANSI-throw on
    the duration division nor fail analysis on the missing column
    (advisor r5 findings). Bad-sr rows pack on the 8000 Hz fallback
    grid, the same effective rate every other stage assigns them."""
    base = (
        spark.read.parquet(clips_t2k)
        .filter(F.col("bytes").isNotNull() & (F.col("codec") == "pcm16"))
        .limit(20)
        .drop("transcript")
    )
    defect = base.withColumn(
        "sr_hz",
        F.when(F.monotonically_increasing_id() % 5 == 0, F.lit(0)).otherwise(
            F.col("sr_hz")
        ),
    )
    out = pack_table(defect).toPandas()
    assert len(out) > 0
    assert (out["transcript"] == "").all()  # lit('') substitute
    assert set(out["sr_hz"]).issubset({8000, 16000, 22050, 44100, 48000})
    # every input row lands in exactly one pack despite the defects
    parents = sorted(p for ps in out["parents"] for p in ps)
    assert parents == sorted(r.clip_id for r in defect.select("clip_id").collect())
