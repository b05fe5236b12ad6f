"""Audio near-dup dedup stage (pipeline.dedup_table + CLI `dedup`)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F

from qcflow.pipeline import dedup_table

REPO = Path(__file__).resolve().parent.parent


def _with_planted_copies(spark, clips_t2k, n_base=60, n_copy=12):
    """A small clips table + exact byte copies of the first n_copy rows
    (Hamming 0 by construction — recall is guaranteed, not
    probabilistic)."""
    base = (
        spark.read.parquet(clips_t2k)
        .filter(F.col("bytes").isNotNull())
        .limit(n_base)
        .cache()
    )
    copies = (
        base.limit(n_copy)
        .withColumn("clip_id", F.concat(F.col("clip_id"), F.lit("#copy")))
    )
    return base.unionByName(copies), base, copies


def test_dedup_table_keeps_one_survivor_per_planted_pair(spark, clips_t2k):
    table, base, copies = _with_planted_copies(spark, clips_t2k)
    out = dedup_table(table).cache()
    got = out.toPandas()
    n_base = base.count()
    n_copy = copies.count()
    # every planted (orig, copy) pair collapses to exactly one row;
    # everything else passes through
    assert len(got) <= n_base + n_copy - n_copy
    pairs = got[got.cluster_rep.notna()]
    # one survivor per cluster
    assert pairs.cluster_rep.is_unique
    # survivors of planted exact pairs: base or copy, never both
    ids = set(got.clip_id)
    for r in copies.select("clip_id").collect():
        cid = r["clip_id"]
        orig = cid[: -len("#copy")]
        assert (orig in ids) != (cid in ids), (orig, cid)
    # singletons ride through with NULL lineage columns
    singles = got[got.cluster_rep.isna()]
    assert len(singles) > 0
    out.unpersist()


def test_dedup_output_is_a_valid_clips_table(spark, clips_t2k):
    """Composability: the survivors table feeds straight back into
    score_clips (the same contract as normalize/segment stages)."""
    from qcflow.pipeline import score_clips

    table, _, _ = _with_planted_copies(spark, clips_t2k, n_base=40, n_copy=8)
    out = dedup_table(table)
    res = score_clips(spark, out.drop("cluster_rep", "cluster_size"),
                      exact_thresholds=False)
    assert res.scored.count() > 0
    res.release()


def test_cli_dedup_stage(tmp_path, clips_t2k, spark):
    """The CLI stage writes survivors + prints the summary line."""
    src = str(tmp_path / "in.parquet")
    table, base, copies = _with_planted_copies(spark, clips_t2k, 40, 8)
    table.write.mode("overwrite").parquet(src)
    p = subprocess.run(
        [
            sys.executable,
            "-m",
            "qcflow.cli",
            "dedup",
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
    assert summary["cmd"] == "dedup"
    assert summary["n_removed"] == 8, summary
    assert summary["n_cluster_survivors"] == 8, summary


def test_decontaminate_table_flags_planted_copies(spark, clips_t2k):
    """Corpus rows that are byte-copies of eval clips get flagged with
    that eval id at Hamming 0; everything else stays clean."""
    from qcflow.pipeline import decontaminate_table

    base = (
        spark.read.parquet(clips_t2k)
        .filter(F.col("bytes").isNotNull())
        .limit(50)
        .cache()
    )
    eval_clips = base.limit(10).withColumn(
        "clip_id", F.concat(F.lit("eval-"), F.col("clip_id"))
    )
    got = decontaminate_table(base, eval_clips).toPandas()
    assert len(got) == base.count()
    hits = got[got.contam_eval_id.notna()]
    assert len(hits) == 10
    assert (hits.contam_hamming == 0).all()
    assert (hits.contam_eval_id == "eval-" + hits.clip_id).all()


def test_cli_decontaminate_stage(tmp_path, clips_t2k, spark):
    src = str(tmp_path / "corpus.parquet")
    ev = str(tmp_path / "eval.parquet")
    base = (
        spark.read.parquet(clips_t2k)
        .filter(F.col("bytes").isNotNull())
        .limit(40)
    )
    base.write.mode("overwrite").parquet(src)
    base.limit(6).withColumn(
        "clip_id", F.concat(F.lit("eval-"), F.col("clip_id"))
    ).write.mode("overwrite").parquet(ev)
    p = subprocess.run(
        [
            sys.executable,
            "-m",
            "qcflow.cli",
            "decontaminate",
            "--clips",
            src,
            "--eval-clips",
            ev,
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
    assert summary["n_quarantined"] == 6, summary
    assert summary["n_clean"] == 34, summary


def test_dedup_increment_drops_whole_committed_cluster(spark, clips_t2k):
    """When every member of an intra-increment cluster is a committed
    dup, the cluster vanishes entirely (no resurrecting a committed
    copy as a 'survivor'); fresh rows pass through with their columns."""
    from qcflow.pipeline import dedup_increment
    from qcflow.udfs import with_audio_fp

    base = (
        spark.read.parquet(clips_t2k)
        .filter(F.col("bytes").isNotNull())
        .limit(20)
        .cache()
    )
    committed_fp = with_audio_fp(base).select("clip_id", "audio_fp").filter(
        F.col("audio_fp").isNotNull()
    )
    # the increment: two exact copies of committed clip #0 + 5 fresh-ish
    # rows (clips 15..19 are NOT near clip 0 in fingerprint space only
    # if the synth content differs — they are distinct synthetic clips)
    first = base.limit(1)
    dup_a = first.withColumn("clip_id", F.concat(F.col("clip_id"), F.lit("#a")))
    dup_b = first.withColumn("clip_id", F.concat(F.col("clip_id"), F.lit("#b")))
    fresh = spark.read.parquet(clips_t2k).filter(
        F.col("bytes").isNotNull()
    ).orderBy(F.desc("clip_id")).limit(5)
    new = dup_a.unionByName(dup_b).unionByName(fresh)
    got = dedup_increment(new, committed_fp).toPandas()
    assert not got.clip_id.str.endswith("#a").any()
    assert not got.clip_id.str.endswith("#b").any()
    # the 5 fresh rows survive unless they incidentally near-dup the
    # committed slice; at minimum, none of the planted dups do
    assert len(got) <= 5
