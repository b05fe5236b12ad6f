"""spark-submit entry point.

Usage (local or cluster — on a cluster drop --cpus and let the master
decide; ship the package with ``--py-files qcflow.zip``):

  spark-submit --py-files qcflow.zip -m qcflow.cli ... # or:
  python -m qcflow.cli gen --rows 20000 --out /tmp/clips
  python -m qcflow.cli run --clips /tmp/clips/clips.parquet --out /tmp/qc \
      [--resume] [--check-pcm] [--check-acoustics] [--approx-thresholds]
  python -m qcflow.cli stream --in /data/landing --out /tmp/qcs \
      --calib /tmp/qc [--dedup-within '10 minutes'] [--check-acoustics] \
      [--compact]   # availableNow drain; rerun/schedule for continuous
  python -m qcflow.cli normalize --clips /tmp/clips/clips.parquet \
      --out /tmp/norm [--target-sr 16000] [--no-trim] [--no-gain]
      # emits a valid clips table: trim + resample + loudness in ONE
      # decode pass; feed /tmp/norm/normalized.parquet back into `run`
  python -m qcflow.cli segment --clips /tmp/norm/normalized.parquet \
      --out /tmp/segs [--win-ms 400] [--no-align]
      # fixed-window training segments with aligned transcripts; also
      # a valid clips table (clip_id = '<parent>#<seg>')

Prints one JSON line with counts + timings.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="qcflow")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen", help="generate the synthetic clip table")
    g.add_argument("--rows", type=int, required=True)
    g.add_argument("--out", required=True)
    g.add_argument("--cpus", type=int, default=None)
    g.add_argument("--partitions", type=int, default=None)

    r = sub.add_parser("run", help="run the QC pipeline")
    r.add_argument("--clips", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--cpus", type=int, default=None)
    r.add_argument("--resume", action="store_true")
    r.add_argument("--check-pcm", action="store_true")
    r.add_argument("--check-acoustics", action="store_true")
    r.add_argument("--approx-thresholds", action="store_true")
    r.add_argument("--n-buckets", type=int, default=64)

    s = sub.add_parser(
        "stream",
        help="continuous ingest: score clip files landing in a directory "
        "(availableNow trigger — drains what's there, then exits; rerun "
        "or schedule for continuous operation)",
    )
    s.add_argument("--in", dest="input_dir", required=True)
    s.add_argument("--out", required=True)
    s.add_argument(
        "--calib",
        required=True,
        help="calibration source for frozen thresholds: a prior run's "
        "out dir (reuses its thresholds.json) or a clips parquet to "
        "derive them from (a stream cannot take a global percentile)",
    )
    s.add_argument("--cpus", type=int, default=None)
    s.add_argument("--dedup-within", default=None, metavar="DURATION")
    s.add_argument("--check-acoustics", action="store_true")
    s.add_argument("--compact", action="store_true")

    n = sub.add_parser(
        "normalize",
        help="audio normalization stage: trim silence, resample to one "
        "rate, loudness-normalize — emits a valid clips table that "
        "feeds straight back into `run` / `stream`",
    )
    n.add_argument("--clips", required=True)
    n.add_argument("--out", required=True)
    n.add_argument("--target-sr", type=int, default=16000)
    n.add_argument("--no-trim", action="store_true")
    n.add_argument("--no-gain", action="store_true")
    n.add_argument("--cpus", type=int, default=None)
    n.add_argument("--partitions", type=int, default=None)

    sg = sub.add_parser(
        "segment",
        help="training segmentation stage: fixed 400 ms windows, one row "
        "per segment with uniform-rate transcript alignment — emits a "
        "valid clips table (clip_id='<parent>#<seg>') that feeds back "
        "into `run` / `stream`",
    )
    sg.add_argument("--clips", required=True)
    sg.add_argument("--out", required=True)
    sg.add_argument("--win-ms", type=int, default=400)
    sg.add_argument("--no-align", action="store_true")
    sg.add_argument("--cpus", type=int, default=None)
    sg.add_argument("--partitions", type=int, default=None)

    dd = sub.add_parser(
        "dedup",
        help="audio near-dup dedup stage: spectral-fingerprint banded "
        "Hamming clusters, keep the best-SNR survivor per cluster — "
        "emits a valid clips table that feeds back into `run` / "
        "`segment` / `stream`",
    )
    dd.add_argument("--clips", required=True)
    dd.add_argument("--out", required=True)
    dd.add_argument("--ham-max", type=int, default=3)
    dd.add_argument("--cpus", type=int, default=None)
    dd.add_argument("--partitions", type=int, default=None)

    dc = sub.add_parser(
        "decontaminate",
        help="eval-set decontamination stage: spectral-fingerprint match "
        "against held-out eval clips — writes clean.parquet (feeds back "
        "into `run`) and quarantined.parquet (the flagged rows with "
        "their eval hit)",
    )
    dc.add_argument("--clips", required=True)
    dc.add_argument("--eval-clips", required=True)
    dc.add_argument("--out", required=True)
    dc.add_argument("--ham-max", type=int, default=3)
    dc.add_argument("--cpus", type=int, default=None)
    dc.add_argument("--partitions", type=int, default=None)

    pk = sub.add_parser(
        "pack",
        help="packing stage: pcm16 rows folded and CONCATENATED into "
        "duration-budget training examples (run normalize first) — "
        "emits a valid clips table with parents lineage",
    )
    pk.add_argument("--clips", required=True)
    pk.add_argument("--out", required=True)
    pk.add_argument("--budget-ms", type=int, default=3000)
    pk.add_argument("--cpus", type=int, default=None)
    pk.add_argument("--partitions", type=int, default=None)

    i = sub.add_parser(
        "inspect", help="manifest summary: snapshot history, committed counts and a "
        "resumable load's pending buckets"
    )
    i.add_argument("--out", required=True)
    i.add_argument("--cpus", type=int, default=None)

    args = p.parse_args(argv)

    from qcflow.session import get_spark

    spark = get_spark("qcflow-cli", cpus=args.cpus)
    t0 = time.time()
    if args.cmd == "inspect":
        from qcflow.checkpoint import completed_buckets, read_pending, snapshots

        # manifest-sized, read on the driver: no Spark job
        snaps = snapshots(spark, args.out)
        done = completed_buckets(spark, args.out)
        rec = read_pending(args.out)
        out = {
            "cmd": "inspect",
            "snapshots": [r.asDict() for r in snaps.collect()] if snaps is not None else [],
            "committed_buckets": len(done),
            # a resumable load's written, not yet committed buckets
            "pending": None if rec is None else {
                "snapshot_id": rec["snapshot_id"],
                "buckets": len(set(rec["lineage"]["bucket"]) - set(done)),
            },
        }
    elif args.cmd == "stream":
        from qcflow.checkpoint import load_thresholds, save_thresholds
        from qcflow.pipeline import score_clips
        from qcflow.streaming import compact_stream_output, stream_score

        thr = load_thresholds(args.calib)
        if thr is None:
            calib = spark.read.parquet(args.calib)
            res = score_clips(spark, calib, exact_thresholds=False)
            thr = res.thresholds
            res.release()
        save_thresholds(thr, args.out)  # next run can --calib this out dir
        q = stream_score(
            spark,
            args.input_dir,
            args.out,
            thr,
            dedup_within=args.dedup_within,
            check_acoustics=args.check_acoustics,
        )
        q.awaitTermination()
        if args.compact:
            compact_stream_output(spark, args.out)
        # a drain that fired zero batches writes no lineage yet — still a
        # success (scheduled reruns before files land must print n_input=0)
        n_in = n_kept = 0
        if os.path.exists(f"{args.out}/lineage.parquet"):
            lin = spark.read.parquet(f"{args.out}/lineage.parquet")
            agg = lin.groupBy().sum("n_input", "n_kept").collect()[0]
            n_in, n_kept = int(agg[0] or 0), int(agg[1] or 0)
        out = {
            "cmd": "stream",
            "n_input": n_in,
            "n_kept": n_kept,
            "thresholds": thr.__dict__,
        }
    elif args.cmd == "normalize":
        from pyspark.sql import functions as F

        from qcflow.pipeline import normalize_clips

        clips = spark.read.parquet(args.clips)
        n_input = clips.count()
        ndf = normalize_clips(
            clips,
            target_sr=args.target_sr,
            trim=not args.no_trim,
            gain=not args.no_gain,
        )
        if args.partitions:
            ndf = ndf.repartition(args.partitions)
        dest = f"{args.out}/normalized.parquet"
        ndf.write.mode("overwrite").parquet(dest)
        # summary from the WRITTEN table: pruned-column scan (no bytes,
        # no re-decode), one aggregation
        agg = (
            spark.read.parquet(dest)
            .agg(
                F.count("*").alias("n_out"),
                F.sum(F.col("bytes").isNull().cast("long")).alias("n_fail"),
                F.avg("gain_db").alias("avg_gain_db"),
                F.avg(F.col("clip_after").cast("double")).alias("clip_rate"),
            )
            .collect()[0]
        )
        out = {
            "cmd": "normalize",
            "n_input": n_input,
            "n_normalized": int(agg["n_out"]) - int(agg["n_fail"] or 0),
            "n_undecodable": n_input - int(agg["n_out"]) + int(agg["n_fail"] or 0),
            "avg_gain_db": round(float(agg["avg_gain_db"] or 0.0), 3),
            "clip_after_rate": round(float(agg["clip_rate"] or 0.0), 5),
            "target_sr": args.target_sr,
            "out": dest,
        }
    elif args.cmd == "segment":
        from pyspark.sql import functions as F

        from qcflow.pipeline import segment_table

        clips = spark.read.parquet(args.clips)
        n_input = clips.count()
        sdf = segment_table(clips, win_ms=args.win_ms, align=not args.no_align)
        if args.partitions:
            sdf = sdf.repartition(args.partitions)
        dest = f"{args.out}/segments.parquet"
        sdf.write.mode("overwrite").parquet(dest)
        agg = (
            spark.read.parquet(dest)
            .agg(
                F.count("*").alias("n_segs"),
                F.count_distinct("parent_id").alias("n_clips"),
                F.avg("dur_ms").alias("avg_dur_ms"),
            )
            .collect()[0]
        )
        out = {
            "cmd": "segment",
            "n_input": n_input,
            "n_clips_segmented": int(agg["n_clips"] or 0),
            "n_segments": int(agg["n_segs"] or 0),
            "avg_dur_ms": round(float(agg["avg_dur_ms"] or 0.0), 1),
            "win_ms": args.win_ms,
            "out": dest,
        }
    elif args.cmd == "dedup":
        from pyspark.sql import functions as F

        from qcflow.pipeline import dedup_table

        clips = spark.read.parquet(args.clips)
        n_input = clips.count()
        ddf = dedup_table(clips, ham_max=args.ham_max)
        if args.partitions:
            ddf = ddf.repartition(args.partitions)
        dest = f"{args.out}/deduped.parquet"
        ddf.write.mode("overwrite").parquet(dest)
        agg = (
            spark.read.parquet(dest)
            .agg(
                F.count("*").alias("n_out"),
                F.count(F.col("cluster_rep")).alias("n_cluster_survivors"),
            )
            .collect()[0]
        )
        out = {
            "cmd": "dedup",
            "n_input": n_input,
            "n_out": int(agg["n_out"] or 0),
            "n_removed": n_input - int(agg["n_out"] or 0),
            "n_cluster_survivors": int(agg["n_cluster_survivors"] or 0),
            "ham_max": args.ham_max,
            "out": dest,
        }
    elif args.cmd == "decontaminate":
        from pyspark.sql import functions as F

        from qcflow.pipeline import decontaminate_table

        clips = spark.read.parquet(args.clips)
        eval_clips = spark.read.parquet(args.eval_clips)
        n_input = clips.count()
        flagged = decontaminate_table(
            clips, eval_clips, ham_max=args.ham_max
        )
        if args.partitions:
            flagged = flagged.repartition(args.partitions)
        clean = flagged.filter(F.col("contam_eval_id").isNull()).drop(
            "contam_eval_id", "contam_hamming"
        )
        quarantined = flagged.filter(F.col("contam_eval_id").isNotNull())
        clean_dest = f"{args.out}/clean.parquet"
        q_dest = f"{args.out}/quarantined.parquet"
        clean.write.mode("overwrite").parquet(clean_dest)
        quarantined.write.mode("overwrite").parquet(q_dest)
        n_q = spark.read.parquet(q_dest).count()
        out = {
            "cmd": "decontaminate",
            "n_input": n_input,
            "n_clean": n_input - n_q,
            "n_quarantined": n_q,
            "ham_max": args.ham_max,
            "out": clean_dest,
        }
    elif args.cmd == "pack":
        from pyspark.sql import functions as F

        from qcflow.pipeline import pack_table

        clips = spark.read.parquet(args.clips)
        n_input = clips.count()
        pdf_ = pack_table(clips, budget_ms=args.budget_ms)
        if args.partitions:
            pdf_ = pdf_.repartition(args.partitions)
        dest = f"{args.out}/packed.parquet"
        pdf_.write.mode("overwrite").parquet(dest)
        agg = (
            spark.read.parquet(dest)
            .agg(
                F.count("*").alias("n_packs"),
                F.sum("n_members").alias("n_packed"),
                F.avg("dur_ms").alias("avg_dur_ms"),
            )
            .collect()[0]
        )
        out = {
            "cmd": "pack",
            "n_input": n_input,
            "n_packs": int(agg["n_packs"] or 0),
            "n_packed": int(agg["n_packed"] or 0),
            "avg_dur_ms": round(float(agg["avg_dur_ms"] or 0.0), 1),
            "budget_ms": args.budget_ms,
            "out": dest,
        }
    elif args.cmd == "gen":
        from qcflow.synth import generate_clips

        generate_clips(spark, args.rows, args.out, partitions=args.partitions)
        out = {"cmd": "gen", "rows": args.rows, "out": args.out}
    else:
        if args.resume:
            from qcflow.checkpoint import run_resumable

            out = run_resumable(
                spark,
                args.clips,
                args.out,
                n_buckets=args.n_buckets,
                exact_thresholds=not args.approx_thresholds,
                check_pcm=args.check_pcm,
                check_acoustics=args.check_acoustics,
            )
            out["cmd"] = "run-resumable"
        else:
            from qcflow.pipeline import score_clips, write_outputs

            clips = spark.read.parquet(args.clips)
            res = score_clips(
                spark,
                clips,
                exact_thresholds=not args.approx_thresholds,
                check_pcm=args.check_pcm,
                check_acoustics=args.check_acoustics,
                n_buckets=args.n_buckets,
            )
            out = write_outputs(res, args.out)
            # persist thresholds so this out dir works as --calib for the
            # stream command (and as a frozen-threshold source generally)
            from qcflow.checkpoint import save_thresholds

            save_thresholds(res.thresholds, args.out)
            out["cmd"] = "run"
            out["thresholds"] = res.thresholds.__dict__
    out["sec"] = round(time.time() - t0, 2)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
