"""One measured process of a benchmark run.

Started fresh by ``run.py``: it sets up (session, models, a warm-up pass
of its workload on the shared warm-up table), then repeats the workload
operation until its measuring window closes, checking every operation's
output, and reads the newest committed output back ``READBACKS`` times.
With ``--trace 1`` the session writes a Spark event log and the
process records a span around each call into a program layer; the spans
are folded with the event log into per-layer metrics after the session
stops. Results go to ``--result`` as JSON, rewritten after every
operation so a process that is killed still leaves what it finished.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback

import inputs
import layers

KEPT_COLS = ["clip_id", "lang", "scrubbed_transcript"]
F1_MIN = 0.99
RESUME_INCREMENTS = 4
RESUME_MAX_BUCKETS = 16
READBACKS = 3


class Spans:
    """Wall-clock spans around calls into program layers, kept while
    ``on`` (the measuring window)."""

    def __init__(self) -> None:
        self.calls: list[tuple[str, float, float]] = []
        self.on = False

    @contextlib.contextmanager
    def __call__(self, name: str):
        t0 = time.time()
        yield
        if self.on:
            self.calls.append((name, t0, time.time()))


class Workload:
    """The three workload operations and their output checks."""

    def __init__(self, spark, name: str, seed_dir: str, truth: dict, span):
        self.spark = spark
        self.name = name
        self.seed_dir = seed_dir
        self.truth = truth
        self.span = span
        self.ref = None

    # ------------------------------------------------------------ operations
    def run(self, table: str, out: str) -> tuple[int, int | None]:
        """One workload operation on ``table``; returns (input clips,
        n_kept reported by the program, or None if it reports none)."""
        return getattr(self, f"_{self.name}")(table, out)

    def _oneshot(self, table: str, out: str):
        from qcflow.pipeline import score_clips, write_outputs

        clips = self.spark.read.parquet(f"{table}/clips.parquet")
        with self.span("pipeline.score_clips"):
            res = score_clips(self.spark, clips, exact_thresholds=True)
        with self.span("pipeline.write_outputs"):
            counts = write_outputs(res, out)
        res.release()
        return counts["n_input"], counts["n_kept"]

    def _resume(self, table: str, out: str):
        from qcflow.checkpoint import run_resumable

        for k in range(RESUME_INCREMENTS):
            name = "first" if k == 0 else "next"
            with self.span(f"checkpoint.run_resumable.{name}"):
                r = run_resumable(
                    self.spark,
                    f"{table}/clips.parquet",
                    out,
                    exact_thresholds=True,
                    max_buckets=RESUME_MAX_BUCKETS,
                )
        if r["remaining"] != 0:
            raise AssertionError(f"resume left {r['remaining']} buckets")
        n_input = _parquet_rows(f"{table}/clips.parquet")
        return n_input, None

    def _payload(self, table: str, out: str):
        from qcflow.pipeline import dedup_table, score_clips, write_outputs

        clips = self.spark.read.parquet(f"{table}/payload.parquet")
        # the CLI `dedup` shape: survivors land as a clip table on disk
        with self.span("pipeline.dedup_table"):
            dedup_table(clips).write.mode("overwrite").parquet(
                f"{out}/deduped.parquet"
            )
        survivors = self.spark.read.parquet(f"{out}/deduped.parquet")
        with self.span("pipeline.score_clips"):
            res = score_clips(
                self.spark, survivors, exact_thresholds=True, check_acoustics=True
            )
        with self.span("pipeline.write_outputs"):
            counts = write_outputs(res, f"{out}/qc")
        res.release()
        return _parquet_rows(f"{table}/payload.parquet"), counts["n_kept"]

    def qc_dir(self, out: str) -> str:
        return f"{out}/qc" if self.name == "payload" else out

    def readback(self, out: str) -> tuple[float, dict, int]:
        """Timed read of the committed outputs: kept rows counted per
        language, plus the merged drop-reason metrics."""
        from qcflow.checkpoint import read_committed, read_metrics

        qc = self.qc_dir(out)
        t0 = time.perf_counter()
        with self.span("checkpoint.read_committed"):
            rows = (
                read_committed(self.spark, qc, "kept")
                .groupBy("lang")
                .count()
                .collect()
            )
        with self.span("checkpoint.read_metrics"):
            metrics = read_metrics(self.spark, qc, "drop_reasons").collect()
        dt = time.perf_counter() - t0
        return dt, {r["lang"]: r["count"] for r in rows}, sum(r["n"] for r in metrics)

    # ---------------------------------------------------------------- checks
    def check(self, out: str, n_kept: int | None) -> dict:
        """Raise AssertionError unless the operation's output files are
        correct; return the kept rows counted per language."""
        import pyarrow.parquet as pq

        kept = pq.read_table(f"{self.qc_dir(out)}/kept.parquet", columns=KEPT_COLS).to_pandas()
        n = len(kept)
        _require(n_kept is None or n_kept == n, f"n_kept {n_kept} != {n} rows kept")
        _require(kept["clip_id"].is_unique, "duplicate clip_id in kept")
        if self.name == "payload":
            survivors = _parquet_rows(f"{out}/deduped.parquet")
            _require(
                survivors == self.truth["expected_survivors"],
                f"dedup kept {survivors} rows, construction truth "
                f"{self.truth['expected_survivors']}",
            )
        else:
            self._check_reference(kept)
        return kept["lang"].value_counts().to_dict()

    def check_readback(self, out: str, kept_by_lang: dict, n_input: int) -> float:
        """Timed read-back, checked against the kept files; returns its
        wall time."""
        dt, by_lang, n_reasons = self.readback(out)
        _require(
            by_lang == kept_by_lang,
            "read_committed per-language counts differ from the kept files",
        )
        n_kept = sum(by_lang.values())
        _require(n_kept == n_input or n_reasons > 0, "drop-reason metrics are empty")
        return dt

    def _check_reference(self, kept) -> None:
        import pandas as pd

        if self.ref is None:
            self.ref = pd.read_parquet(f"{self.seed_dir}/ref.parquet")
        ref = self.ref[self.ref["keep"]]
        both = kept.merge(ref, on="clip_id", suffixes=("", "_ref"))
        tp = len(both)
        f1 = 2 * tp / (len(kept) + len(ref)) if len(kept) + len(ref) else 1.0
        _require(f1 >= F1_MIN, f"keep/drop F1 {f1:.4f} < {F1_MIN}")
        _require((both["lang"] == both["lang_ref"]).all(), "lang differs from reference")
        _require(
            (both["scrubbed_transcript"] == both["scrubbed_transcript_ref"]).all(),
            "scrubbed_transcript differs from reference",
        )


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise AssertionError(msg)


def _parquet_rows(path: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def _agree_n_kept(state_file: str, key: str, n_kept: int) -> None:
    """``n_kept`` must equal the value the first checked operation of
    this seed recorded (any run, any process)."""
    seen = {}
    if os.path.exists(state_file):
        with open(state_file) as fh:
            seen = json.load(fh)
    if key in seen:
        _require(seen[key] == n_kept, f"n_kept {n_kept} != {seen[key]} of earlier runs")
        return
    seen[key] = n_kept
    with open(state_file + ".tmp", "w") as fh:
        json.dump(seen, fh)
    os.replace(state_file + ".tmp", state_file)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()

    result = {"setup_s": None, "ops": [], "readback_s": [], "setup_spans": {}, "layers": None}

    def save() -> None:
        with open(a.result + ".tmp", "w") as fh:
            json.dump(result, fh)
        os.replace(a.result + ".tmp", a.result)

    inputs.redirect_model_cache(os.path.dirname(a.state), f"{a.state}/models")
    spans = Spans()
    conf = {"spark.ui.showConsoleProgress": "false"}
    log_dir = f"{a.work}/eventlog"
    if a.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": log_dir,
            }
        )
    from qcflow.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench", cpus=a.cpus, extra_conf=conf)
    result["setup_spans"]["session.get_spark.wall_s"] = time.time() - t0

    from qcflow.models import train_models

    t0 = time.time()
    train_models(inputs.MODEL_SEED)
    result["setup_spans"]["models.train_models.wall_s"] = time.time() - t0

    seed_dir = f"{a.state}/seed{a.seed}"
    with open(f"{seed_dir}/truth.json") as fh:
        truth = json.load(fh)
    wl = Workload(spark, a.workload, seed_dir, truth, spans)

    # warm-up: one pass of the same operation on the small shared table,
    # so Python workers, codegen and the model broadcast are up before
    # anything is timed
    warm_out = f"{a.work}/warm"
    wl.run(f"{a.state}/warm", warm_out)
    wl.readback(warm_out)
    shutil.rmtree(warm_out, ignore_errors=True)
    result["setup_s"] = time.time() - a.spawned
    save()

    spans.on = True
    key = "payload" if a.workload == "payload" else "qc"
    deadline = time.time() + a.seconds
    newest = None  # (output dir, op record, kept per language) of the last good op
    i = 0
    while True:
        out = f"{a.work}/op{i}"
        op = {"ok": False, "error": None}
        try:
            op["start"] = time.time()
            t0 = time.perf_counter()
            n_input, n_kept = wl.run(seed_dir, out)
            op["op_s"] = time.perf_counter() - t0
            op["n_input"] = n_input
            op["out_bytes"] = inputs.dir_bytes(wl.qc_dir(out))
            by_lang = wl.check(out, n_kept)
            op["n_kept"] = sum(by_lang.values())
            _agree_n_kept(f"{seed_dir}/n_kept.json", key, op["n_kept"])
            op["ok"] = True
        except Exception:  # an operation failure is a measured outcome
            op["error"] = traceback.format_exc(limit=8)
            print(op["error"], file=sys.stderr, flush=True)
        if op["ok"]:
            if newest is not None:
                shutil.rmtree(newest[0], ignore_errors=True)
            newest = (out, op, by_lang)
        else:
            shutil.rmtree(out, ignore_errors=True)
        result["ops"].append(op)
        save()
        i += 1
        if time.time() >= deadline:
            break
    # the read-back of the newest committed outputs, repeated warm
    if newest is not None:
        out, op, by_lang = newest
        try:
            result["readback_s"] = [
                wl.check_readback(out, by_lang, op["n_input"])
                for _ in range(READBACKS)
            ]
        except Exception:  # the read-back belongs to the operation
            op["ok"] = False
            op["error"] = traceback.format_exc(limit=8)
            print(op["error"], file=sys.stderr, flush=True)
        shutil.rmtree(out, ignore_errors=True)
    spans.on = False
    spark.stop()
    if a.trace:
        result["layers"] = layers.fold(spans.calls, log_dir)
        shutil.rmtree(log_dir, ignore_errors=True)
    save()
    return 0


if __name__ == "__main__":
    sys.exit(main())
