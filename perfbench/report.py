"""Run the benchmark over several seeds and print every metric.

    python3 perfbench/report.py

From the root of a qcflow checkout. For each workload of
``BENCHMARK.json`` it runs ``run.py`` once per seed 1-10 untraced, then
on seeds 1-2 traced, one run at a time, each for the file's
``run_seconds``. It prints, per workload, every end-to-end metric with
its unit, sample count, median and quartiles, the error rate
(failed / attempted operations), the tracing overhead (traced vs
untraced ``clips_per_s`` on the same seeds) and the per-layer medians of
the traced runs, plus the host and each workload's inputs.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SEEDS = range(1, 11)
TRACED = 2  # traced runs, on the first seeds


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, f"{HERE}/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate()
    finally:
        if p.poll() is None:  # interrupted: run.py stops its own processes
            p.send_signal(signal.SIGTERM)
            p.wait()
    if p.returncode != 0:
        raise SystemExit(f"run.py {workload} seed {seed} exited {p.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def _stats(vals: list[float]) -> str:
    """median, quartiles (min and max below 4 samples) and IQR / median"""
    med = statistics.median(vals)
    if len(vals) >= 4:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    else:
        q1, q3 = min(vals), max(vals)
    spread = (q3 - q1) / med if med else 0.0
    return f"{med:14.4f} {q1:14.4f} {q3:14.4f} {spread:8.3f}"


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]

    def _stop(signum, frame):
        raise KeyboardInterrupt

    signal.signal(signal.SIGTERM, _stop)
    head = f"{'workload':9s} {'metric':46s} {'unit':8s} {'n':>3s} " \
           f"{'median':>14s} {'q1':>14s} {'q3':>14s} {'spread':>8s}"
    print(head)
    for w in (wl["name"] for wl in bench["workloads"]):
        runs = [_run(w, s, seconds, 0) for s in SEEDS]
        traced = [_run(w, s, seconds, 1) for s in SEEDS[:TRACED]]
        for name in runs[0]["metrics"]:
            unit = runs[0]["metrics"][name]["unit"]
            vals = [r["metrics"][name]["value"] for r in runs]
            print(f"{w:9s} {name:46s} {unit:8s} {len(vals):3d} {_stats(vals)}")
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        ok = all(r["correct"] for r in runs + traced)
        print(f"{w:9s} {'error_rate':46s} {'ratio':8s} {attempted:3d} "
              f"{failed / attempted:14.4f}   (all output checks passed: {ok})")
        if traced:
            base = statistics.median(
                r["metrics"]["clips_per_s"]["value"] for r in runs[:TRACED]
            )
            tr = statistics.median(
                r["metrics"]["trace.clips_per_s"]["value"] for r in traced
            )
            print(f"{w:9s} {'tracing overhead (clips_per_s)':46s} {'%':8s} "
                  f"{len(traced):3d} {100 * (1 - tr / base):14.2f}")
            for name, m in traced[0]["metrics"].items():
                vals = [r["metrics"][name]["value"] for r in traced]
                if any(vals):
                    print(f"{w:9s} {name:46s} {m['unit']:8s} {len(vals):3d} "
                          f"{_stats(vals)}")
    _describe()
    return 0


def _describe() -> None:
    """Host and inputs, from the newest per-run records."""
    recs = {}
    for f in sorted(glob.glob(".perfbench_state/results/*.json"), key=os.path.getmtime):
        with open(f) as fh:
            r = json.load(fh)
        recs[r["workload"]] = r
    for w, r in recs.items():
        i = r["inputs"]
        rows, size = (
            (i["payload_rows"], i["payload_bytes"]) if w == "payload"
            else (i["qc_rows"], i["qc_bytes"])
        )
        print(f"input {w}: {rows} clips, {size / 2**20:.1f} MiB (seed {r['seed']}) -- {r['why']}")
    if recs:
        print("host:", json.dumps(next(iter(recs.values()))["host"]))


if __name__ == "__main__":
    try:
        sys.exit(main())
    except KeyboardInterrupt:
        sys.exit(130)
