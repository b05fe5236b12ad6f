"""qcflow QC benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload oneshot --seed 1 --seconds 3 --trace 0

Run it from the root of a qcflow checkout. All state (generated inputs,
outputs, Spark scratch and local dirs, event logs, per-run records) lives
in ``.perfbench_state/`` of that checkout; nothing else is written.

A run prepares the seed's inputs (``inputs.py``), then starts one fresh
process (``child.py``) that sets up (session, models, warm-up) and
repeats the workload operation for ``--seconds``. The runner samples the
process tree's resident memory from outside, and when the process ends --
or the run is interrupted or times out -- kills and reaps everything the
run started.

``--trace 0`` prints the end-to-end metrics: medians over the run's
operations (``clips_per_s``, ``out_bytes_per_clip``) and over its
read-backs (``readback_s``), the set-up time and ``success_rate``.
``--trace 1`` switches the Spark event log on and prints the per-layer
metrics instead, plus the traced ``clips_per_s`` and the tree's peak
memory; the tracing overhead is the traced throughput's difference from
untraced runs of the same seeds (``report.py``).

One set-up per run: a set-up is a JVM start plus a first workload pass
(15-31 s on 4 cores), so repeating it within a run would not fit the
benchmark's time budget; ``setup_s`` is steadied by taking its median
across runs.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # the checkout stays as it was

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
import uuid  # noqa: E402

import procs  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
STATE_NAME = ".perfbench_state"
CHILD_TIMEOUT_S = 150.0
SAMPLE_S = 0.1

WORKLOADS = {  # workload -> why, as in BENCHMARK.json
    "oneshot": "flagship one-shot QC of a 4000-clip table: langid/perplexity "
    "Arrow crossing, thresholds, rules, scrub, 3-job write; payload pruned, no decode",
    "resume": "same table and scoring via run_resumable in 4 increments of 16 "
    "buckets: scores staged once, then 4 lineage commits, the per-increment "
    "fixed cost oneshot skips",
    "payload": "only workload reading audio bytes: dedup_table on a 250-clip "
    "slice with planted re-uploads (one hot group), then acoustic QC of the survivors",
}

END_TO_END = {
    "clips_per_s": "clips/s",
    "setup_s": "s",
    "readback_s": "s",
    "out_bytes_per_clip": "B",
    "success_rate": "ratio",
}


SIGNALS = (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)


class Interrupted(Exception):
    pass


def _on_signal(signum, frame):
    raise Interrupted(f"interrupted by signal {signum}")


def _snapshot(root: str, skip: str, allowed: tuple[str, ...]) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file and directory of the checkout outside
    the state dir, but for the ``allowed`` paths: a run must leave all of
    them as they were."""
    snap = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if os.path.join(dirpath, d) != skip]
        for name in dirnames + filenames:
            p = os.path.join(dirpath, name)
            if os.path.relpath(p, root) in allowed:
                continue
            try:
                st = os.lstat(p)
            except OSError:
                continue
            snap[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return snap


def _child_env(root: str, work: str, cpus: int) -> dict[str, str]:
    env = dict(os.environ)
    # the program's own tuning defaults are what is measured
    for knob in ("QCFLOW_DRIVER_MEM", "QCFLOW_MAX_PARTITION_BYTES"):
        env.pop(knob, None)
    tmp = f"{work}/tmp"
    env.update(
        {
            "PYTHONPATH": root,  # the Python workers import qcflow too
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cpus),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": f"{work}/local",
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    return env


def _run_child(args, state: str, work: str, env: dict, log) -> dict:
    """Start the measured process, sample its tree's memory until it
    ends, then make sure nothing it started is left."""
    os.makedirs(f"{work}/cwd", exist_ok=True)
    result_path = f"{work}/result.json"
    cmd = [
        sys.executable, f"{HERE}/child.py",
        "--workload", args.workload,
        "--state", state,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--cpus", str(args.cpus),
        "--work", work,
        "--result", result_path,
        "--spawned", repr(time.time()),
    ]
    p = subprocess.Popen(cmd, cwd=f"{work}/cwd", env=env, stdout=log,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    samples = []  # (wall time, tree RSS bytes)
    timed_out = False
    deadline = time.monotonic() + CHILD_TIMEOUT_S
    while p.poll() is None:
        samples.append((time.time(), procs.tree_rss_bytes(p.pid)))
        if time.monotonic() > deadline:
            timed_out = True
            break
        time.sleep(SAMPLE_S)
    left = procs.kill_all()
    if left:
        raise RuntimeError(f"could not stop processes {sorted(left)}")
    res = {"setup_s": None, "ops": [], "readback_s": [], "setup_spans": {}, "layers": None}
    if os.path.exists(result_path):
        with open(result_path) as fh:
            res = json.load(fh)
    res["peak_rss_mb"] = _peak([r for _, r in samples]) / 2**20
    res["rss_mb"] = [(round(t, 2), round(r / 2**20)) for t, r in samples]
    res["exit"] = "timeout" if timed_out else p.returncode
    if timed_out or p.returncode != 0:
        # the operation in flight (or set-up) failed
        res["ops"].append({"ok": False, "error": f"process exit {res['exit']}"})
    return res


def _peak(rss: list[int]) -> int:
    """Peak of the sampled tree RSS, ignoring one-sample spikes: a
    process that forks (the JVM running a shell helper) counts its whole
    resident set twice until the child execs."""
    if len(rss) < 3:
        return max(rss, default=0)
    return max(sorted(rss[i - 1:i + 2])[1] for i in range(1, len(rss) - 1))


def _median(xs):
    # 0 only when nothing succeeded, and then the run is not correct
    return statistics.median(xs) if xs else 0.0


def _e2e(res: dict) -> dict[str, float]:
    ops = res["ops"]
    ok = [o for o in ops if o["ok"]]
    return {
        "clips_per_s": _median([o["n_input"] / o["op_s"] for o in ok]),
        "setup_s": res["setup_s"] or 0.0,
        "readback_s": _median(res["readback_s"]),
        "out_bytes_per_clip": _median([o["out_bytes"] / o["n_input"] for o in ok]),
        "success_rate": len(ok) / len(ops) if ops else 0.0,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    args.cpus = len(os.sched_getaffinity(0))  # local[nproc]

    started = time.time()
    root = os.getcwd()
    if not os.path.isfile(f"{root}/qcflow/pipeline.py"):
        print("perfbench: run from the root of a qcflow checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    state = f"{root}/{STATE_NAME}"
    run_id = uuid.uuid4().hex
    work = f"{state}/work/{run_id}"
    import inputs

    # the program's own model cache (``inputs.redirect_model_cache``) and
    # the directory holding it
    allowed = (os.path.dirname(inputs.MODEL_CACHE), inputs.MODEL_CACHE)
    before = _snapshot(root, state, allowed)
    for sig in SIGNALS:
        signal.signal(sig, _on_signal)
    procs.become_subreaper()
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.makedirs(f"{work}/local", exist_ok=True)
    os.makedirs(f"{state}/results", exist_ok=True)
    # earlier runs that were killed before cleaning up
    for old in os.listdir(f"{state}/work"):
        if old != run_id:
            shutil.rmtree(f"{state}/work/{old}", ignore_errors=True)

    interrupted = None
    try:
        inputs.redirect_model_cache(root, f"{state}/models")
        t0 = time.time()
        truth = inputs.prepare(state, args.seed, args.cpus)
        os.sync()  # inputs just written are not flushed while measuring
        prepare_s = time.time() - t0
        env = _child_env(root, work, args.cpus)
        with open(f"{work}/child.log", "w") as log:
            res = _run_child(args, state, work, env, log)
        with open(f"{work}/child.log") as fh:
            tail = fh.read()[-4000:]
    except Interrupted as e:
        interrupted = e
    finally:
        for sig in SIGNALS:  # a second signal must not cut the clean-up short
            signal.signal(sig, signal.SIG_IGN)
        left = procs.kill_all()
    if interrupted or left:
        print(f"perfbench: {interrupted or 'failed'}; processes left: {sorted(left)}",
              file=sys.stderr)
        return 130 if interrupted else 1
    shutil.rmtree(work, ignore_errors=True)

    after = _snapshot(root, state, allowed)
    changed = sorted(p for p in before.keys() | after.keys() if before.get(p) != after.get(p))
    ops = res["ops"]
    failed = sum(not o["ok"] for o in ops)
    correct = failed == 0 and bool(ops) and not changed
    if failed or changed:
        print(tail, file=sys.stderr)
        for o in ops:
            if o["error"]:
                print(o["error"], file=sys.stderr)
        if changed:
            print(f"perfbench: the run changed the checkout: {changed[:20]}",
                  file=sys.stderr)

    if args.trace:
        metrics = dict(res["layers"] or {})
        metrics.update(res["setup_spans"])
        metrics["trace.clips_per_s"] = _e2e(res)["clips_per_s"]
        metrics["tree.peak_rss_mb"] = res["peak_rss_mb"]
        units = _layer_units()
        for name in units:  # a process that died reported no layers
            metrics.setdefault(name, 0.0)
    else:
        metrics = _e2e(res)
        units = END_TO_END

    record = {
        "workload": args.workload,
        "why": WORKLOADS[args.workload],
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "cpus": args.cpus,
        "host": _host(state),
        "inputs": truth,
        "prepare_s": prepare_s,
        "wall_s": time.time() - started,
        "process": res,
        "metrics": metrics,
    }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id[:8]}.json"
    with open(f"{state}/results/{name}", "w") as fh:
        json.dump(record, fh, indent=1)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


def _layer_units() -> dict[str, str]:
    import layers

    units = {
        f"{span}.{m}": unit
        for span in layers.SPANS
        for m, (unit, _) in layers.MEASURES.items()
    }
    units.update({f"{s}.wall_s": "s" for s in layers.SETUP_SPANS})
    units["trace.clips_per_s"] = "clips/s"
    units["tree.peak_rss_mb"] = "MB"
    return units


def _host(state: str) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    du = shutil.disk_usage(state)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "disk_free_gb": round(du.free / 2**30, 1),
    }


if __name__ == "__main__":
    sys.exit(main())
