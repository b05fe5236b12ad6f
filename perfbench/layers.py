"""Fold a Spark event log into per-span layer metrics.

A span is one benchmark call into a program layer: ``(name, start, end)``
in wall-clock seconds, recorded by the benchmark around the call and the
action that consumes its result. A Spark job belongs to the span whose
interval holds its submission time. The benchmark calls layers one at a
time from one thread, so submission time is unambiguous; job groups are
not used because jobs submitted from the program's thread pools do not
inherit them.
"""

from __future__ import annotations

import glob
import json
import statistics

SPANS = [
    "pipeline.score_clips",
    "pipeline.write_outputs",
    "pipeline.dedup_table",
    "checkpoint.run_resumable.first",
    "checkpoint.run_resumable.next",
    "checkpoint.read_committed",
    "checkpoint.read_metrics",
]

# measure -> (unit, better); the per-span metric is <span>.<measure>
MEASURES = {
    "wall_s": ("s", "lower"),
    "driver_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_s": ("s", "lower"),
    "task_max_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "python_s": ("s", "lower"),
    "python_sent_bytes": ("B", "lower"),
    "input_bytes": ("B", "lower"),
    "shuffle_write_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
    "output_bytes": ("B", "lower"),
}

SETUP_SPANS = ["session.get_spark", "models.train_models"]

# SQL metrics of the Arrow Python exec nodes, by display name
_PY_RUN = "time to run Python workers"  # pythonTotalTime, ms
_PY_SENT = "data sent to Python workers"  # pythonDataSent, bytes


def read_events(log_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """(jobs, tasks by stage id) from every event file under ``log_dir``.
    A job is {id, submit, end, stages} with times in seconds."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": list(e["Stage IDs"]),
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(e["Stage ID"], []).append(_task(e))
    return list(jobs.values()), tasks


def _task(e: dict) -> dict:
    m = e.get("Task Metrics") or {}
    acc = {
        a.get("Name"): a.get("Update")
        for a in e["Task Info"].get("Accumulables", [])
    }
    return {
        "run_s": m.get("Executor Run Time", 0) / 1000.0,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "python_s": float(acc.get(_PY_RUN) or 0) / 1000.0,
        "python_sent_bytes": int(acc.get(_PY_SENT) or 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        ),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
    }


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_metrics(
    start: float, end: float, jobs: list[dict], tasks: dict[int, list[dict]]
) -> dict[str, float]:
    """Every measure of one span."""
    mine = [j for j in jobs if start <= j["submit"] <= end]
    ts = [t for j in mine for s in j["stages"] for t in tasks.get(s, [])]
    busy = _covered(
        [(j["submit"], min(j["end"] or end, end)) for j in mine]
    )
    out = {
        "wall_s": end - start,
        "driver_s": max(end - start - busy, 0.0),
        "jobs": len(mine),
        "tasks": len(ts),
        "task_s": sum(t["run_s"] for t in ts),
        "task_max_s": max((t["run_s"] for t in ts), default=0.0),
    }
    for k in ("gc_s", "python_s", "python_sent_bytes", "input_bytes",
              "shuffle_write_bytes", "spill_bytes", "output_bytes"):
        out[k] = sum(t[k] for t in ts)
    return out


def fold(spans: list[tuple[str, float, float]], log_dir: str) -> dict[str, float]:
    """Per-layer metrics: for each span name, the median over its calls
    of each measure. Names the workload never called report 0."""
    jobs, tasks = read_events(log_dir)
    per_name: dict[str, list[dict]] = {}
    for name, s, e in spans:
        per_name.setdefault(name, []).append(span_metrics(s, e, jobs, tasks))
    out = {}
    for name in SPANS:
        calls = per_name.get(name, [])
        for m in MEASURES:
            out[f"{name}.{m}"] = (
                statistics.median(c[m] for c in calls) if calls else 0
            )
    return out
