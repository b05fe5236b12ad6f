"""Tests of the benchmark itself.

    python3 -m pytest perfbench/selftest.py -q -p no:cacheprovider

The file is not named ``test_*.py``, so the repository's own test run
does not collect it: the run tests start Spark and generate inputs.

The run tests copy the program into a temporary checkout (under
``$TMPDIR``) and run the benchmark there, so they write nothing into the
source tree.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import procs  # noqa: E402


@pytest.fixture
def checkout():
    d = tempfile.mkdtemp(prefix="perfbench_test_")
    shutil.copytree(f"{ROOT}/qcflow", f"{d}/qcflow",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copytree(HERE, f"{d}/perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(f"{ROOT}/BENCHMARK.json", d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _has_python_workers(pid: int) -> bool:
    for p in procs.descendants(pid):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                if b"pyspark.daemon" in fh.read():
                    return True
        except OSError:
            continue
    return False


def test_sigterm_mid_workload_leaves_no_process(checkout):
    # whatever the run leaves behind is re-parented to this process
    procs.become_subreaper()
    assert not procs.descendants(os.getpid()), "processes left by an earlier test"
    p = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", "oneshot",
         "--seed", "1", "--seconds", "30", "--trace", "1"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
    )
    try:
        deadline = time.monotonic() + 240
        while not _has_python_workers(p.pid):
            assert p.poll() is None, "run ended before its workload started"
            assert time.monotonic() < deadline, "no Python workers appeared"
            time.sleep(0.5)
        time.sleep(3)  # well inside set-up or the first operation
        p.send_signal(signal.SIGTERM)
        out, _ = p.communicate(timeout=60)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    assert p.returncode != 0
    assert out.strip() == b"", "an interrupted run printed a result"
    left = procs.descendants(os.getpid())
    assert not left, f"processes survived the run: {sorted(left)}"


def test_bare_directory_fails_without_result():
    d = tempfile.mkdtemp(prefix="perfbench_bare_")
    try:
        shutil.copytree(HERE, f"{d}/perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(f"{ROOT}/BENCHMARK.json", d)
        r = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "oneshot",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=d, capture_output=True, timeout=60,
        )
        assert r.returncode != 0
        assert r.stdout.strip() == b""
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw}) + "\n"


def _task(stage, run_ms, py_ms=0, sent=0, inp=0, shw=0, spill=0, out=0, gc=0):
    acc = [
        {"Name": "time to run Python workers", "Update": str(py_ms)},
        {"Name": "data sent to Python workers", "Update": str(sent)},
    ]
    return _event(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task Info": {"Accumulables": acc},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "JVM GC Time": gc,
                "Disk Bytes Spilled": spill,
                "Input Metrics": {"Bytes Read": inp},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shw},
                "Output Metrics": {"Bytes Written": out},
            },
        },
    )


def test_fold_attributes_jobs_by_submission_time(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    lines = [
        # job 0 at t=10.5..11.5 s, two tasks; job 1 at 12.0..12.5 s, one
        _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 10500, "Stage IDs": [0, 1]}),
        _task(0, 400, py_ms=300, sent=100, inp=1000),
        _task(1, 600, shw=50, spill=7, gc=20),
        _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 11500}),
        _event("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 12000, "Stage IDs": [2]}),
        _task(2, 200, out=99),
        _event("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 12500}),
        # outside every span: ignored
        _event("SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 20000, "Stage IDs": [3]}),
        _task(3, 5000),
        _event("SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 21000}),
    ]
    (d / "events_1_app").write_text("".join(lines))
    spans = [
        ("pipeline.score_clips", 10.0, 11.8),
        ("pipeline.write_outputs", 11.9, 13.0),
    ]
    m = layers.fold(spans, str(tmp_path))
    assert m["pipeline.score_clips.jobs"] == 1
    assert m["pipeline.score_clips.tasks"] == 2
    assert m["pipeline.score_clips.task_s"] == pytest.approx(1.0)
    assert m["pipeline.score_clips.task_max_s"] == pytest.approx(0.6)
    assert m["pipeline.score_clips.driver_s"] == pytest.approx(0.8)
    assert m["pipeline.score_clips.python_s"] == pytest.approx(0.3)
    assert m["pipeline.score_clips.python_sent_bytes"] == 100
    assert m["pipeline.score_clips.input_bytes"] == 1000
    assert m["pipeline.score_clips.shuffle_write_bytes"] == 50
    assert m["pipeline.score_clips.spill_bytes"] == 7
    assert m["pipeline.score_clips.gc_s"] == pytest.approx(0.02)
    assert m["pipeline.write_outputs.jobs"] == 1
    assert m["pipeline.write_outputs.output_bytes"] == 99
    assert m["pipeline.write_outputs.driver_s"] == pytest.approx(0.6)
    # a span the workload never made reports zeros
    assert m["pipeline.dedup_table.jobs"] == 0
    assert set(m) == {f"{s}.{k}" for s in layers.SPANS for k in layers.MEASURES}
