"""The full CLI lifecycle, chained through real subprocess calls:

    gen -> normalize -> segment -> dedup -> decontaminate -> pack -> run

Each stage consumes the previous stage's written output — this is the
README composability claim pinned end to end, not per-stage.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _cli(*args: str, timeout: int = 420) -> dict:
    p = subprocess.run(
        [sys.executable, "-m", "qcflow.cli", *args, "--cpus", "4"],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=timeout,
    )
    assert p.returncode == 0, (args[0], p.stderr[-2000:])
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_full_cli_lifecycle(tmp_path):
    d = str(tmp_path)
    gen = _cli("gen", "--rows", "300", "--out", f"{d}/raw")
    assert gen["rows"] == 300

    norm = _cli("normalize", "--clips", f"{d}/raw/clips.parquet",
                "--out", f"{d}/norm")
    assert norm["n_normalized"] > 0

    seg = _cli("segment", "--clips", norm["out"], "--out", f"{d}/seg")
    assert seg["n_segments"] > seg["n_clips_segmented"] > 0

    dd = _cli("dedup", "--clips", seg["out"], "--out", f"{d}/dedup")
    assert 0 < dd["n_out"] <= seg["n_segments"]

    # eval set = a handful of the deduped segments themselves, so the
    # decontaminate stage must quarantine at least those exact matches
    import pyarrow.parquet as pq
    import pyarrow as pa

    t = pq.read_table(f"{d}/dedup/deduped.parquet")
    ev = t.slice(0, 5)
    ev = ev.set_column(
        ev.schema.get_field_index("clip_id"),
        "clip_id",
        pa.array(["eval-" + str(v) for v in ev["clip_id"].to_pylist()]),
    )
    pq.write_table(ev, f"{d}/eval.parquet")
    dc = _cli(
        "decontaminate",
        "--clips", f"{d}/dedup/deduped.parquet",
        "--eval-clips", f"{d}/eval.parquet",
        "--out", f"{d}/decon",
    )
    assert dc["n_quarantined"] >= 5
    assert dc["n_clean"] + dc["n_quarantined"] == dd["n_out"]

    pk = _cli("pack", "--clips", dc["out"], "--out", f"{d}/pack")
    assert pk["n_packed"] > 0 and pk["n_packs"] > 0
    assert pk["n_packs"] <= pk["n_packed"]
    assert pk["avg_dur_ms"] <= 3000

    run = _cli("run", "--clips", f"{d}/pack/packed.parquet",
               "--out", f"{d}/qc")
    assert run["n_input"] == pk["n_packs"]
    assert 0 < run["n_kept"] <= run["n_input"]
