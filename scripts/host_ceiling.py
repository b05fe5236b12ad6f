"""Same-day pure-CPU host-ceiling probe for the scaling measurement.

The north-rule evidence (scripts/scaling.py) divides throughput at
local[16] by local[4]; on this shared sandbox the denominator of the
ideal 4x includes the HOST's own sub-linearity (frequency droop when
4x more cores go busy, shared memory bandwidth) — round-1 measured
0.92 for a pure-JVM workload, and it drifts with neighbor load. This
probe re-measures that ceiling with a Python-free, IO-free job (xxhash
over a generated range, whole-stage codegen, one scalar result) so the
QC job's efficiency can be read against the ceiling measured the same
hour on the same box: eff_vs_ceiling = eff_job / eff_ceiling.

Writes/updates nothing; prints one JSON line for BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROWS = int(os.environ.get("QCFLOW_CEILING_ROWS", str(1_500_000_000)))

_TMPL = """
import json, time
from qcflow.session import get_spark
from pyspark.sql import functions as F
spark = get_spark("host-ceiling", cpus={cpus},
                  extra_conf={{"spark.sql.shuffle.partitions": "{cpus}"}})
# warmup: codegen + task scheduling
spark.range(0, 10_000_000, 1, {cpus}).selectExpr(
    "xxhash64(id, id+1, id+2) h").agg(F.bit_xor("h")).collect()
best = None
for _ in range(2):
    t0 = time.time()
    spark.range(0, {rows}, 1, {cpus} * 8).selectExpr(
        "xxhash64(id, xxhash64(id, id+1), id+2) h"
    ).agg(F.bit_xor("h")).collect()
    sec = time.time() - t0
    best = sec if best is None or sec < best else best
print(json.dumps({{"sec": round(best, 2)}}))
"""


def run_at(cpus: int) -> float:
    env = dict(os.environ)
    env.setdefault("QCFLOW_DRIVER_MEM", "8g")
    out = subprocess.run(
        [sys.executable, "-c", _TMPL.format(cpus=cpus, rows=ROWS)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=1800,
        env=env,
    )
    if out.returncode != 0:
        raise RuntimeError(out.stderr[-2000:])
    return json.loads(out.stdout.strip().splitlines()[-1])["sec"]


def main() -> int:
    pairs = []
    for _ in range(2):
        s4 = run_at(4)
        s16 = run_at(16)
        pairs.append((s4, s16, round(s4 / s16 / 4.0, 3)))
        print(f"local[4]={s4}s local[16]={s16}s eff={s4 / s16 / 4.0:.3f}",
              file=sys.stderr)
    best = max(pairs, key=lambda p: p[2])
    print(json.dumps({
        "rows": ROWS,
        "pairs": [{"sec_4": p[0], "sec_16": p[1], "eff": p[2]} for p in pairs],
        "ceiling_best": best[2],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
