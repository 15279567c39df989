"""Scaling witness: the rect join of the ``joins`` workload at local[1]
and at local[4], each level in its own process and JVM, next to the
pure-codegen control aggregation of osm_io_spark.jobs.scaling_bench over
the same row count.

    scaling_eff_1to4 = (rows/s at local[4] / rows/s at local[1]) / 4

The control's efficiency is the ceiling the host allows a single JVM;
compare the two. Run through ``python3 perfbench/run.py --scaling``;
the result is written to perfbench/SCALING.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

CONTROL = ("sum(pmod(pmod(pmod(id,1000000)*26544357, 1000003)"
           " * pmod(id, 9999), 97))")
REPS = 3
# 8x the joins workload's rect probe, so neither level is floored by
# per-query fixed costs; the same 16 splits at both levels
PROBE_ROWS = 24_000_000
PARTITIONS = 16


def _one(cpus: int, seed: int) -> dict:
    import procfs
    import run
    from workloads import Joins
    work_dir = os.path.join(run.OUT, f"scaling-{cpus}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    run._environment(work_dir)
    spark = run._session(f"perfbench-scaling-{cpus}", cpus, work_dir)
    try:
        w = Joins(spark, seed, work_dir)
        w.sizes = dict(Joins.sizes, rect_probe=PROBE_ROWS, rect_partitions=PARTITIONS)
        w.setup()
        w.rect.check(w._rect_join().collect()[0], "rect join")   # warm-up
        join = []
        for _ in range(REPS):
            t = time.perf_counter()
            row = w._rect_join().collect()[0]
            join.append(time.perf_counter() - t)
            w.rect.check(row, "rect join")
        n = PROBE_ROWS
        ctrl_df = spark.range(0, n, 1, PARTITIONS)
        ctrl_df.selectExpr(CONTROL).collect()  # warm-up
        ctrl = []
        for _ in range(REPS):
            t = time.perf_counter()
            ctrl_df.selectExpr(CONTROL).collect()
            ctrl.append(time.perf_counter() - t)
        return {"cpus": cpus, "probe_rows": n, "join_s": join,
                "rows_per_s": n / median(join), "control_s": ctrl,
                "loadavg": procfs.loadavg()}
    finally:
        run._stop(spark)
        shutil.rmtree(work_dir, ignore_errors=True)


def witness(seed: int, here: str) -> dict:
    """Run both levels in child processes and write SCALING.json."""
    levels = {}
    for cpus in (1, 4):
        proc = subprocess.run(
            [sys.executable, os.path.join(here, "scaling.py"), str(cpus), str(seed)],
            capture_output=True, text=True, timeout=900)
        if proc.returncode != 0:
            raise RuntimeError(proc.stderr[-4000:])
        levels[cpus] = json.loads(proc.stdout.strip().splitlines()[-1])
    lo, hi = levels[1], levels[4]
    res = {
        "scaling_eff_1to4": hi["rows_per_s"] / lo["rows_per_s"] / 4,
        "control_eff_1to4": median(lo["control_s"]) / median(hi["control_s"]) / 4,
        "seed": seed, "levels": levels,
    }
    with open(os.path.join(here, "SCALING.json"), "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return res


if __name__ == "__main__":
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    real_stdout.write(json.dumps(_one(int(sys.argv[1]), int(sys.argv[2]))) + "\n")
