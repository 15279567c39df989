#!/usr/bin/env python3
"""Repository benchmark: one seeded workload per process, on local[4].

    python3 perfbench/run.py --workload joins --seed 1 --seconds 15 --trace 0

Each run starts one Spark JVM, builds the workload's inputs from
``--seed``, runs one untimed warm-up repetition, then repeats the
workload as a closed loop with one client (one Spark action at a time)
for about ``--seconds`` and at least the workload's ``min_reps`` times,
and checks every repetition's output. The last stdout line is one JSON
object: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1`` (which also runs one traced repetition and reports its
overhead over the untraced ones). Detail (every repetition, loadavg,
spans) goes to ``perfbench/out/``. See perfbench/README.md.

``--scaling`` instead runs the scaling witness (the rect join of
``joins`` at local[1] and at local[4]) and writes perfbench/SCALING.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CPUS = 4
SETUP_REPEATS = 3


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scaling", action="store_true")
    a = ap.parse_args(argv)
    if not a.scaling and not a.workload:
        ap.error("--workload is required")
    return a


def _metric_units(trace: int) -> dict[str, str]:
    """Metric name → unit, for the run's mode, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _environment(work_dir: str) -> None:
    """Keep Spark's local files, temp files and the Python workers'
    imports inside the checkout; must run before the JVM starts."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in /tmp from the launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _session(name: str, cpus: int, work_dir: str):
    from osm_io_spark.session import get_spark
    tmp = os.path.join(work_dir, "tmp")
    # A fixed 2g heap (-Xms = -Xmx): a heap that grows under load adds
    # GC time and run-to-run spread to every repetition.
    spark = get_spark(name, master=f"local[{cpus}]", shuffle_partitions=cpus,
                      extra_conf={
                          "spark.driver.memory": "2g",
                          "spark.driver.extraJavaOptions":
                              f"-Xlog:disable -XX:-UsePerfData -Xms2g "
                              f"-Djava.io.tmpdir={tmp}",
                          "spark.local.dir": tmp,
                          "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_workers(spark) -> None:
    """Spawn the Python worker pool (and its numpy/pandas imports) once
    per session, before anything is timed."""
    df = spark.range(0, 256, 1, CPUS)
    df.mapInPandas(lambda it: it, df.schema).count()


def _stop(spark) -> None:
    """Stop the session and the JVM, then wait for every process this
    run started (the JVM and its Python workers) to end."""
    import procfs
    tree = [p for p in procfs.descendants(os.getpid()) if p != os.getpid()]
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    killed = procfs.reap(tree)
    if killed:
        print(f"# killed stray processes {killed}", file=sys.stderr)


def _timed_reps(spark, w, seconds: float, min_reps: int, tag: str) -> list[dict]:
    """Closed-loop repetitions, each checked. After ``min_reps``, a new
    one starts only if it is expected to end within ``seconds``, taking
    the last repetition and its check as the expected length, so a run
    does not overrun its window by most of a repetition."""
    import procfs
    from referee import CheckFailed
    pid = os.getpid()
    sc = spark.sparkContext
    reps = []
    est_s = 0.0
    t_start = time.perf_counter()
    while (len(reps) < min_reps
           or time.perf_counter() - t_start + est_s <= seconds):
        t_iter = time.perf_counter()
        group = f"{tag}-{len(reps)}"
        sc.setJobGroup(group, group)
        rec = {"group": group, "ok": True, "error": None}
        c0, s0 = procfs.tree_cpu_s(pid), procfs.steal_s()
        t0 = time.perf_counter()
        try:
            out = w.rep()
        except Exception as e:  # a failed repetition is counted, not fatal
            traceback.print_exc()
            out, rec["ok"], rec["error"] = None, False, repr(e)
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = procfs.tree_cpu_s(pid) - c0
        # CPU time the hypervisor gave other guests: on an overcommitted
        # host it comes and goes with their load and slows every timing
        rec["steal_s"] = procfs.steal_s() - s0
        sc._jsc.clearJobGroup()
        if rec["ok"]:
            try:
                w.check(out)
            except CheckFailed as e:
                rec["ok"], rec["error"] = False, f"check: {e}"
            except Exception as e:
                traceback.print_exc()
                rec["ok"], rec["error"] = False, f"check raised: {e!r}"
        est_s = time.perf_counter() - t_iter
        rec["check_s"] = est_s - rec["wall_s"]
        print(f"# {w.name} {group}: {rec['wall_s']:.3f}s "
              f"cpu={rec['cpu_s']:.2f}s steal={rec['steal_s']:.2f}s "
              f"check={rec['check_s']:.2f}s "
              f"ok={rec['ok']} {rec['error'] or ''}", file=sys.stderr)
        reps.append(rec)
    return reps


def _setup(spark, w) -> tuple[dict, list[dict]]:
    """Session-independent set-up: input generation (median of
    SETUP_REPEATS builds, the last one kept), one-time preparation and
    one untimed warm-up repetition, whose check still counts as an
    attempt."""
    gen = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        w.setup()
        gen.append(time.perf_counter() - t)
    t = time.perf_counter()
    w.prepare()
    prep = time.perf_counter() - t
    warm = _timed_reps(spark, w, 0.0, 1, "warmup")
    return ({"input_s": gen, "prepare_s": prep,
             "warmup_s": sum(r["wall_s"] for r in warm)}, warm)


def run_workload(a) -> dict:
    import procfs
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    work_dir = os.path.join(OUT, run_id)
    os.makedirs(work_dir, exist_ok=True)
    _environment(work_dir)
    from workloads import WORKLOADS
    if a.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cpus": CPUS, "loadavg_before": procfs.loadavg()}

    t0 = time.perf_counter()
    spark = _session(f"perfbench-{a.workload}", CPUS, work_dir)
    start_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        _warm_workers(spark)
        warm_s = time.perf_counter() - t0
        w = WORKLOADS[a.workload](spark, a.seed, work_dir)
        setup, warm = _setup(spark, w)
        setup_s = (start_s + warm_s + median(setup["input_s"]) + setup["prepare_s"]
                   + setup["warmup_s"])
        detail.update(session_start_s=start_s, worker_warmup_s=warm_s,
                      setup=setup, setup_s=setup_s, sizes=w.sizes)

        seconds = a.seconds if a.trace == 0 else a.seconds / 2
        reps = _timed_reps(spark, w, seconds, w.min_reps, "rep")
        detail["peak_rss_mb"] = procfs.tree_peak_rss_mb(os.getpid())
        good = [r for r in reps if r["ok"]] or reps
        metrics = {
            "rows_per_s": w.input_rows / median(r["wall_s"] for r in good),
            "cpu_s": median(r["cpu_s"] for r in good),
            "peak_rss_mb": detail["peak_rss_mb"],
            "setup_s": setup_s,
        }
        if a.trace == 1:
            metrics = _traced(spark, w, reps, start_s, warm_s)
        detail.update(reps=warm + reps, notes=w.notes, metrics=metrics)
    finally:
        _stop(spark)
        detail["loadavg_after"] = procfs.loadavg()
        shutil.rmtree(work_dir, ignore_errors=True)
    with open(os.path.join(OUT, run_id + ".json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True, default=str)
    return detail


def _traced(spark, w, reps, start_s, warm_s) -> dict:
    """Per-layer metrics: Spark stage totals of the untraced repetitions
    (median per field), then one traced repetition layer by layer."""
    from referee import CheckFailed
    from tracing import Tracer, stage_metrics
    eng = [stage_metrics(spark, r["group"], r["wall_s"]) for r in reps]
    units = _metric_units(1)
    metrics = {k: 0.0 for k in units}
    metrics.update({f"spark.{k}": median(e[k] for e in eng) for k in eng[0]})
    metrics.update({"session.start_s": start_s, "session.worker_warmup_s": warm_s})

    tr = Tracer(spark)
    rec = {"group": "traced", "ok": True, "error": None}
    t0 = time.perf_counter()
    try:
        with tr.span(w.name):
            layer, out = w.traced(tr)
        rec["wall_s"] = time.perf_counter() - t0
        w.check(out)
    except CheckFailed as e:
        rec["ok"], rec["error"] = False, f"check: {e}"
    except Exception as e:  # a failed repetition is counted, not fatal
        traceback.print_exc()
        layer, rec["ok"], rec["error"] = {}, False, repr(e)
    rec.setdefault("wall_s", time.perf_counter() - t0)
    reps.append(rec)
    unknown = set(layer) - set(units)
    if unknown:
        raise KeyError(f"unlisted per-layer metrics {sorted(unknown)}")
    metrics.update(layer)
    untraced = median(r["wall_s"] for r in reps[:-1])
    metrics.update({"trace.untraced_wall_s": untraced,
                    "trace.traced_wall_s": rec["wall_s"],
                    "trace.overhead_s": rec["wall_s"] - untraced})
    blocks = w.notes.get("blocks_written")
    if blocks:
        metrics.update({"pbf.blocks_written_min": min(blocks),
                        "pbf.blocks_written_max": max(blocks),
                        "pbf.out_md5_distinct": w.notes["out_md5_distinct"]})
    tr.dump(os.path.join(OUT, f"{w.name}-seed{w.seed}-spans.json"),
            {"metrics": metrics})
    return metrics


def _result_line(detail: dict, trace: int) -> dict:
    units = _metric_units(trace)
    reps = detail["reps"]
    failed = sum(1 for r in reps if not r["ok"])
    return {"correct": failed == 0, "attempted": len(reps), "failed": failed,
            "metrics": {k: {"value": float(detail["metrics"][k]), "unit": u}
                        for k, u in units.items()}}


def main(argv=None) -> int:
    a = _args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # The JVM shares fd 1 and may print there: route fd 1 to stderr before
    # it starts and keep a private handle on the real stdout for results.
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    if a.scaling:
        _environment(os.path.join(OUT, "scaling"))
        import scaling
        res = scaling.witness(a.seed, HERE)
        real_stdout.write(json.dumps(res) + "\n")
        return 0
    detail = run_workload(a)
    line = _result_line(detail, a.trace)
    failed_frac = line["failed"] / line["attempted"]
    for k, m in line["metrics"].items():
        real_stdout.write(f"# {a.workload} {k} = {m['value']:.6g} {m['unit']}\n")
    real_stdout.write(f"# {a.workload} failed_frac = {failed_frac:.6g} "
                      f"({line['failed']}/{line['attempted']} repetitions)\n")
    real_stdout.write(json.dumps(line) + "\n")
    real_stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
