"""Tracing from outside the engine: in-memory spans around calls into
each layer, Spark stage metrics read from the status store for the
benchmark's own job groups, and SQL operator metrics read by walking
the executed physical plan through AQE's query stages."""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


class Tracer:
    """Spans (name, start, end, parent) kept in memory, written at the end.
    Every span opens its own Spark job group, so the stages a span ran
    can be read back from the status store."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"trace": self.trace_id, "id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"{self.trace_id}-{sid}"}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = self.spans[self._stack[-1]] if self._stack else None
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def seconds(self, name: str) -> float:
        return sum(self.durations(name))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"trace": self.trace_id, "spans": self.spans, **extra},
                      fh, indent=1, sort_keys=True)


def stage_metrics(spark: SparkSession, group: str, wall_s: float) -> dict:
    """Stage totals of every job run under ``group``. ``driver_s`` is the
    wall time the stages' [submission, completion] intervals do not
    cover: planning, eager guards, result handling on the driver."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    tot = {"task_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0, "stages": 0, "tasks": 0}
    spans = []
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            sd = store.lastStageAttempt(sid)
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isEmpty():       # skipped: output reused from a prior stage
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numCompleteTasks()
            tot["task_s"] += sd.executorRunTime() / 1e3
            tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["gc_s"] += sd.jvmGcTime() / 1e3
            tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            tot["spill_mb"] += sd.diskBytesSpilled() / 2**20
            if not done.isEmpty():
                spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
    covered, end = 0.0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            covered += b - a
            end = b
        elif b > end:
            covered += b - end
            end = b
    tot["driver_s"] = max(0.0, wall_s - covered)
    return tot


def plan_nodes(df: DataFrame) -> list[tuple[str, dict]]:
    """(node name, {metric: value}) for every operator of ``df``'s
    executed plan, in pre-order, descending through AdaptiveSparkPlan,
    the *QueryStage wrappers and reused exchanges."""
    out = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            todo.append(node.child())
            continue
        vals, it = {}, node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2().value()
        out.append((node.nodeName(), vals))
        kids, it = [], node.children().iterator()
        while it.hasNext():
            kids.append(it.next())
        todo.extend(reversed(kids))
    return out


def node_metric(nodes: list[tuple[str, dict]], name: str, metric: str) -> float:
    """``metric`` of the first operator called ``name`` (0 if absent)."""
    hits = [m for n, m in nodes if n == name]
    return float(hits[0].get(metric, 0)) if hits else 0.0
