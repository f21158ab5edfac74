"""Spans around the benchmark's calls into the engine, with the Spark work
launched inside each span's time window.

A span records name, start, end, parent span and operation id. Spans are
kept in memory; after each operation the tracer drains Spark's listener
bus and reads, from the status store, every job submitted since the last
read (with its stages' executor metrics), and, from a
``QueryExecutionListener``, each query's Catalyst phase times. Jobs and
query plans are attributed to the innermost span whose window holds their
start time, so jobs a layer submits from a background thread pool are
counted too. Nothing inside the engine is instrumented.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time

from py4j.protocol import Py4JJavaError

_PLAN_PHASES = ("analysis", "optimization", "planning")
# per-layer metric suffixes, in report order
LAYER_FIELDS = ("wall_s", "driver_s", "plan_s", "jobs", "stages", "cpu_s", "shuffle_mb")


class _PlanListener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self, sink: list):
        self._sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM name)
        self._record(qe)

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        self._record(qe)

    def _record(self, qe) -> None:
        it = qe.tracker().phases().iterator()
        phases = {}
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = (kv._2().startTimeMs(), kv._2().endTimeMs())
        self._sink.append(phases)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Spans plus Spark job/stage/plan records. Disabled tracers cost one
    attribute check per span."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.plans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._op: int | None = None
        self._plan_sink: list = []
        self._sc = spark.sparkContext
        self._next_job = 0
        if enabled:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self._sc._gateway)
            self._listener = _PlanListener(self._plan_sink)
            spark._jsparkSession.listenerManager().register(self._listener)
            self._drain()
            self._next_job = self._store_job_count()

    # -- spans --------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "op": self._op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time()}
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)

    @contextlib.contextmanager
    def operation(self, op_id: int, kind: str):
        """Root span of one benchmark operation; reads the Spark records
        launched inside it once it ends."""
        self._op = op_id
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._op = None
            if self.enabled:
                self._collect()

    # -- Spark records --------------------------------------------------------

    def _drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _store(self):
        return self._sc._jsc.sc().statusStore()

    def _store_job_count(self) -> int:
        jobs = self._store().jobsList(None)
        return max([jobs.apply(i).jobId() for i in range(jobs.size())], default=-1) + 1

    def _collect(self) -> None:
        self._drain()
        store = self._store()
        while True:
            try:
                j = store.job(self._next_job)
            except Py4JJavaError:  # no such job yet: all read
                break
            self._next_job += 1
            sub, done = j.submissionTime(), j.completionTime()
            rec = {
                "job": j.jobId(),
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                "stages": [],
            }
            sids = j.stageIds()
            for i in range(sids.size()):
                s = store.lastStageAttempt(sids.apply(i))
                if str(s.status()) == "SKIPPED":
                    continue
                rec["stages"].append({
                    "stage": s.stageId(),
                    "tasks": s.numTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "shuffle_read_b": s.shuffleReadBytes(),
                    "shuffle_write_b": s.shuffleWriteBytes(),
                    "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                })
            self.jobs.append(rec)
        while self._plan_sink:
            phases = self._plan_sink.pop(0)
            for p in _PLAN_PHASES:
                if p in phases:
                    a, b = phases[p]
                    self.plans.append({"phase": p, "start": a / 1e3, "plan_s": (b - a) / 1e3})

    # -- attribution ------------------------------------------------------------

    def _owner(self, t: float | None) -> dict | None:
        """Innermost span whose window holds time ``t``."""
        if t is None:
            return None
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best

    def layer_totals(self, layers: list[str]) -> tuple[dict, float]:
        """Per-layer sums over every traced operation, plus the share of
        stages launched inside operations that a layer span owns."""
        tot = {L: dict.fromkeys(LAYER_FIELDS, 0.0) for L in layers}
        jobs_in: dict[int, list[dict]] = {}
        launched = owned = 0
        for j in self.jobs:
            s = self._owner(j["start"])
            if s is None:
                continue
            launched += len(j["stages"])
            if s["name"] in tot:
                owned += len(j["stages"])
                jobs_in.setdefault(s["id"], []).append(j)
        for s in self.spans:
            if s["name"] not in tot:
                continue
            t = tot[s["name"]]
            wall = s["end"] - s["start"]
            t["wall_s"] += wall
            mine = jobs_in.get(s["id"], [])
            t["driver_s"] += wall - _covered(
                [(j["start"], j["end"] or s["end"]) for j in mine], s["start"], s["end"])
            t["jobs"] += len(mine)
            for j in mine:
                for st in j["stages"]:
                    t["stages"] += 1
                    t["cpu_s"] += st["cpu_s"]
                    t["shuffle_mb"] += (st["shuffle_read_b"] + st["shuffle_write_b"]) / 2**20
        for p in self.plans:
            s = self._owner(p["start"])
            if s is not None and s["name"] in tot:
                tot[s["name"]]["plan_s"] += p["plan_s"]
        return tot, (owned / launched if launched else 1.0)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part of it child spans cover, summed per
        span name."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - _covered(kids.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "jobs": self.jobs, "plans": self.plans,
                       "self_s": self.self_times()}, f)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
