"""In-memory spans around the benchmark's calls into each layer, plus
Spark-side counters read from the status tracker and executed plans.

Spans are (op id, name, parent index, start, end), kept in a list and
written as JSON when the run ends. A layer's self time is its span's
duration minus the time its child spans cover. With tracing off the
tracer is a no-op context manager, so untraced runs pay nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []   # [op, name, parent, start, end]
        self._stack: list[int] = []
        self._op = 0

    def new_op(self) -> None:
        self._op += 1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else -1
        rec = [self._op, name, parent, time.perf_counter(), 0.0]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[4] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, list[float]]:
        """name -> per-span self time in seconds."""
        child = defaultdict(float)
        for _op, _name, parent, t0, t1 in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        out: dict[str, list[float]] = defaultdict(list)
        for i, (_op, name, _parent, t0, t1) in enumerate(self.spans):
            out[name].append((t1 - t0) - child[i])
        return out

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for _o, n, _p, t0, t1 in self.spans if n == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [{"op": o, "name": n, "parent": p, "start": a, "end": b}
                 for o, n, p, a, b in self.spans], fh)


def span_cost_s(n: int = 20000) -> float:
    """Cost of recording one span, measured in-process."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


class JobCounter:
    """Spark jobs / stages / completed tasks of the calls made under one
    job group, read from the status tracker."""

    def __init__(self, sc):
        self.sc = sc
        self._n = 0

    @contextlib.contextmanager
    def group(self, out: dict):
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(gid)
            stages = tasks = 0
            stage_ids = []
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    si = st.getStageInfo(s)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
                        stage_ids.append(s)
            out.update(jobs=len(jobs), stages=stages, tasks=tasks,
                       stage_ids=stage_ids)


def shuffle_write_bytes(sc, stage_ids: list[int]) -> int:
    """Sum of shuffle bytes written by the given stages (status store)."""
    store = sc._jsc.sc().statusStore()
    total = 0
    for s in stage_ids:
        total += int(store.lastStageAttempt(s).shuffleWriteBytes())
    return total


def plan_counts(df) -> dict:
    """Exchange / broadcast node counts and Python bytes sent, from the
    executed (final adaptive) plan of a DataFrame that has been collected.
    SQL timing metrics are deliberately not read here (uncalibrated)."""
    plan = df._jdf.queryExecution().executedPlan()
    out = {"exchanges": 0, "broadcasts": 0, "python_bytes_sent": 0}

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def walk(p):
        name = p.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            walk(p.executedPlan())
            return
        if "QueryStage" in name:
            walk(p.plan())
            return
        if "Exchange" in name:
            out["exchanges"] += 1
            if "Broadcast" in name:
                out["broadcasts"] += 1
        m = p.metrics().get("pythonDataSent")
        if m.isDefined():
            out["python_bytes_sent"] += int(m.get().value())
        for c in seq(p.children()):
            walk(c)
        for c in seq(p.subqueries()):
            walk(c)

    walk(plan)
    return out
