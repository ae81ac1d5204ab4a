"""Spans and Spark job accounting for the benchmark.

A span is recorded around each public engine call the benchmark makes
and around each Spark action: (request id, name, parent, start, end).
Spans stay in memory and are written out once, at exit. The layer of a
span is the first part of its name (``plans.xpilot_retrieval`` →
``plans``); ``request`` spans are the roots.

Spark work is attributed through job groups: every span that can start
jobs sets its own group, so the jobs of one request split into
build-time jobs (started while a plan was being built) and action
jobs. Counts come from ``SparkContext.statusTracker()``; executor time,
shuffle bytes and task skew from Spark's status store, which is
readable with the UI off. Untraced runs keep one group per request and
read only the status tracker, after the request's clock has stopped.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

LAYERS = ("session", "io", "sources", "operators", "plans", "spark")


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.rid: str = "setup"
        self._groups: list[tuple[str, bool]] = []  # (job group, is_action)
        self._current = "setup"

    # ------------------------------------------------------------ spans

    @contextmanager
    def request(self, rid: str):
        """Root span of one request; resets its job groups."""
        self.rid = rid
        self._groups = []
        self._set_group(rid, True)
        with self.span("request"):
            yield

    @contextmanager
    def span(self, name: str, jobs: bool = False, action: bool = False):
        """Span ``name``; ``jobs`` gives it its own Spark job group
        (``action`` marks that group's jobs as action jobs)."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"rid": self.rid, "name": name, "parent": parent, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(idx)
        own_group = jobs or action
        if own_group:
            outer = self._current
            self._set_group(f"{self.rid}|{idx}|{name}", action)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if own_group:
                self.sc.setJobGroup(outer, outer)
                self._current = outer

    def action(self, fn):
        """Run a Spark action inside a ``spark.action`` span."""
        with self.span("spark.action", action=True):
            return fn()

    def _set_group(self, group: str, is_action: bool) -> None:
        self.sc.setJobGroup(group, group)
        self._current = group
        self._groups.append((group, is_action))

    # ------------------------------------------------------- Spark work

    def spark_counts(self) -> dict:
        """Jobs, stages and tasks of the current request, from the
        status tracker (and, traced, from the status store)."""
        st = self.sc.statusTracker()
        out = {"jobs": 0, "build_jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}
        stage_ids: list[int] = []
        for group, is_action in self._groups:
            for j in st.getJobIdsForGroup(group):
                out["jobs" if is_action else "build_jobs"] += 1
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.extend(info.stageIds)
        out["stages"] = len(stage_ids)
        for s in stage_ids:
            info = st.getStageInfo(s)
            if info is not None:
                out["tasks"] += info.numTasks
                out["tasks_failed"] += info.numFailedTasks
        if self.enabled:
            out.update(self._store_metrics(stage_ids))
        return out

    def _store_metrics(self, stage_ids: list[int]) -> dict:
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        run_ms = shuffle = 0
        skew = 1.0
        for s in stage_ids:
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 — stage evicted from the store
                continue
            run_ms += sd.executorRunTime()
            shuffle += sd.shuffleWriteBytes()
            if sd.numTasks() < 2:
                continue
            dist = store.taskSummary(s, sd.attemptId(), q)
            if dist.isDefined():
                med, mx = (dist.get().executorRunTime().apply(i) for i in (0, 1))
                if med > 0:
                    skew = max(skew, mx / med)
        return {"executor_run_s": run_ms / 1000.0, "shuffle_bytes": shuffle, "task_skew": skew}

    # ------------------------------------------------------ attribution

    def request_breakdown(self, rid: str) -> dict:
        """Per-name inclusive seconds, per-layer self seconds, and the
        unattributed gap for one request."""
        spans = [(i, s) for i, s in enumerate(self.spans) if s["rid"] == rid]
        child = {i: 0.0 for i, _ in spans}
        for _, s in spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        by_name: dict[str, float] = {}
        self_by_layer = {layer: 0.0 for layer in LAYERS}
        latency = gap = 0.0
        for i, s in spans:
            dur = s["end"] - s["start"]
            own = dur - child[i]
            if s["name"] == "request":
                latency, gap = dur, own
                continue
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + dur
            self_by_layer[s["name"].split(".")[0]] += own
        return {"latency": latency, "gap": gap, "by_name": by_name, "self": self_by_layer}

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
