"""Span recorder and Spark plan-metric harvest for the benchmark.

``Tracer`` records one span per call the benchmark makes into a layer: name,
layer, start, end and parent, kept in memory and written out once at the
end. With tracing off a span is a pair of clock reads; with tracing on it
also sets a Spark job group around the call, so the jobs, stages and tasks
the call started can be counted afterwards.

``plan_metrics`` reads Spark's per-node SQL metrics from the final adaptive
plan of a DataFrame the benchmark itself collected. SQL metrics accumulate
across actions on one DataFrame, so callers build a fresh DataFrame for
every action they harvest.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

# SQL metric name -> family; values are scaled to seconds by metric type.
_FAMILIES = {
    "scanTime": "scan_s",
    "pipelineTime": "codegen_s",
    "shuffleBytesWritten": "shuffle_bytes",
    "shuffleWriteTime": "shuffle_write_s",
    "collectTime": "broadcast_s",
    "buildTime": "broadcast_s",
    "spillSize": "spill_bytes",
    "pythonBootTime": "py_boot_s",
    "pythonInitTime": "py_init_s",
    "pythonTotalTime": "py_total_s",
    "pythonDataSent": "py_bytes_sent",
    "pythonDataReceived": "py_bytes_recv",
}
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}
PLAN_FAMILIES = sorted(set(_FAMILIES.values()))


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def plan_metrics(df) -> dict[str, float]:
    """Sum the SQL metrics of ``df``'s executed plan into PLAN_FAMILIES.

    Walks ``AdaptiveSparkPlanExec.executedPlan()`` (the final plan) and each
    ``*QueryStageExec.plan()``; a reused exchange is skipped, because its
    metrics belong to the exchange it reuses, which the walk already meets.
    Call only after an action on ``df`` has run."""
    out = dict.fromkeys(PLAN_FAMILIES, 0.0)

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if cls == "ReusedExchangeExec":
            return
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            fam = _FAMILIES.get(kv._1())
            if fam is not None:
                m = kv._2()
                out[fam] += float(m.value()) * _SCALE.get(m.metricType(), 1.0)
        for child in _scala_seq(node.children()):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return out


class Tracer:
    """Spans around layer calls; see the module docstring. ``overhead_s``
    sums the time spent in tracing itself: job groups, job counts and plan
    harvests."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark.sparkContext
        group = f"{name}#{rec['id']}"
        t = time.perf_counter()
        if self.enabled:
            sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    sc.setJobGroup(f"{parent['name']}#{parent['id']}", parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                rec.update(self._job_counts(group))
            self.overhead_s += time.perf_counter() - rec["end"]

    def _job_counts(self, group: str) -> dict[str, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is not None:
                    stages += 1
                    tasks += s.numTasks
        return {"spark_jobs": len(jobs), "stages": stages, "tasks": tasks}

    def harvest(self, df) -> dict[str, float]:
        """``plan_metrics(df)``, with its time counted as tracing overhead."""
        t = time.perf_counter()
        out = plan_metrics(df)
        self.overhead_s += time.perf_counter() - t
        return out

    @staticmethod
    def seconds(rec: dict) -> float:
        return rec["end"] - rec["start"]

    @staticmethod
    def self_seconds(spans: list[dict]) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part of it
        that its child spans cover, summed by layer."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            covered, edge = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return dict(out)
