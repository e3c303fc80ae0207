"""Traced-run plumbing: spans around the benchmark's calls into each
layer, plus the metrics Spark already keeps.

Nothing here reaches into ``oroch_spark``. Two outside views are used:

- the SQL metrics on the executed plan of the DataFrame an op ran
  (``MapInArrow``: pythonBootTime, pythonInitTime, pythonTotalTime,
  pythonDataSent, pythonDataReceived, pythonNumRowsReceived; ``Scan
  parquet``, ``Filter`` and ``Exchange`` row and byte counts), walked
  through the AQE ``executedPlan``/``plan`` wrappers;
- the stage metrics of the jobs an op ran, found through a job group
  per op (tasks, input bytes, shuffle bytes written, executor run
  time).

Spans live in memory and are written out once, when the run ends.
"""
from __future__ import annotations

import itertools
import json
import time
from typing import Optional

from py4j.protocol import Py4JJavaError

# SQL metrics summed into the per-op record, by metric name
PYTHON_METRICS = ("pythonBootTime", "pythonInitTime", "pythonTotalTime",
                  "pythonDataSent", "pythonDataReceived",
                  "pythonNumRowsReceived")


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def plan_nodes(df) -> list:
    """(node name, metrics) for every node of ``df``'s executed plan,
    depth first, looking through AQE and query-stage wrappers."""
    out = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        out.append((node.nodeName(), _metrics(node)))
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def blocks_into_python(nodes: list) -> Optional[int]:
    """Rows that reached the first Python node: the row count of the
    nearest node below it that counts rows (the Filter that applied
    the pruning predicate, or the scan when nothing was pruned)."""
    for i, (name, m) in enumerate(nodes):
        if "pythonTotalTime" in m:
            for _, below in nodes[i + 1:]:
                if "numOutputRows" in below:
                    return below["numOutputRows"]
            return None
    return None


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory, and the
    Spark metrics of each op. ``overhead_s`` is the wall spent here
    collecting them, which an untraced run does not pay."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self.ops: list = []
        self.overhead_s = 0.0
        self._ids = itertools.count()

    def span(self, name: str, op_id: int, parent: Optional[int],
             start: float, end: float) -> int:
        self.spans.append({"id": len(self.spans), "name": name,
                           "start": start, "end": end, "parent": parent,
                           "op": op_id})
        return len(self.spans) - 1

    def begin_op(self, kind: str) -> int:
        op_id = next(self._ids)
        self.sc.setJobGroup(f"perfbench-{op_id}", kind)
        return op_id

    def end_op(self, op_id: int, kind: str, start: float, plan_end: float,
               end: float, df=None) -> dict:
        """Record the op's spans and collect its Spark metrics."""
        t0 = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        root = self.span(kind, op_id, None, start, end)
        self.span("plan", op_id, root, start, plan_end)
        self.span("action", op_id, root, plan_end, end)
        rec = {"op": op_id, "kind": kind, "wall_s": end - start,
               "plan_s": plan_end - start, "python": {},
               "blocks_in": None, "nodes": []}
        if df is not None and hasattr(df, "_jdf"):
            nodes = plan_nodes(df)
            rec["nodes"] = nodes
            for _, m in nodes:
                for k in PYTHON_METRICS:
                    if k in m:
                        rec["python"][k] = rec["python"].get(k, 0) + m[k]
            rec["blocks_in"] = blocks_into_python(nodes)
        rec.update(self._stages(f"perfbench-{op_id}"))
        self.ops.append(rec)
        self.overhead_s += time.perf_counter() - t0
        return rec

    def _stages(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        # the status store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        acc = {"tasks": 0, "input_bytes": 0, "shuffle_write_bytes": 0,
               "executor_run_ms": 0}
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info else ()):
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                acc["tasks"] += sd.numCompleteTasks()
                acc["input_bytes"] += sd.inputBytes()
                acc["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                acc["executor_run_ms"] += sd.executorRunTime()
        return acc

    def dump(self, path: str, extra: dict) -> None:
        doc = dict(extra, spans=self.spans,
                   ops=[{k: v for k, v in op.items() if k != "nodes"}
                        | {"nodes": [[n, m] for n, m in op["nodes"]]}
                        for op in self.ops])
        with open(path, "w") as f:
            json.dump(doc, f)
