"""Traced-run tooling: spans around the benchmark's calls into each
layer, plus counts taken at the same boundaries.

Spark is lazy, so a span around ``diff_table()`` alone would time plan
construction only. In the traced run every layer's output is therefore
materialized at its boundary (``localCheckpoint(eager=True)``, which
runs the layer's own executed plan) before the span closes, and the
next layer reads the checkpoint. Nothing is traced inside the program:
spans open and close in the benchmark's files.

Counts at a boundary come from two places:

* the executed physical plan of the materialized DataFrame (Exchange
  nodes, rows through ``ArrowEvalPython``/``MapInPandas``-style Python
  nodes, rows out of inner joins), walked through AQE query stages and
  in-memory relations;
* the application status store, for every stage of every job run
  inside the span (each span runs its jobs in a job group of its own;
  this includes actions the layer runs internally, such as apply's
  conflict count): shuffle bytes written, and the records read by the
  stages whose RDD graph holds a ``PythonRDD`` (the rows an RDD-level
  Python function such as the wire encoder receives; these stages have
  no SQL metrics).

Spans are kept in memory and written out as JSON when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

#: Physical operators that move rows through a Python worker.
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "PythonMapInArrow",
)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: (op_id, metric) -> accumulated value
        self.counts: dict[tuple[int, str], float] = defaultdict(float)
        self._seen_caches: set[int] = set()

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, op_id: int):
        """Span around one layer call. Jobs started inside it run in
        their own job group, so the stages it ran can be looked up."""
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op": op_id, "parent": parent,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-span-{idx}", name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec.update(self._stage_counts(f"perfbench-span-{idx}"))
            if self._stack:
                sc.setJobGroup(f"perfbench-span-{self._stack[-1]}", "")
            else:
                sc._jsc.clearJobGroup()

    def add(self, op_id: int, metric: str, value: float) -> None:
        self.counts[(op_id, metric)] += value

    def self_times(self) -> list[dict]:
        """Each span with ``self_s`` = duration minus the part of its
        interval covered by its children."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out = []
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - child_time[i]})
        return out

    def per_op(self, name: str) -> dict[int, float]:
        """Self time of the spans called ``name``, summed per op id."""
        acc: dict[int, float] = defaultdict(float)
        for s in self.self_times():
            if s["name"] == name:
                acc[s["op"]] += s["self_s"]
        return dict(acc)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.self_times(),
                       "counts": [{"op": k[0], "metric": k[1], "value": v}
                                  for k, v in self.counts.items()]}, f)

    # -- boundary materialization + plan counts --------------------------
    def materialize(self, df):
        """Run ``df``'s own executed plan once and return
        (checkpointed df, row count, plan stats)."""
        cp = df.localCheckpoint(eager=True)
        rows = cp.count()
        return cp, rows, self.plan_stats(df)

    def plan_stats(self, df) -> dict:
        """Counts from the executed plan of an already-run DataFrame."""
        stats = {"exchanges": 0, "python_rows": 0, "inner_join_rows": 0}
        plan = df._jdf.queryExecution().executedPlan()
        self._walk(plan, stats)
        return stats

    def _walk(self, node, stats: dict) -> None:
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            self._walk(node.executedPlan(), stats)
            return
        if "QueryStage" in name:
            self._walk(node.plan(), stats)
            return
        if name.startswith("ReusedExchange"):
            return  # counted where it was first computed
        if name == "InMemoryTableScan":
            builder = node.relation().cacheBuilder()
            key = self.spark._jvm.System.identityHashCode(builder)
            if key not in self._seen_caches:
                self._seen_caches.add(key)
                self._walk(builder.cachedPlan(), stats)
            return
        if name == "Exchange":
            stats["exchanges"] += 1
        if name.startswith(PYTHON_NODES):
            stats["python_rows"] += _metric(node, "pythonNumRowsReceived")
        if "Join" in name and node.joinType().toString() in ("Inner", "Cross"):
            stats["inner_join_rows"] += _metric(node, "numOutputRows")
        kids = node.children()
        for i in range(kids.size()):
            self._walk(kids.apply(i), stats)

    # -- stage-level counts ------------------------------------------------
    def _stage_counts(self, group: str) -> dict:
        """Shuffle bytes written by every stage of the group's jobs, and
        the records read by those stages that feed a ``PythonRDD``."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # status store caught up
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        empty = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        out = {"shuffle_bytes": 0, "python_rdd_rows": 0}
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                try:
                    attempts = list(_seq(store.stageData(stage, False, empty, False,
                                                         no_quantiles)))
                except Exception:  # skipped stage: never ran, wrote nothing
                    continue
                out["shuffle_bytes"] += sum(int(a.shuffleWriteBytes()) for a in attempts)
                if "PythonRDD" in _rdd_names(store.operationGraphForStage(stage).rootCluster()):
                    out["python_rdd_rows"] += sum(
                        int(a.inputRecords()) + int(a.shuffleReadRecords()) for a in attempts)
        return out


def _seq(scala_seq):
    for i in range(scala_seq.size()):
        yield scala_seq.apply(i)


def _rdd_names(cluster) -> set[str]:
    """Names of the RDDs in a stage's operation graph."""
    names = {n.name() for n in _seq(cluster.childNodes())}
    for c in _seq(cluster.childClusters()):
        names |= _rdd_names(c)
    return names


def _metric(node, key: str) -> int:
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0
