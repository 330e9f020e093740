"""Tracing for the benchmark's traced run.

`Tracer` keeps spans in memory (workload > run > call:<module.function> >
build | exec | sink) and writes them out when the run ends. `SparkProbe`
reads Spark's own counters from outside the engine: per-node SQL metrics
from the SQL status store, job/stage/task counts from the status tracker,
JVM GC time and heap peaks from the management beans, and the Python UDF
`perf` profile.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = {"id": len(self.spans),
              "parent": self._stack[-1] if self._stack else None,
              "name": name, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per `<parent name>/<span name>`: total duration, and self time
        (duration minus the time its child spans cover; children never
        overlap here)."""
        child_s: dict[int, float] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                child_s[sp["parent"]] = (child_s.get(sp["parent"], 0.0)
                                         + sp["end"] - sp["start"])
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            d = sp["end"] - sp["start"]
            key = sp["name"] if sp["parent"] is None else (
                f"{self.spans[sp['parent']]['name']}/{sp['name']}")
            agg = out.setdefault(key, {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += d
            agg["self_s"] += d - child_s.get(sp["id"], 0.0)
        return out

    def write(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [{**sp, "start": sp["start"] - t0, "end": sp["end"] - t0}
                 for sp in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "self_times": self.self_times(), **extra},
                      f, indent=1)


# --------------------------------------------------------------------------
# SQL metric values as the status store formats them
# --------------------------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4,
}
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?(?![\w])")


def parse_metric(text: str) -> tuple[float, float, float, float]:
    """(total, min, median, max) in seconds, bytes or counts. A metric
    aggregated over tasks reads `total (min, med, max (stageId: taskId))\\n
    8.0 s (1.9 s, 2.1 s, 2.1 s (stage 5.0: task 7))`; a plain count reads
    `6,000`. Per-task figures default to the total when absent."""
    body = text.split("\n", 1)[-1]
    body = re.sub(r"\(stage [^)]*\)", "", body)
    vals = [float(num.replace(",", "")) * _UNITS.get(unit or "", 1.0)
            for num, unit in _VALUE.findall(body)]
    if not vals:
        return 0.0, 0.0, 0.0, 0.0
    total = vals[0]
    mn, med, mx = (vals[1:4] if len(vals) >= 4 else (total, total, total))
    return total, mn, med, mx


# --------------------------------------------------------------------------
# Spark counters
# --------------------------------------------------------------------------

_JOIN = re.compile(r"(Join|CartesianProduct)$")
_PASS_THROUGH = {"Project", "WholeStageCodegen", "InputAdapter", "ColumnarToRow"}


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


class SparkProbe:
    """Reads Spark's counters for the actions run since the last read."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.mf = spark._jvm.java.lang.management.ManagementFactory
        self._last_exec = max((e.executionId() for e in _seq(self.store.executionsList())),
                              default=-1)

    # --- SQL status store -------------------------------------------------

    def new_executions(self) -> list[dict]:
        """Node graphs with parsed metric values of every SQL execution
        started since the previous call."""
        out = []
        for e in _seq(self.store.executionsList()):
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            self._last_exec = max(self._last_exec, eid)
            values = self.store.executionMetrics(eid)
            graph = self.store.planGraph(eid)
            nodes = {}
            for n in _seq(graph.allNodes()):
                metrics = {}
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = parse_metric(v.get())
                nodes[n.id()] = {"name": n.name(), "metrics": metrics}
            children: dict[int, list[int]] = {}
            for edge in _seq(graph.edges()):
                children.setdefault(edge.toId(), []).append(edge.fromId())
            out.append({"id": eid, "nodes": nodes, "children": children})
        return out

    # --- status tracker ---------------------------------------------------

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def job_counts(self, group: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages, tasks, failed = set(), 0, 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        for sid in stages:
            sinfo = st.getStageInfo(sid)
            if sinfo is not None:
                tasks += sinfo.numCompletedTasks
                failed += sinfo.numFailedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
                "failed_tasks": failed}

    # --- JVM --------------------------------------------------------------

    def gc_seconds(self) -> float:
        beans = self.mf.getGarbageCollectorMXBeans()
        return sum(max(0, beans.get(i).getCollectionTime())
                   for i in range(beans.size())) / 1000.0

    def _heap_pools(self):
        pools = self.mf.getMemoryPoolMXBeans()
        return [pools.get(i) for i in range(pools.size())
                if str(pools.get(i).getType()) == "Heap memory"]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2 ** 20

    # --- Python UDF perf profiler -----------------------------------------

    def set_profiler(self, on: bool) -> None:
        """Profile the Python UDFs of the actions that follow, or stop;
        results accumulate until `stop_profiler`."""
        if on:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        else:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")

    def stop_profiler(self) -> dict[str, float]:
        """Profiled seconds in all UDFs, in `functions/mvt` frames, and in
        the Arrow (de)serialisation around them (cProfile self time)."""
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        total = mvt = serde = 0.0
        for stats in self.spark._profiler_collector._perf_profile_results.values():
            total += stats.total_tt
            for (path, _line, func), (_cc, _nc, tt, _ct, _callers) in stats.stats.items():
                # the profiler strips directories from file names
                base = os.path.basename(path)
                if base == "mvt.py":
                    mvt += tt
                elif base == "serializers.py" or "pyarrow" in path or "pyarrow" in func:
                    serde += tt
        self.spark.profile.clear()
        return {"udf_cpu_s": total, "mvt_cpu_s": mvt, "arrow_serde_cpu_s": serde}


# --------------------------------------------------------------------------
# aggregates over execution graphs
# --------------------------------------------------------------------------


def metric_total(execs: list[dict], name: str) -> float:
    return sum(n["metrics"][name][0] for e in execs for n in e["nodes"].values()
               if name in n["metrics"])


def python_task_skew(execs: list[dict]) -> float:
    """Slowest over median task `time to run Python workers` of the Python
    node that ran longest; 0 when no Python stage ran."""
    key = "time to run Python workers"
    best = max((n["metrics"][key] for e in execs for n in e["nodes"].values()
                if key in n["metrics"]), key=lambda v: v[0], default=None)
    if best is None or best[2] <= 0:
        return 0.0
    return best[3] / best[2]


def join_pairs(execs: list[dict]) -> tuple[float, float]:
    """(candidate, output) pairs: rows out of every join operator, and rows
    out of the exact refine — the Filter sitting on a join (through
    projections) or, where none does, the join itself, whose own
    condition is then the refine."""
    rows = "number of output rows"
    cand = out = 0.0
    for e in execs:
        nodes, children = e["nodes"], e["children"]

        def below(nid: int) -> int:
            # first descendant that is not a pass-through operator
            while nodes[nid]["name"] in _PASS_THROUGH and len(children.get(nid, [])) == 1:
                nid = children[nid][0]
            return nid

        refined = set()
        for nid, n in nodes.items():
            if n["name"] == "Filter" and rows in n["metrics"]:
                kids = children.get(nid, [])
                if len(kids) == 1 and _JOIN.search(nodes[below(kids[0])]["name"]):
                    refined.add(below(kids[0]))
                    out += n["metrics"][rows][0]
        for nid, n in nodes.items():
            if _JOIN.search(n["name"]) and rows in n["metrics"]:
                cand += n["metrics"][rows][0]
                if nid not in refined:
                    out += n["metrics"][rows][0]
    return cand, out
