"""Tracing for the benchmark's traced run, recorded from outside the engine.

Spans wrap the benchmark's own calls into each layer (plan build, the
planner probes it fires, execution, scratch release). Each span has a name,
start, end, parent span id and the id of the query execution it belongs to.
Spans stay in memory and are written out when the run ends.

Per-layer numbers come from Spark's own bookkeeping, read after each query:

- the SQL status store (``sharedState().statusStore()``): per-node SQL
  metrics of every execution the query fired, folded into layers by node
  name (explode, exchange, broadcast, join, refine filter, aggregate,
  Python/Arrow, whole-stage codegen);
- the app status store: run time, CPU time and task count of each stage;
- job groups set around each phase, so a job is attributed to the plan
  build, a planner probe inside it, or the execution;
- the JVM's GC and memory-pool MXBeans through py4j.

Nothing here is active in an untraced run.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager

from opengxt_spark import joins, planner

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40, "PiB": 1 << 50}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?[\d,]*\.?\d+)\s*(PiB|TiB|GiB|MiB|KiB|B|ms|s|m|h)?")

JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")
AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
#: Every per-layer metric of a traced run: (unit, which way is better).
LAYER_METRICS = {
    "session.start_s": ("s", "lower"),
    "world.inputs_s": ("s", "lower"),
    "world.input_rows": ("count", "higher"),
    "planner.probe_s": ("s", "lower"),
    "planner.probe_jobs": ("count", "lower"),
    "joins.build_s": ("s", "lower"),
    "joins.build_jobs": ("count", "lower"),
    "joins.scratch_rdds": ("count", "lower"),
    "joins.release_s": ("s", "lower"),
    "spark.exec_s": ("s", "lower"),
    "codegen.s": ("s", "lower"),
    "cells.explode_rows": ("count", "lower"),
    "exchange.shuffle_bytes": ("B", "lower"),
    "exchange.shuffle_records": ("count", "lower"),
    "broadcast.bytes": ("B", "lower"),
    "broadcast.rows": ("count", "lower"),
    "broadcast.build_s": ("s", "lower"),
    "join.candidate_rows": ("count", "lower"),
    "join.refine_rows": ("count", "lower"),
    "join.refine_ratio": ("ratio", "higher"),
    "agg.build_s": ("s", "lower"),
    "agg.peak_mem_mb": ("MiB", "lower"),
    "agg.spill_mb": ("MiB", "lower"),
    "python.rows_out": ("count", "lower"),
    "python.bytes_in": ("B", "lower"),
    "python.bytes_out": ("B", "lower"),
    "wds.write_s": ("s", "lower"),
    "wds.bytes_written": ("B", "lower"),
    "wds.shards": ("count", "lower"),
    "tasks.run_s": ("s", "lower"),
    "tasks.cpu_s": ("s", "lower"),
    "tasks.count": ("count", "lower"),
    "jobs.count": ("count", "lower"),
    "tasks.busy_ratio": ("ratio", "higher"),
    "jvm.gc_s": ("s", "lower"),
    "jvm.heap_peak_mb": ("MiB", "lower"),
    "trace.pass_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}
#: Metrics that add up over the queries of a pass; the rest are per run,
#: per pass, or ratios.
SUMMED = tuple(k for k in LAYER_METRICS if k not in {
    "session.start_s", "world.inputs_s", "world.input_rows",
    "agg.peak_mem_mb", "join.refine_ratio", "tasks.busy_ratio",
    "jvm.gc_s", "jvm.heap_peak_mb",
    "trace.pass_s", "trace.overhead_s", "trace.overhead_ratio"})


def parse_metric(kind: str, text: str) -> tuple[float, float]:
    """(total, per-task max) of one formatted SQL metric value.

    The status store keeps values as display strings: ``"1,234"`` for sums;
    ``"12.3 MiB"`` for a single value; and for per-task metrics
    ``"total (min, med, max (stageId: taskId))\\n<total> (<min>, <med>,
    <max> (stage ...))"``. Sizes come back in bytes, times in seconds."""
    line = text.strip().splitlines()[-1].split("(stage")[0]
    vals = []
    for num, unit in _VALUE.findall(line):
        v = float(num.replace(",", ""))
        if kind == "size":
            v *= _SIZE.get(unit or "B", 1)
        elif kind in ("timing", "nsTiming"):
            v *= _TIME.get(unit or "ms", 1e-3)
        vals.append(v)
    if not vals:
        return 0.0, 0.0
    return vals[0], vals[-1]


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    """Spans plus the status-store fold for one Spark session."""

    def __init__(self, spark, t0: float):
        self.sc = spark.sparkContext
        self.t0 = t0
        jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._mf = self.sc._jvm.java.lang.management.ManagementFactory
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._qid: str | None = None
        self._groups: dict[str, list[str]] = defaultdict(list)
        self._group: list[str] = []
        self._seen_exec = -1
        self._patched: list[tuple] = []

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Record a span; with ``group`` the jobs fired inside it are tagged
        with a job group of that phase (restored on exit)."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "qid": self._qid, "start": time.perf_counter() - self.t0}
        self.spans.append(rec)
        self._stack.append(sid)
        if group:
            self._push_group(f"{rec['qid']}/{group}#{sid}", group)
        try:
            yield rec
        finally:
            if group:
                self._pop_group()
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def _push_group(self, gid: str, phase: str) -> None:
        self._group.append(gid)
        self._groups[phase].append(gid)
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    def _pop_group(self) -> None:
        self._group.pop()
        self.sc.setLocalProperty(
            "spark.jobGroup.id", self._group[-1] if self._group else None)

    def _jobs(self, phase: str) -> list[int]:
        tracker = self.sc.statusTracker()
        out = []
        for gid in self._groups.pop(phase, []):
            out.extend(tracker.getJobIdsForGroup(gid))
        return out

    # -- probe wrappers ----------------------------------------------------

    def install_probe_spans(self) -> None:
        """Wrap the planner's probe entry points so each call is a span whose
        jobs land in the ``probe`` group."""
        for mod, name in ((planner, "cached_count"), (planner, "cached_minmax"),
                          (joins, "point_density"),
                          (joins, "adaptive_cell_size")):
            orig = getattr(mod, name)

            def wrapped(*a, _orig=orig, _name=name, **kw):
                with self.span(f"probe:{_name}", group="probe"):
                    return _orig(*a, **kw)

            setattr(mod, name, wrapped)
            self._patched.append((mod, name, orig))

    def remove_probe_spans(self) -> None:
        for mod, name, orig in self._patched:
            setattr(mod, name, orig)
        self._patched.clear()

    # -- one traced query --------------------------------------------------

    def begin_query(self, qid: str) -> None:
        self._qid = qid
        self._groups.clear()
        self._rdds0 = self._persistent_rdds()
        self._start_ms = int(time.time() * 1000)

    def _persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def scratch_rdds(self) -> int:
        """RDDs persisted since the query began (the joins' scratch)."""
        return self._persistent_rdds() - self._rdds0

    def end_query(self, build_s: float, exec_s: float, release_s: float,
                  scratch_rdds: int, probe_s: float) -> dict:
        """Fold everything the finished query fired into layer metrics."""
        self._bus.waitUntilEmpty()
        m: dict[str, float] = defaultdict(float)
        jobs = {ph: self._jobs(ph) for ph in ("probe", "build", "exec")}
        m["planner.probe_s"] = probe_s
        m["planner.probe_jobs"] = len(jobs["probe"])
        m["joins.build_s"] = build_s
        m["joins.build_jobs"] = len(jobs["build"])
        m["joins.scratch_rdds"] = scratch_rdds
        m["joins.release_s"] = release_s
        m["spark.exec_s"] = exec_s
        m["jobs.count"] = sum(len(j) for j in jobs.values())
        stages: set[int] = set()
        for jid in (j for js in jobs.values() for j in js):
            stages.update(int(s) for s in _iter(self._app.job(jid).stageIds()))
        for sid in stages:
            st = self._app.lastStageAttempt(sid)
            sub = st.submissionTime()
            # A stage reused from an earlier query shows up as skipped in
            # this query's jobs but keeps its original attempt data.
            if not sub.isDefined() or sub.get().getTime() < self._start_ms:
                continue
            m["tasks.run_s"] += st.executorRunTime() / 1e3
            m["tasks.cpu_s"] += st.executorCpuTime() / 1e9
            m["tasks.count"] += st.numCompleteTasks()
        paths: set[str] = set()
        for ex in self._new_executions():
            paths |= self._fold_plan(ex, m)
        m["strategy"] = "+".join(sorted(paths)) or "none"
        self._qid = None
        return dict(m)

    def _new_executions(self):
        """Executions with an id above the last one folded, oldest first."""
        total = self._sql.executionsCount()
        k, new = 32, []
        while True:
            off = max(0, total - k)
            batch = list(_iter(self._sql.executionsList(off, total - off)))
            new = [e for e in batch if e.executionId() > self._seen_exec]
            if len(new) < len(batch) or off == 0:
                break
            k *= 4
        new.sort(key=lambda e: e.executionId())
        if new:
            self._seen_exec = new[-1].executionId()
        return new

    def skip_executions(self) -> None:
        """Mark every execution so far as folded (set-up, untraced passes)."""
        self._bus.waitUntilEmpty()
        self._new_executions()

    def _fold_plan(self, ex, m: dict) -> set[str]:
        eid = ex.executionId()
        values = self._sql.executionMetrics(eid)
        graph = self._sql.planGraph(eid)
        nodes = {}
        for nd in _iter(graph.allNodes()):
            mets = {}
            for sm in _iter(nd.metrics()):
                v = values.get(sm.accumulatorId())
                if v.isDefined():
                    mets[sm.name()] = parse_metric(sm.metricType(), v.get())
            nodes[nd.id()] = (nd.name(), mets)
        children: dict[int, list[int]] = defaultdict(list)
        for e in _iter(graph.edges()):
            children[e.toId()].append(e.fromId())
        # The plan under an InMemoryRelation is the cached input's own plan;
        # its metrics belong to the set-up job that materialised it.
        cached = [n for n, (name, _) in nodes.items() if name == "InMemoryRelation"]
        while cached:
            n = cached.pop()
            for c in children.get(n, []):
                if nodes.pop(c, None) is not None:
                    cached.append(c)

        def total(mets, key):
            return mets.get(key, (0.0, 0.0))[0]

        def rows_out(nid):
            """Output rows of a node, looking through operators that keep
            no row count (Project, codegen adapters)."""
            while nid in nodes:
                mets = nodes[nid][1]
                if "number of output rows" in mets:
                    return total(mets, "number of output rows")
                kids = children.get(nid, [])
                if len(kids) != 1:
                    return 0.0
                nid = kids[0]
            return 0.0

        paths: set[str] = set()
        for nid, (name, mets) in nodes.items():
            if name.startswith("WholeStageCodegen"):
                m["codegen.s"] += total(mets, "duration")
            elif name == "Generate":
                m["cells.explode_rows"] += total(mets, "number of output rows")
            elif name == "Exchange":
                m["exchange.shuffle_bytes"] += total(mets, "shuffle bytes written")
                m["exchange.shuffle_records"] += total(
                    mets, "shuffle records written")
            elif name == "BroadcastExchange":
                m["broadcast.bytes"] += total(mets, "data size")
                m["broadcast.rows"] += total(mets, "number of output rows")
                m["broadcast.build_s"] += total(mets, "time to build")
            elif name in JOIN_NODES:
                paths.add("broadcast" if name.startswith("Broadcast")
                          else "shuffle")
                # Catalyst folds the refine predicate into the join
                # condition, so the join's output rows are the refined
                # pairs; the rows fed in from both sides are the attempts.
                m["join.candidate_rows"] += sum(
                    rows_out(c) for c in children.get(nid, []))
                m["join.refine_rows"] += total(mets, "number of output rows")
            elif name in AGG_NODES:
                m["agg.build_s"] += total(mets, "time in aggregation build")
                m["agg.spill_mb"] += total(mets, "spill size") / (1 << 20)
                peak = mets.get("peak memory", (0.0, 0.0))[1] / (1 << 20)
                m["agg.peak_mem_mb"] = max(m.get("agg.peak_mem_mb", 0.0), peak)
            elif "Python" in name or "Pandas" in name or "Arrow" in name:
                m["python.rows_out"] += total(mets, "number of output rows")
                m["python.bytes_in"] += total(
                    mets, "data sent to Python workers")
                m["python.bytes_out"] += total(
                    mets, "data returned from Python workers")
        plan = ex.physicalPlanDescription()
        if "_salt" in plan:
            paths.add("salted")
        if "tile_x" in plan:
            paths.add("tiled")
        return paths

    # -- JVM ---------------------------------------------------------------

    def gc_seconds(self) -> float:
        return sum(b.getCollectionTime()
                   for b in self._mf.getGarbageCollectorMXBeans()) / 1e3

    def reset_heap_peak(self) -> None:
        for pool in self._heap_pools():
            pool.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed()
                   for p in self._heap_pools()) / (1 << 20)

    def _heap_pools(self):
        heap = self.sc._jvm.java.lang.management.MemoryType.HEAP
        return [p for p in self._mf.getMemoryPoolMXBeans()
                if p.getType() == heap]
