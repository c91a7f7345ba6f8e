"""Benchmark-side tracing: spans around calls into the engine's layers,
Spark job/stage/task counts per span, and SQL metrics read from executed
physical plans.

Nothing here reaches inside ``hbase_taggregator_spark``: a span wraps one
call into a layer's public function from the benchmark's side. Each span
runs its Spark jobs under its own job group, so ``statusTracker`` gives the
exact jobs it caused; jobs the engine starts from its own threads carry no
group and are claimed by the innermost span open when they finished. Stage
shuffle and output volumes come from Spark's status store, so they cover
writes too; scan, aggregate and Python-node metrics come from the plans
the benchmark itself collects (:meth:`Tracer.plan`).
"""

from __future__ import annotations

import itertools
import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: physical nodes that only wrap another plan; the walker descends through
#: them (AQE's final plan, and every shuffle / broadcast / result stage)
_WRAPPER_SUFFIX = "QueryStageExec"


@dataclass
class PlanNode:
    cls: str
    metrics: dict[str, int]
    #: wrapper classes between the root and this node
    under: tuple[str, ...]
    #: a file scan's root path, else ""
    root: str = ""


#: one ``name -> SQLMetric(id: .., name: .., value: v)`` entry of a
#: node's metric map as Scala prints it
_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.length())]


def plan_nodes(plan) -> list[PlanNode]:
    """Every node of an executed physical plan with its SQL metrics,
    descending below ``AdaptiveSparkPlanExec`` into the final plan and
    below each ``ShuffleQueryStage`` / ``BroadcastQueryStage`` /
    ``ResultQueryStage`` into the stage's plan, and into subqueries.

    Each JVM round trip is slow, so a node's metrics are read as one
    printed map rather than metric by metric."""
    out: list[PlanNode] = []
    stack = [(plan, ())]
    while stack:
        node, under = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append((node.executedPlan(), under + (cls,)))
            continue
        if cls.endswith(_WRAPPER_SUFFIX):
            stack.append((node.plan(), under + (cls,)))
            continue
        metrics = {k: int(v) for k, v in _METRIC.findall(node.metrics().toString())}
        root = (str(node.relation().location().rootPaths().head())
                if cls == "FileSourceScanExec" else "")
        out.append(PlanNode(cls, metrics, under, root))
        stack += [(c, under) for c in _seq(node.children())]
        stack += [(c, under) for c in _seq(node.subqueries())]
    return out


def df_plan_nodes(df) -> list[PlanNode]:
    """:func:`plan_nodes` of a DataFrame that has already run an action."""
    return plan_nodes(df._jdf.queryExecution().executedPlan())


def plan_counts(nodes: list[PlanNode]) -> dict[str, int]:
    """Per-plan totals of the node metrics the benchmark reports."""
    c = dict.fromkeys(
        ("files_read", "rows_scanned", "scan_time_ms", "agg_time_ms",
         "exchange_bytes", "exchange_records", "python_nodes"), 0)
    for n in nodes:
        m = n.metrics
        if n.cls == "FileSourceScanExec":
            c["files_read"] += m.get("numFiles", 0)
            c["rows_scanned"] += m.get("numOutputRows", 0)
            c["scan_time_ms"] += m.get("scanTime", 0)
        elif n.cls.endswith("AggregateExec"):
            c["agg_time_ms"] += m.get("aggTime", 0)
        elif n.cls == "ShuffleExchangeExec":
            c["exchange_bytes"] += m.get("shuffleBytesWritten", 0)
            c["exchange_records"] += m.get("shuffleRecordsWritten", 0)
        elif "Python" in n.cls or "ArrowEval" in n.cls:
            c["python_nodes"] += 1
    return c


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)
    #: (root path, files read) of every file scan in the span's plans
    scans: list[tuple[str, int]] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """Records spans in memory; :meth:`dump` writes them out at the end.

    A disabled tracer makes :meth:`span` and :meth:`plan` no-ops, so the
    workloads run one code path traced and untraced."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._claimed: set[int] = set()
        if enabled:
            self.skip_untraced()

    def skip_untraced(self) -> None:
        """Mark every ungrouped job run so far as belonging to no span
        (call before tracing resumes after untraced work)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self._claimed |= set(self.sc.statusTracker().getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        i = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        sp = Span(i, name, self.op, parent.id if parent else None, f"perfbench-{i}")
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self._count_jobs(sp)
            self.spans.append(sp)

    def _count_jobs(self, sp: Span) -> None:
        # the status store is fed asynchronously by the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = set(st.getJobIdsForGroup(sp.group))
        free = set(st.getJobIdsForGroup(None)) - self._claimed
        self._claimed |= free
        jobs |= free
        store = self.sc._jsc.sc().statusStore()
        c = dict.fromkeys(("stages", "tasks", "shuffle_bytes", "shuffle_records",
                           "output_bytes"), 0)
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                # a stage whose shuffle output is reused runs no task
                if si is None or si.numCompletedTasks == 0:
                    continue
                sd = store.lastStageAttempt(s)
                c["stages"] += 1
                c["tasks"] += si.numCompletedTasks
                c["shuffle_bytes"] += sd.shuffleWriteBytes()
                c["shuffle_records"] += sd.shuffleWriteRecords()
                c["output_bytes"] += sd.outputBytes()
        sp.counts.update(jobs=len(jobs), **c)

    def plan(self, sp: Span | None, df) -> None:
        """Add the executed plan's node metrics to a span's counts."""
        if sp is None:
            return
        nodes = df_plan_nodes(df)
        for k, v in plan_counts(nodes).items():
            sp.counts[k] = sp.counts.get(k, 0) + v
        sp.scans += [(n.root, n.metrics.get("numFiles", 0))
                     for n in nodes if n.root]

    def count(self, sp: Span | None, **counts: float) -> None:
        if sp is not None:
            for k, v in counts.items():
                sp.counts[k] = sp.counts.get(k, 0) + v

    # -- derived ---------------------------------------------------------
    def self_ms(self, sp: Span) -> float:
        """Span duration minus the part its (sequential) children cover."""
        return sp.ms - sum(c.ms for c in self.spans if c.parent == sp.id)

    def inclusive(self, sp: Span, key: str) -> float:
        """A count summed over a span and all its descendants."""
        total = sp.counts.get(key, 0)
        for c in self.spans:
            if c.parent == sp.id:
                total += self.inclusive(c, key)
        return total

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
                    "start_ms": round((s.start - t0) * 1e3, 3),
                    "end_ms": round((s.end - t0) * 1e3, 3),
                    "self_ms": round(self.self_ms(s), 3),
                    "counts": s.counts,
                }) + "\n")
