"""Tracing for the traced run: spans recorded around the benchmark's own
calls into the package, and the engine's own reports read from outside.

A span holds a name, start, end, parent and trace id. Spans stay in
memory until the run ends and are then written out as JSON. Spark SQL
executions belong to the innermost span that was open when they started:
the run is sequential, so the probe diffs the execution ids before and
after each span. Node metrics come from Spark's status store
(``planGraph`` / ``executionMetrics``), which is populated with the UI
disabled too.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Spark renders metric values for display; these convert them back to
# milliseconds and bytes.
_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}


def parse_metric(text: str) -> float:
    """Numeric value of one ``executionMetrics`` entry: ``'1,234'``,
    ``'256.0 KiB'``, the multi-task form ``'total (min, med, max
    ...)\\n33 ms (0 ms, 1 ms, 5 ms (stage 3.0: task 40))'``, or, for a
    metric without a total, the max of ``'(min, med, max ...):\\n(1, 1,
    3 (stage 46.0: task 87))'``."""
    line = text.strip().split("\n")[-1]
    if line.startswith("("):
        line = line[1:].split(" (")[0].split(", ")[-1]
    parts = line.split(" (")[0].split()
    value = float(parts[0].replace(",", ""))
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


# (node-name test, metric name) -> layer key. Times are ms, sizes bytes.
_LAYER_RULES = (
    ("scan_ms", lambda n: n.startswith("Scan"), "scan time"),
    ("shuffle_bytes", lambda n: n == "Exchange", "shuffle bytes written"),
    ("shuffle_write_ms", lambda n: n == "Exchange", "shuffle write time"),
    ("pipeline_ms", lambda n: n.startswith("WholeStageCodegen"), "duration"),
    ("agg_ms", lambda n: True, "time in aggregation build"),
    ("join_build_ms", lambda n: n == "BroadcastExchange", "time to build"),
    ("join_build_ms", lambda n: True, "time to build hash map"),
    ("broadcast_bytes", lambda n: n == "BroadcastExchange", "data size"),
    ("broadcast_collect_ms", lambda n: n == "BroadcastExchange", "time to collect"),
    ("python_ms", lambda n: True, "time to run Python workers"),
    ("spill_bytes", lambda n: True, "spill size"),
)
_SEP = "\x1f"  # joins gateway strings; absent from metric names and values
LAYER_KEYS = tuple(dict.fromkeys(k for k, _, _ in _LAYER_RULES))


def rollup(nodes: list[dict]) -> dict[str, float]:
    """Sum node metrics into the engine layers of ``LAYER_KEYS``."""
    out = dict.fromkeys(LAYER_KEYS, 0.0)
    for node in nodes:
        for key, name_ok, metric in _LAYER_RULES:
            if metric in node["metrics"] and name_ok(node["name"]):
                out[key] += node["metrics"][metric]
    return out


class ExecutionProbe:
    """Reads Spark's SQL status store through the JVM gateway."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._plans: dict[int, tuple[list[dict], list[tuple[int, int]]]] = {}

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def last_id(self) -> int:
        """Highest execution id recorded so far (after the listener bus
        has delivered every pending event), or -1."""
        self._bus.waitUntilEmpty()
        n = int(self._store.executionsCount())
        if n == 0:
            return -1
        return int(self._list(self._store.executionsList(n - 1, 1))[0].executionId())

    def execution(self, eid: int) -> dict | None:
        """Start/end (epoch s) and job count of one execution; None if
        the store has already evicted it."""
        opt = self._store.execution(eid)
        if opt.isEmpty():
            return None
        ex = opt.get()
        end = ex.completionTime()
        start = ex.submissionTime() / 1000.0
        return {
            "start": start,
            "end": end.get().getTime() / 1000.0 if end.isDefined() else start,
            "jobs": int(ex.jobs().size()),
        }

    def plan(self, eid: int) -> tuple[list[dict], list[tuple[int, int]]]:
        """Final (post-AQE) plan nodes with their metric values and
        enclosing codegen stage, and the child -> parent edges. Read once
        per execution; each node costs three gateway calls."""
        if eid not in self._plans:
            self._plans[eid] = self._read_plan(eid)
        return self._plans[eid]

    def _read_plan(self, eid: int) -> tuple[list[dict], list[tuple[int, int]]]:
        graph = self._store.planGraph(eid)
        # "accumulatorId -> rendered value" pairs; a value may span lines
        values = {}
        for pair in self._store.executionMetrics(eid).mkString(_SEP).split(_SEP):
            if pair:
                acc, _, text = pair.partition(" -> ")
                values[int(acc)] = text
        cluster_of = {}  # operator id -> id of its WholeStageCodegen node
        for top in self._list(graph.nodes()):
            if top.getClass().getSimpleName() == "SparkPlanGraphCluster":
                for member in self._list(top.nodes()):
                    cluster_of[int(member.id())] = int(top.id())
        nodes = []
        for node in self._list(graph.allNodes()):
            metrics = {}
            # "SQLPlanMetric(name,accumulatorId,metricType)"; names may hold commas
            for m in node.metrics().mkString(_SEP).split(_SEP):
                if m:
                    name, acc, _ = m[len("SQLPlanMetric("):-1].rsplit(",", 2)
                    if int(acc) in values:
                        metrics[name] = parse_metric(values[int(acc)])
            node_id = int(node.id())
            nodes.append({"id": node_id, "name": node.name(), "metrics": metrics,
                          "cluster": cluster_of.get(node_id)})
        edges = [(int(e.fromId()), int(e.toId())) for e in self._list(graph.edges())]
        return nodes, edges


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    trace_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs nothing and
    records nothing, so the untraced run measures the program alone."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.probe: ExecutionProbe | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._claimed_upto = -1

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        if self.probe is not None:
            self._claim(self._stack[-1] if self._stack else None)
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, next(self._ids), parent, self.trace_id, time.time(), attrs=attrs)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if self.probe is not None:
                self._claim(sp)

    def _claim(self, owner: Span | None) -> None:
        """Attach the executions started since the last claim to
        ``owner`` as child spans named ``sql`` (outside any span they
        are dropped)."""
        last = self.probe.last_id()
        ids = list(range(self._claimed_upto + 1, last + 1))
        self._claimed_upto = last
        if owner is None:
            return
        owner.attrs.setdefault("executions", []).extend(ids)
        for eid in ids:
            ex = self.probe.execution(eid)
            if ex is not None:
                self.add("sql", ex["start"], ex["end"], owner.span_id, execution=eid)

    def current(self) -> int | None:
        """Id of the innermost open span, or None."""
        return self._stack[-1].span_id if self._stack else None

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        """Record a span rebuilt from an engine report (a micro-batch
        from its progress record, an SQL execution from the store)."""
        sp = Span(name, next(self._ids), parent, self.trace_id, start, end, attrs)
        self.spans.append(sp)
        return sp

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that its children cover."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            covered, cursor = 0.0, sp.start
            for c in sorted(children.get(sp.span_id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[sp.span_id] = (sp.end - sp.start) - covered
        return out

    def dump(self, path) -> None:
        st = self.self_times()
        rows = [dict(asdict(s), self_s=st[s.span_id]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": rows}, f)
