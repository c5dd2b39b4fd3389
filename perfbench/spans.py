"""Spans around calls into the engine's layers, and the per-layer split
read back from the metrics Spark already keeps.

A span is (name, start, end, parent, run id).  Spans live in memory and
are written out once, when the run ends.  While a span with a *scope*
is open, the Spark job description is ``pb:<scope>:<rep>:<name>``;
every SQL execution, job and stage started inside it carries that
label, which is how Spark's own metrics are attributed back to scopes:

- the SQL status store (``sharedState().statusStore()``) gives each
  execution's final plan graph and its SQL metrics (Python transfer,
  codegen duration, scan rows and file bytes), rendered as strings by
  Spark: sizes to 0.1 of a KiB/MiB/GiB, times to 1 ms below a second
  and 0.1 s above;
- the core status store gives job start and end times (for the
  driver-side share of a scope's wall time) and exact per-stage shuffle
  write, spill and output byte counts.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager, nullcontext

# Scopes every traced run reports, in a fixed order.
SCOPES = ("geocode", "zone_join", "tiles", "pyramid", "queries")
PIPELINE_SCOPES = ("geocode", "zone_join", "tiles", "pyramid")
SCOPE_METRICS = (
    ("wall_s", "s", "lower"),
    ("driver_s", "s", "lower"),
    ("scan.rows", "count", "lower"),
    ("scan.bytes", "B", "lower"),
    ("codegen.s", "s", "lower"),
    ("python.rows", "count", "lower"),
    ("python.bytes_sent", "B", "lower"),
    ("python.bytes_received", "B", "lower"),
    ("python.run_s", "s", "lower"),
    ("python.start_s", "s", "lower"),
    ("shuffle.bytes", "B", "lower"),
    ("shuffle.write_s", "s", "lower"),
    ("spill.bytes", "B", "lower"),
    ("plan.exchanges", "count", "lower"),
    ("plan.python_nodes", "count", "lower"),
)
# Counters that should read the same on every run of one seed.
REPEAT_COUNTERS = ("python.rows", "scan.rows", "plan.exchanges", "plan.python_nodes", "shuffle.bytes")


class Tracer:
    """Records spans when enabled; a disabled tracer does nothing."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark, self.run_id, self.enabled = spark, run_id, enabled
        self.spans: list[dict] = []
        self.plans: list[tuple] = []  # (scope, rep, QueryExecution) run outside SQL executions
        self._stack: list[dict] = []

    def add(self, name: str, start: float, end: float) -> None:
        """Record a finished top-level span (one timed before the tracer existed)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "parent": None,
                               "run_id": self.run_id, "scope": None, "rep": 0,
                               "start": start, "end": end})

    def plan(self, qe) -> None:
        """Keep a query execution run by ``toRdd()`` for the metric walk."""
        if self.enabled and self._stack:
            top = self._stack[-1]
            self.plans.append((top["scope"], top["rep"], qe))

    def span(self, name: str, scope: str | None = None, rep: int | None = None):
        return self._span(name, scope, rep) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name, scope, rep):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            scope = parent["scope"] if scope is None else scope
            rep = parent["rep"] if rep is None else rep
        rep = rep or 0
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "scope": scope,
            "rep": rep,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        prev = sc.getLocalProperty("spark.job.description")
        if scope is not None:
            sc.setJobDescription(f"pb:{scope}:{rep}:{name}")
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            sc.setJobDescription(prev)


# ---------------------------------------------------------------------------
# Reading Spark's status stores

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM_UNIT = re.compile(r"([-\d.,]+)\s*([A-Za-z]+)?")


def parse_metric(kind: str, text: str) -> float:
    """Value of one SQL metric string.  Spark renders task-aggregated
    metrics as ``total (min, med, max ...)\\n<total> (...)`` and single
    values bare; sizes carry a binary unit, timings ms/s/m/h."""
    if text is None:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM_UNIT.match(line.strip())
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "size":
        return num * _UNITS.get(unit or "B", 1)
    if kind in ("timing", "nsTiming"):
        return num * _TIME.get(unit or "ms", 1e-3)
    return num


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def _label(desc):
    """pb:<scope>:<rep>:<name> → (scope, rep) or None."""
    if not desc or not desc.startswith("pb:"):
        return None
    parts = desc.split(":", 3)
    return parts[1], int(parts[2])


def _add_node(m: dict, name: str, mets: dict) -> None:
    """Add one plan node's metrics ({display name: value}) to scope ``m``."""
    if name in ("Exchange", "BroadcastExchange"):
        m["plan.exchanges"] += 1
    if "data sent to Python workers" in mets:
        m["plan.python_nodes"] += 1
        m["python.rows"] += mets.get("number of output rows", 0.0)
        m["python.bytes_sent"] += mets["data sent to Python workers"]
        m["python.bytes_received"] += mets.get("data returned from Python workers", 0.0)
        m["python.run_s"] += mets.get("time to run Python workers", 0.0)
        m["python.start_s"] += mets.get("time to start Python workers", 0.0) + mets.get(
            "time to initialize Python workers", 0.0)
    if name.startswith("Scan "):
        m["scan.rows"] += mets.get("number of output rows", 0.0)
        m["scan.bytes"] += mets.get("size of files read", 0.0)
    if name.startswith("WholeStageCodegen"):
        m["codegen.s"] += mets.get("duration", 0.0)


def _empty() -> dict:
    return {name: 0.0 for name, _, _ in SCOPE_METRICS} | {"out.bytes": 0.0}


class SparkMetrics:
    """Collects the labelled executions, jobs and stages of a session
    into {(scope, rep): {metric: value}}."""

    def __init__(self, spark):
        jss = spark._jsparkSession
        self.sql = jss.sharedState().statusStore()
        self.core = jss.sparkContext().statusStore()

    def collect(self, tracer: Tracer) -> dict:
        out: dict = {}
        spans = tracer.spans

        def acc(key):
            return out.setdefault(key, _empty())

        self._sql_metrics(acc)
        self._plan_metrics(acc, tracer.plans)
        job_iv = self._core_metrics(acc)
        # wall time per (scope, rep): top-level spans of that scope
        walls: dict = {}
        for s in spans:
            if s["scope"] is None or s["end"] is None:
                continue
            par = spans[s["parent"]] if s["parent"] is not None else None
            if par is not None and par["scope"] == s["scope"] and par["rep"] == s["rep"]:
                continue
            walls.setdefault((s["scope"], s["rep"]), []).append((s["start"], s["end"]))
        for key, ivs in walls.items():
            m = acc(key)
            m["wall_s"] = sum(e - b for b, e in ivs)
            m["driver_s"] = max(0.0, m["wall_s"] - _union(job_iv.get(key, [])))
        return out

    def _sql_metrics(self, acc) -> None:
        for ex in _seq(self.sql.executionsList()):
            key = _label(ex.description())
            if key is None:
                continue
            m = acc(key)
            eid = ex.executionId()
            values = self.sql.executionMetrics(eid)
            for node in _seq(self.sql.planGraph(eid).allNodes()):
                mets = {}
                for pm in _seq(node.metrics()):
                    v = values.get(pm.accumulatorId())
                    mets[pm.name()] = parse_metric(pm.metricType(), _opt(v))
                _add_node(m, node.name(), mets)

    def _plan_metrics(self, acc, plans) -> None:
        """Plans run outside a SQL execution (``toRdd().count()``) are
        not in the SQL status store; walk their final physical plan and
        read the raw metric values instead."""
        for scope, rep, qe in plans:
            m = acc((scope, rep))
            stack = [qe.executedPlan()]
            while stack:
                p = stack.pop()
                cls = p.getClass().getSimpleName()
                if cls == "AdaptiveSparkPlanExec":
                    stack.append(p.executedPlan())
                    continue
                if cls.endswith("QueryStageExec"):
                    stack.append(p.plan())
                    continue
                mets = {}
                it = p.metrics().iterator()
                while it.hasNext():
                    metric = it.next()._2()
                    kind, raw = metric.metricType(), metric.value()
                    scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(kind, 1.0)
                    mets[_opt(metric.name())] = raw * scale
                _add_node(m, p.nodeName(), mets)
                stack.extend(_seq(p.children()))

    def _core_metrics(self, acc) -> dict:
        job_iv: dict = {}
        for job in _seq(self.core.jobsList(None)):
            key = _label(_opt(job.description()))
            start, end = _opt(job.submissionTime()), _opt(job.completionTime())
            if key is None or start is None or end is None:
                continue
            job_iv.setdefault(key, []).append((start.getTime() / 1e3, end.getTime() / 1e3))
        defaults = [getattr(self.core, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
        for st in _seq(self.core.stageList(None, *defaults)):
            key = _label(_opt(st.description()))
            if key is None:
                continue
            m = acc(key)
            m["shuffle.bytes"] += st.shuffleWriteBytes()
            m["shuffle.write_s"] += st.shuffleWriteTime() / 1e9
            m["spill.bytes"] += st.diskBytesSpilled()
            m["out.bytes"] += st.outputBytes()
        return job_iv


def _union(ivs: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, end = 0.0, float("-inf")
    for b, e in sorted(ivs):
        if e > end:
            total += e - max(b, end)
            end = e
    return total


def per_layer(metrics: dict, rep: int) -> dict:
    """Flatten rep ``rep`` into ``<scope>.<metric>`` for every scope;
    scopes the workload never ran read 0."""
    flat = {}
    for scope in SCOPES:
        m = metrics.get((scope, rep), _empty())
        for name, _, _ in SCOPE_METRICS:
            flat[f"{scope}.{name}"] = m[name]
        if scope in PIPELINE_SCOPES:
            flat[f"{scope}.out.bytes"] = m["out.bytes"]
    return flat


def repeat_report(metrics: dict, rep_a: int, rep_b: int) -> dict:
    """{scope: {counter: [a, b, equal]}} for the scopes both reps ran."""
    rep = {}
    for scope in SCOPES:
        a, b = metrics.get((scope, rep_a)), metrics.get((scope, rep_b))
        if a is None or b is None:
            continue
        rep[scope] = {c: [a[c], b[c], a[c] == b[c]] for c in REPEAT_COUNTERS}
    return rep
