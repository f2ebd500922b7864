"""Span tracer for the traced benchmark mode.

Spans are recorded from the benchmark's own files: :func:`install` wraps
the engine's public entry points (the layer boundaries) and the benchmark
opens spans around its own steps (session start, set-up steps, ops,
fresh reads). Nothing inside the engine is edited.

Every span sets its own Spark job group on the calling thread, so the
jobs Spark runs while the span is innermost are exactly the span's *self*
jobs (``statusTracker().getJobIdsForGroup``); a span's total is its self
jobs plus its descendants'. Spans live in memory and are aggregated once,
when the run ends.
"""

from __future__ import annotations

import functools
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable, Optional


class Span:
    __slots__ = ("name", "parent", "phase", "start", "end", "jobs", "stages",
                 "tasks", "attrs", "group")

    def __init__(self, name: str, parent: Optional["Span"], phase: str, group: str):
        self.name = name
        self.parent = parent
        self.phase = phase
        self.group = group
        self.start = time.perf_counter()
        self.end = self.start
        self.jobs = self.stages = self.tasks = 0
        self.attrs: dict[str, Any] = {}

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """Collects spans. A disabled tracer's :meth:`span` yields ``None`` and
    touches neither the clock nor Spark."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.phase = "setup"
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._seq = 0
        # a span whose call fans work out to worker threads (run,
        # refresh_all); spans opened on threads with no stack of their own
        # hang under it, and jobs run with no job group count as its own
        self._fanout: Optional[Span] = None

    # -- per-thread switch: ops alternate traced / untraced -------------
    def set_thread_tracing(self, on: bool) -> None:
        self._local.off = not on

    def _active(self) -> bool:
        return self.enabled and not getattr(self._local, "off", False)

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, fanout: bool = False):
        if not self._active():
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._fanout
        with self._lock:
            self._seq += 1
            group = f"perfbench-{self._seq}"
        sc = _active_context()
        saved, ungrouped = None, set()
        if sc is not None:
            saved = (sc.getLocalProperty("spark.jobGroup.id"),
                     sc.getLocalProperty("spark.job.description"))
            sc.setJobGroup(group, name)
            if fanout:
                ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
        s = Span(name, parent, self.phase, group)
        stack.append(s)
        if fanout:
            self._fanout = s
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if fanout:
                self._fanout = None
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", saved[0])
                sc.setLocalProperty("spark.job.description", saved[1])
                tracker = sc.statusTracker()
                ids = list(tracker.getJobIdsForGroup(group))
                if fanout:
                    ids += set(tracker.getJobIdsForGroup(None)) - ungrouped
                _count_jobs(tracker, ids, s)
            with self._lock:
                self.spans.append(s)

    # -- wrapping public entry points ------------------------------------
    def wrap(self, owner: Any, attr: str, name: str,
             on_result: Optional[Callable[[Span, tuple, Any], None]] = None,
             fanout: bool = False) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, fanout=fanout) as s:
                out = fn(*args, **kwargs)
                if s is not None and on_result is not None:
                    on_result(s, args, out)
                return out

        setattr(owner, attr, traced)


def _active_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


def _count_jobs(tracker, ids: list, s: Span) -> None:
    s.jobs = len(ids)
    for jid in ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                s.stages += 1
                s.tasks += st.numCompletedTasks


def _record_route(s: Span, _args: tuple, out: Any) -> None:
    s.attrs["route"] = out[1]


def _record_phases(s: Span, args: tuple, _out: Any) -> None:
    """Catalyst phase times of the collected DataFrame's QueryExecution."""
    phases = args[0]._jdf.queryExecution().tracker().phases()  # a Scala Map
    for key in ("analysis", "optimization", "planning"):
        summary = phases.get(key)
        if summary.isDefined():
            s.attrs[f"{key}_ms"] = float(summary.get().durationMs())


def install(tracer: Tracer) -> None:
    """Wrap the engine's public entry points in spans. Call sites that
    look the function up on its module or class at call time see the
    wrapper."""
    from pyspark.sql.classic.dataframe import DataFrame

    from dbt_databricks_metrics_spark import session, sql_frontend
    from dbt_databricks_metrics_spark.engine import MetricEngine, MetricView

    tracer.wrap(session, "get_spark", "get_spark")
    tracer.wrap(MetricEngine, "run", "MetricEngine.run", fanout=True)
    tracer.wrap(MetricEngine, "refresh_all", "MetricEngine.refresh_all", fanout=True)
    tracer.wrap(MetricEngine, "refresh", "MetricEngine.refresh")
    tracer.wrap(MetricEngine, "refresh_cdc", "MetricEngine.refresh_cdc")
    tracer.wrap(MetricView, "query_routed", "MetricView.query_routed",
                on_result=_record_route)
    tracer.wrap(sql_frontend, "execute_sql", "execute_sql")
    tracer.wrap(DataFrame, "collect", "DataFrame.collect", on_result=_record_phases)


# ---------------------------------------------------------------------------
# aggregation


def median(xs: list[float]) -> float:
    """The median, or 0 for a layer that made no calls."""
    return statistics.median(xs) if xs else 0.0


class Summary:
    """Self time and total jobs per span, from the finished span list."""

    def __init__(self, spans: list[Span]) -> None:
        self.spans = spans
        self.children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(id(s.parent), []).append(s)

    def self_ms(self, s: Span) -> float:
        """Duration minus the part of the interval child spans cover
        (children of a fan-out run in parallel, so take their union)."""
        ivs = sorted((max(c.start, s.start), min(c.end, s.end))
                     for c in self.children.get(id(s), ()))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return max(0.0, s.ms - covered * 1e3)

    def total(self, s: Span, field: str) -> int:
        return getattr(s, field) + sum(self.total(c, field)
                                       for c in self.children.get(id(s), ()))

    def select(self, name: str, phase: Optional[str] = None,
               pred: Optional[Callable[[Span], bool]] = None) -> list[Span]:
        return [s for s in self.spans
                if s.name == name and (phase is None or s.phase == phase)
                and (pred is None or pred(s))]

    def layer(self, spans: list[Span], ms_name: str,
              jobs_name: Optional[str]) -> dict[str, float]:
        """Medians per call: duration (*ms_name*), self time (the same name
        ending in ``self_ms``) and total Spark jobs (*jobs_name*)."""
        out = {ms_name: median([s.ms for s in spans]),
               ms_name[:-2] + "self_ms": median([self.self_ms(s) for s in spans])}
        if jobs_name:
            out[jobs_name] = median([self.total(s, "jobs") for s in spans])
        return out
