"""Materialized rollups + aggregate routing.

Re-implements the reference's materialization layer
(``models/schema.yml:104-129``, ``README.md:326-352``) and its query
routing (``README.md:424-431``):

* ``type: unaggregated`` (**baseline**) — a persisted snapshot of the
  metric view's (filtered, joined) source. Serves *any* non-window query at
  cached-scan speed ("~1x (cached)", ``README.md:430``).
* ``type: aggregated`` — a persisted ``groupBy(rollup dims)`` carrying
  **partial states** (sum/count/min/max pairs — see
  ``functions/aggregates.py``) so a query grouping by any *subset* of the
  rollup's dimensions re-aggregates correctly ("10-100x faster",
  ``README.md:424-429``).

Routing rules (``README.md:424-431``):

1. window measures are never served from rollups — always on the fly;
2. an aggregated rollup is eligible iff query dims ⊆ rollup dims and every
   requested measure is stored (decomposable) in it; smallest eligible
   rollup wins;
3. otherwise the baseline snapshot if present;
4. otherwise the live source.

Serving tier of a routed rollup: one of at most ``DRIVER_MAX_ROWS``
stored rows (counted from its parquet footers when it is loaded), whose
merges and column types Arrow serves with Spark's answers
(``functions/aggregates.arrow_servable``), is loaded once per
publish into a ``pyarrow.Table`` plus one ``LocalRelation`` DataFrame of
it, and served from the driver with no Spark job: the WHERE slice is a
Spark filter on the ``LocalRelation`` (returning row ids), the merge an
Arrow ``group_by`` (``merge_table``), and the result a ``LocalRelation``
whose finalize expressions are a Spark ``select``. A CDC fold of a
driver-local batch replaces that table in place of the reload
(``streaming/refresh.py::fold_retractions_on_driver``). Any other rollup
is a cached Spark scan re-aggregated by Spark. The route string is
``rollup:<name>`` either way; ``explain_route`` reports the tier.

Refresh (= ``scripts/refresh_metric_views.py`` semantics, O5 in SURVEY §2.7)
recomputes each rollup and publishes it with ``publish.publish_dir`` so
readers never see a half-written table; ``CREATE OR REPLACE`` of an
unchanged spec preserves rollup state
(``macros/generate_metric_views.sql:78-79``).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from ..functions.aggregates import (
    Decomposition,
    arrow_servable,
    decompose_aggregate,
    merge_column,
    merge_columns,
    merge_functions,
    merge_table,
    partial_columns,
)
from ..publish import publish_dir, recover_dir
from ..specs import MetricViewSpec, RollupSpec
from .compiler import (
    MetricQuery,
    QueryCompiler,
    QueryError,
    apply_derived,
    expand_derived,
    quote_ident,
)


# A multi-grain build takes the two-level shape (fine-grain pre-aggregate,
# then grouping sets over it) when Catalyst estimates its flat input at
# this size or more (see build_aggregated).
TWO_LEVEL_MIN_BYTES = 16 * 1024 * 1024
# A rollup of at most this many stored rows is served from the driver
# (module docstring). Measured on 4 cores, warm, a 2-dim rollup of N
# rows (exact cover / one-dim merge / sliced merge, driver vs Spark ms):
# N=4000 35/32/49 vs 58/103/98; N=8000 51/30/52 vs 54/90/95; N=16000
# 82/42/80 vs 76/83/92. The exact cover, which ships all N rows through
# the LocalRelation, crosses over first, between 8k and 16k rows; the
# bound sits at half of that.
DRIVER_MAX_ROWS = 4096
# row-id column of a driver-served rollup's LocalRelation
_RID = "__rid"


@dataclass(frozen=True)
class _Loaded:
    """One published rollup as read for serving: a ``LocalRelation`` of
    ``table`` (plus a ``_RID`` row-id column) when driver-served, else a
    cached parquet scan and no table. Immutable, so serving needs no
    lock."""

    df: DataFrame
    # stored rows, counted from the published files at load
    n_rows: int
    table: Optional[object] = None  # pyarrow.Table

    @property
    def tier(self) -> str:
        return "spark" if self.table is None else "driver"


def resident_table(spark: SparkSession, table) -> _Loaded:
    """The driver-tier record of the ``pyarrow.Table`` *table*: one
    ``LocalRelation`` of it plus a ``_RID`` row-id column. Both the load
    from disk and a driver fold's write-through build it here."""
    import pyarrow as pa

    rid = pa.array(range(table.num_rows), pa.int64())
    return _Loaded(spark.createDataFrame(table.append_column(_RID, rid)), table.num_rows, table)


@dataclass
class BuiltRollup:
    spec: RollupSpec
    path: str
    # measure name -> its decomposition (partial col layout in the table)
    decompositions: dict[str, Decomposition] = field(default_factory=dict)
    # stored row count, observed by the build's and each fold's write —
    # the router's cost estimate
    n_rows: Optional[int] = None


@dataclass
class MaterializationState:
    """Physical state backing one metric view's materialization block."""

    baseline: Optional[str] = None  # parquet path of the unaggregated snapshot
    # the schema the baseline build wrote, as a parquet read returns it
    # (nullable): a read that passes it infers none, so runs no Spark job
    baseline_schema: Optional[StructType] = None
    rollups: dict[str, BuiltRollup] = field(default_factory=dict)


def _nullable(t: DataType) -> DataType:
    """*t* with every field, element and value nullable, as Spark reads
    back the parquet it wrote."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _cost(built: BuiltRollup) -> tuple:
    """The router's cost order: fewest stored rows (``n_rows``)
    first, dim count as the fallback proxy."""
    return (
        built.n_rows if built.n_rows is not None else float("inf"),
        len(built.spec.dimensions),
    )


def _ineligible(
    built: BuiltRollup, query: MetricQuery, dims, measures
) -> Optional[str]:
    """Why *built* cannot serve *measures* grouped by *dims* under
    *query*'s WHERE slice; None when it can. A slice is evaluated on the
    rollup's stored dim columns before re-aggregation, so the rollup must
    cover the slice's dims as well as the grouped ones; a WHERE naming
    raw source columns can only run on live/baseline, where they exist."""
    if query.where_unresolved:
        return "WHERE references raw source columns (not dims)"
    missing = sorted((set(dims) | set(query.where_dims)) - set(built.spec.dimensions))
    if missing:
        return f"missing dims: {missing}"
    missing = sorted(set(measures) - set(built.spec.measures))
    if missing:
        return f"missing measures: {missing}"
    return None


@dataclass(frozen=True)
class Route:
    """One routing decision, made by :meth:`RollupManager.route`:
    :meth:`RollupManager.compile_routed` compiles it and
    ``MetricView.explain_route`` reports it."""

    # the storage query: derived measures expanded to their dependencies
    query: MetricQuery
    # expand_derived's projection; None when no requested measure is derived
    derived: Optional[dict]
    state: Optional[MaterializationState]
    # 'rollup' | 'baseline' | 'live'; for a split query, the window half's
    source: str
    # the rollup serving the query (source 'rollup') or, for a mixed
    # plain+window query, its plain half (the split)
    rollup: Optional[BuiltRollup]
    reason: str
    # one {rollup, n_rows, dimensions, status} dict per built rollup
    candidates: tuple[dict, ...]
    # {tier: 'driver' | 'spark', n_rows, bound} of the serving rollup
    serving: dict

    @property
    def label(self) -> str:
        """The route string, less any compile-time ``+grain:`` suffix."""
        if self.rollup is None:
            return self.source
        name = f"rollup:{self.rollup.spec.name}"
        return name if self.source == "rollup" else f"{name}+{self.source}"


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's driver-side size estimate of *df* (no job). A failed
    estimate reads as unbounded, the scale-safe side of a size gate."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 62


class WindowGrainProvider:
    """Serves window-measure *grain* aggregations from a covering rollup.

    Window measures themselves are never rollup-served (``README.md:431``
    — the frame + semiadditive reduction always runs at query time), but
    their input grain ``groupBy(dims × order).agg(partials)`` is just a
    re-aggregation problem: when some aggregated rollup's dims cover the
    grain columns (plus any WHERE-slice dims) and it stores partials for
    the same source expressions, the grain can be read from |rollup| rows
    instead of rescanning the fact. At 100 TB that turns e.g. a
    trailing-7d query into a rollup-sized sort. Purely an optimization:
    values are identical either way (partials merge associatively).
    """

    def __init__(self, mgr: "RollupManager", query: MetricQuery,
                 state: MaterializationState) -> None:
        self.mgr = mgr
        self.query = query
        self.state = state
        self.used: list[str] = []

    @staticmethod
    def _norm(expr: str) -> str:
        import re as _re

        return _re.sub(r"\s+", "", QueryCompiler.strip_source_prefix(expr)).lower()

    def __call__(self, grain_cols, needed):
        for built in sorted(self.state.rollups.values(), key=_cost):
            # partials are matched by source expression below, not by name
            if _ineligible(built, self.query, grain_cols, ()) is not None:
                continue
            fns = merge_functions(built.decompositions)
            stored: dict[str, tuple[str, str]] = {}
            for c, e in partial_columns(built.decompositions).items():
                stored.setdefault(self._norm(e), (c, fns[c]))
            sel: Optional[list[tuple[str, str, str]]] = []
            for p_expr, p_col, fn in needed:
                hit = stored.get(self._norm(p_expr))
                if hit is None or hit[1] != fn:
                    sel = None
                    break
                sel.append((p_col, hit[0], fn))
            if sel is None:
                continue
            df = self.mgr._read_rollup(built).df
            if self.query.where:
                df = df.filter(F.expr(self.query.where))
            if set(built.spec.dimensions) == set(grain_cols):
                # stored rows ARE the grain — merging a single partial is
                # the identity, so project instead of re-aggregating (saves
                # one exchange; the window sort is then the plan's only
                # shuffle)
                out = df.select(
                    *[F.col(c) for c in grain_cols],
                    *[F.col(src).alias(p_col) for p_col, src, _fn in sel],
                )
            else:
                out = df.groupBy(*[F.col(c) for c in grain_cols]).agg(
                    *[merge_column(fn, src).alias(p_col) for p_col, src, fn in sel]
                )
            self.used.append(built.spec.name)
            return out
        return None


class RollupManager:
    """Builds, refreshes, and routes to a metric view's rollups."""

    def __init__(
        self,
        spark: SparkSession,
        compiler: QueryCompiler,
        storage_dir: str,
    ) -> None:
        self.spark = spark
        self.compiler = compiler
        self.storage_dir = storage_dir
        # rollup tables are small by construction (|dim combinations|
        # rows): each is read once per publish and kept, so a routed query
        # costs no file listing / schema inference / scan. Loads and
        # invalidations hold the lock (refreshes of different views may
        # run concurrently, engine._refresh_many); reads of a loaded entry
        # take none.
        import threading

        self._loaded: dict[str, _Loaded] = {}
        self._cache_lock = threading.Lock()

    def _read_rollup(self, built: BuiltRollup) -> _Loaded:
        loaded = self._loaded.get(built.path)
        if loaded is None:
            with self._cache_lock:
                loaded = self._loaded.get(built.path)
                if loaded is None:
                    recover_dir(built.path)
                    loaded = self._load(built)
                    self._loaded[built.path] = loaded
        return loaded

    def _load(self, built: BuiltRollup) -> _Loaded:
        """The serving tier of *built* (module docstring), read from its
        published directory."""
        import pyarrow as pa
        import pyarrow.dataset as pads

        data = pads.dataset(built.path, format="parquet")
        n_rows = data.count_rows()  # footers only
        if n_rows <= DRIVER_MAX_ROWS and arrow_servable(
            data.schema, merge_functions(built.decompositions)
        ):
            # nullable like a parquet read in Spark; no file metadata
            schema = pa.schema([pa.field(f.name, f.type) for f in data.schema])
            return resident_table(self.spark, data.to_table().cast(schema))
        return _Loaded(self.spark.read.parquet(built.path).cache(), n_rows)

    def resident(self, built: BuiltRollup) -> Optional[_Loaded]:
        """*built*'s driver-tier record, loaded if it is not yet; None
        when it serves from Spark or has no stored version."""
        if not recover_dir(built.path):
            return None
        loaded = self._read_rollup(built)
        return loaded if loaded.table is not None else None

    def install(self, built: BuiltRollup, loaded: _Loaded) -> None:
        """Serve *loaded*, the driver-tier record of the table a fold just
        published for *built*, in place of the one it replaced; a fold
        that grew the rollup past ``DRIVER_MAX_ROWS`` drops it instead, so
        the next read loads the rollup for the Spark tier."""
        with self._cache_lock:
            if loaded.n_rows <= DRIVER_MAX_ROWS:
                self._loaded[built.path] = loaded
            else:
                self._loaded.pop(built.path, None)

    def _invalidate(self, path_prefix: str, keep: frozenset = frozenset()) -> None:
        """Drop the loaded rollups at or under *path_prefix*, except the
        paths in *keep*. Writers call it AFTER they publish: a read
        between an earlier drop and the publish would load the old
        version for good."""
        with self._cache_lock:
            stale = [
                p for p in self._loaded
                if (p == path_prefix or p.startswith(path_prefix + os.sep))
                and p not in keep
            ]
            for p in stale:
                loaded = self._loaded.pop(p)
                if loaded.table is None:
                    try:
                        loaded.df.unpersist()
                    except Exception:
                        pass

    # ---------------- build / refresh ----------------

    def build(
        self,
        spec: MetricViewSpec,
        state: Optional[MaterializationState] = None,
        source_is_materialized: bool = False,
    ) -> MaterializationState:
        """(Re)compute every declared materialized view for *spec*.

        Equivalent of a Lakeflow pipeline refresh
        (``scripts/refresh_metric_views.py:109-119``): full recompute with
        write-then-swap. Incremental folding of new partitions into partial
        states lives in ``streaming/refresh.py``.

        The (filtered, joined) source is cached for the duration of the
        build so N rollups cost one source scan, not N.
        *source_is_materialized* marks a source that is already a physical
        table with no filter/joins/derived dims — its ``unaggregated``
        baseline would be a byte-identical copy, so the build skips it and
        the router's live path (which scans that same table) serves those
        queries at identical cost.
        """
        state = state or MaterializationState()
        if not spec.materialization:
            self._drop_unrouted(spec.name, state)
            return state
        src = self.compiler.source_plan(spec)
        redundant_baseline = (
            source_is_materialized
            and not spec.filter
            and not spec.joins
            and all(d.expr == d.name for d in spec.dimensions)
        )
        rollup_specs = spec.materialization.materialized_views
        aggregated = [r for r in rollup_specs if r.type == "aggregated"]
        # the source has at most TWO consumers: the baseline snapshot write
        # and ONE aggregation pass over every grain. Cache only when both
        # exist — caching for a single consumer just pays the
        # materialization cost with no reuse.
        writes_baseline = (
            any(r.type == "unaggregated" for r in rollup_specs) and not redundant_baseline
        )
        cache = writes_baseline and bool(aggregated)
        if cache:
            src = src.cache()
        flat = self.compiler.baseline_projection(spec, src)
        try:
            for r in rollup_specs:
                if r.type == "unaggregated":
                    if redundant_baseline:
                        # router falls through to live
                        state.baseline = state.baseline_schema = None
                        continue
                    path = self._path(spec.name, r.name)
                    publish_dir(path, flat.write.parquet)
                    state.baseline, state.baseline_schema = path, _nullable(flat.schema)
            if aggregated:
                state.rollups.update(self.build_aggregated(spec, aggregated, flat))
        finally:
            if cache:
                src.unpersist()
        self._drop_unrouted(spec.name, state)
        return state

    def _drop_unrouted(self, mv_name: str, state: MaterializationState) -> None:
        """Drop the loaded rollups of *mv_name* that *state* does not
        route to: those a re-registered spec no longer declares."""
        self._invalidate(
            os.path.join(self.storage_dir, mv_name),
            keep=frozenset(b.path for b in state.rollups.values()),
        )

    def build_aggregated(
        self, spec: MetricViewSpec, rollups: list[RollupSpec], flat: DataFrame
    ) -> dict[str, BuiltRollup]:
        """Build one or more aggregated rollups from ONE aggregation over
        *flat* (:meth:`QueryCompiler.baseline_projection`): every dim is a
        named column and measures read it through ``flat_expr``.

        The plan shape follows from the input:

        * one grain — a plain ``groupBy`` written in one pass, no cache;
        * several grains — ``groupingSets``, whose ``grouping_id()``
          tells the grains apart (a real NULL dim value and a rolled-up
          dim are otherwise indistinguishable), cached because each
          grain's slice write reads it. At 100 TB this turns N full scans
          into one.

        Each write observes its own row count (the router's cost
        estimate), so no extra count job runs.
        """
        decs_per_rollup: dict[str, dict[str, Decomposition]] = {}
        for r in rollups:
            decs: dict[str, Decomposition] = {}
            for mname in r.measures:
                m = spec.measure(mname)
                dec = decompose_aggregate(
                    self.compiler.flat_expr(spec, m.expr, flat), prefix=f"_p_{mname}"
                )
                if dec is None:
                    raise QueryError(
                        f"rollup {r.name!r}: measure {mname!r} ({m.expr}) is not "
                        f"decomposable into partial states — serve it from baseline"
                    )
                decs[mname] = dec
            decs_per_rollup[r.name] = decs
        union = {k: d for decs in decs_per_rollup.values() for k, d in decs.items()}
        partials = [F.expr(e).alias(c) for c, e in partial_columns(union).items()]
        if len(rollups) == 1:
            r = rollups[0]
            grouped = flat.groupBy(*[F.col(d) for d in r.dimensions]).agg(*partials)
            slices = {r.name: grouped}
        else:
            all_dims = list(dict.fromkeys(d for r in rollups for d in r.dimensions))
            sets = [[d for d in all_dims if d in r.dimensions] for r in rollups]
            dims = [F.col(d) for d in all_dims]
            # cost-based switch for the two-level shape below: the fine-grain
            # pre-aggregation adds one exchange, which only pays off when the
            # source is large enough that Expand-duplicating it dominates.
            # Catalyst's own size estimate (driver-side, no job) decides —
            # the same statistic autoBroadcastJoinThreshold trusts. The
            # measured break-even on this workload sits between an ~11 MiB
            # estimate (600k-row pricing source: two-level 0.98×, a wash)
            # and ~20 MiB (6M-row replica: 0.66×); 16 MiB splits them.
            # Estimates are compressed-file-sized, so any real table is
            # orders of magnitude above the constant — it only matters at
            # toy scale, where the direct grouping sets avoid paying an
            # extra job-floor exchange. Estimation failure falls back to
            # two-level (the scale-safe default).
            if _estimated_bytes(flat) >= TWO_LEVEL_MIN_BYTES and all(sets):
                # Two-level aggregation (guide §1.2/§2.3): GROUPING SETS over
                # the source Expand-duplicates every input row once per grain
                # (G× rows into the hash aggregate — measured ~2x the
                # single-grain aggregate's time on the 6M-row pricing
                # replica). Instead, ONE aggregation at the union-of-dims
                # FINE grain collapses the source without row duplication,
                # and the grouping sets run over the (|dim-combination|-row)
                # fine table with each partial's MERGE function — valid
                # because partial states re-aggregate associatively by
                # construction (the same property the router and the
                # incremental folds rely on). A/B on the 6M-row pricing
                # replica: 0.66×; on the (much smaller) order-metrics build
                # the extra exchange costs ~0.1 s of local job floor — a
                # small-scale artifact: the fine grain's cardinality is
                # data-independent, so its collapse ratio (and the win) grows
                # with the source. Per-grain cached re-aggregation (no
                # grouping sets at all) was also tried and measured WORSE
                # (serial re-agg jobs, 1.37× on order-metrics). Fallback to
                # direct grouping sets for a zero-dimension grain: a
                # global-aggregate set emits one row even on empty input,
                # where the merge level would turn count-partials of an
                # empty source into NULL instead of 0.
                fine = flat.groupBy(*dims).agg(*partials)
                types = {f.name: f.dataType for f in fine.schema}
                grouped = fine.groupingSets(sets, *dims).agg(
                    *merge_columns(union, types=types), F.grouping_id().alias("_gid")
                )
            else:
                grouped = flat.groupingSets(sets, *dims).agg(
                    *partials, F.grouping_id().alias("_gid")
                )
            grouped = grouped.cache()
            n = len(all_dims)
            slices = {}
            for r in rollups:
                # grouping_id: leftmost grouping column = most significant
                # bit; bit set ⇔ column aggregated away in this grain
                gid = sum(
                    1 << (n - 1 - i)
                    for i, d in enumerate(all_dims)
                    if d not in r.dimensions
                )
                cols = list(r.dimensions) + list(
                    partial_columns(decs_per_rollup[r.name])
                )
                slices[r.name] = grouped.filter(F.col("_gid") == gid).select(*cols)
        out: dict[str, BuiltRollup] = {}
        try:
            for r in rollups:
                path = self._path(spec.name, r.name)
                ob = Observation()
                rows = slices[r.name].observe(ob, F.count(F.lit(1)).alias("n"))
                publish_dir(path, rows.write.parquet)
                self._invalidate(path)
                out[r.name] = BuiltRollup(
                    spec=r,
                    path=path,
                    decompositions=decs_per_rollup[r.name],
                    n_rows=int(ob.get["n"]),
                )
        finally:
            if len(rollups) > 1:
                grouped.unpersist()
        return out

    def _path(self, mv_name: str, rollup_name: str) -> str:
        return os.path.join(self.storage_dir, mv_name, rollup_name)

    def drop(self, spec_name: str) -> None:
        d = os.path.join(self.storage_dir, spec_name)
        if os.path.exists(d):
            shutil.rmtree(d)
        self._invalidate(d)

    # ---------------- routing ----------------

    def route(
        self, query: MetricQuery, state: Optional[MaterializationState]
    ) -> Route:
        """Decide the physical source for *query* — the one routing
        decision every compile and explanation reads.

        Derived measures route on their DEPENDENCIES (the derived value
        is never stored), so the expansion happens before eligibility.
        Window measures are never rollup-served (``README.md:431``), so
        rollups are ranked for the plain measures only: a plain query
        takes the cheapest eligible rollup; a mixed plain+window query
        splits, its plain half from that rollup and its window half on
        the fallback: the baseline if present and it carries every joined
        field the WHERE reads, else live."""
        storage, derived = expand_derived(query)
        spec = storage.spec
        plain = [m for m in storage.measures if not spec.measure(m).is_windowed]
        windowed = [m for m in storage.measures if spec.measure(m).is_windowed]
        built = list(state.rollups.values()) if state is not None else []
        status = [
            (_ineligible(b, storage, storage.dimensions, plain) or "eligible")
            if plain
            else "window measures never rollup-serve"
            for b in built
        ]
        eligible = [b for b, st in zip(built, status) if st == "eligible"]
        best = min(eligible, key=_cost) if eligible else None
        source = "baseline" if state is not None and state.baseline else "live"
        if best is not None and not windowed:
            source = "rollup"
            reason = f"smallest covering rollup ({best.n_rows} stored rows)"
        elif best is not None:
            reason = (
                f"mixed query split: plain measures from rollup "
                f"{best.spec.name}, windowed measures {windowed} compile "
                f"on the fly and join on the query dims"
            )
        elif windowed:
            reason = f"windowed measures {windowed} compile on the fly"
        elif storage.where_unresolved:
            reason = "WHERE references raw source columns (not dims)"
        elif not built:
            reason = "no rollups materialized"
        else:
            reason = "no rollup covers the requested dims+measures"
        lacking = (
            self.compiler.uncarried_fields(spec, storage.where)
            if source == "baseline"
            else []
        )
        if lacking:
            source = "live"
            reason += f"; the baseline snapshot does not carry {lacking}"
        if derived is not None:
            reason += (
                f"; derived measures "
                f"{[m for m in query.measures if spec.measure(m).derived]} "
                f"served from dependency measures (expansion added "
                f"{[m for m in storage.measures if m not in query.measures]})"
            )
        serving = {"tier": "spark", "n_rows": None, "bound": DRIVER_MAX_ROWS}
        if best is not None:
            loaded = self._read_rollup(best)
            serving.update(tier=loaded.tier, n_rows=loaded.n_rows)
        return Route(
            query=storage,
            derived=derived,
            state=state,
            source=source,
            rollup=best,
            reason=reason,
            candidates=tuple(
                {
                    "rollup": b.spec.name,
                    "n_rows": b.n_rows,
                    "dimensions": list(b.spec.dimensions),
                    "status": st,
                }
                for b, st in zip(built, status)
            ),
            serving=serving,
        )

    def compile_routed(self, route: Route) -> tuple[DataFrame, str]:
        """Compile *route*; returns (plan, route string) where the string
        is :attr:`Route.label` plus ``+grain:<rollups>`` when a window
        plan read its grain from stored rollups.

        Derived measures compile through their dependency query and are
        projected post-aggregation.
        """
        query = route.query
        if route.source == "rollup":
            df, label = self._compile_from_rollup(query, route.rollup), route.label
        elif route.rollup is not None:
            df, label = self._compile_split_mixed(route)
        else:
            df, label = self._compile_fallback(query, route.source, route.state)
        if route.derived is not None:
            df = apply_derived(df, query, route.derived)
        return df, label

    def _compile_fallback(
        self, query: MetricQuery, source: str, state: Optional[MaterializationState]
    ) -> tuple[DataFrame, str]:
        """Compile on the baseline snapshot or the live source; window
        grains read from a covering rollup when one stores them."""
        provider = None
        if (
            state is not None
            and state.rollups
            and any(query.spec.measure(m).is_windowed for m in query.measures)
        ):
            provider = WindowGrainProvider(self, query, state)
        # the snapshot is the flat projection, persisted (no re-join or
        # re-filter); live projects the source at query time
        flat = (
            self.spark.read.schema(state.baseline_schema).parquet(state.baseline)
            if source == "baseline"
            else None
        )
        df = self.compiler.compile_storage(query, flat, window_grain_provider=provider)
        if provider and provider.used:
            return df, f"{source}+grain:{','.join(provider.used)}"
        return df, source

    def _compile_split_mixed(self, route: Route) -> tuple[DataFrame, str]:
        """A mixed plain+window query: the plain measures re-aggregate
        from ``route.rollup`` and join on the query dims with the
        on-the-fly window plan. At scale this replaces one of the two full
        source scans with a |dim-combination|-row read.

        Both sides group the same source by the same dims, so the dim-combo
        sets are identical — an inner null-safe equi-join reassembles the
        row. The rollup side is tiny (≤ |dim combos| rows) and broadcasts.
        """
        query = route.query
        spec = query.spec
        plain = tuple(m for m in query.measures if not spec.measure(m).is_windowed)
        windowed = tuple(m for m in query.measures if spec.measure(m).is_windowed)
        pq = MetricQuery(spec, query.dimensions, plain, where=query.where)
        left = self._compile_from_rollup(pq, route.rollup).alias("_p")
        wq = MetricQuery(spec, query.dimensions, windowed, where=query.where)
        right, wroute = self._compile_fallback(wq, route.source, route.state)
        right = right.alias("_w")
        dims = list(query.dimensions)
        if dims:
            cond = F.lit(True)
            for d in dims:
                cond = cond & F.col(f"_p.{d}").eqNullSafe(F.col(f"_w.{d}"))
            joined = F.broadcast(left).join(right, cond, "inner")
        else:
            joined = left.crossJoin(right)
        out = joined.select(
            *[F.col(f"_p.{d}").alias(d) for d in dims],
            *[
                F.col(f"_p.{m}") if m in plain else F.col(f"_w.{m}")
                for m in query.measures
            ],
        )
        return out, f"rollup:{route.rollup.spec.name}+{wroute}"

    def _compile_from_rollup(self, query: MetricQuery, built: BuiltRollup) -> DataFrame:
        """Re-aggregate partial states over the query's dimension subset.

        The rollup table's dim columns are already named — no expression
        re-evaluation; merging is ``sum``/``min``/``max`` of partial
        columns (in Spark, or in Arrow for a driver-served rollup), then
        each measure's finalize expression as a Spark ``select``.
        """
        loaded = self._read_rollup(built)
        dims = list(query.dimensions)
        # exact cover: stored rows are already at the query grain — no
        # re-aggregation, the plan is a single-stage projection with zero
        # exchanges (matters at any scale: no shuffle, no codegen for an
        # aggregate)
        exact = set(dims) == set(built.spec.dimensions)
        if loaded.table is not None and not exact:
            merged = self._merge_on_driver(loaded, query, built)
        else:
            merged = loaded.df
            if query.where:
                # rollup tables store every dim under its declared name, so
                # the slice filters stored rows directly — before
                # re-aggregation, which is what makes slicing on a
                # non-grouped dim correct
                merged = merged.filter(query.where)
            if not exact:
                merged = merged.groupBy(*[F.col(d) for d in dims]).agg(
                    *merge_columns(built.decompositions, query.measures)
                )
        return merged.selectExpr(
            *[quote_ident(d) for d in dims],
            *[
                f"({built.decompositions[m].finalize}) AS {quote_ident(m)}"
                for m in query.measures
            ],
        )

    def _merge_on_driver(
        self, loaded: _Loaded, query: MetricQuery, built: BuiltRollup
    ) -> DataFrame:
        """Re-aggregate a driver-served rollup with no Spark job: the WHERE
        slice runs as a Spark filter on the ``LocalRelation`` (so it keeps
        Spark semantics) and returns row ids, the merge is an Arrow
        ``group_by``, and the merged partials come back as a
        ``LocalRelation``."""
        table = loaded.table
        if query.where:
            import pyarrow as pa

            rows = loaded.df.filter(query.where).selectExpr(quote_ident(_RID)).collect()
            table = table.take(pa.array([r[0] for r in rows], pa.int64()))
        merged = merge_table(
            table, query.dimensions, merge_functions(built.decompositions, query.measures)
        )
        return self.spark.createDataFrame(merged)
