"""Query compiler: ``MEASURE()`` expansion as a Catalyst logical plan.

Implements the analyst query path of the reference
(``README.md:124-141, 399-422``): ``SELECT dim, MEASURE(m) FROM mv GROUP BY
dim`` expands each measure's declared aggregate over the metric view's
(filtered, joined) source, grouped by whatever dimensions the *query*
chooses. Here the expansion produces a DataFrame plan built entirely from
``F.expr`` so Catalyst performs pushdown / pruning / join selection —
Catalyst plays the role the Databricks SQL warehouse plays for the
reference.

There is one expansion, over a *flat projection* of that source
(:meth:`QueryCompiler.baseline_projection`): every dimension is a column
under its name, measures read it through :meth:`QueryCompiler.flat_expr`,
and the query's WHERE filters it as written. The live route projects the
source at query time; the baseline route reads the persisted projection;
rollup builds and folds aggregate the same projection. Catalyst pushes a
WHERE through the projection into the scans.

Window measures (``models/schema.yml:92-103``, ``README.md:250-278``)
compile to Spark ``Window`` range frames + a semiadditive-last reduction
(``F.max_by``). When the base aggregate decomposes into partial states
the plan pre-aggregates to the (dims × order) grain *before* windowing,
so the window sort touches |dims × dates| rows instead of raw source
rows — the difference between sorting ~2k rows and ~600k at sf0.1, and
between gigabytes and terabytes at 100 TB.

Declared joins (``README.md:282-300``) compile to left equi-joins with the
base relation aliased ``source`` and each join by its name; snowflake
(nested) joins chain aliases and dotted dimension paths
(``customer.nation.name``) are rewritten to the leaf alias.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.aggregates import (
    decompose_aggregate,
    merge_column,
    merge_functions,
    partial_columns,
)
from ..specs import JoinSpec, Measure, MetricViewSpec, WindowClause


class QueryError(ValueError):
    pass


def _identifier_tokens(sql: str) -> list[tuple[str, bool]]:
    """(token, is_function_call) for every bare identifier of *sql*,
    skipping single-quoted string literals and dotted-path members
    (``a.b`` yields only ``a``). ``is_function_call`` is True when the
    token is immediately followed by ``(`` — ``year(order_date)`` is a
    function use, ``year > 1995`` names a column."""
    out: list[tuple[str, bool]] = []
    # strip string literals so their contents never look like identifiers
    stripped = re.sub(r"'(?:[^'\\]|\\.)*'", "''", sql)
    for m in re.finditer(r"[A-Za-z_][A-Za-z0-9_]*", stripped):
        if m.start() > 0 and stripped[m.start() - 1] == ".":
            continue  # member of a dotted path — not a bare name
        rest = stripped[m.end() :].lstrip()
        is_call = rest.startswith("(")
        if not is_call and m.group(0).lower() in _TIME_UNITS:
            # `interval 7 day` / `date_add(d, 7, 'day')`-style unit
            # keywords appear bare but never name a column WHEN directly
            # preceded by a number or the INTERVAL keyword — only that
            # context exempts them (a raw column named `day` used as
            # `day > 5` still counts as an identifier)
            before = stripped[: m.start()].rstrip()
            # trailing digit (`interval 7 day`), quote (the quantity was a
            # stripped string literal: `interval '7' day`), or the
            # INTERVAL keyword itself (`interval day` is invalid SQL but
            # harmless to exempt)
            if re.search(r"(\d|'|\binterval)$", before, re.IGNORECASE):
                continue
        out.append((m.group(0), is_call))
    return out


def _sub_names(sql: str, subs: dict[str, str]) -> str:
    """Replace each bare identifier of *sql* named in *subs*, in order,
    outside single-quoted string literals; dotted-path members and
    function names are left alone."""
    parts = re.split(r"('(?:[^'\\]|\\.)*')", sql)
    for i in range(0, len(parts), 2):  # odd parts are quoted literals
        for name, new in subs.items():
            parts[i] = re.sub(
                rf"(?<![\w.]){re.escape(name)}(?![\w(])", lambda _m: new, parts[i]
            )
    return "".join(parts)


# the flat projection's copy of a source column that a same-named
# dimension replaces, kept for the measures that read the column
SHADOWED = "__source_"


def quote_ident(name: str) -> str:
    """*name* as a backtick-quoted SQL identifier, embedded backticks
    doubled. Driver-tier steps are SQL text (``filter``/``selectExpr``),
    one py4j call each, instead of one ``F.col``/``F.expr`` per column."""
    return "`" + name.replace("`", "``") + "`"


# semiadditive reduction of a window measure's frame values
_REDUCE_BY = {"last": F.max_by, "first": F.min_by}


_TIME_UNITS = frozenset(
    "microsecond millisecond second minute hour day week month quarter year "
    "microseconds milliseconds seconds minutes hours days weeks months quarters years".split()
)


# KEYWORD tokens that may appear bare in a query-time WHERE without
# naming a column (operators, literal markers, CASE grammar). Scalar
# FUNCTION names are deliberately NOT listed: a function use is
# recognized by its call syntax (`year(...)`), so a BARE `year` always
# refers to a column — a source column named like a SQL function must
# not silently pass as vocabulary (it would make routing route-dependent:
# fine on live, column-not-found on a rollup). See where_unresolved.
_SQL_WHERE_VOCAB = frozenset(
    """
    and or not in between like ilike rlike regexp is null true false
    case when then else end as distinct exists any all
    date timestamp interval current_date current_timestamp
    """.split()
)


@dataclass
class MetricQuery:
    """A validated (dimensions × measures [× dim-filter]) request.

    ``where`` is the analyst's query-time slice (``SELECT dim, MEASURE(m)
    FROM mv WHERE other_dim = 'x' GROUP BY dim``): a predicate over
    **declared dimensions** — including ones absent from the GROUP BY —
    applied to the (filtered, joined) source *before* expansion. Measures
    are aggregation results and cannot appear in WHERE (use HAVING-style
    post-filtering on the result DataFrame instead).
    """

    spec: MetricViewSpec
    dimensions: tuple[str, ...]
    measures: tuple[str, ...]
    where: Optional[str] = None

    def __post_init__(self) -> None:
        seen: set[str] = set()
        for d in self.dimensions:
            if d in seen:
                raise QueryError(f"duplicate dimension {d!r} in query")
            seen.add(d)
            self.spec.dimension(d)  # raises SpecError if undeclared
        for m in self.measures:
            if m in seen:
                raise QueryError(f"name {m!r} appears twice in query")
            seen.add(m)
            self.spec.measure(m)
        if not self.measures:
            raise QueryError("query needs at least one measure (MEASURE() contract)")
        dim_names = {d.name for d in self.spec.dimensions}
        measure_names = {m.name for m in self.spec.measures}
        where_dims: list[str] = []
        unresolved = False
        if self.where:
            for tok, is_call in _identifier_tokens(self.where):
                # measure check FIRST: a measure name is rejected even in
                # call syntax — the clear error beats a later opaque
                # analysis failure (and measures shadowing real function
                # names are a spec smell worth surfacing)
                if tok in measure_names:
                    raise QueryError(
                        f"measure {tok!r} cannot appear in WHERE — measures are "
                        f"aggregates; filter the result DataFrame instead"
                    )
                if is_call:
                    continue  # function use (`year(...)`) — never a column
                if tok in dim_names:
                    if tok not in where_dims:
                        where_dims.append(tok)
                elif tok.lower() not in _SQL_WHERE_VOCAB:
                    # a bare identifier that is neither a declared dimension
                    # nor SQL keyword → presumably a raw source column (even
                    # if it shadows a function name like `year` — bare use
                    # is column use). Legal on live/baseline (source columns
                    # exist there) but NOT on rollup tables, which store
                    # only dims + partials — routing must skip rollups or
                    # the same query would succeed/fail depending on route.
                    unresolved = True
        # dims the slice references: routing needs a rollup covering these too
        self.where_dims: tuple[str, ...] = tuple(where_dims)
        self.where_unresolved: bool = unresolved


ResolveFn = Callable[[str], DataFrame]


def expand_derived(query: MetricQuery):
    """Rewrite a query over DERIVED measures (dbt metrics'
    ``calculation_method: derived`` — a measure whose expr references
    sibling MEASURE names, e.g. ``aov = total_revenue / order_count``)
    into (inner_query, projection):

    * projection is None when no requested measure is derived — use the
      query as-is;
    * otherwise inner_query requests the non-derived measures plus every
      TRANSITIVE plain dependency of the derived ones (chains of derived
      measures are walked down to their plain leaves), and projection is
      {"order": topo-ordered [(derived_name, expr)], "output": requested
      measure names} consumed by :func:`apply_derived`.

    Routing keys off inner_query, so a derived measure is rollup-served
    whenever its DEPENDENCIES are covered — the derived value itself is
    never stored (specs reject materializing it)."""
    spec = query.spec
    derived = [m for m in query.measures if spec.measure(m).derived]
    if not derived:
        return query, None
    storage = [m for m in query.measures if not spec.measure(m).derived]
    # Transitive closure: derived measures may reference other derived
    # measures (chains — cycles are refused at spec validation), so walk
    # refs down to the PLAIN measures (those go to storage / routing) and
    # collect every derived node touched (requested or intermediate).
    needed: list[str] = []
    frontier = list(derived)
    while frontier:
        dn = frontier.pop(0)
        if dn in needed:
            continue
        needed.append(dn)
        for ref in spec.measure_refs(dn):
            if spec.measure(ref).derived:
                frontier.append(ref)
            elif ref not in storage:
                storage.append(ref)
    inner = MetricQuery(spec, query.dimensions, tuple(storage), where=query.where)
    # dependency-ordered so apply_derived can project sequentially (a
    # chain's tail resolves only after its head exists as a column)
    proj = {
        "order": [
            (n, spec.measure(n).expr) for n in spec.derived_topo_order(needed)
        ],
        "output": list(query.measures),
    }
    return inner, proj


def apply_derived(df: DataFrame, query: MetricQuery, proj) -> DataFrame:
    """Project the inner result back to the requested (dims, measures):
    derived names evaluate their expr over the computed measure columns —
    sequentially, in dependency order, so chained derived measures
    resolve; un-requested dependencies (plain or intermediate derived)
    drop at the final select."""
    for n, e in proj["order"]:
        df = df.withColumn(n, F.expr(e))
    return df.select(*query.dimensions, *proj["output"])


class QueryCompiler:
    """Compiles MetricQuery → DataFrame against a resolver of table names."""

    def __init__(self, resolve: ResolveFn) -> None:
        self.resolve = resolve

    # ---------------- source assembly (filter + joins) ----------------

    @staticmethod
    def strip_source_prefix(expr: str) -> str:
        """Drop the ``source.`` relation qualifier for flattened relations
        (baseline snapshots / rollup tables store plain columns)."""
        return re.sub(r"\bsource\.", "", expr)

    def flat_expr(self, spec: MetricViewSpec, expr: str, flat: DataFrame) -> str:
        """Measure *expr* as it evaluates on *flat* (the
        :meth:`baseline_projection`): no ``source.`` qualifier, snowflake
        paths at their leaf alias (``alias.col`` then reads the struct
        column the projection carries), and a source column that a
        same-named dimension replaces read from its ``SHADOWED`` copy —
        so the measure aggregates what it aggregates live."""
        out = self._rewrite_dim_expr(spec, self.strip_source_prefix(expr))
        named = {t for t, call in _identifier_tokens(out) if not call}
        shadow = [d.name for d in spec.dimensions if d.expr != d.name and d.name in named]
        cols = flat.columns if shadow else ()  # a schema lookup: only when needed
        return _sub_names(out, {n: SHADOWED + n for n in shadow if SHADOWED + n in cols})

    def baseline_projection(self, spec: MetricViewSpec, src: DataFrame) -> DataFrame:
        """The flat projection of the (filtered, joined) source: persisted
        as the ``unaggregated`` baseline snapshot and aggregated by every
        rollup build.

        All base-source columns plus every declared dimension materialized
        under its name, so any (dims × measures) query — including window
        measures — expands against the snapshot without re-running joins.
        Joined columns that measures read ride along as one struct per
        join alias, so a measure's ``alias.col`` resolves as a field of
        that struct exactly as it resolves on the join; a source column
        that a same-named dimension replaces and that a measure reads
        rides along as ``SHADOWED + name`` (see :meth:`flat_expr`).
        """
        return self._project(spec, src, [m.expr for m in spec.measures])

    def _reads(
        self, spec: MetricViewSpec, exprs: Sequence[str], aliases: set[str]
    ) -> tuple[set[str], dict[str, list[str]]]:
        """(bare names, ``{join alias: [fields]}``) that *exprs* read,
        snowflake paths taken at their leaf alias; only *aliases* count
        as join aliases."""
        fields: dict[str, list[str]] = {}
        read: set[str] = set()
        for expr in exprs:
            text = self._rewrite_dim_expr(spec, self.strip_source_prefix(expr))
            read |= {t for t, call in _identifier_tokens(text) if not call}
            text = re.sub(r"'(?:[^'\\]|\\.)*'", "''", text)
            for a, c in re.findall(r"(?<![\w.])([A-Za-z_]\w*)\.([A-Za-z_]\w*)", text):
                if a in aliases and c not in fields.setdefault(a, []):
                    fields[a].append(c)
        return read, fields

    def _project(self, spec: MetricViewSpec, src: DataFrame, reads: Sequence[str]) -> DataFrame:
        """:meth:`baseline_projection` carrying the joined fields and
        shadowed columns that the expressions *reads* name, as one
        ``selectExpr`` of SQL text."""
        q = quote_ident
        if spec.joins:
            base_names = src.selectExpr("`source`.*").columns
            ref = lambda n: f"`source`.{q(n)}"  # noqa: E731
        else:
            base_names = src.columns
            ref = q
        extra_dims = [
            d for d in spec.dimensions if not (d.expr == d.name and d.name in base_names)
        ]
        # a dimension whose expr differs but whose name collides with a base
        # column shadows it (the dim definition wins for metric queries)
        collide = {d.name for d in extra_dims}
        kept = [ref(n) for n in base_names if n not in collide]
        # a newline closes each expression so a trailing line comment in
        # it cannot swallow the alias
        extra = [
            f"({self._rewrite_dim_expr(spec, d.expr)}\n) AS {q(d.name)}" for d in extra_dims
        ]
        taken = set(base_names) | collide
        aliases = {p[-1] for p in self._collect_join_paths(spec.joins)} - taken
        read, fields = self._reads(spec, reads, aliases)
        shadowed = [
            f"{ref(n)} AS {q(SHADOWED + n)}" for n in base_names if n in collide and n in read
        ]
        joined = [
            f"struct({', '.join(f'{q(a)}.{q(c)} AS {q(c)}' for c in cs)}) AS {q(a)}"
            for a, cs in fields.items()
        ]
        return src.selectExpr(*kept, *extra, *shadowed, *joined)

    def uncarried_fields(self, spec: MetricViewSpec, where: Optional[str]) -> list[str]:
        """The joined ``alias.col`` fields *where* reads that the
        :meth:`baseline_projection` does not carry (it carries only the
        fields measures read), so a slice on them can only run live."""
        if not spec.joins or not where:
            return []
        aliases = {p[-1] for p in self._collect_join_paths(spec.joins)}
        _, carried = self._reads(spec, [m.expr for m in spec.measures], aliases)
        _, wanted = self._reads(spec, [where], aliases)
        return [
            f"{a}.{c}" for a, cs in wanted.items() for c in cs if c not in carried.get(a, ())
        ]

    def source_plan(self, spec: MetricViewSpec, source_df: Optional[DataFrame] = None) -> DataFrame:
        """(filtered, joined) source relation — the input to any expansion.

        Mirrors the order the metric-view expander applies: ``filter:``
        first (``macros/generate_metric_views.sql:53-55`` emits it as part
        of the spec), then declared joins.
        """
        df = source_df if source_df is not None else self.resolve(spec.source)
        if spec.filter:
            df = df.filter(F.expr(spec.filter))
        if spec.joins:
            df = df.alias("source")
            df = self._apply_joins(df, spec.joins, parent_alias="source")
        return df

    def _apply_joins(
        self, df: DataFrame, joins: Sequence[JoinSpec], parent_alias: str
    ) -> DataFrame:
        for j in joins:
            right = self.resolve(j.source).alias(j.name)
            on = F.expr(j.on)  # references the parent alias and its own name
            # declared joins are left joins: unmatched source rows survive
            # with null dimension values (README.md:282-300 grammar).
            df = df.join(right, on, "left")
            if j.joins:
                df = self._apply_joins(df, j.joins, parent_alias=j.name)
        return df

    @staticmethod
    def _collect_join_paths(joins: Sequence[JoinSpec], prefix: tuple[str, ...] = ()) -> list[tuple[str, ...]]:
        out: list[tuple[str, ...]] = []
        for j in joins:
            p = prefix + (j.name,)
            out.append(p)
            out.extend(QueryCompiler._collect_join_paths(j.joins, p))
        return out

    def _rewrite_dim_expr(self, spec: MetricViewSpec, expr: str) -> str:
        """Flatten snowflake dotted paths to the leaf join alias.

        ``customer.nation.name`` → ``nation.name`` (README.md:297-299): in
        the compiled plan every join level is its own alias, so a path is
        addressed by its innermost alias.
        """
        if not spec.joins:
            return expr
        paths = self._collect_join_paths(spec.joins)
        # longest paths first so nested prefixes win over their parents
        for p in sorted(paths, key=len, reverse=True):
            if len(p) < 2:
                continue
            dotted = re.escape(".".join(p)) + r"\."
            expr = re.sub(rf"\b{dotted}", f"{p[-1]}.", expr)
        return expr

    # ---------------- expansion ----------------

    def compile(self, query: MetricQuery) -> DataFrame:
        """Expand *query* on the live source (:meth:`compile_storage`),
        then project its derived measures."""
        inner, proj = expand_derived(query)
        df = self.compile_storage(inner)
        return df if proj is None else apply_derived(df, query, proj)

    def compile_storage(
        self,
        query: MetricQuery,
        flat: Optional[DataFrame] = None,
        window_grain_provider=None,
    ) -> DataFrame:
        """:meth:`compile` for a query with no derived measure (the
        storage query :func:`expand_derived` returns).

        Expands over *flat*, a flat projection of the view's (filtered,
        joined) source: the persisted baseline snapshot when given, else
        the live :meth:`baseline_projection`, which then also carries the
        joined ``alias.col`` fields the query's WHERE reads. Dimensions
        are its columns, so they group, slice and window by name.

        *window_grain_provider*, when given, is consulted before each
        window-measure grain aggregation with ``(grain_cols, needed)``
        where needed = [(partial_expr, partial_col, merge_fn)];
        returning a DataFrame with those columns (e.g. re-aggregated from
        a covering rollup) replaces the grain aggregation of *flat*.
        """
        spec = query.spec
        if flat is None:
            reads = [m.expr for m in spec.measures] + [query.where or ""]
            flat = self._project(spec, self.source_plan(spec), reads)
        base = flat
        if query.where:
            base = base.filter(F.expr(self._rewrite_dim_expr(spec, query.where)))
        dims = list(query.dimensions)
        plain = [spec.measure(m) for m in query.measures if not spec.measure(m).is_windowed]
        windowed = [spec.measure(m) for m in query.measures if spec.measure(m).is_windowed]

        result: Optional[DataFrame] = None
        if plain:
            result = base.groupBy(*[F.col(d) for d in dims]).agg(
                *[F.expr(self.flat_expr(spec, m.expr, base)).alias(m.name) for m in plain]
            )

        for shared, group in self._group_shareable_windows(spec, windowed):
            if shared:
                wdf = self._window_measures_shared(
                    spec, base, dims, group, window_grain_provider
                )
            else:
                wdf = self._window_measure(spec, base, dims, group[0], window_grain_provider)
            result = wdf if result is None else self._join_on_dims(result, wdf, dims)

        assert result is not None
        # present columns in query order
        return result.select(*query.dimensions, *query.measures)

    @staticmethod
    def _join_on_dims(left: DataFrame, right: DataFrame, dims: list[str]) -> DataFrame:
        if not dims:
            return left.crossJoin(right)
        l, r = left.alias("_l"), right.alias("_r")
        cond = None
        for d in dims:
            c = F.col(f"_l.{d}").eqNullSafe(F.col(f"_r.{d}"))
            cond = c if cond is None else (cond & c)
        keep_right = [c for c in right.columns if c not in dims]
        return l.join(r, cond, "left").select(
            *[F.col(f"_l.{c}") for c in left.columns],
            *[F.col(f"_r.{c}") for c in keep_right],
        )

    # ---------------- window measures ----------------

    def _window_frame_info(self, spec: MetricViewSpec, m: Measure):
        """(order dim name, sorted current-part names) of a measure with
        one fixed-length frame, or None (no single frame, or a calendar-unit
        trailing window)."""
        frames = [w for w in m.windows if w.kind in ("trailing", "cumulative")]
        if len(frames) != 1:
            return None
        frame = frames[0]
        if frame.kind == "trailing" and frame.trailing_parts[1] in (
            "month",
            "quarter",
            "year",
        ):
            return None  # calendar path is a range join, not a frame
        parts = tuple(sorted(w.order for w in m.windows if w.kind == "current"))
        return (frame.order, parts)

    def _group_shareable_windows(
        self, spec: MetricViewSpec, windowed: list[Measure]
    ) -> list[tuple[bool, list[Measure]]]:
        """(shared, measures) batches: window measures that decompose
        into partials and share (order dim, current-partition keys) go
        together through :meth:`_window_measures_shared` — one grain
        aggregation and one window sort (Catalyst reuses the exchange+sort
        for multiple window functions over the same partitioning); every
        other window measure is its own unshared batch."""
        groups: dict = {}
        for m in windowed:
            info = self._window_frame_info(spec, m)
            shared = (
                info is not None
                and decompose_aggregate(self.strip_source_prefix(m.expr), "_probe") is not None
            )
            groups.setdefault((shared, info if shared else m.name), []).append(m)
        return [(shared, ms) for (shared, _key), ms in groups.items()]

    @staticmethod
    def _grain(
        base: DataFrame, grain_cols: list[str], partials: dict[str, str],
        fns: dict[str, str], grain_provider,
    ) -> DataFrame:
        """The (partition × order) grain of *partials* (partial column ->
        expression): read from *grain_provider* when it serves them, else
        aggregated from *base*."""
        needed = [(e, c, fns[c]) for c, e in partials.items()]
        grain = grain_provider(grain_cols, needed) if grain_provider else None
        if grain is None:
            grain = base.groupBy(*[F.col(c) for c in grain_cols]).agg(
                *[F.expr(e).alias(c) for c, e in partials.items()]
            )
        return grain

    @staticmethod
    def _partition_cols(dims: list[str], order: str, currents: Sequence[str]) -> list[str]:
        """Columns that partition a window: query dims + ``current``
        orders. The frame's own order dimension never partitions — when
        the query groups by it, each group is a single order value and
        the semiadditive-last reduction returns that frame's value."""
        return [d for d in dims if d != order] + [
            p for p in currents if p not in dims and p != order
        ]

    def _window_measures_shared(
        self,
        spec: MetricViewSpec,
        base: DataFrame,
        dims: list[str],
        measures: list[Measure],
        grain_provider=None,
    ) -> DataFrame:
        """N decomposable window measures over one shared grain: one
        grain aggregation carrying the union of partial states, one
        window partitioning (frames may differ per measure — Spark shares
        the sort), one semiadditive-last reduction producing all N
        columns. The grain pre-aggregation is the scale path: the window
        sort runs over grain rows, not source rows, or over a covering
        rollup's partials read through *grain_provider*."""
        order_name, part_names = self._window_frame_info(spec, measures[0])
        part_cols = self._partition_cols(dims, order_name, part_names)
        grain_cols = part_cols + [order_name]
        decs = {
            m.name: decompose_aggregate(
                self.flat_expr(spec, m.expr, base), prefix=f"_p_{m.name}"
            )
            for m in measures
        }
        fns = merge_functions(decs)
        grain = self._grain(base, grain_cols, partial_columns(decs), fns, grain_provider)

        # emit every measure's window merges in ONE projection: Catalyst
        # groups window functions by (partition, order) spec, so differing
        # frames (trailing-7d + cumulative) still collapse into a single
        # Window node over one sort. Sequential withColumn chains would
        # interleave Projects and defeat that grouping.
        win_exprs: list[Column] = []
        finalizes: dict[str, str] = {}
        semis: dict[str, str] = {}
        for m in measures:
            frame = [w for w in m.windows if w.kind in ("trailing", "cumulative")][0]
            semis[m.name] = frame.semiadditive
            w = self._build_window(grain, part_cols, order_name, frame)
            dec = decs[m.name]
            renames = {p_col: f"_w_{m.name}_{p_col}" for p_col in dec.merges}
            for p_col, fn in dec.merges.items():
                win_exprs.append(merge_column(fn, p_col).over(w).alias(renames[p_col]))
            # whole identifiers only: `_p_m_1` is a prefix of `_p_m_10`
            finalizes[m.name] = _sub_names(dec.finalize, renames)
        valued = grain.select("*", *win_exprs)
        val_cols = [f"_wval_{m.name}" for m in measures]
        valued = valued.select(
            "*",
            *[F.expr(finalizes[m.name]).alias(vc) for vc, m in zip(val_cols, measures)],
        )

        return valued.groupBy(*[F.col(d) for d in dims]).agg(
            *[
                _REDUCE_BY[semis[m.name]](vc, F.col(order_name)).alias(m.name)
                for vc, m in zip(val_cols, measures)
            ]
        )

    def _window_measure(
        self,
        spec: MetricViewSpec,
        base: DataFrame,
        dims: list[str],
        measure: Measure,
        grain_provider=None,
    ) -> DataFrame:
        """Compile one window measure that :meth:`_window_measures_shared`
        does not take — a calendar-unit trailing window, or an aggregate
        that does not decompose — to ``dims + [measure.name]``.

        Semantics (README.md:250-278): evaluate the aggregate over ordered
        frames along the ``order`` dimension within each query-dim
        partition, then collapse the order dimension semiadditively —
        ``last`` = the most-recent frame's value (``F.max_by``).

        ``range: current`` clauses add partition keys (the YTD restart
        pattern, README.md:268-277); exactly one frame clause (trailing or
        cumulative) defines the ordered frame.
        """
        frame_clauses = [w for w in measure.windows if w.kind in ("trailing", "cumulative")]
        if len(frame_clauses) != 1:
            raise QueryError(
                f"measure {measure.name!r}: need exactly one trailing/cumulative window "
                f"clause, got {len(frame_clauses)}"
            )
        frame = frame_clauses[0]
        order = frame.order
        currents = [w.order for w in measure.windows if w.kind == "current"]
        part_cols = self._partition_cols(dims, order, currents)
        grain_cols = part_cols + [order]
        base_expr = self.flat_expr(spec, measure.expr, base)
        dec = decompose_aggregate(base_expr, prefix=f"_p_{measure.name}")

        if frame.kind == "trailing" and frame.trailing_parts[1] in ("month", "quarter", "year"):
            if dec is None:
                raise QueryError(
                    f"measure {measure.name!r}: calendar-unit trailing windows "
                    f"require a decomposable aggregate"
                )
            # variable-length calendar units can't be a fixed RANGE frame —
            # compile to a range self-join over the (partition × order)
            # grain: frame(d) = (add_months(d, -N), d]. The grain is small
            # (|dims × dates|), so the range join stays cheap at any source
            # scale.
            n, unit = frame.trailing_parts
            months = n * {"month": 1, "quarter": 3, "year": 12}[unit]
            grain = self._grain(
                base, grain_cols, partial_columns({measure.name: dec}), dec.merges,
                grain_provider,
            )
            left = grain.select(
                *[F.col(c).alias(f"_l_{c}") for c in grain_cols]
            )
            cond = (
                (F.col(order) > F.add_months(F.col(f"_l_{order}"), -months))
                & (F.col(order) <= F.col(f"_l_{order}"))
            )
            for p in part_cols:
                cond = cond & F.col(f"_l_{p}").eqNullSafe(F.col(p))
            joined = left.join(grain, cond, "left")
            windowed = joined.groupBy(
                *[F.col(f"_l_{c}").alias(c) for c in grain_cols]
            ).agg(
                *[merge_column(fn, p_col).alias(p_col) for p_col, fn in dec.merges.items()]
            )
            valued = windowed.withColumn("_wval", F.expr(dec.finalize))
        else:
            # a non-decomposable aggregate windows the rows themselves
            # (range frames treat equal order values as peers, so no grain
            # aggregation is needed for correctness — only for scale)
            w = self._build_window(base, part_cols, order, frame)
            valued = base.withColumn("_wval", F.expr(base_expr).over(w))

        return valued.groupBy(*[F.col(d) for d in dims]).agg(
            _REDUCE_BY[frame.semiadditive]("_wval", F.col(order)).alias(measure.name)
        )

    @staticmethod
    def _order_key(df: DataFrame, order_col: str) -> tuple[Column, int]:
        """Numeric sort key + seconds-per-unit for range framing.

        Dates sort by epoch-day (day granularity); timestamps by epoch
        second. Numeric orders (e.g. ``order_year``) sort by value.
        """
        dtype = dict(df.dtypes)[order_col]
        if dtype == "date":
            return F.unix_date(F.col(order_col)), 86400
        if dtype.startswith("timestamp"):
            return F.col(order_col).cast("long"), 1
        return F.col(order_col).cast("long"), 0  # numeric order dimension

    @classmethod
    def _build_window(
        cls, df: DataFrame, part_cols: list[str], order_col: str, frame: WindowClause
    ):
        key, unit_sec = cls._order_key(df, order_col)
        w = Window.partitionBy(*[F.col(c) for c in part_cols]).orderBy(key)
        if frame.kind == "cumulative":
            return w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        n, unit = frame.trailing_parts
        total_sec = frame.trailing_seconds()
        if unit_sec == 86400:
            # date granularity: trailing N day = [current-(N-1), current]
            lo = -(total_sec // 86400 - 1)
        elif unit_sec == 1:
            lo = -(total_sec - 1)
        else:
            raise QueryError(
                f"trailing range over non-temporal order {order_col!r} unsupported"
            )
        return w.rangeBetween(lo, 0)
