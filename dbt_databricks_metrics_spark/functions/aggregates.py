"""Aggregate-expression decomposition into partial states.

The reference's pre-aggregated rollups (``models/schema.yml:114-129``,
``README.md:336-352``) must answer queries over any *subset* of the rollup's
dimensions. That only works if the stored values are **partial aggregation
states** that re-aggregate correctly:

* ``sum → sum`` of partial sums
* ``count / count_if → sum`` of partial counts
* ``min/max → min/max`` of partials
* ``avg → (sum, count)`` pair, finalized as ``sum / count`` at query time
* ``hll_sketch_agg → hll_union_agg`` of partial DataSketches HLL sketches,
  finalized by whatever scalar wraps it (normally ``hll_sketch_estimate``)
  — this is what makes *distinct counts* routable through rollups: exact
  ``count(distinct x)`` can never be served from pre-aggregated state, but
  a mergeable sketch can (union of per-cell sketches ≡ sketch of the
  union), so ``hll_sketch_estimate(hll_sketch_agg(x))`` measures route,
  fold incrementally, and window (trailing-N-day distinct users) at
  rollup cost. At 100 TB this replaces a full-fact distinct scan with a
  |dim-combination|-row sketch merge.

The same decomposition powers the scale path for window measures (grain
pre-aggregation before windowing) and incremental refresh (fold new
partitions into partials). It is the Spark-native analogue of what the
Databricks warehouse does inside its metric-view optimizer.

Partials merge in Spark with :func:`merge_column`, or on the driver with
its Arrow counterpart :func:`merge_table` when a rollup is small enough
to serve from there (``plans/rollup.py``).

Implementation: a small tokenizer finds the *outermost* aggregate calls in
the measure's SQL expression (nested parens consumed, string literals
skipped) and replaces each with references to generated partial columns.
Everything outside the aggregate calls (arithmetic, ``nullif``, casts, …)
becomes the *finalize* expression evaluated after merging. Expressions with
``DISTINCT`` aggregates or aggregate-free text are reported
non-decomposable (``None``) — the router then refuses to serve them from a
rollup and falls back to baseline/live (SURVEY §4).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Mapping, Optional, Sequence

# merge function applied when re-aggregating a partial column
_AGG_FNS = {
    "sum": "sum",
    "count": "sum",
    "count_if": "sum",
    "min": "min",
    "max": "max",
    "avg": None,  # special-cased: (sum, count) pair
    "hll_sketch_agg": "hll_union",  # DataSketches HLL: union of sketches
}

_CALL_RE = re.compile(
    r"\b(sum|count|count_if|min|max|avg|hll_sketch_agg)\s*\(", re.IGNORECASE
)


def merge_column(fn: str, col: str):
    """The Spark ``Column`` that re-aggregates one partial column.

    *fn* is a ``Decomposition.merges`` value: ``sum``/``min``/``max`` for
    scalar partials, ``hll_union`` for HLL sketch partials (binary column
    merged with ``F.hll_union_agg`` — register-wise max, associative, so
    merged-estimate ≡ direct-estimate at equal lgConfigK). Usable both as
    a plain aggregate and as a window function (``.over(w)``).
    """
    from pyspark.sql import functions as F

    if fn == "hll_union":
        return F.hll_union_agg(F.col(col))
    return {"sum": F.sum, "min": F.min, "max": F.max}[fn](F.col(col))


def _arrow_sum_type(typ):
    """The Arrow type :func:`merge_table` sums a partial column of type
    *typ* in, or None when it cannot sum it the way Spark does: integers
    as ``decimal128(38, 0)`` (cast back to int64 checked, so an overflow
    raises as Spark's ANSI ``sum`` does instead of wrapping), doubles as
    they are, a decimal(p, s) as Spark's decimal(p + 10, s) result."""
    import pyarrow as pa

    if pa.types.is_integer(typ):
        return pa.decimal128(38, 0)
    if pa.types.is_float64(typ):
        return typ
    if pa.types.is_decimal128(typ) and typ.precision + 10 <= 38:
        return pa.decimal128(typ.precision + 10, typ.scale)
    return None


def arrow_servable(schema, fns: Mapping[str, str]) -> bool:
    """Whether a rollup of Arrow *schema* whose partial columns merge
    with *fns* (partial column -> merge fn) can be served by
    :func:`merge_table` with Spark's answers: every column is a string,
    integer, double, decimal, date or boolean (types that round-trip a
    ``LocalRelation`` as the Spark types a parquet read gives); every
    ``sum`` has an Arrow sum type; every ``min``/``max`` is over an
    integer, decimal, string or date. Double ``min``/``max`` is refused
    because Arrow skips NaN where Spark's ``max`` returns it; sketches
    and timestamps have no Arrow merge here."""
    import pyarrow as pa

    types = {f.name: f.type for f in schema}
    plain = (
        pa.types.is_string, pa.types.is_integer, pa.types.is_float64,
        pa.types.is_decimal128, pa.types.is_date32, pa.types.is_boolean,
    )
    ordered = (
        pa.types.is_integer, pa.types.is_decimal128, pa.types.is_string,
        pa.types.is_date32,
    )
    if not all(any(t(typ) for t in plain) for typ in types.values()):
        return False
    return all(
        _arrow_sum_type(types[p_col]) is not None if fn == "sum"
        else fn in ("min", "max") and any(t(types[p_col]) for t in ordered)
        for p_col, fn in fns.items()
    )


def merge_table(table, dims: Sequence[str], fns: Mapping[str, str]):
    """The Arrow counterpart of ``groupBy(dims).agg(merge_columns)``:
    re-aggregate the partial columns of *table* (partial column -> merge
    fn, the pair :func:`arrow_servable`) per *dims* combination, with
    Spark's result types (sums in :func:`_arrow_sum_type`). With no
    *dims* the result is one row, NULL over empty input, like a global
    aggregate."""
    import pyarrow as pa

    cols = {d: table.column(d) for d in dims}
    for p_col, fn in fns.items():
        col = table.column(p_col)
        cols[p_col] = col.cast(_arrow_sum_type(col.type)) if fn == "sum" else col
    merged = pa.table(cols).group_by(list(dims), use_threads=False).aggregate(
        [(p_col, fn) for p_col, fn in fns.items()]
    )
    out = {d: merged.column(d) for d in dims}
    for p_col, fn in fns.items():
        col = merged.column(f"{p_col}_{fn}")
        if fn == "sum" and pa.types.is_integer(table.schema.field(p_col).type):
            try:
                col = col.cast(pa.int64(), safe=True)
            except pa.ArrowInvalid as e:
                raise OverflowError(
                    f"sum of partial column {p_col!r} overflows bigint"
                ) from e
        out[p_col] = col
    return pa.table(out)


def row_contribution(p_expr: str) -> Optional[str]:
    """The per-row SQL expression whose sum over a group equals the
    partial *p_expr* over that group, so a fold can add or retract source
    rows without aggregating them: ``sum(x)`` → ``x``, ``count(*)`` →
    ``1``, ``count(x)`` → ``if(x IS NULL, 0, 1)``, ``count_if(p)`` →
    ``if(p, 1, 0)``. None for any other partial, and for a
    multi-argument ``count``."""
    m = re.fullmatch(r"(sum|count_if|count)\((.*)\)", p_expr.strip(), re.DOTALL)
    if not m:
        return None
    fn, arg = m.group(1), m.group(2).strip()
    if fn == "sum":
        return arg
    if fn == "count_if":
        return f"if({arg}, 1, 0)"
    if arg in ("*", "1"):
        return "1"
    depth = 0
    for c in re.sub(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"", "''", arg):
        depth += (c == "(") - (c == ")")
        if c == "," and depth == 0:
            return None  # count(a, b) counts rows where every argument is set
    return f"if(({arg}) IS NULL, 0, 1)"


@dataclass(frozen=True)
class Decomposition:
    """Partial-state plan for one measure expression.

    partials: ``(source_sql_expr, partial_col)`` computed at build/grain time
    merges:   ``partial_col -> merge_fn`` (sum|min|max) for re-aggregation
    finalize: SQL expr over the merged partial columns producing the measure
    """

    partials: tuple[tuple[str, str], ...]
    merges: dict[str, str]
    finalize: str

    @property
    def trivial(self) -> bool:
        """True when finalize is just the single partial column."""
        return len(self.partials) == 1 and self.finalize == self.partials[0][1]


def partial_columns(decs: Mapping[str, Decomposition]) -> dict[str, str]:
    """The partial-state layout of measures decomposed together (measure
    name -> ``Decomposition``): each stored partial column -> the source
    expression that computes it, in table-column order. Rollup builds,
    window grains and incremental folds all aggregate to this layout."""
    out: dict[str, str] = {}
    for dec in decs.values():
        for p_expr, p_col in dec.partials:
            out.setdefault(p_col, p_expr)
    return out


def merge_functions(
    decs: Mapping[str, Decomposition], measures: Optional[Sequence[str]] = None
) -> dict[str, str]:
    """Partial column -> merge fn for *measures* (default: all of *decs*),
    in the same column order as :func:`partial_columns`."""
    out: dict[str, str] = {}
    for name in decs if measures is None else measures:
        for p_col, fn in decs[name].merges.items():
            out.setdefault(p_col, fn)
    return out


def merge_columns(
    decs: Mapping[str, Decomposition],
    measures: Optional[Sequence[str]] = None,
    types: Optional[Mapping] = None,
) -> list:
    """The aggregate columns that re-aggregate the partial layout of
    *measures* (default: all of *decs*), each aliased to its partial.
    Writers of stored state pass *types* (partial column -> Spark type,
    the type the partial's own aggregate gives it) to cast each merge back
    to it: Spark's ``sum`` widens a ``decimal(p, s)`` to ``decimal(p + 10,
    s)`` at every re-aggregation, checked under ANSI, so an overflow
    raises."""
    return [
        (merge_column(fn, p_col) if types is None
         else merge_column(fn, p_col).cast(types[p_col])).alias(p_col)
        for p_col, fn in merge_functions(decs, measures).items()
    ]


def _find_matching_paren(s: str, open_idx: int) -> int:
    """Index of the ``)`` matching ``s[open_idx] == '('`` (string-aware)."""
    depth = 0
    i = open_idx
    n = len(s)
    while i < n:
        c = s[i]
        if c == "'":
            i += 1
            while i < n and s[i] != "'":
                i += 2 if s[i] == "\\" else 1
        elif c == '"':
            i += 1
            while i < n and s[i] != '"':
                i += 2 if s[i] == "\\" else 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError(f"unbalanced parentheses in expression: {s!r}")


def decompose_aggregate(expr: str, prefix: str) -> Decomposition | None:
    """Decompose *expr* into partial states, or ``None`` if not possible.

    *prefix* namespaces the generated partial column names so multiple
    measures can coexist in one rollup table (e.g. ``_p_total_revenue_0``).
    """
    partials: list[tuple[str, str]] = []
    merges: dict[str, str] = {}
    seen: dict[str, str] = {}  # partial source expr -> existing column
    out: list[str] = []
    i = 0
    found_agg = False

    def partial_for(source_expr: str, merge_fn: str, suffix: str = "") -> str:
        # CSE: a repeated identical aggregate call maps to ONE stored
        # partial — essential for generated expressions that repeat
        # bucket counts (functions/histogram.py builds O(nb²) textual
        # occurrences of nb distinct counts)
        col = seen.get(source_expr)
        if col is None:
            col = f"{prefix}_{len(partials)}{suffix}"
            seen[source_expr] = col
            partials.append((source_expr, col))
            merges[col] = merge_fn
        return col

    while i < len(expr):
        m = _CALL_RE.search(expr, i)
        if not m:
            out.append(expr[i:])
            break
        fn = m.group(1).lower()
        open_idx = expr.find("(", m.end() - 1)
        close_idx = _find_matching_paren(expr, open_idx)
        arg = expr[open_idx + 1 : close_idx].strip()
        out.append(expr[i : m.start()])
        found_agg = True
        if re.match(r"(?i)^\s*distinct\b", arg):
            return None  # count(distinct x) does not decompose
        if fn == "avg":
            ps = partial_for(f"sum({arg})", "sum", "s")
            pc = partial_for(f"count({arg})", "sum", "c")
            out.append(f"({ps} / {pc})")
        else:
            out.append(partial_for(f"{fn}({arg})", _AGG_FNS[fn]))
        i = close_idx + 1
    if not found_agg:
        return None
    return Decomposition(
        partials=tuple(partials), merges=dict(merges), finalize="".join(out).strip()
    )
