"""Rollup advisor — automated materialized-view selection.

The reference leaves picking ``materialized_views:`` grains to the
analyst (``models/schema.yml:104-129`` hand-lists them; ``README.md:
326-352`` explains the speedup but not which grains to build). This
module closes that loop: given the query workload a metric view
actually serves, propose the rollup set that maximizes rows saved under
a rollup-count budget.

Algorithm — the classic greedy for the data-cube view-selection problem
(Harinarayan, Rajaraman & Ullman, "Implementing Data Cubes
Efficiently", SIGMOD 1996 — public; their Theorem: the greedy's benefit
is ≥ 63% of optimal). With linear scan costs:

* a query's cost = row count of the smallest selected grain covering it
  (query dims ⊆ grain dims — the router's own eligibility rule),
  falling back to the base table's row count;
* a candidate grain's benefit = Σ over covered queries of
  ``weight × max(0, current_cost − grain_rows)``;
* each round materializes the argmax-benefit grain; stop at the budget
  or when no candidate saves anything.

Spark-first cost model: every candidate grain's cardinality comes from
ONE scan — ``groupingSets`` over the union of candidate grains +
``grouping_id()``, then a count per grain id (the same single-pass
trick ``RollupManager.build_aggregated`` uses to BUILD several rollups,
run here without materializing the groups' contents). At 100 TB the advisor
costs one shuffle of the candidate-dim projection, not |candidates|
scans.

Candidates are the workload's own dim-sets plus their pairwise unions —
the unions let one rollup serve several queries (the HRU lattice
ancestors that matter), while keeping the candidate count O(|workload|²)
instead of 2^|dims|.

Determinism: ties break by (fewer rows, then grain key) so the advice —
and its DuckDB oracle, which unrolls the same rounds — is reproducible.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.aggregates import decompose_aggregate
from ..specs import MetricViewSpec, RollupSpec
from .compiler import QueryCompiler


def _decomposable(spec: MetricViewSpec, measure_name: str) -> bool:
    m = spec.measure(measure_name)
    if m.is_windowed:
        return False
    expr = QueryCompiler.strip_source_prefix(m.expr)
    return decompose_aggregate(expr, prefix="_adv") is not None


@dataclass(frozen=True)
class WorkloadQuery:
    """One query shape the view serves: dims grouped by, measures, a
    relative frequency weight, and the dims its WHERE slices on (a
    rollup can only serve the query if it stores those too — the
    router's ``need_dims`` rule)."""

    dimensions: tuple[str, ...]
    measures: tuple[str, ...] = ()
    weight: int = 1
    where_dims: tuple[str, ...] = ()

    def needed_dims(self) -> tuple[str, ...]:
        out = list(self.dimensions)
        for d in self.where_dims:
            if d not in out:
                out.append(d)
        return tuple(out)


@dataclass(frozen=True)
class AdvisorChoice:
    """One greedy round's pick."""

    pick_round: int
    grain: tuple[str, ...]  # dims in spec order
    n_rows: int
    benefit: int  # weighted rows saved by this pick


def _grain_key(dims: Sequence[str], order: Sequence[str]) -> tuple[str, ...]:
    """Canonical grain: dims in the spec's declaration order."""
    ds = set(dims)
    unknown = ds - set(order)
    if unknown:
        raise ValueError(f"unknown dimensions in workload: {sorted(unknown)}")
    return tuple(d for d in order if d in ds)


def candidate_grains(
    spec: MetricViewSpec, workload: Sequence[WorkloadQuery]
) -> list[tuple[str, ...]]:
    """Workload dim-sets + their pairwise unions, canonicalized/deduped."""
    order = [d.name for d in spec.dimensions]
    base = [_grain_key(q.needed_dims(), order) for q in workload]
    cands: list[tuple[str, ...]] = []
    seen: set[tuple[str, ...]] = set()
    for g in base:
        if g and g not in seen:
            seen.add(g)
            cands.append(g)
    for i in range(len(base)):
        for j in range(i + 1, len(base)):
            u = _grain_key(set(base[i]) | set(base[j]), order)
            if u and u not in seen:
                seen.add(u)
                cands.append(u)
    return cands


def grain_cardinalities(
    flat: DataFrame, grains: Sequence[tuple[str, ...]]
) -> dict[tuple[str, ...], int]:
    """Row count of every candidate grain from ONE aggregation pass.

    ``groupingSets`` computes all grains in a single scan+shuffle;
    ``grouping_id()`` labels each output row's grain; a second (tiny)
    aggregation counts rows per label. The second agg runs over
    Σ|grain| rows — cube-sized, never data-sized.
    """
    all_dims: list[str] = []
    for g in grains:
        for d in g:
            if d not in all_dims:
                all_dims.append(d)
    sets = [[d for d in all_dims if d in g] for g in grains]
    grouped = flat.groupingSets(sets, *[F.col(d) for d in all_dims]).agg(
        F.grouping_id().alias("_gid")
    )
    counts = {
        r["_gid"]: r["n"]
        for r in grouped.groupBy("_gid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n = len(all_dims)
    out: dict[tuple[str, ...], int] = {}
    for g in grains:
        gid = sum(1 << (n - 1 - i) for i, d in enumerate(all_dims) if d not in g)
        out[g] = int(counts.get(gid, 0))
    return out


def advise(
    spec: MetricViewSpec,
    flat: DataFrame,
    workload: Sequence[WorkloadQuery],
    max_rollups: int = 3,
    base_rows: Optional[int] = None,
    existing: Sequence[tuple[tuple[str, ...], tuple[str, ...], int]] = (),
    max_total_rows: Optional[int] = None,
) -> list[AdvisorChoice]:
    """Greedy HRU selection of up to *max_rollups* grains for *workload*.

    *flat* is the view's flattened source (dims as named columns — the
    ``baseline_projection``). Row counts drive the cost model; queries
    whose measures are non-decomposable (median, count distinct at
    query grain, windows) are excluded from coverage since the router
    would never serve them from an aggregated rollup anyway.

    *existing* — already-materialized rollups as ``(dims, measures,
    n_rows)`` — seeds each query's starting cost with the best rollup
    the router can ALREADY serve it from (dims ⊆ rollup dims and
    measures ⊆ stored measures, the router's own eligibility rule), so
    the advice proposes only incremental value: a grain the workload is
    already served from optimally has zero benefit and is never picked.
    """
    order = [d.name for d in spec.dimensions]
    servable: list[tuple[tuple[str, ...], int]] = []
    init_costs: list[int] = []
    if base_rows is None:
        base_rows = flat.count()
    for q in workload:
        rollup_ok = all(_decomposable(spec, m) for m in q.measures)
        if rollup_ok:
            servable.append((_grain_key(q.needed_dims(), order), int(q.weight)))
            cost = base_rows
            for e_dims, e_meas, e_rows in existing:
                if set(q.needed_dims()) <= set(e_dims) and set(q.measures) <= set(
                    e_meas
                ):
                    cost = min(cost, int(e_rows))
            init_costs.append(cost)
    if not servable:
        return []
    cands = candidate_grains(
        spec, [q for q in workload if _grain_key(q.needed_dims(), order)]
    )
    rows = grain_cardinalities(flat, cands)
    return greedy_select(
        servable,
        cands,
        rows,
        base_rows,
        max_rollups,
        init_costs=init_costs,
        max_total_rows=max_total_rows,
    )


def greedy_select(
    servable: Sequence[tuple[tuple[str, ...], int]],
    cands: Sequence[tuple[str, ...]],
    rows: dict[tuple[str, ...], int],
    base_rows: int,
    max_rollups: int,
    init_costs: Optional[Sequence[int]] = None,
    max_total_rows: Optional[int] = None,
) -> list[AdvisorChoice]:
    """The pure HRU greedy over known cardinalities (exposed for
    property tests: data-independent, deterministic). *init_costs*
    overrides the per-query starting cost (already-materialized
    rollups); default is the base table for every query.

    *max_total_rows* switches to HRU's SPACE-constrained form: the
    budget is stored rows (Σ chosen cardinalities), candidates that no
    longer fit are skipped, and each round maximizes benefit PER ROW
    (ratio compared via cross-multiplication — pure integers, no float
    ties). Without it the budget is rollup count and rounds maximize raw
    benefit."""
    if init_costs is None:
        init_costs = [base_rows] * len(servable)
    cost = {i: int(init_costs[i]) for i in range(len(servable))}
    chosen: list[AdvisorChoice] = []
    picked: set[tuple[str, ...]] = set()
    budget_left = max_total_rows
    for rnd in range(1, max_rollups + 1):
        best: Optional[tuple[tuple[str, ...], int, int]] = None  # (grain, rows, benefit)
        for g in cands:
            if g in picked:
                continue
            r = rows[g]
            if budget_left is not None and r > budget_left:
                continue
            b = sum(
                w * max(0, cost[i] - r)
                for i, (qdims, w) in enumerate(servable)
                if set(qdims) <= set(g)
            )
            if b <= 0:
                continue
            if best is None:
                better = True
            elif budget_left is not None:
                # b/r vs best_b/best_r without floats: b*best_r vs best_b*r
                lhs, rhs = b * best[1], best[2] * r
                better = lhs > rhs or (lhs == rhs and (r, g) < (best[1], best[0]))
            else:
                better = (-b, r, g) < (-best[2], best[1], best[0])
            if better:
                best = (g, r, b)
        if best is None:
            break
        g, r, b = best
        picked.add(g)
        if budget_left is not None:
            budget_left -= r
        chosen.append(AdvisorChoice(pick_round=rnd, grain=g, n_rows=r, benefit=b))
        for i, (qdims, _) in enumerate(servable):
            if set(qdims) <= set(g):
                cost[i] = min(cost[i], rows[g])
    return chosen


def to_rollup_specs(
    spec: MetricViewSpec,
    choices: Sequence[AdvisorChoice],
    workload: Sequence[WorkloadQuery],
) -> list[RollupSpec]:
    """Turn advice into buildable ``RollupSpec``s.

    Each advised grain stores the decomposable measures of every
    workload query it covers — exactly what the router needs to serve
    those queries from it.
    """
    order = [d.name for d in spec.dimensions]
    out = []
    for c in choices:
        meas: list[str] = []
        for q in workload:
            if set(_grain_key(q.needed_dims(), order)) <= set(c.grain):
                for m in q.measures:
                    if _decomposable(spec, m) and m not in meas:
                        meas.append(m)
        out.append(
            RollupSpec(
                name="adv_" + "_".join(c.grain),
                type="aggregated",
                dimensions=c.grain,
                measures=tuple(meas),
            )
        )
    return out
