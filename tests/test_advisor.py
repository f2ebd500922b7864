"""Rollup advisor: greedy invariants (hypothesis), cardinality pass,
and end-to-end advise→apply→route on mv_order_metrics."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.engine import MetricEngine
from dbt_databricks_metrics_spark.plans.advisor import (
    AdvisorChoice,
    WorkloadQuery,
    advise,
    candidate_grains,
    grain_cardinalities,
    greedy_select,
    to_rollup_specs,
)
from dbt_databricks_metrics_spark.project import build_registry

DIMS = ("a", "b", "c", "d")


@st.composite
def greedy_instance(draw):
    n_q = draw(st.integers(1, 5))
    servable = []
    for _ in range(n_q):
        dims = tuple(
            sorted(draw(st.sets(st.sampled_from(DIMS), min_size=1, max_size=3)))
        )
        servable.append((dims, draw(st.integers(1, 5))))
    cands = []
    seen = set()
    for dims, _ in servable:
        if dims not in seen:
            seen.add(dims)
            cands.append(dims)
    for i in range(len(servable)):
        for j in range(i + 1, len(servable)):
            u = tuple(sorted(set(servable[i][0]) | set(servable[j][0])))
            if u not in seen:
                seen.add(u)
                cands.append(u)
    base_rows = draw(st.integers(50, 10_000))
    rows = {g: draw(st.integers(1, base_rows)) for g in cands}
    return servable, cands, rows, base_rows


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(greedy_instance(), st.integers(1, 4))
def test_greedy_pick_is_roundwise_optimal(inst, k):
    """Every pick maximizes that round's weighted benefit (the HRU greedy
    invariant), and total benefit equals the workload cost reduction."""
    servable, cands, rows, base_rows = inst
    choices = greedy_select(servable, cands, rows, base_rows, k)

    # replay: recompute each round's benefits independently
    cost = {i: base_rows for i in range(len(servable))}
    picked = set()
    for c in choices:
        benefits = {}
        for g in cands:
            if g in picked:
                continue
            benefits[g] = sum(
                w * max(0, cost[i] - rows[g])
                for i, (qd, w) in enumerate(servable)
                if set(qd) <= set(g)
            )
        assert benefits, "greedy picked when no candidates remain"
        best_b = max(benefits.values())
        assert c.benefit == best_b > 0
        assert benefits[c.grain] == best_b
        # deterministic tie-break: (rows asc, grain asc) among max-benefit
        tied = [g for g, b in benefits.items() if b == best_b]
        assert c.grain == min(tied, key=lambda g: (rows[g], g))
        picked.add(c.grain)
        for i, (qd, _) in enumerate(servable):
            if set(qd) <= set(c.grain):
                cost[i] = min(cost[i], rows[c.grain])

    # total benefit == weighted cost reduction
    final_cost = {i: base_rows for i in range(len(servable))}
    for c in choices:
        for i, (qd, _) in enumerate(servable):
            if set(qd) <= set(c.grain):
                final_cost[i] = min(final_cost[i], c.n_rows)
    saved = sum(
        w * (base_rows - final_cost[i]) for i, (_, w) in enumerate(servable)
    )
    assert sum(c.benefit for c in choices) == saved
    assert len({c.grain for c in choices}) == len(choices)


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    eng = MetricEngine(
        spark, build_registry(sf_dir), warehouse_dir=str(tmp_path_factory.mktemp("whadv"))
    )
    eng.run(materialize_rollups=False)
    return eng


WORKLOAD = [
    WorkloadQuery(("market_segment",), ("total_revenue", "total_orders"), weight=5),
    WorkloadQuery(("order_status",), ("total_orders",), weight=3),
    WorkloadQuery(("order_year", "order_month"), ("total_revenue",), weight=2),
    WorkloadQuery(("order_priority", "order_year"), ("max_order_value",), weight=1),
]


def test_grain_cardinalities_match_distinct_counts(engine):
    mv = engine.metric_view("mv_order_metrics")
    compiler = engine._compiler
    flat = compiler.baseline_projection(mv.spec, compiler.source_plan(mv.spec))
    grains = candidate_grains(mv.spec, WORKLOAD)
    cards = grain_cardinalities(flat, grains)
    for g in grains:
        exact = flat.select(*g).distinct().count()
        assert cards[g] == exact, g


def test_advise_apply_routes_and_matches_live(engine):
    mv = engine.metric_view("mv_order_metrics")
    choices = mv.advise_rollups(WORKLOAD, max_rollups=3, apply=True)
    assert choices, "workload should benefit from rollups"
    assert [c.pick_round for c in choices] == list(range(1, len(choices) + 1))
    # benefits are found in non-increasing order (greedy property)
    assert all(
        choices[i].benefit >= choices[i + 1].benefit for i in range(len(choices) - 1)
    )
    for q in WORKLOAD:
        df, route = mv.query_routed(list(q.dimensions), list(q.measures))
        assert route.startswith("rollup:adv_"), (q, route)
        rollups = mv._engine._rollups
        live = rollups.compile_routed(
            rollups.route(
                __import__(
                    "dbt_databricks_metrics_spark.plans.compiler",
                    fromlist=["MetricQuery"],
                ).MetricQuery(mv.spec, q.dimensions, q.measures),
                None,
            )
        )[0]
        got = {
            tuple(r[d] for d in q.dimensions): tuple(
                round(float(r[m]), 6) for m in q.measures
            )
            for r in df.collect()
        }
        want = {
            tuple(r[d] for d in q.dimensions): tuple(
                round(float(r[m]), 6) for m in q.measures
            )
            for r in live.collect()
        }
        assert got == want, q


def test_nondecomposable_measures_excluded(engine):
    mv = engine.metric_view("mv_order_metrics")
    wl = [
        WorkloadQuery(("market_segment",), ("median_order_value",)),
        WorkloadQuery(("order_status",), ("trailing_7d_revenue",)),
    ]
    assert mv.advise_rollups(wl, max_rollups=2) == []
    specs = to_rollup_specs(
        mv.spec,
        [AdvisorChoice(1, ("market_segment",), 5, 100)],
        wl + [WorkloadQuery(("market_segment",), ("total_revenue",))],
    )
    assert specs[0].measures == ("total_revenue",)


def test_self_tuning_from_query_log(spark, sf_dir, tmp_path_factory):
    """Run real queries with no workload spec, then advise from the
    observed log: repeated shapes get higher weight and the advice
    becomes routable."""
    eng = MetricEngine(
        spark,
        build_registry(sf_dir),
        warehouse_dir=str(tmp_path_factory.mktemp("whlog")),
    )
    eng.run(materialize_rollups=False)
    mv = eng.metric_view("mv_order_metrics")
    assert mv.observed_workload() == []
    for _ in range(3):
        mv.query(["market_segment"], ["total_revenue"]).collect()
    mv.query(["order_year", "order_month"], ["total_orders"]).collect()

    wl = mv.observed_workload()
    weights = {q.dimensions: q.weight for q in wl}
    assert weights[("market_segment",)] == 3
    assert weights[("order_year", "order_month")] == 1

    choices = mv.advise_rollups(max_rollups=2, apply=True)
    assert choices
    _, route = mv.query_routed(["market_segment"], ["total_revenue"])
    assert route.startswith("rollup:adv_")


def test_existing_rollups_zero_out_covered_queries(spark, sf_dir, tmp_path_factory):
    """A workload already served optimally by declared rollups gets no
    advice; re-advising after apply is likewise empty (idempotent)."""
    eng = MetricEngine(
        spark,
        build_registry(sf_dir),
        warehouse_dir=str(tmp_path_factory.mktemp("whex")),
    )
    eng.run(materialize_rollups=True)
    mv = eng.metric_view("mv_order_metrics")
    covered = [
        # exactly the declared monthly_revenue grain + stored measure
        WorkloadQuery(("order_year", "order_month"), ("total_revenue",), weight=9),
    ]
    assert mv.advise_rollups(covered, max_rollups=2) == []
    # ignoring existing state, the same workload does warrant the grain
    assert mv.advise_rollups(covered, max_rollups=2, consider_existing=False)

    partly = covered + [
        WorkloadQuery(("order_priority",), ("total_revenue",), weight=1)
    ]
    choices = mv.advise_rollups(partly, max_rollups=2, apply=True)
    assert [c.grain for c in choices] == [("order_priority",)]
    # idempotent: everything now served, nothing further to advise
    assert mv.advise_rollups(partly, max_rollups=2) == []


def test_advised_rollups_fold_incrementally(spark, sf_dir, tmp_path):
    """Advised rollups are first-class: refresh_incremental folds them
    like declared ones, and folded state answers like a full rebuild."""
    from dbt_databricks_metrics_spark.sources import load_table
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    full = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_orderpriority").alias("order_priority"),
        F.col("o_totalprice").alias("total_price"),
    )
    prefix = full.filter(F.col("total_price") < 150000)
    delta = full.filter(F.col("total_price") >= 150000)
    assert prefix.count() > 0 and delta.count() > 0

    spec_yaml = """
version: 0.1
source: adv_inc_src
dimensions:
  - name: order_status
    expr: order_status
  - name: order_priority
    expr: order_priority
measures:
  - name: revenue
    expr: sum(total_price)
  - name: n
    expr: count(*)
"""
    wl = [WorkloadQuery(("order_status",), ("revenue", "n"), weight=2)]

    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh_adv_inc"))
    prefix.createOrReplaceTempView("adv_inc_src")
    mv = eng.register(MetricViewSpec.from_yaml(spec_yaml, name="mv_adv_inc"))
    choices = mv.advise_rollups(wl, max_rollups=1, apply=True)
    assert [c.grain for c in choices] == [("order_status",)]
    eng.refresh_incremental("mv_adv_inc", delta)

    eng2 = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh_adv_full"))
    full.createOrReplaceTempView("adv_inc_src")
    mv2 = eng2.register(MetricViewSpec.from_yaml(spec_yaml, name="mv_adv_inc"))
    assert mv2.advise_rollups(wl, max_rollups=1, apply=True)

    got, route = mv.query_routed(["order_status"], ["revenue", "n"])
    want, route2 = mv2.query_routed(["order_status"], ["revenue", "n"])
    assert route == route2 == "rollup:adv_order_status"
    gotd = {r["order_status"]: (round(r["revenue"], 4), r["n"]) for r in got.collect()}
    wantd = {r["order_status"]: (round(r["revenue"], 4), r["n"]) for r in want.collect()}
    assert gotd == wantd


def test_where_sliced_workload_includes_slice_dims(spark, sf_dir, tmp_path_factory):
    """A logged WHERE-sliced query advises a grain covering the slice dim,
    and the router then serves the sliced query from it."""
    eng = MetricEngine(
        spark,
        build_registry(sf_dir),
        warehouse_dir=str(tmp_path_factory.mktemp("whwd")),
    )
    eng.run(materialize_rollups=False)
    mv = eng.metric_view("mv_order_metrics")
    for _ in range(2):
        mv.query(
            ["market_segment"], ["total_revenue"], where="order_status = 'F'"
        ).collect()

    wl = mv.observed_workload()
    assert wl[0].where_dims == ("order_status",)
    assert set(wl[0].needed_dims()) == {"market_segment", "order_status"}

    choices = mv.advise_rollups(max_rollups=1, apply=True)
    assert choices and set(choices[0].grain) == {"market_segment", "order_status"}
    _, route = mv.query_routed(
        ["market_segment"], ["total_revenue"], where="order_status = 'F'"
    )
    assert route.startswith("rollup:adv_")


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(greedy_instance(), st.integers(1, 20_000))
def test_budget_greedy_invariants(inst, budget):
    """Space-constrained mode: total stored rows within budget; every
    pick is the max benefit-per-row among candidates that still fit
    (cross-multiplied — exact, no float ties)."""
    from dbt_databricks_metrics_spark.plans.advisor import greedy_select

    servable, cands, rows, base_rows = inst
    choices = greedy_select(
        servable, cands, rows, base_rows, max_rollups=10, max_total_rows=budget
    )
    assert sum(c.n_rows for c in choices) <= budget

    cost = {i: base_rows for i in range(len(servable))}
    left = budget
    picked = set()
    for c in choices:
        feas = {}
        for g in cands:
            if g in picked or rows[g] > left:
                continue
            b = sum(
                w * max(0, cost[i] - rows[g])
                for i, (qd, w) in enumerate(servable)
                if set(qd) <= set(g)
            )
            if b > 0:
                feas[g] = b
        assert feas and c.grain in feas and c.benefit == feas[c.grain]
        for g, b in feas.items():
            # chosen ratio >= every feasible ratio
            assert c.benefit * rows[g] >= b * c.n_rows, (c, g, b)
        picked.add(c.grain)
        left -= c.n_rows
        for i, (qd, _) in enumerate(servable):
            if set(qd) <= set(c.grain):
                cost[i] = min(cost[i], rows[c.grain])


def test_cardinality_pass_is_single_scan(engine):
    """All candidate grains' cardinalities come from ONE source pass:
    the physical plan has exactly one scan (one Expand for the grouping
    sets), no CartesianProduct, no per-candidate re-reads."""
    mv = engine.metric_view("mv_order_metrics")
    compiler = engine._compiler
    flat = compiler.baseline_projection(mv.spec, compiler.source_plan(mv.spec))
    grains = candidate_grains(mv.spec, WORKLOAD)
    all_dims = []
    for g in grains:
        for d in g:
            if d not in all_dims:
                all_dims.append(d)
    sets = [[d for d in all_dims if d in g] for g in grains]
    grouped = flat.groupingSets(sets, *[F.col(d) for d in all_dims]).agg(
        F.grouping_id().alias("_gid")
    )
    counted = grouped.groupBy("_gid").agg(F.count(F.lit(1)).alias("n"))
    plan = counted._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Expand") == 1, plan
    assert "CartesianProduct" not in plan
    # column pruning: the scan reads only the candidate dims
    assert "total_price" not in plan.split("ReadSchema")[1]


def test_advisor_applied_route_contract(spark, sf_dir):
    """advise→build→route end-to-end: the contract query's route must come
    from an APPLIED advice rollup (name prefix adv_) and its values must
    equal the live aggregate exactly."""
    import __spark_entry__ as entry

    df = entry.queries()["advisor_applied_route"](spark, sf_dir)
    rows = df.collect()
    assert rows, "contract emitted no rows"
    for r in rows:
        assert r["routed_from_advised"] is True
        assert r["routed_eq_live"] is True
        assert r["advice_nonempty"] is True

    eng = entry._engine(spark, sf_dir)
    mv = eng.metric_view("mv_advisor_e2e")
    _, route = mv.query_routed(["market_segment"], ["total_revenue"])
    assert route.startswith("rollup:adv_"), route
    # the serving rollup is dim-combination-sized, not fact-sized
    built = mv._rv.state.rollups[route.split(":", 1)[1]]
    assert built.n_rows is not None and built.n_rows <= 50
