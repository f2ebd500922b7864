"""Materialization + routing (SURVEY §4, README.md:326-352, 424-431).

The core invariant: a query answered via a rollup is hash-identical to the
same query answered from the live source, for every dim-subset × measure-
subset the rollup covers.
"""

from __future__ import annotations

import shutil
from itertools import combinations

import pytest

from dbt_databricks_metrics_spark.engine import MetricEngine
from dbt_databricks_metrics_spark.project import build_registry


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    eng = MetricEngine(
        spark,
        build_registry(sf_dir),
        warehouse_dir=str(tmp_path_factory.mktemp("whr")),
    )
    eng.run(materialize_rollups=True)
    return eng


def _rows(df):
    return _norm_rows(df.collect())


def _norm_rows(rows):
    import math

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            if v == 0:
                return 0.0
            return round(v, max(0, 10 - int(math.log10(abs(v)))))
        return str(v)

    return sorted(tuple(norm(x) for x in r) for r in rows)


def test_size_gate_keeps_toy_source_on_direct_grouping_sets(engine, monkeypatch):
    """The two-level build gate reads Catalyst's size estimate through a
    private JVM reach (``_jdf``). A Spark API break must fail here instead
    of silently sending every build down the two-level path: the sf0.001
    source estimates finite and under the 16 MiB gate, and its build runs
    GROUPING SETS straight over the flat source, with no fine-grain
    pre-aggregate beneath."""
    from dbt_databricks_metrics_spark.plans.rollup import _estimated_bytes

    rv = engine.catalog.get("mv_order_metrics")
    flat = engine._compiler.baseline_projection(
        rv.spec, engine._compiler.source_plan(rv.spec)
    )
    est = _estimated_bytes(flat)
    assert isinstance(est, int) and 0 < est < 16 * 1024 * 1024

    inputs = []
    real = type(flat).groupingSets

    def spy(self, *a, **k):
        inputs.append(self)
        return real(self, *a, **k)

    monkeypatch.setattr(type(flat), "groupingSets", spy)
    engine.refresh("mv_order_metrics")
    assert len(inputs) == 1
    assert not [c for c in inputs[0].columns if c.startswith("_p_")]
    assert "Aggregate" not in str(inputs[0]._jdf.queryExecution().optimizedPlan())


def test_routing_decisions(engine):
    mv = engine.metric_view("mv_order_metrics")
    # covered by revenue_by_segment (dims ⊆ {market_segment, order_status})
    assert (
        mv.explain_route(["market_segment"], ["total_revenue"])["route"]
        == "rollup:revenue_by_segment"
    )
    assert (
        mv.explain_route(["market_segment", "order_status"], ["total_revenue", "total_orders"])["route"]
        == "rollup:revenue_by_segment"
    )
    assert (
        mv.explain_route(["order_year", "order_month"], ["total_revenue"])["route"]
        == "rollup:monthly_revenue"
    )
    # mv_order_metrics' source is a materialized table with plain dims →
    # its `baseline` snapshot would be a byte-identical copy; the build
    # skips it and uncovered queries serve from the live table at the
    # same cost (route = 'live')
    assert mv.explain_route(["market_segment"], ["max_order_value"])["route"] == "live"
    assert mv.explain_route(["order_priority"], ["total_revenue"])["route"] == "live"
    # window measures never routed to rollups (README.md:431)
    assert mv.explain_route(["market_segment"], ["trailing_7d_revenue"])["route"] == "live"

    # mv_orders_simple's source is a VIEW (recomputed per read) → its
    # baseline snapshot is a real cache and uncovered queries route to it
    simple = engine.metric_view("mv_orders_simple")
    assert simple.explain_route(["order_status"], ["order_count"])["route"] == "rollup:orders_by_status"
    assert simple.explain_route(["order_priority"], ["total_revenue"])["route"] == "baseline"
    assert simple.explain_route(["order_status"], ["avg_order_value"])["route"] == "baseline"


def test_non_decomposable_measures_never_routed(engine):
    """count(distinct) / median cannot be served from partial states: the
    router must fall back to live even when the query dims are covered by
    a rollup, and the live answer must match a direct aggregation."""
    mv = engine.metric_view("mv_order_metrics")
    # plain measure over the same dims routes...
    assert (
        mv.explain_route(["market_segment"], ["total_revenue"])["route"]
        == "rollup:revenue_by_segment"
    )
    # ...but mixing in a non-decomposable measure forces live
    for measures in (
        ["distinct_customers"],
        ["median_order_value"],
        ["distinct_customers", "total_revenue"],
    ):
        assert mv.explain_route(["market_segment"], measures)["route"] == "live", measures
    df, route = mv.query_routed(["market_segment"], ["distinct_customers"])
    assert route == "live"
    import pyspark.sql.functions as F

    expected = _rows(
        engine.ref("fct_orders")
        .groupBy("market_segment")
        .agg(F.countDistinct("customer_id").alias("distinct_customers"))
    )
    assert _rows(df) == expected


def test_rollup_scan_is_tiny(engine, spark):
    # BASELINE.md: routed segment query reads ≤ |dim combinations| rows
    state = engine.catalog.get("mv_order_metrics").state
    rollup = state.rollups["revenue_by_segment"]
    n = spark.read.parquet(rollup.path).count()
    seg = engine.ref("fct_orders").select("market_segment").distinct().count()
    st = engine.ref("fct_orders").select("order_status").distinct().count()
    assert n <= seg * st
    assert n <= 20  # 5 segments × ≤4 statuses


def test_rollup_equals_live_invariant(engine):
    """Every covered dim-subset × measure-subset: rollup ≡ live."""
    mv = engine.metric_view("mv_order_metrics")
    rollup_dims = ("market_segment", "order_status")
    rollup_measures = ("total_revenue", "total_orders")
    checked = 0
    for k in range(len(rollup_dims) + 1):
        for dims in combinations(rollup_dims, k):
            for mk in range(1, len(rollup_measures) + 1):
                for meas in combinations(rollup_measures, mk):
                    routed, route = mv.query_routed(list(dims), list(meas))
                    assert route == "rollup:revenue_by_segment", (dims, meas, route)
                    live = engine._compiler.compile(
                        __import__(
                            "dbt_databricks_metrics_spark.plans.compiler",
                            fromlist=["MetricQuery"],
                        ).MetricQuery(mv.spec, dims, meas)
                    )
                    assert _rows(routed) == _rows(live), (dims, meas)
                    checked += 1
    assert checked == 12


def test_avg_from_rollup_partials(engine, spark, tmp_path):
    """avg must be stored as (sum,count) and re-finalized, not averaged."""
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: fct_orders
dimensions:
  - name: market_segment
    expr: market_segment
  - name: order_status
    expr: order_status
measures:
  - name: avg_order_value
    expr: avg(total_price)
materialization:
  materialized_views:
    - name: seg_status
      type: aggregated
      dimensions: [market_segment, order_status]
      measures: [avg_order_value]
""",
        name="mv_avg_rollup",
    )
    mv = engine.register(spec)
    engine.refresh("mv_avg_rollup")
    routed, route = mv.query_routed(["market_segment"], ["avg_order_value"])
    assert route == "rollup:seg_status"
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery

    live = engine._compiler.compile(
        MetricQuery(spec, ("market_segment",), ("avg_order_value",))
    )
    r = {t[0]: float(t[1]) for t in routed.collect()}
    l = {t[0]: float(t[1]) for t in live.collect()}
    assert r.keys() == l.keys()
    for k in r:
        assert abs(r[k] - l[k]) < 1e-9 * max(1.0, abs(l[k]))


def test_baseline_query_matches_live(engine):
    # mv_orders_simple: view-backed source → baseline is a real cache
    mv = engine.metric_view("mv_orders_simple")
    routed, route = mv.query_routed(["order_priority"], ["avg_order_value"])
    assert route == "baseline"
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery

    live = engine._compiler.compile(
        MetricQuery(mv.spec, ("order_priority",), ("avg_order_value",))
    )
    assert _rows(routed) == _rows(live)


def test_window_over_baseline_matches_live(engine):
    """Window measures compiled against a baseline snapshot (flattened
    mode) must equal the live plan — exercised via a view-backed spec."""
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: stg_orders
dimensions:
  - name: order_status
    expr: order_status
  - name: order_date
    expr: order_date
measures:
  - name: t7
    expr: sum(total_price)
    window:
      - order: order_date
        range: trailing 7 day
        semiadditive: last
materialization:
  materialized_views:
    - name: baseline
      type: unaggregated
""",
        name="mv_win_base",
    )
    mv = engine.register(spec)
    engine.refresh("mv_win_base")
    routed, route = mv.query_routed(["order_status"], ["t7"])
    assert route == "baseline"
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery

    live = engine._compiler.compile(MetricQuery(spec, ("order_status",), ("t7",)))
    assert _rows(routed) == _rows(live)


def test_create_or_replace_preserves_state(engine):
    """Unchanged spec re-registration keeps rollup state
    (macros/generate_metric_views.sql:78-79)."""
    rv_before = engine.catalog.get("mv_order_metrics")
    state_before = rv_before.state
    assert state_before is not None and state_before.rollups
    engine.register(rv_before.spec)  # CREATE OR REPLACE, unchanged
    assert engine.catalog.get("mv_order_metrics").state is state_before


def test_changed_spec_invalidates_state(engine):
    from dataclasses import replace

    rv = engine.catalog.get("mv_orders_simple")
    engine.refresh("mv_orders_simple")
    assert engine.catalog.get("mv_orders_simple").state is not None
    changed = replace(rv.spec, filter="order_status = 'F'")
    engine.register(changed)
    assert engine.catalog.get("mv_orders_simple").state is None
    # restore for other tests
    engine.register(replace(changed, filter=None))
    engine.refresh("mv_orders_simple")


def test_drop_removes_storage(engine, spark):
    import os

    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: fct_orders
dimensions:
  - name: order_status
    expr: order_status
measures:
  - name: n
    expr: count(*)
materialization:
  materialized_views:
    - name: by_status
      type: aggregated
      dimensions: [order_status]
      measures: [n]
""",
        name="mv_droppable",
    )
    engine.register(spec)
    engine.refresh("mv_droppable")
    path = engine.catalog.get("mv_droppable").state.rollups["by_status"].path
    assert os.path.exists(path)
    engine.drop("mv_droppable")
    assert not os.path.exists(path)
    assert "mv_droppable" not in engine.catalog
    # DROP IF EXISTS is quiet; plain drop raises
    engine.drop("mv_droppable", if_exists=True)
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.drop("mv_droppable")


def test_explain_route(spark, sf_dir, tmp_path_factory):
    """explain_route reports the chosen source, the reason, and every
    rollup's eligibility — without executing anything."""
    import tempfile

    from dbt_databricks_metrics_spark.engine import MetricEngine
    from dbt_databricks_metrics_spark.project import build_registry

    eng = MetricEngine(
        spark, build_registry(sf_dir), warehouse_dir=tempfile.mkdtemp("xr_wh_")
    )
    eng.run(materialize_rollups=True)
    mv = eng.metric_view("mv_order_metrics")

    ex = mv.explain_route(["market_segment"], ["total_revenue"])
    assert ex["route"] == "rollup:revenue_by_segment"
    assert "stored rows" in ex["reason"]
    assert any(
        c["rollup"] == "revenue_by_segment" and c["status"] == "eligible"
        for c in ex["candidates"]
    )

    exw = mv.explain_route(["market_segment"], ["trailing_7d_revenue"])
    assert not exw["route"].startswith("rollup:")
    assert "window" in exw["reason"]

    exm = mv.explain_route(["order_priority"], ["total_revenue"])
    assert exm["route"] in ("baseline", "live")
    assert any("missing dims" in c["status"] for c in exm["candidates"])

    # the serving tier: the route string is the same on either tier
    from dbt_databricks_metrics_spark.plans import rollup

    n_rows = mv._rv.state.rollups["revenue_by_segment"].n_rows
    bound = rollup.DRIVER_MAX_ROWS
    assert ex["serving"] == {"tier": "driver", "n_rows": n_rows, "bound": bound}
    assert exm["serving"] == {"tier": "spark", "n_rows": None, "bound": bound}
    try:
        rollup.DRIVER_MAX_ROWS = n_rows - 1
        eng._rollups._invalidate(eng._rollups.storage_dir)
        over = mv.explain_route(["market_segment"], ["total_revenue"])
    finally:
        rollup.DRIVER_MAX_ROWS = bound
        eng._rollups._invalidate(eng._rollups.storage_dir)
    assert over["route"] == ex["route"]
    assert over["serving"] == {"tier": "spark", "n_rows": n_rows, "bound": n_rows - 1}

    # agrees with the actual routing decision
    _, route = mv.query_routed(["market_segment"], ["total_revenue"])
    assert route == ex["route"]

    # mixed plain+window: explain mirrors compile_routed's split path
    # ('rollup:<name>+<window route>'), modulo the compile-time
    # '+grain:...' suffix (ADVICE r3)
    exs = mv.explain_route(
        ["market_segment"], ["total_revenue", "trailing_7d_revenue"]
    )
    _, sroute = mv.query_routed(
        ["market_segment"], ["total_revenue", "trailing_7d_revenue"]
    )
    assert sroute.split("+grain:")[0] == exs["route"], (sroute, exs["route"])
    assert "split" in exs["reason"]


def test_raw_where_candidates_name_the_skip(engine):
    """A WHERE naming a raw source column skips every rollup; each
    candidate's status says so instead of reading "eligible"."""
    mv = engine.metric_view("mv_order_metrics")
    ex = mv.explain_route(["market_segment"], ["total_revenue"], where="total_price > 1000")
    assert ex["route"] == "live"
    assert "raw source columns" in ex["reason"]
    assert ex["candidates"]
    for c in ex["candidates"]:
        assert c["status"] == "WHERE references raw source columns (not dims)", c


@pytest.fixture(scope="module")
def derived_view(engine):
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    from .test_derived_measures import SPEC_YAML

    if "mv_derived" not in engine.catalog.names():
        engine.register(MetricViewSpec.from_yaml(SPEC_YAML, name="mv_derived"))
        engine.refresh("mv_derived")
    return engine.metric_view("mv_derived")


@pytest.mark.parametrize(
    "view,dims,measures,where",
    [
        pytest.param("mv_order_metrics", ["market_segment"], ["total_revenue"], None,
                     id="covered"),
        pytest.param("mv_order_metrics", ["order_priority"], ["total_revenue"], None,
                     id="uncovered_dim"),
        pytest.param("mv_order_metrics", ["market_segment"], ["trailing_7d_revenue"], None,
                     id="window_only"),
        pytest.param("mv_order_metrics", ["market_segment"],
                     ["total_revenue", "trailing_7d_revenue"], None, id="mixed"),
        pytest.param("mv_order_metrics", ["market_segment"], ["total_revenue"],
                     "total_price > 1000", id="raw_where"),
        pytest.param("mv_derived", ["market_segment"], ["aov_cents"], None, id="derived"),
        pytest.param("mv_order_metrics", ["market_segment"], ["total_revenue"],
                     "order_status = 'F'", id="dim_where"),
    ],
)
def test_explain_route_agrees_with_query_routed(engine, derived_view, view, dims,
                                                measures, where):
    mv = engine.metric_view(view)
    ex = mv.explain_route(dims, measures, where=where)
    _, route = mv.query_routed(dims, measures, where=where, log_workload=False)
    assert route.split("+grain:")[0] == ex["route"], (route, ex)


def test_query_routed_expands_derived_once(engine, derived_view, monkeypatch):
    """One routing decision per query: the workload log, the router and
    the compile all read one expansion of the derived measures."""
    from dbt_databricks_metrics_spark.plans import compiler, rollup

    calls = []
    real = compiler.expand_derived

    def spy(q):
        calls.append(q.measures)
        return real(q)

    monkeypatch.setattr(compiler, "expand_derived", spy)
    monkeypatch.setattr(rollup, "expand_derived", spy)
    mv = engine.metric_view("mv_order_metrics")
    for view, dims, measures, want in (
        (mv, ["market_segment"], ["total_revenue"], "rollup:revenue_by_segment"),
        (mv, ["market_segment"], ["max_order_value"], "live"),
        (derived_view, ["market_segment"], ["aov_cents"], "rollup:seg_base"),
        (derived_view, ["order_year"], ["aov_cents"], "live"),
    ):
        calls.clear()
        _, route = view.query_routed(dims, measures)
        assert route == want
        assert calls == [tuple(measures)], (measures, calls)


def test_build_job_budget(engine, spark, tmp_path, monkeypatch):
    """Jobs per aggregated-rollup build, counted per job group with AQE
    off (AQE adds one map-stage job per shuffle and one per cache
    materialization on top of these): one grain writes in ONE job with
    no Expand in its plan; N grains in N jobs — the grouping sets run
    inside the first slice write and every slice observes its own row
    count, so no separate count job; ``advise_rollups(apply=True)``
    builds its two advised grains in two."""
    from dbt_databricks_metrics_spark.plans import rollup
    from dbt_databricks_metrics_spark.plans.advisor import WorkloadQuery
    from dbt_databricks_metrics_spark.plans.rollup import RollupManager

    sc = spark.sparkContext
    mgr = RollupManager(spark, engine._compiler, str(tmp_path))
    plans = []
    real_publish = rollup.publish_dir

    def spy(path, write):
        plans.append(str(write.__self__._df._jdf.queryExecution().optimizedPlan()))
        return real_publish(path, write)

    monkeypatch.setattr(rollup, "publish_dir", spy)

    def jobs(label, fn):
        sc.setJobGroup(label, label)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(label)), out

    rv = engine.catalog.get("mv_order_metrics")
    aggregated = [
        r for r in rv.spec.materialization.materialized_views if r.type == "aggregated"
    ]
    flat = engine._compiler.baseline_projection(
        rv.spec, engine._compiler.source_plan(rv.spec)
    )
    mv = engine.metric_view("mv_order_metrics")
    wl = [
        WorkloadQuery(("market_segment",), ("total_revenue",), weight=5),
        WorkloadQuery(("order_year", "order_month"), ("total_orders",), weight=3),
    ]
    # the advisor applies into the shared engine's view: put its rollups,
    # their storage and the AQE setting back afterwards
    prior = dict(rv.state.rollups)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        n1, one = jobs("budget_one", lambda: mgr.build_aggregated(rv.spec, aggregated[:1], flat))
        n_all, many = jobs("budget_many", lambda: mgr.build_aggregated(rv.spec, aggregated, flat))
        n_advise, _ = jobs(
            "budget_advise",
            lambda: mv.advise_rollups(wl, max_rollups=2, consider_existing=False),
        )
        n_apply, _ = jobs(
            "budget_apply",
            lambda: mv.advise_rollups(wl, max_rollups=2, apply=True, consider_existing=False),
        )
        applied = {k: b for k, b in rv.state.rollups.items() if k not in prior}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        for k, b in rv.state.rollups.items():
            if k not in prior:
                shutil.rmtree(b.path, ignore_errors=True)
        rv.state.rollups.clear()
        rv.state.rollups.update(prior)
    assert len(aggregated) == 3 and len(applied) == 2
    assert (n1, n_all, n_apply - n_advise) == (1, 3, 2)
    assert "Expand" not in plans[0]
    assert all("Expand" in p for p in plans[1:4])
    assert {k: b.n_rows for k, b in {**one, **many}.items()} == {
        k: b.n_rows for k, b in prior.items()
    }


def _shadowing_spec(rollups: str) -> str:
    """A view whose ``total_price`` dimension replaces the same-named
    source column (price banded to 100k) while its measures aggregate
    the raw column."""
    return f"""
version: 0.1
source: stg_orders
dimensions:
  - name: order_status
    expr: order_status
  - name: order_priority
    expr: order_priority
  - name: order_date
    expr: order_date
  - name: total_price
    expr: round(total_price, -5)
measures:
  - name: revenue
    expr: sum(total_price)
  - name: big_orders
    expr: count_if(total_price > 200000)
  - name: t7
    expr: sum(total_price)
    window:
      - order: order_date
        range: trailing 7 day
        semiadditive: last
materialization:
  materialized_views:
    - name: snapshot
      type: unaggregated
    - name: by_status
      type: aggregated
      dimensions: [order_status, total_price]
      measures: [revenue, big_orders]
{rollups}"""


@pytest.mark.parametrize("n_aggregated", [1, 2])
def test_shadowed_source_column_reads_like_live(engine, n_aggregated):
    """A dimension that replaces a source column of its own name does not
    change what a measure reading that column aggregates: with one or
    two aggregated rollups, every route (rollup, baseline, window over
    the baseline) answers like live, which reads the raw column."""
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    extra = """    - name: by_priority
      type: aggregated
      dimensions: [order_priority]
      measures: [revenue]
""" if n_aggregated == 2 else ""
    name = f"mv_shadow_{n_aggregated}"
    spec = MetricViewSpec.from_yaml(_shadowing_spec(extra), name=name)
    mv = engine.register(spec)
    engine.refresh(name)
    cases = [
        (("order_status",), ("revenue", "big_orders"), "rollup:by_status"),
        (("total_price",), ("revenue",), "rollup:by_status"),
        (("order_priority",), ("revenue",),
         "rollup:by_priority" if n_aggregated == 2 else "baseline"),
        (("order_status",), ("t7",), "baseline"),
    ]
    for dims, measures, route in cases:
        routed, got = mv.query_routed(list(dims), list(measures))
        assert got == route, (dims, measures, got)
        live = engine._compiler.compile(MetricQuery(spec, dims, measures))
        assert _rows(routed) == _rows(live), (dims, measures)


def test_shadowed_source_column_folds_like_live(spark, sf_dir, tmp_path):
    """An incremental fold reads the same flat projection as the build:
    the fold groups by the shadowing dimension and its measures still
    aggregate the raw column, so the folded rollup equals live over the
    full data."""
    from pyspark.sql import functions as F

    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery
    from dbt_databricks_metrics_spark.sources import load_table
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    full = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_orderpriority").alias("order_priority"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.col("o_totalprice").alias("total_price"),
    )
    yaml = _shadowing_spec("").replace("source: stg_orders", "source: shadow_src")
    yaml = yaml[: yaml.index("    - name: snapshot")] + yaml[yaml.index("    - name: by_status"):]
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh"))
    full.filter(F.col("order_date") < "1996-01-01").createOrReplaceTempView("shadow_src")
    mv = eng.register(MetricViewSpec.from_yaml(yaml, name="mv_shadow_fold"))
    eng.refresh("mv_shadow_fold")
    eng.refresh_incremental(
        "mv_shadow_fold", full.filter(F.col("order_date") >= "1996-01-01")
    )
    full.createOrReplaceTempView("shadow_src")
    dims, measures = ("order_status", "total_price"), ("revenue", "big_orders")
    routed, route = mv.query_routed(list(dims), list(measures))
    assert route == "rollup:by_status"
    live = eng._compiler.compile(MetricQuery(mv.spec, dims, measures))
    assert _rows(routed) == _rows(live)


def _jobs(spark, label, fn):
    """(Spark jobs *fn* ran, its result), counted in job group *label*."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(label)), out


@pytest.mark.parametrize(
    "dims,measures,where",
    [
        pytest.param(["market_segment", "order_status"], ["total_revenue", "total_orders"],
                     None, id="exact_cover"),
        pytest.param(["market_segment"], ["total_revenue"], None, id="merge"),
        pytest.param(["market_segment"], ["total_revenue"], "order_status = 'F'",
                     id="slice_on_merged_dim"),
        pytest.param([], ["total_revenue", "total_orders"], None, id="no_dims"),
    ],
)
def test_driver_served_query_runs_no_job(engine, spark, dims, measures, where):
    """A routed query over a rollup under ``DRIVER_MAX_ROWS`` runs no
    Spark job, its build included, and equals the live answer."""
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery

    mv = engine.metric_view("mv_order_metrics")
    assert mv.explain_route(dims, measures, where=where)["serving"]["tier"] == "driver"
    n, rows = _jobs(spark, f"driver_{len(dims)}_{where is None}",
                    lambda: mv.query(dims, measures, where=where).collect())
    assert n == 0
    live = engine._compiler.compile(MetricQuery(mv.spec, tuple(dims), tuple(measures),
                                                where=where))
    assert _norm_rows(rows) == _rows(live)


def test_baseline_schema_is_the_inferred_schema(engine, spark):
    """The schema a baseline build records equals the one a parquet read
    of the snapshot infers, for every baseline the project builds, so a
    read that passes it sees the same columns and types."""
    states = [engine.catalog.get(n).state for n in engine.catalog.names()]
    built = [s for s in states if s is not None and s.baseline]
    assert built
    for state in built:
        assert state.baseline_schema == spark.read.parquet(state.baseline).schema


def test_baseline_routed_build_runs_no_job(engine, spark):
    """Building a baseline-routed query infers no schema: 0 Spark jobs
    before any ``collect``, and the rows equal the live answer."""
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery

    mv = engine.metric_view("mv_orders_simple")
    n, (df, route) = _jobs(spark, "baseline_build",
                           lambda: mv.query_routed(["order_priority"], ["order_count"]))
    assert route == "baseline"
    assert n == 0
    live = engine._compiler.compile(
        MetricQuery(mv.spec, ("order_priority",), ("order_count",)))
    assert _rows(df) == _rows(live)


def test_driver_served_measure_sql_runs_no_job(engine, spark):
    n, rows = _jobs(spark, "driver_sql", lambda: engine.sql(
        "SELECT market_segment, MEASURE(total_revenue) AS revenue "
        "FROM mv_order_metrics WHERE order_status = 'F' GROUP BY market_segment"
    ).collect())
    assert n == 0
    ref = engine.metric_view("mv_order_metrics").query(
        ["market_segment"], ["total_revenue"], where="order_status = 'F'")
    assert _norm_rows(rows) == _rows(ref)


def test_driver_served_measure_cte_runs_no_job(engine, spark):
    """A plain final over a driver-served MEASURE() CTE: the CTE reads its
    temp view, which Spark inlines, so the warm statement runs no job."""
    text = (
        "WITH rev AS (SELECT market_segment, MEASURE(total_revenue) AS revenue "
        "FROM mv_order_metrics WHERE order_status = 'F' GROUP BY market_segment) "
        "SELECT * FROM rev"
    )
    engine.sql(text).collect()
    n, rows = _jobs(spark, "driver_cte", lambda: engine.sql(text).collect())
    assert n == 0
    ref = engine.metric_view("mv_order_metrics").query(
        ["market_segment"], ["total_revenue"], where="order_status = 'F'")
    assert _norm_rows(rows) == _rows(ref)


def test_rollup_over_the_bound_serves_from_spark(engine, spark, monkeypatch):
    """One row over ``DRIVER_MAX_ROWS`` the same rollup serves through
    Spark: same route, Spark jobs, equal values."""
    from dbt_databricks_metrics_spark.plans import rollup

    mv = engine.metric_view("mv_order_metrics")
    mgr = engine._rollups
    n_rows = mv._rv.state.rollups["revenue_by_segment"].n_rows
    shape = (["market_segment"], ["total_revenue", "total_orders"])
    monkeypatch.setattr(rollup, "DRIVER_MAX_ROWS", n_rows)
    mgr._invalidate(mgr.storage_dir)
    df, route = mv.query_routed(*shape)
    n_driver, driver = _jobs(spark, "bound_at", df.collect)
    monkeypatch.setattr(rollup, "DRIVER_MAX_ROWS", n_rows - 1)
    mgr._invalidate(mgr.storage_dir)
    try:
        assert mv.explain_route(*shape)["serving"]["tier"] == "spark"
        df_s, route_s = mv.query_routed(*shape)
        n_spark, spark_rows = _jobs(spark, "bound_over", df_s.collect)
    finally:
        mgr._invalidate(mgr.storage_dir)
    assert route == route_s == "rollup:revenue_by_segment"
    assert n_driver == 0 and n_spark > 0
    assert df.schema == df_s.schema
    assert _norm_rows(driver) == _norm_rows(spark_rows)


_TOY_YAML = """
version: 0.1
source: {src}
dimensions:
  - name: k
    expr: k
  - name: s
    expr: s
measures:
  - name: total
    expr: sum(v)
  - name: n
    expr: count(*)
materialization:
  schedule: every 1 hours
  mode: relaxed
  materialized_views:
    - name: by_k_s
      type: aggregated
      dimensions: [k, s]
      measures: [total, n]
"""


def _toy_view(spark, tmp_path, name, rows):
    """A retractable view over temp view ``<name>_src`` (``k``, ``s``,
    ``v bigint``) with one rollup at (k, s), built from *rows*."""
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    src = f"{name}_src"
    spark.createDataFrame(rows, "k string, s string, v bigint").createOrReplaceTempView(src)
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh"))
    mv = eng.register(MetricViewSpec.from_yaml(_TOY_YAML.format(src=src), name=name))
    eng.refresh(name)
    return eng, mv


def _arrow_rows(spark, *rows):
    """A (``k``, ``s``, ``v bigint``) batch made from a ``pyarrow.Table``:
    a frame whose rows already live on the driver (``isLocal()``)."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [(), (), ()]
    return spark.createDataFrame(pa.table({
        "k": pa.array(cols[0], pa.string()),
        "s": pa.array(cols[1], pa.string()),
        "v": pa.array(cols[2], pa.int64()),
    }))


@pytest.mark.parametrize(
    "writer", ["refresh_cdc", "refresh_cdc_local", "refresh_incremental", "refresh"])
def test_read_during_refresh_serves_the_new_rollup(spark, tmp_path, monkeypatch, writer):
    """A routed read that lands while a refresh is writing serves the old
    rollup, and every read after the refresh serves the new one: the
    loaded rollup is dropped (or, after a driver fold, replaced) after
    the publish, not before it."""
    from dbt_databricks_metrics_spark.plans import rollup
    from dbt_databricks_metrics_spark.streaming import refresh as folds

    def rows(*r):
        if writer == "refresh_cdc_local":
            return _arrow_rows(spark, *r)
        return spark.createDataFrame(list(r), "k string, s string, v bigint")

    name = f"mv_race_{writer}"
    eng, mv = _toy_view(spark, tmp_path, name, [("A", "x", 10), ("A", "y", 20), ("B", "x", 5)])

    def read():
        return {r["k"]: r["total"] for r in mv.query(["k"], ["total"]).collect()}

    assert read() == {"A": 30, "B": 5}
    module = rollup if writer == "refresh" else folds
    real = module.publish_dir
    seen = []

    def publish_after_a_read(path, write):
        seen.append(read())
        real(path, write)

    monkeypatch.setattr(module, "publish_dir", publish_after_a_read)
    if writer.startswith("refresh_cdc"):
        eng.refresh_cdc(name, rows(("A", "y", 20)), rows(("A", "y", 25), ("B", "y", 7)))
    elif writer == "refresh_incremental":
        eng.refresh_incremental(name, rows(("A", "y", 5), ("B", "y", 7)))
    else:
        rows(("A", "x", 10), ("A", "y", 25), ("B", "x", 5), ("B", "y", 7)) \
            .createOrReplaceTempView(f"{name}_src")
        eng.refresh(name)
    assert seen == [{"A": 30, "B": 5}]
    assert read() == {"A": 35, "B": 12}


def test_fresh_read_after_refresh_cdc_runs_no_job(spark, tmp_path):
    """The read after a CDC fold reloads the rollup on the driver and
    re-aggregates it there: no Spark job."""
    eng, mv = _toy_view(spark, tmp_path, "mv_fresh_read",
                        [("A", "x", 10), ("A", "y", 20), ("B", "x", 5)])
    before = spark.createDataFrame([("A", "y", 20)], "k string, s string, v bigint")
    after = spark.createDataFrame([("A", "y", 25), ("B", "y", 7)], "k string, s string, v bigint")
    eng.refresh_cdc("mv_fresh_read", before, after)
    n, rows = _jobs(spark, "fresh_read",
                    lambda: mv.query(["k"], ["total", "n"]).collect())
    assert n == 0
    assert sorted(tuple(r) for r in rows) == [("A", 35, 2), ("B", 12, 2)]


def test_refresh_cdc_fold_job_budget(spark, tmp_path):
    """A CDC fold of one rollup runs 5 Spark jobs; counting the rows it
    stores rides the write and adds none."""
    eng, _mv = _toy_view(spark, tmp_path, "mv_fold_budget",
                         [("A", "x", 10), ("A", "y", 20), ("B", "x", 5)])
    before = spark.createDataFrame([("B", "x", 5)], "k string, s string, v bigint")
    after = spark.createDataFrame([("C", "x", 1), ("C", "y", 2)], "k string, s string, v bigint")
    n, _ = _jobs(spark, "cdc_fold", lambda: eng.refresh_cdc("mv_fold_budget", before, after))
    assert n == 5


def test_refresh_cdc_driver_fold_job_budget(spark, tmp_path):
    """A CDC batch made from Arrow tables folds into a driver-served
    rollup with no Spark job, and the fresh read after it runs none
    either: the fold publishes with pyarrow and installs the merged table
    as the resident rollup, which equals the published one."""
    eng, mv = _toy_view(spark, tmp_path, "mv_driver_fold",
                        [("A", "x", 10), ("A", "y", 20), ("B", "x", 5)])
    built = mv._rv.state.rollups["by_k_s"]
    mv.query(["k"], ["total"]).collect()
    old = eng._rollups._loaded[built.path]
    schema = spark.read.parquet(built.path).schema  # as Spark wrote it
    before = _arrow_rows(spark, ("B", "x", 5))
    after = _arrow_rows(spark, ("C", "x", 1), ("C", "y", 2), ("A", "x", 4))
    n_fold, _ = _jobs(spark, "driver_fold",
                      lambda: eng.refresh_cdc("mv_driver_fold", before, after))
    n_read, rows = _jobs(spark, "driver_fold_read",
                         lambda: mv.query(["k"], ["total", "n"]).collect())
    assert (n_fold, n_read) == (0, 0)
    assert sorted(tuple(r) for r in rows) == [("A", 34, 3), ("C", 3, 2)]
    loaded = eng._rollups._loaded[built.path]
    assert loaded is not old and loaded.tier == "driver"
    stored = spark.read.parquet(built.path)
    assert loaded.n_rows == built.n_rows == stored.count() == 4
    assert stored.schema == schema
    assert sorted(tuple(r) for r in stored.collect()) == sorted(
        tuple(d.values()) for d in loaded.table.to_pylist())


def test_folds_update_candidate_n_rows(spark, tmp_path):
    """After a CDC fold that deletes one group and inserts two, and an
    incremental fold that adds one more, the router's stored-row count
    (``explain_route``'s candidates) equals the rows the rollup holds."""
    eng, mv = _toy_view(spark, tmp_path, "mv_fold_rows",
                        [("A", "x", 10), ("A", "y", 20), ("B", "x", 5)])
    built = mv._rv.state.rollups["by_k_s"]

    def candidate_rows():
        (cand,) = mv.explain_route(["k"], ["total"])["candidates"]
        return cand["n_rows"]

    eng.refresh_cdc(
        "mv_fold_rows",
        spark.createDataFrame([("B", "x", 5)], "k string, s string, v bigint"),
        spark.createDataFrame([("C", "x", 1), ("C", "y", 2)], "k string, s string, v bigint"),
    )
    assert candidate_rows() == spark.read.parquet(built.path).count() == 4
    eng.refresh_incremental(
        "mv_fold_rows",
        spark.createDataFrame([("D", "x", 3)], "k string, s string, v bigint"),
    )
    assert candidate_rows() == spark.read.parquet(built.path).count() == 5


def test_rollup_folded_past_the_bound_serves_from_spark(spark, tmp_path, monkeypatch):
    """The driver tier's bound reads the rows the published rollup holds:
    once a fold grows the rollup past the bound it serves from Spark."""
    from dbt_databricks_metrics_spark.plans import rollup

    monkeypatch.setattr(rollup, "DRIVER_MAX_ROWS", 3)
    eng, mv = _toy_view(spark, tmp_path, "mv_fold_grow",
                        [("A", "x", 10), ("A", "y", 20), ("B", "x", 5)])
    assert mv.explain_route(["k"], ["total"])["serving"] == {
        "tier": "driver", "n_rows": 3, "bound": 3}
    eng.refresh_incremental("mv_fold_grow", spark.createDataFrame(
        [("B", "y", 7), ("C", "x", 1)], "k string, s string, v bigint"))
    assert mv._rv.state.rollups["by_k_s"].n_rows == 5  # counted by the fold
    assert mv.explain_route(["k"], ["total"])["serving"] == {
        "tier": "spark", "n_rows": 5, "bound": 3}
    rows = {r["k"]: r["total"] for r in mv.query(["k"], ["total"]).collect()}
    assert rows == {"A": 30, "B": 12, "C": 1}


def test_rollup_cdc_folded_past_the_bound_serves_from_spark(spark, tmp_path, monkeypatch):
    """A driver fold that grows the rollup past the bound publishes it
    and leaves it to the Spark tier instead of installing it."""
    from dbt_databricks_metrics_spark.plans import rollup

    monkeypatch.setattr(rollup, "DRIVER_MAX_ROWS", 3)
    eng, mv = _toy_view(spark, tmp_path, "mv_cdc_grow",
                        [("A", "x", 10), ("A", "y", 20), ("B", "x", 5)])
    built = mv._rv.state.rollups["by_k_s"]
    assert mv.explain_route(["k"], ["total"])["serving"]["tier"] == "driver"
    n, _ = _jobs(spark, "cdc_grow", lambda: eng.refresh_cdc(
        "mv_cdc_grow", _arrow_rows(spark, ("A", "x", 10)),
        _arrow_rows(spark, ("A", "x", 11), ("B", "y", 7), ("C", "x", 1))))
    assert n == 0  # folded on the driver
    assert built.path not in eng._rollups._loaded
    assert built.n_rows == 5
    assert mv.explain_route(["k"], ["total"])["serving"] == {
        "tier": "spark", "n_rows": 5, "bound": 3}
    rows = {r["k"]: r["total"] for r in mv.query(["k"], ["total"]).collect()}
    assert rows == {"A": 31, "B": 12, "C": 1}


def test_estimated_bytes_reads_the_private_estimate(spark):
    """``_estimated_bytes`` reaches Catalyst's estimate through ``_jdf``;
    on a Spark API break it would read as unbounded (``1 << 62``) and
    silently switch the build shape. A small frame must estimate finite
    and small."""
    from dbt_databricks_metrics_spark.plans.rollup import _estimated_bytes

    for df in (spark.range(100), _arrow_rows(spark, ("A", "x", 1))):
        est = _estimated_bytes(df)
        assert isinstance(est, int) and 0 < est < 1 << 20


def test_refresh_drops_rollups_the_new_spec_no_longer_declares(spark, tmp_path):
    """Re-registering a view without one of its rollups and refreshing
    it leaves no loaded table of the dropped rollup behind."""
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    eng, mv = _toy_view(spark, tmp_path, "mv_respec",
                        [("A", "x", 10), ("A", "y", 20), ("B", "x", 5)])
    mv.query(["k"], ["total"]).collect()
    old = mv._rv.state.rollups["by_k_s"].path
    assert old in eng._rollups._loaded
    yaml = _TOY_YAML.format(src="mv_respec_src").replace(
        "name: by_k_s", "name: by_k").replace("dimensions: [k, s]", "dimensions: [k]")
    mv = eng.register(MetricViewSpec.from_yaml(yaml, name="mv_respec"))
    eng.refresh("mv_respec")
    df, route = mv.query_routed(["k"], ["total"])
    assert route == "rollup:by_k"
    assert sorted(tuple(r) for r in df.collect()) == [("A", 30), ("B", 5)]
    assert old not in eng._rollups._loaded
    assert list(eng._rollups._loaded) == [mv._rv.state.rollups["by_k"].path]


def test_invalidate_matches_whole_path_components(spark, tmp_path):
    """Refreshing ``mv_sales`` must not drop ``mv_sales_star``'s loaded
    rollups."""
    import os

    from dbt_databricks_metrics_spark.plans import rollup

    mgr = rollup.RollupManager(spark, None, str(tmp_path))
    keep = os.path.join(str(tmp_path), "mv_sales_star", "r")
    drop = os.path.join(str(tmp_path), "mv_sales", "r")
    for p in (keep, drop):
        mgr._loaded[p] = rollup._Loaded(spark.range(1), 1)
    mgr._invalidate(os.path.join(str(tmp_path), "mv_sales"))
    assert list(mgr._loaded) == [keep]
