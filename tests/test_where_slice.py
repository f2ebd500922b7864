"""Query-time WHERE slices over declared dimensions (README.md:124-141
query shape with a WHERE clause).

Semantics under test: the predicate may reference ANY declared dimension —
including ones absent from the GROUP BY — and is applied to the (filtered,
joined) source BEFORE measure expansion. Routing only uses rollups whose
dimension set covers the slice's dims as well as the grouped dims, and the
slice filters the rollup's stored rows before re-aggregation, so
routed ≡ live holds with a WHERE too.
"""

from __future__ import annotations

import pytest

from dbt_databricks_metrics_spark.engine import MetricEngine
from dbt_databricks_metrics_spark.plans.compiler import MetricQuery, QueryError
from dbt_databricks_metrics_spark.project import build_registry
from dbt_databricks_metrics_spark.specs import MetricViewSpec

from .conftest import assert_df_matches_oracle

_STG_ORDERS = """
    SELECT o_orderkey AS order_id, o_custkey AS customer_id,
           o_orderstatus AS order_status, o_totalprice AS total_price,
           CAST(o_orderdate AS DATE) AS order_date
    FROM orders
"""

_FCT = f"""
    SELECT o.*, c.c_mktsegment AS market_segment,
           CAST(year(o.order_date) AS INT) AS order_year
    FROM ({_STG_ORDERS}) o
    LEFT JOIN customer c ON o.customer_id = c.c_custkey
"""


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    eng = MetricEngine(
        spark,
        build_registry(sf_dir),
        warehouse_dir=str(tmp_path_factory.mktemp("whw")),
    )
    eng.run(materialize_rollups=True)
    return eng


def _rows(df):
    import math

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            if v == 0:
                return 0.0
            return round(v, max(0, 10 - int(math.log10(abs(v)))))
        return str(v)

    return sorted(tuple(norm(x) for x in r) for r in df.collect())


def test_slice_on_non_grouped_dim_routes_to_covering_rollup(engine, duck):
    """WHERE order_status='F' while grouping by market_segment: the
    revenue_by_segment rollup (market_segment × order_status) covers both
    the grouped dim and the slice dim, so the query routes — and the slice
    filters stored rollup rows before re-aggregation."""
    mv = engine.metric_view("mv_order_metrics")
    df, route = mv.query_routed(
        ["market_segment"], ["total_revenue", "total_orders"],
        where="order_status = 'F'",
    )
    assert route == "rollup:revenue_by_segment"
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT market_segment, sum(total_price) AS total_revenue,
               count(*) AS total_orders
        FROM ({_FCT}) WHERE order_status = 'F'
        GROUP BY market_segment
        """,
    )


def test_slice_routed_equals_live(engine):
    mv = engine.metric_view("mv_order_metrics")
    routed, route = mv.query_routed(
        ["market_segment"], ["total_revenue", "total_orders"],
        where="order_status IN ('F', 'O')",
    )
    assert route.startswith("rollup:")
    live = engine._compiler.compile(
        MetricQuery(
            mv.spec,
            ("market_segment",),
            ("total_revenue", "total_orders"),
            where="order_status IN ('F', 'O')",
        )
    )
    assert _rows(routed) == _rows(live)


def test_slice_on_uncovered_dim_falls_back_to_live(engine, duck):
    """order_status × (slice on derived order_year): no rollup covers both
    → live expansion, with the dim name substituted by its expression so
    the predicate evaluates on the raw source."""
    mv = engine.metric_view("mv_order_metrics")
    years = [r[0] for r in duck.execute(
        f"SELECT DISTINCT order_year FROM ({_FCT}) ORDER BY 1"
    ).fetchall()]
    year = years[len(years) // 2]
    df, route = mv.query_routed(
        ["order_status"], ["total_revenue", "total_orders"],
        where=f"order_year = {year}",
    )
    assert route == "live"
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT order_status, sum(total_price) AS total_revenue,
               count(*) AS total_orders
        FROM ({_FCT}) WHERE order_year = {year}
        GROUP BY order_status
        """,
    )


def test_slice_equals_spec_filter_for_window_measure(engine):
    """Slicing a window-measure query ≡ declaring the same predicate as the
    spec's `filter:` — both restrict the rows feeding the grain/window."""
    sliced = engine.metric_view("mv_order_metrics").query(
        ["market_segment"], ["trailing_7d_revenue"], where="order_status = 'F'"
    )
    spec_filtered = MetricViewSpec.from_yaml(
        """
version: 0.1
source: fct_orders
filter: order_status = 'F'
dimensions:
  - name: market_segment
    expr: market_segment
  - name: order_date
    expr: order_date
measures:
  - name: trailing_7d_revenue
    expr: sum(total_price)
    window:
      - order: order_date
        range: trailing 7 day
        semiadditive: last
""",
        name="mv_wslice_filtered",
    )
    engine.register(spec_filtered)
    via_filter = engine.metric_view("mv_wslice_filtered").query(
        ["market_segment"], ["trailing_7d_revenue"]
    )
    assert _rows(sliced) == _rows(via_filter)


def test_slice_on_group_key_equals_post_filter(engine):
    mv = engine.metric_view("mv_order_metrics")
    sliced = mv.query(
        ["market_segment"], ["total_revenue"], where="market_segment = 'BUILDING'"
    )
    post = mv.query(["market_segment"], ["total_revenue"]).filter(
        "market_segment = 'BUILDING'"
    )
    assert _rows(sliced) == _rows(post)


def test_measure_in_where_rejected(engine):
    mv = engine.metric_view("mv_order_metrics")
    with pytest.raises(QueryError, match="cannot appear in WHERE"):
        mv.query(["market_segment"], ["total_orders"], where="total_revenue > 100")


def test_string_literal_containing_dim_name_untouched(engine, duck):
    """A dim name inside a string literal must not be rewritten."""
    mv = engine.metric_view("mv_order_metrics")
    df, route = mv.query_routed(
        ["order_status"], ["total_orders"],
        where="order_status <> 'order_year'",
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT order_status, count(*) AS total_orders
        FROM ({_FCT}) WHERE order_status <> 'order_year'
        GROUP BY order_status
        """,
    )


def test_sql_frontend_where_slice(engine):
    api = engine.metric_view("mv_order_metrics").query(
        ["market_segment"], ["total_revenue"], where="order_status = 'F'"
    )
    sql = engine.sql(
        """
        SELECT market_segment, MEASURE(total_revenue) AS total_revenue
        FROM mv_order_metrics
        WHERE order_status = 'F'
        GROUP BY market_segment
        """
    )
    assert _rows(api) == _rows(sql)


def test_mixed_plain_window_slice_split(engine):
    """A sliced mixed query still splits: plain side from the rollup
    (slice dims covered), window side live — both sliced identically."""
    mv = engine.metric_view("mv_order_metrics")
    df, route = mv.query_routed(
        ["market_segment"],
        ["total_revenue", "trailing_7d_revenue"],
        where="order_status = 'F'",
    )
    assert route.startswith("rollup:revenue_by_segment+"), route
    live = engine._compiler.compile(
        MetricQuery(
            mv.spec,
            ("market_segment",),
            ("total_revenue", "trailing_7d_revenue"),
            where="order_status = 'F'",
        )
    )
    assert _rows(df) == _rows(live)


def test_slice_plan_quality_pushdown_and_pruning(engine):
    """Scale evidence for slices: a WHERE on the mart's partition dim
    reaches the scan as a PartitionFilter (whole partitions pruned, no
    data filter needed); a WHERE on a plain dim is pushed as a DataFilter.
    This is what makes a 100 TB slice read only its slice."""
    mv = engine.metric_view("mv_order_metrics")

    part = engine._compiler.compile(
        MetricQuery(
            mv.spec, ("order_status",), ("total_revenue",),
            where="order_year = 1995",
        )
    )
    plan = part._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PartitionFilters: [" in scan and "order_year" in scan.split(
        "PartitionFilters:"
    )[1].split("]")[0], scan
    assert "DataFilters: []" in scan, scan

    data = engine._compiler.compile(
        MetricQuery(
            mv.spec, ("market_segment",), ("total_revenue",),
            where="order_status = 'F'",
        )
    )
    plan2 = data._jdf.queryExecution().executedPlan().toString()
    scan2 = next(l for l in plan2.splitlines() if "FileScan" in l)
    assert "order_status" in scan2.split("DataFilters:")[1].split("]")[0], scan2

    # a slice of a joined view reaches the fact's scan through the joins
    star = engine._compiler.compile(
        MetricQuery(
            engine.metric_view("mv_sales_star").spec,
            ("region_name", "order_year"), ("revenue",),
            where="return_flag = 'A'",
        )
    )
    plan3 = star._jdf.queryExecution().executedPlan().toString()
    scan3 = next(
        l for l in plan3.splitlines() if "FileScan" in l and "lineitem" in l
    )
    assert "l_returnflag" in scan3.split("DataFilters:")[1].split("]")[0], scan3


def test_slice_through_snowflake_join_paths(engine, duck):
    """Slices over snowflake dims: the WHERE references dims whose exprs
    are dotted join paths (region_name → orders.customer.nation.region.…)
    and a derived dim (order_year) — both substituted and path-flattened
    before hitting the joined plan."""
    mv = engine.metric_view("mv_sales_star")
    df = mv.query(
        ["nation_name"], ["revenue", "line_count"],
        where="region_name = 'EUROPE' AND order_year >= 1995",
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT n.n_name AS nation_name,
               sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
               count(*) AS line_count
        FROM lineitem l
        LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE' AND year(o.o_orderdate) >= 1995
        GROUP BY 1
        """,
    )


def test_slice_on_joined_column_path(engine, duck):
    """A WHERE naming a joined column by its join alias (``part.brand``,
    not a declared dimension) slices the live expansion, beside a measure
    that reads another column of the same join (``part.retail_price``)."""
    mv = engine.metric_view("mv_sales_star")
    df = mv.query(
        ["nation_name"], ["revenue", "line_count", "retail_value"],
        where="part.brand = 'Brand#12'",
    )
    assert_df_matches_oracle(
        df,
        duck,
        """
        SELECT n.n_name AS nation_name,
               sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue,
               count(*) AS line_count,
               sum(l.l_quantity * p.p_retailprice) AS retail_value
        FROM lineitem l
        LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        LEFT JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#12'
        GROUP BY 1
        """,
    )


def test_slice_on_raw_source_column_is_route_independent(engine, duck):
    """A WHERE naming a raw source column (customer_id is not a declared
    dim) must not be routed to a rollup — rollup tables store only dims +
    partials, so the same query would crash there but work live."""
    mv = engine.metric_view("mv_order_metrics")
    df, route = mv.query_routed(
        ["market_segment"], ["total_revenue", "total_orders"],
        where="customer_id < 750",
    )
    assert not route.startswith("rollup:"), route
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT market_segment, sum(total_price) AS total_revenue,
               count(*) AS total_orders
        FROM ({_FCT}) WHERE customer_id < 750
        GROUP BY market_segment
        """,
    )


def test_slice_on_raw_source_column_window_measure(engine):
    """Same guard on the window-grain provider: a source-column WHERE must
    not pull the grain from a rollup (route carries no +grain suffix)."""
    mv = engine.metric_view("mv_order_metrics")
    df, route = mv.query_routed(
        ["market_segment"], ["trailing_7d_revenue"],
        where="customer_id < 750",
    )
    assert "grain:" not in route, route
    assert df.count() > 0


def test_bare_function_named_token_is_treated_as_column(spark):
    """A bare identifier that shadows a SQL function name (`year`) must
    mark the predicate unresolved (forcing live routing) — only call
    syntax `year(...)` is function use."""
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: t
dimensions:
  - name: seg
    expr: seg
measures:
  - name: n
    expr: count(*)
""",
        name="mv_t",
    )
    q_bare = MetricQuery(spec, ("seg",), ("n",), where="year > 1995")
    assert q_bare.where_unresolved  # bare `year` = raw column
    q_call = MetricQuery(spec, ("seg",), ("n",), where="year(seg) > 1995")
    assert not q_call.where_unresolved  # call syntax = function use


def test_interval_units_do_not_block_routing(spark):
    """`interval 7 day` in WHERE must stay vocab (unit keyword in
    interval context), while a bare `day` column reference must not."""
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: t
dimensions:
  - name: order_date
    expr: order_date
measures:
  - name: n
    expr: count(*)
""",
        name="mv_t2",
    )
    q = MetricQuery(
        spec, ("order_date",), ("n",),
        where="order_date >= date '1995-01-01' + interval 7 day",
    )
    assert not q.where_unresolved
    q2 = MetricQuery(spec, ("order_date",), ("n",), where="day > 5")
    assert q2.where_unresolved  # bare column named like a unit


def test_measure_name_in_where_rejected_even_as_call(spark):
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery, QueryError
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: t
dimensions:
  - name: seg
    expr: seg
measures:
  - name: n
    expr: count(*)
""",
        name="mv_t3",
    )
    with pytest.raises(QueryError, match="measure 'n'"):
        MetricQuery(spec, ("seg",), ("n",), where="n(seg) > 0")


def test_quoted_interval_quantity_stays_vocab(spark):
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: t
dimensions:
  - name: order_date
    expr: order_date
measures:
  - name: n
    expr: count(*)
""",
        name="mv_t4",
    )
    q = MetricQuery(
        spec, ("order_date",), ("n",),
        where="order_date >= date '1995-01-01' + interval '7' day",
    )
    assert not q.where_unresolved
