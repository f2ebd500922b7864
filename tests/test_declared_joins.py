"""Declared star/snowflake joins (J3-J4, README.md:282-300).

A metric view's `joins:` block attaches dimension tables to the source at
query time; dimensions address join columns via alias paths, snowflake
hops nest (`customer.nation.name` → leaf alias).
"""

from __future__ import annotations

import pytest

from dbt_databricks_metrics_spark.engine import MetricEngine
from dbt_databricks_metrics_spark.project import build_registry
from dbt_databricks_metrics_spark.sources import register_tables
from dbt_databricks_metrics_spark.specs import MetricViewSpec

from .conftest import assert_df_matches_oracle
from .test_engine_e2e import STG_ORDERS_SQL

STAR_SPEC = """
version: 0.1
source: stg_orders
joins:
  - name: customer
    source: stg_customers
    on: source.customer_id = customer.customer_id
dimensions:
  - name: market_segment
    expr: customer.market_segment
  - name: order_status
    expr: order_status
measures:
  - name: total_revenue
    expr: sum(total_price)
  - name: total_orders
    expr: count(*)
"""

SNOWFLAKE_SPEC = """
version: 0.1
source: stg_orders
joins:
  - name: customer
    source: stg_customers
    on: source.customer_id = customer.customer_id
    joins:
      - name: nation
        source: nation
        on: customer.nation_id = nation.n_nationkey
dimensions:
  - name: nation_name
    expr: customer.nation.n_name
  - name: market_segment
    expr: customer.market_segment
measures:
  - name: total_revenue
    expr: sum(total_price)
  - name: total_orders
    expr: count(*)
"""

_STG_CUSTOMERS_SQL = """
    SELECT c_custkey AS customer_id, c_name AS customer_name,
           c_nationkey AS nation_id, c_acctbal AS account_balance,
           c_mktsegment AS market_segment FROM customer
"""


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    register_tables(spark, sf_dir)
    eng = MetricEngine(
        spark,
        build_registry(sf_dir),
        warehouse_dir=str(tmp_path_factory.mktemp("whj")),
    )
    eng.run()
    eng.register(MetricViewSpec.from_yaml(STAR_SPEC, name="mv_star"))
    eng.register(MetricViewSpec.from_yaml(SNOWFLAKE_SPEC, name="mv_snow"))
    return eng


def test_star_join_query(engine, duck):
    df = engine.metric_view("mv_star").query(
        dimensions=["market_segment", "order_status"],
        measures=["total_revenue", "total_orders"],
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT c.market_segment, o.order_status,
               sum(o.total_price) AS total_revenue, count(*) AS total_orders
        FROM ({STG_ORDERS_SQL}) o
        LEFT JOIN ({_STG_CUSTOMERS_SQL}) c ON o.customer_id = c.customer_id
        GROUP BY 1, 2
        """,
    )


def test_snowflake_join_path_dimension(engine, duck):
    df = engine.metric_view("mv_snow").query(
        dimensions=["nation_name"], measures=["total_revenue", "total_orders"]
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT n.n_name AS nation_name,
               sum(o.total_price) AS total_revenue, count(*) AS total_orders
        FROM ({STG_ORDERS_SQL}) o
        LEFT JOIN ({_STG_CUSTOMERS_SQL}) c ON o.customer_id = c.customer_id
        LEFT JOIN nation n ON c.nation_id = n.n_nationkey
        GROUP BY 1
        """,
    )


def test_snowflake_mixed_levels(engine, duck):
    df = engine.metric_view("mv_snow").query(
        dimensions=["nation_name", "market_segment"], measures=["total_orders"]
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT n.n_name AS nation_name, c.market_segment, count(*) AS total_orders
        FROM ({STG_ORDERS_SQL}) o
        LEFT JOIN ({_STG_CUSTOMERS_SQL}) c ON o.customer_id = c.customer_id
        LEFT JOIN nation n ON c.nation_id = n.n_nationkey
        GROUP BY 1, 2
        """,
    )


def test_join_is_broadcast(engine):
    """Small dimension side should compile to a broadcast join — no
    shuffle of the fact table for the join (100 TB posture)."""
    df = engine.metric_view("mv_star").query(
        dimensions=["market_segment"], measures=["total_revenue"]
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_rollup_over_joined_spec(engine, spark):
    """Aggregated rollups built from a joined source: routed result must
    equal the live join+aggregate."""
    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: stg_orders
joins:
  - name: customer
    source: stg_customers
    on: source.customer_id = customer.customer_id
dimensions:
  - name: market_segment
    expr: customer.market_segment
  - name: order_status
    expr: order_status
measures:
  - name: total_revenue
    expr: sum(total_price)
  - name: total_orders
    expr: count(*)
materialization:
  materialized_views:
    - name: seg_status
      type: aggregated
      dimensions: [market_segment, order_status]
      measures: [total_revenue, total_orders]
""",
        name="mv_join_rollup",
    )
    mv = engine.register(spec)
    engine.refresh("mv_join_rollup")
    routed, route = mv.query_routed(["market_segment"], ["total_revenue", "total_orders"])
    assert route == "rollup:seg_status"
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery

    live = engine._compiler.compile(
        MetricQuery(spec, ("market_segment",), ("total_revenue", "total_orders"))
    )
    import math

    def rows(df):
        out = []
        for r in sorted(df.collect(), key=lambda x: str(x[0])):
            out.append((r[0], round(r[1], 4), r[2]))
        return out

    assert rows(routed) == rows(live)


JOINED_MEASURES_SPEC = """
version: 0.1
source: stg_orders
joins:
  - name: customer
    source: stg_customers
    on: source.customer_id = customer.customer_id
    joins:
      - name: nation
        source: nation
        on: customer.nation_id = nation.n_nationkey
dimensions:
  - name: market_segment
    expr: customer.market_segment
  - name: order_status
    expr: order_status
  - name: order_priority
    expr: order_priority
measures:
  - name: total_revenue
    expr: sum(source.total_price)
  - name: total_balance
    expr: sum(customer.account_balance)
  - name: max_region
    expr: max(customer.nation.n_regionkey)
  - name: orders_with_balance
    expr: count_if(customer.account_balance > 0)
materialization:
  materialized_views:
    - name: snapshot
      type: unaggregated
    - name: by_segment_status
      type: aggregated
      dimensions: [market_segment, order_status]
      measures: [total_revenue, total_balance, max_region]
    - name: by_status
      type: aggregated
      dimensions: [order_status]
      measures: [total_balance, orders_with_balance]
"""


@pytest.fixture(scope="module")
def joined_measures_mv(engine):
    mv = engine.register(
        MetricViewSpec.from_yaml(JOINED_MEASURES_SPEC, name="mv_joined_measures")
    )
    engine.refresh("mv_joined_measures")
    return mv


def _rounded(df):
    return sorted(
        tuple(round(v, 4) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


@pytest.mark.parametrize(
    "dims, measures, route",
    [
        (["market_segment"], ["total_balance", "max_region"], "rollup:by_segment_status"),
        (["order_status"], ["total_balance"], "rollup:by_status"),
        ([], ["orders_with_balance"], "rollup:by_status"),
        (["order_priority"], ["total_balance", "max_region"], "baseline"),
        (["market_segment"], ["orders_with_balance", "total_revenue"], "baseline"),
    ],
)
def test_measures_over_joined_columns_route_like_live(
    engine, joined_measures_mv, dims, measures, route
):
    """Measures that read joined columns (``customer.account_balance``,
    the snowflake path ``customer.nation.n_regionkey``) build into
    several aggregated rollups and the baseline snapshot, and every
    route answers exactly like the live join."""
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery

    mv = joined_measures_mv
    routed, got = mv.query_routed(dims, measures)
    assert got == route
    live = engine._compiler.compile(MetricQuery(mv.spec, tuple(dims), tuple(measures)))
    assert _rounded(routed) == _rounded(live)


# the snapshot's join structs carry only the joined fields measures read
SNAPSHOT_JOIN_SPEC = """
version: 0.1
source: stg_orders
joins:
  - name: cust
    source: stg_customers
    on: source.customer_id = cust.customer_id
    joins:
      - name: nat
        source: nation
        on: cust.nation_id = nat.n_nationkey
dimensions:
  - name: order_status
    expr: order_status
measures:
  - name: rev
    expr: sum(total_price)
  - name: balance
    expr: sum(cust.account_balance)
materialization:
  materialized_views:
    - name: snapshot
      type: unaggregated
"""


@pytest.fixture(scope="module")
def snapshot_join_mv(engine):
    mv = engine.register(MetricViewSpec.from_yaml(SNAPSHOT_JOIN_SPEC, name="mv_snapshot_join"))
    engine.refresh("mv_snapshot_join")
    return mv


@pytest.mark.parametrize(
    "where, route",
    [
        ("cust.nat.n_name = 'NATION_19'", "live"),
        ("cust.market_segment = 'BUILDING'", "live"),
        ("cust.account_balance > 0", "baseline"),
        (None, "baseline"),
    ],
)
def test_where_on_joined_field_routes_where_it_resolves(
    engine, snapshot_join_mv, where, route
):
    """A WHERE on a joined field no measure reads is not in the baseline
    snapshot, so it runs live; one on a carried field stays on the
    snapshot. Either way the answer is the live one."""
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery

    mv = snapshot_join_mv
    routed, got = mv.query_routed(["order_status"], ["rev"], where=where)
    assert got == route
    live = engine._compiler.compile(
        MetricQuery(mv.spec, ("order_status",), ("rev",), where=where)
    )
    assert _rounded(routed) == _rounded(live)
    assert _rounded(routed)
