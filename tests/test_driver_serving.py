"""The driver serving tier answers exactly as the Spark tier does.

Each shape runs twice over the same rollup: served from the driver, then
with ``DRIVER_MAX_ROWS`` at 0 so the rollup is a cached Spark scan
re-aggregated by Spark. Schema and rows must be equal. Doubles are
multiples of 1/4, so sums are exact in any order.
"""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest

from dbt_databricks_metrics_spark.engine import MetricEngine
from dbt_databricks_metrics_spark.plans import rollup
from dbt_databricks_metrics_spark.specs import MetricViewSpec

_YAML = """
version: 0.1
source: drv_src
dimensions:
  - name: k
    expr: k
  - name: d
    expr: d
  - name: g
    expr: g
measures:
  - name: n
    expr: count(*)
  - name: sv
    expr: sum(v)
  - name: sx
    expr: sum(x)
  - name: sm
    expr: sum(m)
  - name: avg_x
    expr: avg(x)
  - name: avg_m
    expr: avg(m)
  - name: lo_m
    expr: min(m)
  - name: hi_d
    expr: max(d)
  - name: lo_k
    expr: min(k)
  - name: cum_v
    expr: sum(v)
    window:
      - order: d
        range: cumulative
        semiadditive: last
materialization:
  schedule: every 1 hours
  mode: relaxed
  materialized_views:
    - name: by_kdg
      type: aggregated
      dimensions: [k, d, g]
      measures: [n, sv, sx, sm, avg_x, avg_m, lo_m, hi_d, lo_k]
"""

# one source table; each view declares one rollup over (k, d)
_EDGE_YAML = """
version: 0.1
source: drv_edge_src
dimensions:
  - name: k
    expr: k
  - name: d
    expr: d
measures:
  - name: {measure}
    expr: {expr}
materialization:
  schedule: every 1 hours
  mode: relaxed
  materialized_views:
    - name: by_kd
      type: aggregated
      dimensions: [k, d]
      measures: [{measure}]
"""

ALL = ["n", "sv", "sx", "sm", "avg_x", "avg_m", "lo_m", "hi_d", "lo_k"]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    day = datetime.date(2024, 1, 1)
    rows = []
    for i in range(36):
        rows.append((
            "abc"[i % 3],
            day + datetime.timedelta(days=i % 4),
            (None, "p", "q")[i % 3 if i % 5 else 0],
            1000 * i + 7,
            (i - 11) * 0.25,
            Decimal(i * 137 % 1000) / 100,
        ))
    spark.createDataFrame(
        rows, "k string, d date, g string, v bigint, x double, m decimal(12,2)"
    ).createOrReplaceTempView("drv_src")
    e = MetricEngine(spark, warehouse_dir=str(tmp_path_factory.mktemp("drv_wh")))
    e.register(MetricViewSpec.from_yaml(_YAML, name="mv_drv"))
    e.refresh("mv_drv")
    return e


def _result(df, ordered=False):
    rows = [tuple(r) for r in df.collect()]
    return df.schema, rows if ordered else sorted(rows, key=repr)


def _both_tiers(eng, monkeypatch, run, ordered=False):
    """run() on the driver tier, then on the Spark tier."""
    mgr = eng._rollups
    mgr._invalidate(mgr.storage_dir)
    driver = _result(run(), ordered)
    with monkeypatch.context() as m:
        m.setattr(rollup, "DRIVER_MAX_ROWS", 0)
        mgr._invalidate(mgr.storage_dir)
        spark_tier = _result(run(), ordered)
    mgr._invalidate(mgr.storage_dir)
    return driver, spark_tier


@pytest.mark.parametrize(
    "dims,measures,where",
    [
        pytest.param(["k", "d", "g"], ALL, None, id="exact_cover"),
        pytest.param(["k", "d", "g"], ALL, "d = date '2024-01-02'", id="exact_cover_slice"),
        pytest.param(["k"], ALL, None, id="merge"),
        pytest.param(["d"], ALL, "k = 'a'", id="date_dim_slice"),
        pytest.param(["g"], ALL, None, id="null_dim_values"),
        pytest.param([], ALL, None, id="no_dims"),
        pytest.param(["k"], ALL, "k = 'zz'", id="empty_slice_grouped"),
        pytest.param([], ALL, "k = 'zz'", id="empty_slice_global"),
    ],
)
def test_driver_tier_matches_spark_tier(eng, monkeypatch, dims, measures, where):
    mv = eng.metric_view("mv_drv")
    assert mv.explain_route(dims, measures, where=where)["serving"]["tier"] == "driver"
    driver, spark_tier = _both_tiers(
        eng, monkeypatch, lambda: mv.query_routed(dims, measures, where=where)[0]
    )
    assert driver == spark_tier
    if where == "k = 'zz'":
        assert driver[1] == ([] if dims else [(None,) * len(ALL)])
    else:
        assert driver[1]


def test_having_order_by_limit_match(eng, monkeypatch):
    mv = eng.metric_view("mv_drv")
    driver, spark_tier = _both_tiers(
        eng, monkeypatch,
        lambda: mv.query(["g"], ["sv", "avg_m"], having="sv > 1000",
                         order_by=["sv desc"], limit=2),
        ordered=True,
    )
    assert driver == spark_tier and len(driver[1]) == 2


def test_measure_sql_matches(eng, monkeypatch):
    driver, spark_tier = _both_tiers(eng, monkeypatch, lambda: eng.sql(
        "SELECT k, MEASURE(sm) AS sm, MEASURE(avg_x) AS ax FROM mv_drv "
        "WHERE g = 'p' GROUP BY k"
    ))
    assert driver == spark_tier and driver[1]


def test_split_mixed_matches(eng, monkeypatch):
    """A plain+window query: the plain half is a driver merge joined to
    the window half compiled on the fly."""
    mv = eng.metric_view("mv_drv")
    dims, measures = ["k"], ["sv", "cum_v", "sm"]
    _, route = mv.query_routed(dims, measures)
    assert route.startswith("rollup:by_kdg+live")
    driver, spark_tier = _both_tiers(
        eng, monkeypatch, lambda: mv.query_routed(dims, measures)[0]
    )
    assert driver == spark_tier and driver[1]


def _edge_view(spark, tmp_path, name, measure, expr, rows, schema):
    spark.createDataFrame(rows, schema).createOrReplaceTempView("drv_edge_src")
    e = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh"))
    mv = e.register(MetricViewSpec.from_yaml(
        _EDGE_YAML.format(measure=measure, expr=expr), name=name))
    e.refresh(name)
    return e, mv


def test_int64_merge_overflow_raises(spark, tmp_path, monkeypatch):
    """Two stored partials of 2^62 sum past bigint: both tiers raise
    instead of wrapping to -2^63."""
    day = datetime.date(2024, 1, 1)
    e, mv = _edge_view(
        spark, tmp_path, "mv_drv_overflow", "sv", "sum(v)",
        [("a", day, 1 << 62), ("a", day + datetime.timedelta(days=1), 1 << 62)],
        "k string, d date, v bigint",
    )
    assert mv.explain_route(["k"], ["sv"])["serving"]["tier"] == "driver"
    with pytest.raises(OverflowError):
        mv.query(["k"], ["sv"]).collect()
    monkeypatch.setattr(rollup, "DRIVER_MAX_ROWS", 0)
    e._rollups._invalidate(e._rollups.storage_dir)
    with pytest.raises(Exception, match="(?i)overflow"):
        mv.query(["k"], ["sv"]).collect()


def test_double_max_over_nan_stays_on_spark(spark, tmp_path):
    """Arrow's max skips NaN and Spark's returns it, so a rollup with a
    double max partial is served by Spark: the merged max is NaN."""
    import math

    day = datetime.date(2024, 1, 1)
    _, mv = _edge_view(
        spark, tmp_path, "mv_drv_nan", "hi_x", "max(x)",
        [("a", day, float("nan")), ("a", day + datetime.timedelta(days=1), 1.0)],
        "k string, d date, x double",
    )
    assert mv.explain_route(["k"], ["hi_x"])["serving"]["tier"] == "spark"
    [row] = mv.query(["k"], ["hi_x"]).collect()
    assert math.isnan(row["hi_x"])
