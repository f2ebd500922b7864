"""Window-measure semantics vs DuckDB oracle (SURVEY §2.5, W1-W4).

Trailing uses RANGE frames over the date value (gaps in the order spine
must not shrink the window), cumulative is a running frame, `range:
current` stacks as a partition key (YTD restart), and semiadditive `last`
collapses the order dimension via the most-recent frame value (arg_max).
"""

from __future__ import annotations

import pytest

from dbt_databricks_metrics_spark.engine import MetricEngine
from dbt_databricks_metrics_spark.project import build_registry
from dbt_databricks_metrics_spark.specs import MetricViewSpec

from .conftest import assert_df_matches_oracle
from .test_engine_e2e import FCT_ORDERS_SQL, STG_ORDERS_SQL

TRAILING_ORACLE = """
WITH fct AS ({fct}),
grain AS (
    SELECT {dims} order_date, sum(total_price) AS rev
    FROM fct GROUP BY ALL
),
win AS (
    SELECT {dims} order_date,
           sum(rev) OVER (
               {part} ORDER BY order_date
               RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS w
    FROM grain
)
SELECT {dims} arg_max(w, order_date) AS trailing_7d_revenue FROM win GROUP BY ALL
"""


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    eng = MetricEngine(
        spark,
        build_registry(sf_dir),
        warehouse_dir=str(tmp_path_factory.mktemp("whw")),
    )
    eng.run()
    return eng


def test_trailing_7d_by_segment(engine, duck):
    mv = engine.metric_view("mv_order_metrics")
    df = mv.query(dimensions=["market_segment"], measures=["trailing_7d_revenue"])
    assert_df_matches_oracle(
        df,
        duck,
        TRAILING_ORACLE.format(
            fct=FCT_ORDERS_SQL,
            dims="market_segment,",
            part="PARTITION BY market_segment",
        ),
    )


def test_trailing_7d_global(engine, duck):
    mv = engine.metric_view("mv_order_metrics")
    df = mv.query(dimensions=[], measures=["trailing_7d_revenue"])
    assert_df_matches_oracle(
        df,
        duck,
        TRAILING_ORACLE.format(fct=FCT_ORDERS_SQL, dims="", part=""),
    )


def test_trailing_7d_by_order_date(engine, duck):
    # grouping by the order dimension itself: one frame value per date
    mv = engine.metric_view("mv_order_metrics")
    df = mv.query(dimensions=["order_date"], measures=["trailing_7d_revenue"])
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        WITH grain AS (
            SELECT order_date, sum(total_price) AS rev
            FROM ({STG_ORDERS_SQL}) GROUP BY 1
        )
        SELECT order_date,
               sum(rev) OVER (ORDER BY order_date
                   RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
               ) AS trailing_7d_revenue
        FROM grain
        """,
    )


def test_cumulative_by_status(engine, duck):
    mv = engine.metric_view("mv_order_metrics")
    df = mv.query(dimensions=["order_status"], measures=["cumulative_revenue"])
    # semiadditive last of a cumulative == group total
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT order_status, sum(total_price) AS cumulative_revenue
        FROM ({STG_ORDERS_SQL}) GROUP BY 1
        """,
    )


def test_mixed_plain_and_window(engine, duck):
    mv = engine.metric_view("mv_order_metrics")
    df = mv.query(
        dimensions=["market_segment"],
        measures=["total_revenue", "trailing_7d_revenue", "total_orders"],
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        WITH fct AS ({FCT_ORDERS_SQL}),
        plain AS (
            SELECT market_segment, sum(total_price) AS total_revenue,
                   count(*) AS total_orders
            FROM fct GROUP BY 1
        ),
        grain AS (
            SELECT market_segment, order_date, sum(total_price) AS rev
            FROM fct GROUP BY 1, 2
        ),
        win AS (
            SELECT market_segment, order_date,
                   sum(rev) OVER (PARTITION BY market_segment ORDER BY order_date
                       RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS w
            FROM grain
        ),
        wl AS (
            SELECT market_segment, arg_max(w, order_date) AS trailing_7d_revenue
            FROM win GROUP BY 1
        )
        SELECT plain.market_segment, total_revenue, trailing_7d_revenue, total_orders
        FROM plain JOIN wl ON plain.market_segment = wl.market_segment
        """,
    )


def test_ytd_stacked_window(engine, duck):
    # README.md:268-277 — cumulative over order_date restarted per order_year
    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: fct_orders
dimensions:
  - name: market_segment
    expr: market_segment
  - name: order_date
    expr: order_date
  - name: order_year
    expr: order_year
measures:
  - name: ytd_revenue
    expr: sum(total_price)
    window:
      - order: order_date
        range: cumulative
        semiadditive: last
      - order: order_year
        range: current
        semiadditive: last
""",
        name="mv_ytd",
    )
    mv = engine.register(spec)
    df = mv.query(dimensions=["market_segment"], measures=["ytd_revenue"])
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        WITH fct AS ({FCT_ORDERS_SQL}),
        grain AS (
            SELECT market_segment, order_year, order_date, sum(total_price) AS rev
            FROM fct GROUP BY ALL
        ),
        win AS (
            SELECT market_segment, order_date,
                   sum(rev) OVER (PARTITION BY market_segment, order_year
                       ORDER BY order_date
                       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w
            FROM grain
        )
        SELECT market_segment, arg_max(w, order_date) AS ytd_revenue
        FROM win GROUP BY 1
        """,
    )


def test_semiadditive_first(engine, duck):
    # `semiadditive: first` collapses to the EARLIEST frame's value —
    # e.g. the opening trailing-7d figure per group (arg_min in DuckDB)
    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: fct_orders
dimensions:
  - name: market_segment
    expr: market_segment
  - name: order_date
    expr: order_date
measures:
  - name: opening_trailing_7d
    expr: sum(total_price)
    window:
      - order: order_date
        range: trailing 7 day
        semiadditive: first
""",
        name="mv_first",
    )
    mv = engine.register(spec)
    df = mv.query(dimensions=["market_segment"], measures=["opening_trailing_7d"])
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        WITH fct AS ({FCT_ORDERS_SQL}),
        grain AS (
            SELECT market_segment, order_date, sum(total_price) AS rev
            FROM fct GROUP BY ALL
        ),
        win AS (
            SELECT market_segment, order_date,
                   sum(rev) OVER (PARTITION BY market_segment ORDER BY order_date
                       RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS w
            FROM grain
        )
        SELECT market_segment, arg_min(w, order_date) AS opening_trailing_7d
        FROM win GROUP BY 1
        """,
    )


def test_semiadditive_mode_validation():
    import pytest as _pytest

    from dbt_databricks_metrics_spark.specs import SpecError

    with _pytest.raises(SpecError, match="semiadditive"):
        MetricViewSpec.from_yaml(
            """
version: 0.1
source: fct_orders
dimensions:
  - name: order_date
    expr: order_date
measures:
  - name: m
    expr: sum(total_price)
    window:
      - order: order_date
        range: cumulative
        semiadditive: average
""",
            name="mv_bad",
        )


def test_avg_window_measure_non_decomposed_path_consistency(engine, duck):
    # avg under a window: decomposes to (sum, count) partials at the grain —
    # must equal the window-over-raw-rows semantics (range frames peer all
    # rows of equal date, so both paths agree).
    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: fct_orders
dimensions:
  - name: order_status
    expr: order_status
  - name: order_date
    expr: order_date
measures:
  - name: trailing_avg
    expr: avg(total_price)
    window:
      - order: order_date
        range: trailing 30 day
        semiadditive: last
""",
        name="mv_avg_win",
    )
    mv = engine.register(spec)
    df = mv.query(dimensions=["order_status"], measures=["trailing_avg"])
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        WITH fct AS ({STG_ORDERS_SQL}),
        win AS (
            SELECT order_status, order_date,
                   avg(total_price) OVER (PARTITION BY order_status ORDER BY order_date
                       RANGE BETWEEN INTERVAL 29 DAY PRECEDING AND CURRENT ROW) AS w
            FROM fct
        )
        SELECT order_status, arg_max(w, order_date) AS trailing_avg
        FROM win GROUP BY 1
        """,
    )


def test_two_window_measures_one_query(engine, duck):
    """trailing + cumulative + plain measures in a single MEASURE() query
    — compiled as independent window plans joined on the dims."""
    mv = engine.metric_view("mv_order_metrics")
    df = mv.query(
        dimensions=["market_segment"],
        measures=["trailing_7d_revenue", "cumulative_revenue", "total_orders"],
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        WITH fct AS ({FCT_ORDERS_SQL}),
        grain AS (
            SELECT market_segment, order_date, sum(total_price) AS rev
            FROM fct GROUP BY 1, 2
        ),
        t7 AS (
            SELECT market_segment,
                   arg_max(w, order_date) AS trailing_7d_revenue
            FROM (
                SELECT market_segment, order_date,
                       sum(rev) OVER (PARTITION BY market_segment ORDER BY order_date
                           RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS w
                FROM grain) GROUP BY 1
        ),
        cum AS (
            SELECT market_segment, sum(total_price) AS cumulative_revenue
            FROM fct GROUP BY 1
        ),
        plain AS (
            SELECT market_segment, count(*) AS total_orders FROM fct GROUP BY 1
        )
        SELECT plain.market_segment, trailing_7d_revenue, cumulative_revenue, total_orders
        FROM plain
        JOIN t7 ON plain.market_segment = t7.market_segment
        JOIN cum ON plain.market_segment = cum.market_segment
        """,
    )


_WIDE = " + ".join(f"sum(total_price * {k})" for k in range(1, 12))


@pytest.mark.parametrize("measures", [["wide", "cum"], ["wide"]], ids=["shared", "alone"])
def test_window_measure_with_eleven_partials(engine, duck, measures):
    """A window measure of 11 aggregates decomposes into partials
    ``_p_wide_0`` … ``_p_wide_10``, so ``_p_wide_1`` is a prefix of
    ``_p_wide_10``: each windowed partial is renamed as a whole
    identifier in the finalize, alone or sharing the frame with another
    measure."""
    mv = engine.register(
        MetricViewSpec.from_yaml(
            f"""
version: 0.1
source: fct_orders
dimensions:
  - name: order_status
    expr: order_status
  - name: order_date
    expr: order_date
measures:
  - name: wide
    expr: {_WIDE}
    window:
      - order: order_date
        range: cumulative
        semiadditive: last
  - name: cum
    expr: sum(total_price)
    window:
      - order: order_date
        range: cumulative
        semiadditive: last
""",
            name="mv_wide_window",
        )
    )
    df = mv.query(["order_status"], measures)
    cols = {"wide": f"{_WIDE} AS wide", "cum": "sum(total_price) AS cum"}
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        WITH fct AS ({FCT_ORDERS_SQL})
        SELECT order_status, {", ".join(cols[m] for m in measures)}
        FROM fct GROUP BY 1
        """,
    )
