"""Decomposition unit tests — partial-state layouts for rollups (SURVEY §4)."""

from __future__ import annotations

from dbt_databricks_metrics_spark.functions.aggregates import decompose_aggregate


def test_sum():
    d = decompose_aggregate("sum(total_price)", "_p_rev")
    assert d is not None
    assert d.partials == (("sum(total_price)", "_p_rev_0"),)
    assert d.merges == {"_p_rev_0": "sum"}
    assert d.finalize == "_p_rev_0"
    assert d.trivial


def test_count_star():
    d = decompose_aggregate("count(*)", "_p_n")
    assert d.partials == (("count(*)", "_p_n_0"),)
    assert d.merges == {"_p_n_0": "sum"}  # counts re-aggregate by summing


def test_avg_pair():
    d = decompose_aggregate("avg(total_price)", "_p_avg")
    assert d.partials == (
        ("sum(total_price)", "_p_avg_0s"),
        ("count(total_price)", "_p_avg_1c"),
    )
    assert d.finalize == "(_p_avg_0s / _p_avg_1c)"
    assert not d.trivial


def test_count_if():
    d = decompose_aggregate("count_if(total_spent > 100000)", "_p_hv")
    assert d.partials == (("count_if(total_spent > 100000)", "_p_hv_0"),)
    assert d.merges["_p_hv_0"] == "sum"


def test_min_max():
    d = decompose_aggregate("max(total_price)", "_p_m")
    assert d.merges["_p_m_0"] == "max"
    d2 = decompose_aggregate("min(order_date)", "_p_f")
    assert d2.merges["_p_f_0"] == "min"


def test_composite_arith():
    d = decompose_aggregate("sum(a) / nullif(count(b), 0)", "_p_x")
    assert len(d.partials) == 2
    assert d.finalize == "_p_x_0 / nullif(_p_x_1, 0)"


def test_avg_over_scalar_expr():
    # A8 (models/schema.yml:204): avg over a row-level expression
    e = "avg(total_orders / nullif(datediff(last_order_date, first_order_date), 0))"
    d = decompose_aggregate(e, "_p_f")
    assert d is not None
    arg = "total_orders / nullif(datediff(last_order_date, first_order_date), 0)"
    assert d.partials == ((f"sum({arg})", "_p_f_0s"), (f"count({arg})", "_p_f_1c"))


def test_distinct_not_decomposable():
    assert decompose_aggregate("count(distinct customer_id)", "_p") is None
    assert decompose_aggregate("count(DISTINCT x)", "_p") is None


def test_no_aggregate_not_decomposable():
    assert decompose_aggregate("total_price * 2", "_p") is None


def test_nested_parens_in_strings():
    d = decompose_aggregate("count_if(status = 'a(b)')", "_p")
    assert d is not None and d.partials[0][0] == "count_if(status = 'a(b)')"


def test_row_contribution():
    """The per-row form of each retractable partial; a multi-argument
    ``count`` (rows where every argument is set) and ``min``/``max``
    have none, so their rollups fold through Spark."""
    from dbt_databricks_metrics_spark.functions.aggregates import row_contribution

    assert row_contribution("sum(price * qty)") == "price * qty"
    assert row_contribution("count(*)") == "1"
    assert row_contribution("count(1)") == "1"
    assert row_contribution("count(amount)") == "if((amount) IS NULL, 0, 1)"
    assert row_contribution("count(concat(a, ','))") == "if((concat(a, ',')) IS NULL, 0, 1)"
    assert row_contribution("count_if(amount > 10)") == "if(amount > 10, 1, 0)"
    assert row_contribution("count(a, b)") is None
    assert row_contribution("count(concat('(', a), b)") is None
    assert row_contribution("max(price)") is None
