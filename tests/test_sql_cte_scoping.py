"""Spark scopes every reference to a MEASURE() CTE.

``engine.sql`` keeps each MEASURE() CTE in the WITH clause (as ``name AS
(SELECT * FROM <temp view>)``) and hands the plain final statement to
``spark.sql`` as written. Each shape below runs once that way and once as
plain ``spark.sql`` over reference temp views named like the CTEs and
holding the same MEASURE() results: the rows must agree, or both
statements must fail with the same error condition.

A MEASURE() statement's own WHERE/HAVING compiles outside that WITH
clause; its subqueries must still read the earlier CTEs
(:func:`test_measure_statement_subquery_reads_earlier_cte`).
"""

from __future__ import annotations

import pytest

from dbt_databricks_metrics_spark.engine import MetricEngine
from dbt_databricks_metrics_spark.project import build_registry

REV = (
    "SELECT market_segment, MEASURE(total_revenue) AS revenue "
    "FROM mv_order_metrics GROUP BY market_segment"
)
CUST = (
    "SELECT market_segment, MEASURE(total_customers) AS customers "
    "FROM mv_customer_metrics GROUP BY market_segment"
)
REFS = {"rev": REV, "cust": CUST}


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    eng = MetricEngine(
        spark,
        build_registry(sf_dir),
        warehouse_dir=str(tmp_path_factory.mktemp("wh")),
    )
    eng.run()
    return eng


def _outcome(run):
    """Sorted rows of ``run()`` (floats rounded), or the error condition
    it raised."""
    try:
        rows = run().collect()
    except Exception as e:  # noqa: BLE001 — compared, not swallowed
        cond = getattr(e, "getCondition", None)
        return (cond and cond()) or type(e).__name__
    return sorted(
        (tuple(round(v, 4) if isinstance(v, float) else v for v in r) for r in rows),
        key=repr,
    )


def _reference(spark, engine, sql):
    """*sql* through plain ``spark.sql``, with ``rev``/``cust`` as temp
    views that are dropped again before the front-end runs."""
    for name, body in REFS.items():
        engine.sql(body).createOrReplaceTempView(name)
    try:
        return _outcome(lambda: spark.sql(sql))
    finally:
        for name in REFS:
            spark.catalog.dropTempView(name)


def _matrix_shape(backtick: bool, collist: bool, decl: str) -> str:
    """An inner WITH declaring *decl* over the outer ``rev``: its body sees
    the outer CTE, its final SELECT the inner one (iff same name), and a
    join outside the subquery the outer one again."""
    name = f"`{decl}`" if backtick else decl
    cols = " (a)" if collist else ""
    return (
        f"SELECT * FROM (WITH {name}{cols} AS (SELECT revenue FROM rev)"
        f" SELECT * FROM rev) s JOIN rev r2 ON 1 = 1"
    )


# id → (extra plain CTE declarations, final statement)
SHAPES = {
    "bare_from": ("", "SELECT * FROM rev"),
    "alias": ("", "SELECT r.market_segment, r.revenue FROM rev r"),
    "as_alias": ("", "SELECT r.market_segment, r.revenue FROM rev AS r"),
    "backtick_alias": ("", "SELECT `r`.market_segment FROM rev `r`"),
    "comment_before_alias": ("", "SELECT r.revenue FROM rev /* c */ r"),
    "upper_case": ("", "SELECT REV.market_segment FROM REV"),
    "backtick_reference": ("", "SELECT * FROM `rev`"),
    "qualified_name": ("", "SELECT 1 AS one FROM default.rev"),
    "join_qualified": (
        "",
        "SELECT rev.market_segment, rev.revenue, cust.customers FROM rev "
        "JOIN cust ON rev.market_segment = cust.market_segment",
    ),
    "self_join": (
        "",
        "SELECT a.market_segment, a.revenue + b.revenue AS twice FROM rev a "
        "JOIN rev b USING (market_segment)",
    ),
    "comma_list": (
        "",
        "SELECT rev.market_segment, rev.revenue, cust.customers FROM rev, cust "
        "WHERE rev.market_segment = cust.market_segment",
    ),
    "paren_join_using": ("", "SELECT * FROM (rev JOIN cust USING (market_segment)) j"),
    "paren_comma_list": (
        "",
        "SELECT * FROM (rev, cust) WHERE rev.market_segment = cust.market_segment",
    ),
    "where_qualified": ("", "SELECT 1 AS one FROM rev WHERE rev.revenue > 0"),
    "group_by_list": (
        "",
        "SELECT market_segment, revenue FROM rev GROUP BY market_segment, revenue",
    ),
    "subquery_in_from": ("", "SELECT * FROM (SELECT market_segment FROM rev) x"),
    "union": ("", "SELECT market_segment FROM rev UNION SELECT market_segment FROM cust"),
    "scalar_subquery": ("", "SELECT (SELECT max(revenue) FROM rev) AS m, customers FROM cust"),
    "in_subquery": (
        "",
        "SELECT * FROM cust WHERE market_segment IN "
        "(SELECT market_segment FROM rev WHERE revenue > 0)",
    ),
    "trim_subquery": (
        "",
        "SELECT TRIM('x' FROM (SELECT max(market_segment) FROM rev)) AS s FROM cust",
    ),
    "expression_from_forms": (
        "",
        "SELECT EXTRACT(YEAR FROM cust) AS y, TRIM(BOTH 'B' FROM rev) AS t, "
        "SUBSTRING(rev FROM 2 FOR 3) AS s, OVERLAY(rev PLACING 'x' FROM 1) AS o "
        "FROM (SELECT market_segment AS rev, DATE'2020-01-01' AS cust FROM cust) t",
    ),
    "column_aliased_like_cte": ("", "SELECT market_segment AS rev, revenue AS cust FROM rev"),
    "column_named_like_cte": (
        "",
        "SELECT rev, count(*) AS c FROM (SELECT market_segment AS rev FROM cust) t "
        "GROUP BY rev",
    ),
    "literals_comments": (
        "",
        "SELECT 'rev' AS a, \"rev\" AS b, market_segment AS `rev` FROM cust"
        " -- from rev\n/* join rev */",
    ),
    "no_cte_reference": ("", "SELECT anything FROM (SELECT 1 AS anything) rev"),
    "values_rows": ("", "SELECT * FROM (VALUES (1), (2)) t(rev)"),
    "lateral_view": (
        "",
        "SELECT rev.market_segment, e.v FROM rev LATERAL VIEW explode(array(1, 2)) e AS v",
    ),
    "lateral_view_alias_list": (
        "",
        "SELECT x.k, x.rev FROM cust LATERAL VIEW posexplode(array(10, 20)) x AS k, rev",
    ),
    "tablesample": ("", "SELECT rev.market_segment FROM rev TABLESAMPLE (100 PERCENT)"),
    "tablesample_alias": ("", "SELECT r.revenue FROM rev TABLESAMPLE (100 PERCENT) r"),
    "tablesample_bucket": (
        "",
        "SELECT 1 AS one FROM rev TABLESAMPLE (BUCKET 1 OUT OF 1) WHERE rev.revenue > 0",
    ),
    "distribute_by": ("", "SELECT * FROM rev DISTRIBUTE BY market_segment, revenue"),
    "cluster_by": ("", "SELECT * FROM rev CLUSTER BY market_segment, revenue"),
    "sort_by": ("", "SELECT * FROM rev SORT BY market_segment, revenue"),
    "backtick_table_then_join": (
        "t AS (SELECT 'BUILDING' AS k)",
        "SELECT * FROM `t` JOIN rev ON rev.market_segment = `t`.k",
    ),
    "plain_cte_trailing_comment": (
        "t AS (SELECT 'BUILDING' AS k -- note\n)",
        "SELECT * FROM t JOIN rev ON rev.market_segment = t.k",
    ),
    "plain_cte_over_measure_cte": (
        "top AS (SELECT * FROM rev ORDER BY revenue DESC LIMIT 2)",
        "SELECT top.market_segment, cust.customers FROM top JOIN cust USING (market_segment)",
    ),
    "inner_with_shadows": ("", "SELECT * FROM (WITH rev AS (SELECT 1 AS one) SELECT * FROM rev) s"),
    "inner_with_shadows_two": (
        "",
        "SELECT * FROM (WITH rev AS (SELECT 1 AS a), cust AS (SELECT 2 AS a)"
        " SELECT * FROM rev) s",
    ),
    "inner_body_sees_outer": (
        "",
        "SELECT * FROM (WITH rev AS (SELECT * FROM rev WHERE revenue > 0)"
        " SELECT * FROM rev) t",
    ),
    "shadow_ends_with_subquery": (
        "",
        "SELECT * FROM (WITH rev AS (SELECT 'BUILDING' AS market_segment)"
        " SELECT * FROM rev) s JOIN rev ON s.market_segment = rev.market_segment",
    ),
    "shadow_collist": (
        "",
        "SELECT * FROM (WITH rev (one) AS (SELECT 1) SELECT * FROM rev) s",
    ),
    "shadow_backtick": (
        "",
        "SELECT * FROM (WITH `rev` AS (SELECT 1 AS a) SELECT * FROM rev) s",
    ),
    **{
        f"shadow_matrix_{'backtick' if bt else 'bare'}_{'collist' if cl else 'nocols'}"
        f"_{decl}": ("", _matrix_shape(bt, cl, decl))
        for bt in (False, True)
        for cl in (False, True)
        for decl in ("rev", "other")
    },
}

# shapes Spark itself refuses, over temp views and CTEs alike
SPARK_REFUSES = {"qualified_name", "paren_comma_list"}


@pytest.mark.parametrize("extra, final", SHAPES.values(), ids=SHAPES.keys())
def test_cte_shape_matches_spark(request, engine, spark, extra, final):
    want = _reference(spark, engine, f"WITH {extra} {final}" if extra else final)
    decls = ", ".join([f"{n} AS ({b})" for n, b in REFS.items()] + ([extra] if extra else []))
    got = _outcome(lambda: engine.sql(f"WITH {decls} {final}"))
    assert got == want
    shape = request.node.callspec.id
    assert isinstance(want, list) == (shape not in SPARK_REFUSES), want


def test_backtick_quoted_measure_cte_name(engine):
    """A quoted MEASURE() CTE name declares the CTE like a bare one, also
    one with a space in it (the temp view behind it carries no user
    text)."""
    want = _outcome(lambda: engine.sql(REV))
    assert _outcome(lambda: engine.sql(f"WITH `rev` AS ({REV}) SELECT * FROM rev")) == want
    got = _outcome(lambda: engine.sql(f"WITH `my rev` AS ({REV}) SELECT * FROM `my rev`"))
    assert got == want


_TOP = "SELECT market_segment FROM rev WHERE revenue > (SELECT avg(revenue) FROM rev)"
_N = "SELECT market_segment, MEASURE(total_orders) AS n FROM mv_order_metrics"

# id → (MEASURE() statement whose WHERE/HAVING reads `rev`, name of the
# later MEASURE() CTE it is declared as, or None for a final statement)
SUBQUERY_SHAPES = {
    "in": (f"{_N} WHERE market_segment IN ({_TOP}) GROUP BY market_segment", None),
    "exists": (
        f"{_N} WHERE EXISTS (SELECT 1 FROM rev WHERE rev.revenue > 0) "
        f"GROUP BY market_segment",
        None,
    ),
    "scalar_in_where": (
        f"{_N} WHERE market_segment = (SELECT max(market_segment) FROM rev) "
        f"GROUP BY market_segment",
        None,
    ),
    "scalar_in_having": (
        "SELECT market_segment, MEASURE(total_revenue) AS r FROM mv_order_metrics "
        "GROUP BY market_segment HAVING MEASURE(total_revenue) > "
        "(SELECT avg(revenue) FROM rev)",
        None,
    ),
    "nested_derived_table": (
        f"{_N} WHERE market_segment IN (SELECT market_segment FROM "
        f"(SELECT * FROM rev WHERE revenue > 0) t) GROUP BY market_segment",
        None,
    ),
    "later_measure_cte": (
        f"{_N} WHERE market_segment IN ({_TOP}) GROUP BY market_segment",
        "top",
    ),
}


@pytest.mark.parametrize("stmt, cte", SUBQUERY_SHAPES.values(), ids=SUBQUERY_SHAPES.keys())
def test_measure_statement_subquery_reads_earlier_cte(engine, spark, stmt, cte):
    """A subquery in a MEASURE() statement's WHERE/HAVING reads an earlier
    CTE: the rows equal the same statement run with ``rev`` as a temp
    view."""
    engine.sql(REV).createOrReplaceTempView("rev")
    try:
        want = _outcome(lambda: engine.sql(stmt))
    finally:
        spark.catalog.dropTempView("rev")
    assert isinstance(want, list) and want, want
    tail = f", {cte} AS ({stmt}) SELECT * FROM {cte}" if cte else f" {stmt}"
    assert _outcome(lambda: engine.sql(f"WITH rev AS ({REV}){tail}")) == want


def test_subquery_clauses_stay_inside_the_subquery(engine, spark):
    """A WHERE subquery with its own ORDER BY and LIMIT, followed by the
    statement's GROUP BY: the subquery's clauses stay inside it, and the
    rows equal plain ``spark.sql`` over reference temp views."""
    top2 = "SELECT market_segment FROM rev ORDER BY revenue DESC LIMIT 2"
    stmt = f"{_N} WHERE market_segment IN ({top2}) GROUP BY market_segment"
    engine.sql(REV).createOrReplaceTempView("rev")
    engine.sql(f"{_N} GROUP BY market_segment").createOrReplaceTempView("n_ref")
    try:
        want = _outcome(lambda: spark.sql(
            f"SELECT * FROM n_ref WHERE market_segment IN ({top2})"))
        got = _outcome(lambda: engine.sql(stmt))
    finally:
        spark.catalog.dropTempView("rev")
        spark.catalog.dropTempView("n_ref")
    assert isinstance(want, list) and len(want) == 2, want
    assert got == want
    assert _outcome(lambda: engine.sql(f"WITH rev AS ({REV}) {stmt}")) == want
