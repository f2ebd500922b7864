"""Literal-aware parsing of MEASURE() queries (VERDICT r9 #2, ADVICE r9
#1/#2): clause keywords, commas, and parens inside string literals,
quoted identifiers, or comments must never mis-split a statement — the
clause regex and the top-level splitter run over a literal-MASKED copy
and slice payloads from the original by span. Plus the ADVICE items
riding the same file: comma-joins over MEASURE() CTEs, and ORDER BY
accepts NULLS FIRST/LAST and plain scalar expressions.

Every live test here round-trips against the DuckDB oracle at the same
exactness bar the driver applies.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dbt_databricks_metrics_spark.engine import MetricEngine
from dbt_databricks_metrics_spark.project import build_registry
from dbt_databricks_metrics_spark.sql_frontend import (
    MeasureSQLError,
    _mask_literals,
    _match_query,
    _measure_calls,
    _split_select_alias,
    _split_top_level,
    _strip_measure_calls,
)

from .conftest import assert_df_matches_oracle
from .test_engine_e2e import FCT_ORDERS_SQL


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    eng = MetricEngine(
        spark,
        build_registry(sf_dir),
        warehouse_dir=str(tmp_path_factory.mktemp("wh")),
    )
    eng.run()
    return eng


# ---------------------------------------------------------------------------
# live round-trips: literals carrying clause keywords / commas / parens
# ---------------------------------------------------------------------------


def test_where_literal_containing_clause_keywords(engine, duck):
    """The VERDICT r9 #2 headline case: a WHERE literal containing
    ' GROUP BY ' must not truncate the WHERE clause at the literal."""
    df = engine.sql(
        """
        SELECT market_segment, MEASURE(total_revenue) AS revenue
        FROM mv_order_metrics
        WHERE market_segment <> 'NO SUCH GROUP BY ORDER BY LIMIT 5'
        GROUP BY market_segment
        """
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT market_segment, sum(total_price) AS revenue
        FROM ({FCT_ORDERS_SQL})
        WHERE market_segment <> 'NO SUCH GROUP BY ORDER BY LIMIT 5'
        GROUP BY market_segment
        """,
    )


def test_where_literal_matching_a_real_value_with_keyword_noise(engine, duck):
    """A predicate that actually filters, whose OTHER disjunct hides every
    clause keyword inside one literal."""
    df = engine.sql(
        """
        SELECT market_segment, MEASURE(total_orders) AS n
        FROM mv_order_metrics
        WHERE market_segment = 'BUILDING' OR market_segment = ' from where having '
        GROUP BY market_segment
        """
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT market_segment, CAST(count(*) AS BIGINT) AS n
        FROM ({FCT_ORDERS_SQL})
        WHERE market_segment = 'BUILDING' OR market_segment = ' from where having '
        GROUP BY market_segment
        """,
    )


def test_select_expression_literal_with_comma_and_paren(engine, duck):
    """A MEASURE-expression select item whose string literal carries a
    comma and parens — the top-level splitter must not split inside it."""
    df = engine.sql(
        """
        SELECT market_segment,
               format_string('%s, (', CAST(MEASURE(total_orders) AS STRING)) AS label
        FROM mv_order_metrics
        GROUP BY market_segment
        """
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT market_segment,
               format('{{}}, (', CAST(CAST(count(*) AS BIGINT) AS VARCHAR)) AS label
        FROM ({FCT_ORDERS_SQL}) GROUP BY market_segment
        """,
    )


def test_having_and_orderby_literals(engine, duck):
    """HAVING and ORDER BY payloads with embedded keyword/comma literals,
    plus a LIMIT — the full clause chain sliced from the original text."""
    df = engine.sql(
        """
        SELECT market_segment, MEASURE(total_revenue) AS revenue
        FROM mv_order_metrics
        GROUP BY market_segment
        HAVING concat(market_segment, ' order by ') <> ' order by '
        ORDER BY concat(market_segment, ', (desc') ASC
        LIMIT 3
        """
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT market_segment, sum(total_price) AS revenue
        FROM ({FCT_ORDERS_SQL})
        GROUP BY market_segment
        HAVING concat(market_segment, ' order by ') <> ' order by '
        ORDER BY concat(market_segment, ', (desc') ASC
        LIMIT 3
        """,
    )


def test_measure_inside_string_literal_is_plain_sql(engine):
    """'measure(x)' inside a literal is content, not a call — the
    statement is plain Spark SQL and must NOT be refused."""
    row = engine.sql("SELECT 'measure(total_revenue)' AS s").first()
    assert row["s"] == "measure(total_revenue)"
    # ... while a REAL stray MEASURE() is still refused loudly
    with pytest.raises(MeasureSQLError, match="MEASURE"):
        engine.sql("SELECT MEASURE(total_revenue) FROM no_such_view")


# ---------------------------------------------------------------------------
# ORDER BY surface (ADVICE r9 #2): NULLS FIRST/LAST + plain expressions
# ---------------------------------------------------------------------------


def test_order_by_nulls_last_and_first(engine, duck):
    df = engine.sql(
        """
        SELECT market_segment, MEASURE(total_revenue) AS revenue
        FROM mv_order_metrics
        GROUP BY market_segment
        ORDER BY revenue DESC NULLS LAST, market_segment ASC NULLS FIRST
        """
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT market_segment, sum(total_price) AS revenue
        FROM ({FCT_ORDERS_SQL}) GROUP BY market_segment
        ORDER BY revenue DESC NULLS LAST, market_segment ASC NULLS FIRST
        """,
    )


def test_order_by_plain_expression(engine):
    """`ORDER BY upper(market_segment) DESC` — a scalar expression with no
    MEASURE() call resolves over the aggregated frame (ADVICE r9 #2)."""
    df = engine.sql(
        """
        SELECT market_segment, MEASURE(total_orders) AS n
        FROM mv_order_metrics
        GROUP BY market_segment
        ORDER BY upper(market_segment) DESC
        """
    )
    segs = [r["market_segment"] for r in df.collect()]
    assert segs == sorted(segs, key=str.upper, reverse=True)


def test_order_by_expression_over_unselected_measure(engine):
    """A plain expression referencing a measure ABSENT from SELECT: the
    measure is computed pre-projection (like HAVING) then dropped."""
    df = engine.sql(
        """
        SELECT market_segment
        FROM mv_order_metrics
        GROUP BY market_segment
        ORDER BY abs(total_revenue) DESC
        """
    )
    assert df.columns == ["market_segment"]
    by_rev = engine.sql(
        """
        SELECT market_segment, MEASURE(total_revenue) AS r
        FROM mv_order_metrics GROUP BY market_segment ORDER BY r DESC
        """
    )
    assert [r["market_segment"] for r in df.collect()] == [
        r["market_segment"] for r in by_rev.collect()
    ]


def test_order_by_limit_stays_one_takeordered(engine):
    """The plan gate must survive the NULLS variants: ORDER BY ... NULLS
    LAST + LIMIT still compiles to a single TakeOrderedAndProject."""
    df = engine.sql(
        """
        SELECT market_segment, MEASURE(total_revenue) AS revenue
        FROM mv_order_metrics
        GROUP BY market_segment
        ORDER BY revenue DESC NULLS LAST
        LIMIT 2
        """
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("TakeOrderedAndProject") == 1
    assert "Sort " not in plan


# ---------------------------------------------------------------------------
# comma-joins over MEASURE() CTEs (ADVICE r9 #1)
# ---------------------------------------------------------------------------


def test_rewrite_comma_join_live(engine, duck):
    """End-to-end: two MEASURE() CTEs consumed through an old-style
    comma join with a WHERE equi-predicate (the shape Spark's grammar
    actually accepts — see test_paren_comma_join_fails_loudly)."""
    df = engine.sql(
        """
        WITH rev AS (
            SELECT market_segment, MEASURE(total_revenue) AS revenue
            FROM mv_order_metrics GROUP BY market_segment
        ), cnt AS (
            SELECT market_segment, MEASURE(total_orders) AS n
            FROM mv_order_metrics GROUP BY market_segment
        )
        SELECT rev.market_segment AS market_segment, rev.revenue, cnt.n
        FROM rev, cnt
        WHERE rev.market_segment = cnt.market_segment
        """
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        WITH base AS (
            SELECT market_segment, sum(total_price) AS revenue,
                   CAST(count(*) AS BIGINT) AS n
            FROM ({FCT_ORDERS_SQL}) GROUP BY market_segment
        )
        SELECT market_segment, revenue, n FROM base
        """,
    )


def test_paren_comma_join_fails_loudly(engine):
    """ADVICE r9 #1 epilogue: Spark's grammar has NO parenthesized
    comma-join — `FROM (a, b)` is a parse error against plain tables too
    (verified: `SELECT * FROM (t1, t2)` → PARSE_SYNTAX_ERROR). The
    statement fails loudly at Spark's parser — the
    documented-unsupported-shape arm of the advice."""
    from pyspark.errors.exceptions.captured import ParseException

    with pytest.raises(ParseException):
        engine.sql(
            """
            WITH rev AS (
                SELECT market_segment, MEASURE(total_revenue) AS revenue
                FROM mv_order_metrics GROUP BY market_segment
            ), cnt AS (
                SELECT market_segment, MEASURE(total_orders) AS n
                FROM mv_order_metrics GROUP BY market_segment
            )
            SELECT * FROM (rev, cnt)
            WHERE rev.market_segment = cnt.market_segment
            """
        )


# ---------------------------------------------------------------------------
# parser-level property tests: masked spans slice the original exactly
# ---------------------------------------------------------------------------

# literal payloads stuffed with everything that used to mis-split:
# clause keywords, commas, parens, quote escapes
_EVIL_LITERALS = st.sampled_from(
    [
        "' group by x'",
        "' order by y desc'",
        "' from t where '",
        "'a, b, (c'",
        "')))'",
        "'it''s, from'",
        "' having limit 9 '",
        "'-- not a comment'",
    ]
)


@settings(max_examples=200, deadline=None)
@given(lit=_EVIL_LITERALS, lit2=_EVIL_LITERALS)
def test_clause_spans_slice_originals(lit, lit2):
    """Construct the documented shape with evil literals embedded in
    WHERE/HAVING/ORDER BY payloads; the masked matcher must hand back
    each payload EXACTLY as written."""
    where = f"note <> {lit} AND x = 1"
    having = f"concat(seg, {lit2}) <> {lit2}"
    order = f"concat(seg, {lit}) DESC"
    text = (
        f"SELECT seg, MEASURE(m) AS v FROM mv WHERE {where} "
        f"GROUP BY seg HAVING {having} ORDER BY {order} LIMIT 7"
    )
    mq = _match_query(text)
    assert mq is not None
    _, grp = mq
    assert grp("view") == "mv"
    assert grp("where") == where
    assert grp("group") == "seg"
    assert grp("having") == having
    assert grp("order") == order
    assert grp("limit") == "7"


@settings(max_examples=200, deadline=None)
@given(lit=_EVIL_LITERALS)
def test_split_top_level_ignores_literal_commas(lit):
    items = [f"f({lit}, a)", f"concat(b, {lit})", "c"]
    assert _split_top_level(", ".join(items)) == items


@settings(max_examples=100, deadline=None)
@given(lit=_EVIL_LITERALS)
def test_measure_calls_skip_literals(lit):
    expr = f"measure(real_one) + length({lit})"
    assert _measure_calls(expr) == ["real_one"]
    assert _measure_calls(f"length({lit})") == []
    stripped = _strip_measure_calls(expr)
    assert lit in stripped and "measure(" not in stripped.replace(lit, "")


def test_mask_literals_is_length_preserving():
    s = "SELECT 'a, (b' AS x, \"d\"\"e)\" FROM t -- c,\n/* ) */ WHERE `q(`"
    masked = _mask_literals(s)
    assert len(masked) == len(s)
    # literals/quoted identifiers fill with `_` (a harmless value token);
    # comments fill with SPACES — they are whitespace to the grammar
    # (review r10: `_` fill glued fake tokens onto comment neighbors)
    assert masked == (
        "SELECT _______ AS x, _______ FROM t      \n        WHERE ____"
    )


def test_split_select_alias_literal_as():
    # ' as ' inside a literal is not an alias separator
    item = "concat('x as y', seg)"
    assert _split_select_alias(item) == (item, None)
    assert _split_select_alias("concat('x as y', seg) AS lbl") == (
        "concat('x as y', seg)",
        "lbl",
    )
    # a masked literal must never be accepted AS the alias token
    assert _split_select_alias("1 AS 'nope'") == ("1 AS 'nope'", None)


@pytest.mark.parametrize(
    "select",
    [
        "market_segment seg, MEASURE(total_revenue) AS `rev x`",
        "market_segment, MEASURE(total_revenue) rev",
        "market_segment AS `seg``q`, "
        "MEASURE(total_revenue) / MEASURE(total_orders) aov",
        "market_segment `seg`, MEASURE(total_orders) n, MEASURE(total_revenue) AS total_revenue",
    ],
)
def test_select_aliases_match_spark(engine, spark, select):
    """Every alias form Spark's grammar accepts — ``[AS] identifier`` or a
    backtick-quoted one — names the output column as ``spark.sql`` names
    it for the same statement over a reference view of the source."""
    import math

    mv = engine.metric_view("mv_order_metrics")
    comp = engine._compiler
    comp.baseline_projection(mv.spec, comp.source_plan(mv.spec)).createOrReplaceTempView(
        "ref_order_metrics")
    tail = " GROUP BY market_segment ORDER BY market_segment"
    got = engine.sql(f"SELECT {select} FROM mv_order_metrics{tail}")
    ref_select = select
    for m in ("total_revenue", "total_orders"):
        ref_select = ref_select.replace(f"MEASURE({m})", f"({mv.spec.measure(m).expr})")
    try:
        want = spark.sql(f"SELECT {ref_select} FROM ref_order_metrics{tail}")
        got_rows, want_rows = got.collect(), want.collect()
    finally:
        spark.catalog.dropTempView("ref_order_metrics")
    assert got.columns == want.columns
    assert len(got_rows) == len(want_rows)
    for g, w in zip(got_rows, want_rows):
        for a, b in zip(g, w):
            assert a == b or math.isclose(a, b, rel_tol=1e-9), (g, w)


def test_split_select_alias_forms():
    assert _split_select_alias("MEASURE(x) rev") == ("MEASURE(x)", "rev")
    assert _split_select_alias("MEASURE(x) AS `a b`") == ("MEASURE(x)", "a b")
    assert _split_select_alias("seg `a``b`") == ("seg", "a`b")
    # the ORDER BY alias-shape rule: CASE … END and operator operands
    # never split
    for item in ("CASE WHEN MEASURE(x) > 0 THEN 1 ELSE 0 END",
                 "MEASURE(x) IS NULL", "a AND b", "MEASURE(x) * 100"):
        assert _split_select_alias(item) == (item, None)


@settings(max_examples=150, deadline=None)
@given(
    st.text(
        alphabet="abc'\"`,()- /*\n GROUPBYORDELIMTWHVNS",
        min_size=0,
        max_size=60,
    )
)
def test_match_query_never_crashes(s):
    """Any text either matches (spans sliceable) or returns None — no
    exception class other than a clean no-match."""
    mq = _match_query("SELECT a FROM t WHERE " + s)
    if mq is not None:
        _, grp = mq
        w = grp("where")
        assert w is None or w in ("SELECT a FROM t WHERE " + s)


def test_regression_unterminated_literal_stays_loud(engine):
    """An unterminated string literal must not silently reshape clauses —
    it reaches Spark (or the front-end) and fails loudly."""
    with pytest.raises(Exception):
        engine.sql(
            "SELECT market_segment, MEASURE(total_revenue) AS r "
            "FROM mv_order_metrics WHERE market_segment = 'oops "
            "GROUP BY market_segment"
        ).collect()


# ---------------------------------------------------------------------------
# r10 review-pass regressions (findings applied the same round)
# ---------------------------------------------------------------------------


def test_backslash_escaped_quote_in_literal(engine, duck):
    """Review r10 #4: Spark's default lexer honors backslash escapes, so
    'it\\'s a group by test' is ONE literal — the masker must not end it
    at the escaped quote and expose ' group by ' as syntax. The oracle
    spells the same value with ANSI ''-doubling."""
    df = engine.sql(
        """
        SELECT market_segment, MEASURE(total_revenue) AS revenue
        FROM mv_order_metrics
        WHERE market_segment <> 'it\\'s a group by test'
        GROUP BY market_segment
        """
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT market_segment, sum(total_price) AS revenue
        FROM ({FCT_ORDERS_SQL})
        WHERE market_segment <> 'it''s a group by test'
        GROUP BY market_segment
        """,
    )


def test_inner_with_shadowing_returns_inner_rows(engine):
    """Live: a subquery's own CTE named like a MEASURE-CTE must win
    inside that subquery (SQL scoping) — the statement returns the inner
    CTE's rows, not the metric view's."""
    df = engine.sql(
        """
        WITH rev AS (
            SELECT market_segment, MEASURE(total_revenue) AS revenue
            FROM mv_order_metrics GROUP BY market_segment
        )
        SELECT * FROM (WITH rev AS (SELECT 1 AS one) SELECT * FROM rev) s
        """
    )
    assert [r.asDict() for r in df.collect()] == [{"one": 1}]


def test_typoed_direction_keyword_fails_loud(engine):
    """Review r10 #1: Spark's grammar reads `expr ident` as a NAMED
    expression, so a typo'd direction would silently sort ascending —
    the front-end must reject it like it did before the expression
    branch existed."""
    for bad in ("dsc", "descending", "dasc"):
        with pytest.raises(MeasureSQLError, match="ASC, DESC"):
            engine.sql(
                f"""
                SELECT market_segment, MEASURE(total_revenue) AS revenue
                FROM mv_order_metrics
                GROUP BY market_segment
                ORDER BY market_segment {bad}
                """
            )
    # alias-shaped expression items reject too (`abs(x) foo`, `x AS y`)
    with pytest.raises(MeasureSQLError, match="ASC, DESC"):
        engine.sql(
            """
            SELECT market_segment, MEASURE(total_revenue) AS revenue
            FROM mv_order_metrics GROUP BY market_segment
            ORDER BY abs(revenue) foo
            """
        )


def test_operator_trailing_identifiers_still_pass(engine):
    """The alias-shape guard must NOT reject genuine expressions whose
    last token is an operand or operand-consuming keyword."""
    df = engine.sql(
        """
        SELECT market_segment, MEASURE(total_revenue) AS revenue
        FROM mv_order_metrics
        GROUP BY market_segment
        ORDER BY market_segment IS NULL, revenue DESC
        """
    )
    rows = df.collect()
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_order_by_alias_inside_expression(engine, duck):
    """Review r10 #5: a SELECT output alias resolves INSIDE an ORDER BY
    expression (`abs(revenue)`) exactly like the bare-name branch — the
    alias substitutes to its pre-projection payload before the sort."""
    df = engine.sql(
        """
        SELECT market_segment, MEASURE(total_revenue) AS revenue
        FROM mv_order_metrics
        GROUP BY market_segment
        ORDER BY abs(revenue) DESC, market_segment ASC
        LIMIT 3
        """
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT market_segment, sum(total_price) AS revenue
        FROM ({FCT_ORDERS_SQL})
        GROUP BY market_segment
        ORDER BY abs(revenue) DESC, market_segment ASC
        LIMIT 3
        """,
    )


def test_comments_parse_as_whitespace(engine, duck):
    """Comments mask to SPACES (review r10): a comment between clauses,
    a trailing line comment after a direction keyword, and a comment
    inside a select item must all parse — with `_` fill each of these
    glued a fake identifier onto its neighbor."""
    df = engine.sql(
        """
        SELECT market_segment, MEASURE(total_revenue) AS revenue
        FROM mv_order_metrics /* between clauses */
        GROUP BY market_segment
        ORDER BY revenue DESC -- trailing comment
        LIMIT 3
        """
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT market_segment, sum(total_price) AS revenue
        FROM ({FCT_ORDERS_SQL})
        GROUP BY market_segment
        ORDER BY revenue DESC
        LIMIT 3
        """,
    )


def test_parse_ctes_backslash_literal_body():
    """Review r10 #6: _parse_ctes now shares _mask_literals — a CTE body
    whose literal carries a backslash-escaped quote and a paren splits at
    the right closing paren."""
    from dbt_databricks_metrics_spark.sql_frontend import _parse_ctes

    ctes, final = _parse_ctes(
        "WITH a AS (SELECT 'it\\') (' AS x), b AS (SELECT 2 AS y) SELECT 1"
    )
    assert [n for n, _ in ctes] == ["a", "b"]
    assert ctes[0][1] == "SELECT 'it\\') (' AS x"
    assert final == "SELECT 1"


# ---------------------------------------------------------------------------
# r10 review pass 2 (findings on the pass-1 fixes themselves)
# ---------------------------------------------------------------------------


def test_order_guard_allows_struct_field_access(engine):
    """Pass-2 #2: `expr.field` ends in an identifier preceded by `.` —
    a struct-field access, never an alias; the guard must not fire."""
    from dbt_databricks_metrics_spark.sql_frontend import (
        _reject_alias_shaped_order_item,
    )

    _reject_alias_shaped_order_item(
        "max(named_struct('a', revenue)).a", "item"
    )  # must not raise
    df = engine.sql(
        """
        SELECT market_segment, MEASURE(total_revenue) AS revenue
        FROM mv_order_metrics
        GROUP BY market_segment
        ORDER BY named_struct('r', revenue).r DESC
        """
    )
    revs = [r["revenue"] for r in df.collect()]
    assert revs == sorted(revs, reverse=True)


def test_backtick_cte_name_falls_through_to_spark(engine):
    """A backtick-quoted plain CTE name (declared and referenced): with no
    MEASURE() CTE the statement reaches spark.sql as written and runs
    there."""
    rows = engine.sql(
        "WITH `rev` AS (SELECT 1 AS a) SELECT * FROM `rev`"
    ).collect()
    assert [r.asDict() for r in rows] == [{"a": 1}]


def test_comments_adjacent_to_select_and_group_items(engine, duck):
    """Pass-2 #4: a comment INSIDE the select list or GROUP BY payload
    is whitespace — the dim/measure shape checks must still pass."""
    df = engine.sql(
        """
        SELECT market_segment /* note */, MEASURE(total_revenue) -- m
               AS revenue
        FROM mv_order_metrics
        GROUP BY market_segment /* grouped */
        """
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT market_segment, sum(total_price) AS revenue
        FROM ({FCT_ORDERS_SQL})
        GROUP BY market_segment
        """,
    )


def test_unterminated_block_comment_is_loud():
    """Pass-2 #5: an unterminated `/*` must not let its parens silently
    mis-split the CTE list — the precise front-end error survives the
    _mask_literals refactor."""
    from dbt_databricks_metrics_spark.sql_frontend import _parse_ctes

    with pytest.raises(MeasureSQLError, match="unterminated block comment"):
        _parse_ctes("WITH a AS (SELECT 1 /* oops ) SELECT 2")


# ---------------------------------------------------------------------------
# r10 review pass 3 (findings on the pass-2 fixes)
# ---------------------------------------------------------------------------


def test_leading_comment_before_with(engine, duck):
    """Pass-3 #1: a header comment before WITH is whitespace — the CTE
    composition must still parse instead of being refused as a stray
    MEASURE()."""
    df = engine.sql(
        """
        -- provenance header
        WITH rev AS (
            SELECT market_segment, MEASURE(total_revenue) AS revenue
            FROM mv_order_metrics GROUP BY market_segment
        )
        SELECT market_segment, revenue FROM rev
        """
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT market_segment, sum(total_price) AS revenue
        FROM ({FCT_ORDERS_SQL}) GROUP BY market_segment
        """,
    )


def test_unterminated_comment_error_reaches_user(engine):
    """Pass-3 #2: the precise unterminated-comment error must surface
    through engine.sql, not be swallowed into the stray-MEASURE
    refusal."""
    with pytest.raises(MeasureSQLError, match="unterminated block comment"):
        engine.sql(
            "WITH a AS (SELECT market_segment, MEASURE(total_revenue) AS r "
            "FROM mv_order_metrics GROUP BY market_segment) "
            "SELECT * FROM a /* oops"
        )


# ---------------------------------------------------------------------------
# exhaustive shape matrix for the ORDER BY alias guard
# ---------------------------------------------------------------------------


_GUARD_OK_EXPRS = [
    "upper(seg)",
    "a + b",
    "a and b",
    "x is not null",
    "case when a then b else c end",
    "f(a, 'x,y')",
    "s || 'desc'",
    "named_struct('a', b).a",
    "m['k']",
    "revenue",
    "t.col",
    "coalesce(a, b)",
    "ts + interval 1 day",
    "ts - timestamp '2020-01-01'",
    "d - date '2020-01-01'",
    "s || 'plain trailing literal'",
]


@pytest.mark.parametrize("expr", _GUARD_OK_EXPRS)
def test_order_guard_matrix(expr):
    """Every legitimate expression shape passes the alias-shape guard,
    and the SAME expression with a trailing typo'd direction raises —
    the guard discriminates exactly on the trailing-bare-identifier
    (named-expression) shape."""
    from dbt_databricks_metrics_spark.sql_frontend import (
        _reject_alias_shaped_order_item,
    )

    _reject_alias_shaped_order_item(expr, expr)  # must not raise
    with pytest.raises(MeasureSQLError, match="ASC, DESC"):
        _reject_alias_shaped_order_item(f"{expr} dsc", f"{expr} dsc")


# ---------------------------------------------------------------------------
# r10 review pass 4 (findings on the pass-3 fixes)
# ---------------------------------------------------------------------------


def test_unterminated_comment_in_plain_measure_query(engine):
    """Pass-4 #1: the precise syntax error fires for NON-WITH MEASURE
    queries too — never the misleading stray-MEASURE refusal."""
    from dbt_databricks_metrics_spark.sql_frontend import (
        MeasureSQLSyntaxError,
    )

    with pytest.raises(MeasureSQLSyntaxError, match="unterminated block"):
        engine.sql(
            "SELECT market_segment, MEASURE(total_revenue) AS r "
            "FROM mv_order_metrics GROUP BY market_segment /* oops"
        )
    # a '/*' INSIDE a literal is content — no false positive
    row = engine.sql("SELECT '/*' AS s").first()
    assert row["s"] == "/*"


def test_guard_error_shows_real_text(engine):
    """Pass-4 #2: the guard's error names the user's trailing word, not
    masked filler."""
    with pytest.raises(MeasureSQLError, match="'dsc'"):
        engine.sql(
            """
            SELECT market_segment, MEASURE(total_revenue) AS revenue
            FROM mv_order_metrics GROUP BY market_segment
            ORDER BY market_segment dsc
            """
        )


# ---------------------------------------------------------------------------
# r10 review pass 5 (findings on the pass-4 fixes)
# ---------------------------------------------------------------------------


def test_backtick_quoted_trailing_alias_still_rejects(engine):
    """Pass-5 #1: a BACKTICK-quoted trailing token is an identifier —
    `ORDER BY seg \\`dsc\\`` is the silent-alias shape and must raise,
    while a qualified quoted column (`t.\\`col\\``) passes the guard."""
    from dbt_databricks_metrics_spark.sql_frontend import (
        _reject_alias_shaped_order_item,
    )

    with pytest.raises(MeasureSQLError, match="ASC, DESC"):
        engine.sql(
            """
            SELECT market_segment, MEASURE(total_revenue) AS revenue
            FROM mv_order_metrics GROUP BY market_segment
            ORDER BY upper(market_segment) `dsc`
            """
        )
    _reject_alias_shaped_order_item("t.`col`", "item")  # must not raise


def test_unterminated_literal_not_misdiagnosed_as_comment(engine):
    """Pass-5 #2: an unterminated string literal that happens to contain
    `/*` must not be reported as an unterminated comment — the statement
    proceeds and fails loud on the real problem."""
    from dbt_databricks_metrics_spark.sql_frontend import (
        MeasureSQLSyntaxError,
    )

    try:
        engine.sql("SELECT 'abc /* def FROM t").collect()
        raise AssertionError("expected a loud failure")
    except MeasureSQLSyntaxError:
        raise AssertionError("misdiagnosed as unterminated comment")
    except Exception:
        pass  # Spark's own (accurate) parse error


def test_nested_block_comment_parses(engine, duck):
    """Pass-5 #4 CLOSED: the literal splitter is a scanner, so a
    Spark-3.0-style NESTED bracketed comment masks as one comment and
    the statement parses — and an unterminated nesting (`/* /* */`)
    gets the precise syntax error the old regex missed."""
    from dbt_databricks_metrics_spark.sql_frontend import (
        MeasureSQLSyntaxError,
    )

    df = engine.sql(
        "SELECT market_segment, MEASURE(total_revenue) AS r "
        "FROM mv_order_metrics /* a /* nested */ c */ "
        "GROUP BY market_segment"
    )
    assert_df_matches_oracle(
        df,
        duck,
        f"""
        SELECT market_segment, sum(total_price) AS r
        FROM ({FCT_ORDERS_SQL}) GROUP BY market_segment
        """,
    )
    with pytest.raises(MeasureSQLSyntaxError, match="unterminated block"):
        engine.sql(
            "SELECT market_segment, MEASURE(total_revenue) AS r "
            "FROM mv_order_metrics /* outer /* inner */ "
            "GROUP BY market_segment"
        )


@settings(max_examples=300, deadline=None)
@given(
    st.text(
        alphabet="ab'\"`,()-/*\\\n _GROUPBYselectwherefromas",
        min_size=0,
        max_size=80,
    )
)
def test_split_literals_properties(s):
    """The literal scanner's structural contract under fuzz: segments
    concatenate back to the input byte-for-byte; odd segments are
    complete special regions (quote-delimited, line comments, or
    balanced nested block comments); the mask is length-preserving."""
    from dbt_databricks_metrics_spark.sql_frontend import _split_literals

    parts = _split_literals(s)
    assert "".join(parts) == s
    for p in parts[1::2]:
        assert p, "empty special segment"
        if p.startswith("--"):
            assert "\n" not in p
        elif p.startswith("/*"):
            assert p.endswith("*/") and len(p) >= 4
            depth = 0
            k = 0
            while k < len(p):
                if p[k:k + 2] == "/*":
                    depth, k = depth + 1, k + 2
                elif p[k:k + 2] == "*/":
                    depth, k = depth - 1, k + 2
                else:
                    k += 1
            assert depth == 0, "unbalanced nested comment emitted"
        else:
            assert p[0] in "'\"`" and p[-1] == p[0] and len(p) >= 2
    assert len(_mask_literals(s)) == len(s)


def test_split_literals_regex_parity_on_malformed_tails():
    """Pass-6 #1: a literal whose terminator is missing because its
    final doubled quote was taken as an escape closes at the FIRST
    quote of the pair (regex-backtracking parity) — the stray quote
    survives as syntax, keeping unterminated-input diagnostics and
    masked token shapes identical to the old regex."""
    from dbt_databricks_metrics_spark.sql_frontend import _split_literals

    assert _split_literals("n = 'abc'' GROUP BY a") == [
        "n = ", "'abc'", "' GROUP BY a",
    ]
    assert _split_literals("'a''b''") == ["", "'a''b'", "'"]
    assert _split_literals("'a''bc") == ["", "'a'", "'bc"]
    # fast path: literal-free text returns one syntax segment untouched
    assert _split_literals("SELECT a - b / c FROM t") == [
        "SELECT a - b / c FROM t"
    ]
