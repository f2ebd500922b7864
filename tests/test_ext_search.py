"""Keyword search (IDF scoring) vs DuckDB oracle ([EXT])."""

from __future__ import annotations

import pytest

from dbt_databricks_metrics_spark.ext import search
from dbt_databricks_metrics_spark.sources import load_table

from .conftest import assert_df_matches_oracle

QUERY = "spark filter window"

ORACLE = r"""
WITH toks AS (
    SELECT doc_id,
           list_distinct(regexp_split_to_array(
               regexp_replace(lower(trim(text)), '[^a-z0-9\s]', ' ', 'g'), '\s+'))
               AS t
    FROM documents
),
consts AS (
    SELECT (SELECT count(*) FROM documents) AS n,
           (SELECT count(*) FROM toks WHERE list_contains(t, 'spark')) AS df1,
           (SELECT count(*) FROM toks WHERE list_contains(t, 'filter')) AS df2,
           (SELECT count(*) FROM toks WHERE list_contains(t, 'window')) AS df3
)
SELECT doc_id,
       round(CAST(list_contains(t, 'spark') AS INT) * round(ln(1 + (n - df1 + 0.5)/(df1 + 0.5)), 9)
           + CAST(list_contains(t, 'filter') AS INT) * round(ln(1 + (n - df2 + 0.5)/(df2 + 0.5)), 9)
           + CAST(list_contains(t, 'window') AS INT) * round(ln(1 + (n - df3 + 0.5)/(df3 + 0.5)), 9), 6)
           AS score,
       CAST(list_contains(t, 'spark') AS INT) + CAST(list_contains(t, 'filter') AS INT)
           + CAST(list_contains(t, 'window') AS INT) AS n_matched
FROM toks, consts
WHERE list_contains(t, 'spark') OR list_contains(t, 'filter') OR list_contains(t, 'window')
ORDER BY score DESC, doc_id
LIMIT 10
"""


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def test_keyword_search_vs_oracle(docs, duck):
    df = search.keyword_search(docs, QUERY, k=10)
    assert_df_matches_oracle(df, duck, ORACLE)


def test_rarer_terms_score_higher(spark):
    df = spark.createDataFrame(
        [(1, "rare"), (2, "common"), (3, "common word"), (4, "common again")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["score"]
        for r in search.keyword_search(df, "rare common", k=10).collect()
    }
    # idf must be monotone decreasing in document frequency
    assert got[1] > got[2] == got[3] == got[4] > 0
    assert got[1] == pytest.approx(search.idf(4, 1), abs=1e-6)
    assert got[2] == pytest.approx(search.idf(4, 3), abs=1e-6)


def test_no_match_excluded(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    out = search.keyword_search(df, "alpha", k=10).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_empty_query_rejected(docs):
    with pytest.raises(ValueError, match="empty query"):
        search.keyword_search(docs, "   ")


def test_bm25_tf_saturation(spark):
    """More occurrences score higher, but with diminishing returns
    (saturation) — and long documents are penalized at equal tf."""
    from dbt_databricks_metrics_spark.ext.search import bm25_search

    pad = "filler words only here "
    df = spark.createDataFrame(
        [
            (1, "spark " + pad),
            (2, "spark spark " + pad),
            (3, "spark spark spark spark spark spark " + pad),
            (4, "spark " + pad * 10),
            (5, pad),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["score"] for r in bm25_search(df, "spark", k=10).collect()}
    assert 5 not in got  # no match, excluded
    assert got[2] > got[1]  # higher tf wins
    gain12 = got[2] - got[1]
    gain23 = (got[3] - got[2]) / 4
    assert gain23 < gain12  # saturating marginal gain
    assert got[4] < got[1]  # length normalization


def test_bm25_matches_duckdb(spark, duck, sf_dir):
    from dbt_databricks_metrics_spark.ext.search import bm25_search
    from dbt_databricks_metrics_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = [tuple(r) for r in bm25_search(docs, "spark filter window", k=15).collect()]
    want = duck.execute(
        r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(
                       regexp_replace(lower(trim(text)), '[^a-z0-9\s]', ' ', 'g'),
                       '\s+'), x -> length(x) > 0) AS t
            FROM documents
        ),
        consts AS (
            SELECT (SELECT count(*) FROM documents) AS n,
                   (SELECT avg(len(t)) FROM toks) AS avgdl,
                   (SELECT count(*) FROM toks WHERE list_contains(t, 'spark')) AS df1,
                   (SELECT count(*) FROM toks WHERE list_contains(t, 'filter')) AS df2,
                   (SELECT count(*) FROM toks WHERE list_contains(t, 'window')) AS df3
        ),
        scored AS (
            SELECT doc_id,
                   len(list_filter(t, x -> x = 'spark')) AS tf1,
                   len(list_filter(t, x -> x = 'filter')) AS tf2,
                   len(list_filter(t, x -> x = 'window')) AS tf3,
                   1.2 * (0.25 + 0.75 * len(t) / avgdl) AS norm,
                   n, df1, df2, df3
            FROM toks, consts
        )
        SELECT doc_id,
               round(round(ln(1 + (n - df1 + 0.5)/(df1 + 0.5)), 9) * (tf1 * 2.2) / (tf1 + norm)
                   + round(ln(1 + (n - df2 + 0.5)/(df2 + 0.5)), 9) * (tf2 * 2.2) / (tf2 + norm)
                   + round(ln(1 + (n - df3 + 0.5)/(df3 + 0.5)), 9) * (tf3 * 2.2) / (tf3 + norm), 6)
                   AS score,
               (tf1 > 0)::INT + (tf2 > 0)::INT + (tf3 > 0)::INT AS n_matched
        FROM scored
        WHERE (tf1 > 0)::INT + (tf2 > 0)::INT + (tf3 > 0)::INT > 0
        ORDER BY score DESC, doc_id
        LIMIT 15
        """
    ).fetchall()
    assert got == [tuple(r) for r in want]


class TestHybridRRF:
    def test_fusion_semantics(self, spark):
        """A doc ranked #1 in both lists must outscore a doc present in
        only one; rrf terms are exactly 1/(60+rank)."""
        from dbt_databricks_metrics_spark.ext.search import hybrid_search_rrf

        rows = [
            # doc 1: lexical + dense match ("spark data" with overlap)
            (1, "spark spark filter window data pipeline"),
            # doc 2: lexical only (bm25 terms, vector buckets dominated by noise)
            (2, "spark filter window"),
            # doc 3: unrelated
            (3, "unrelated words entirely different topic"),
        ]
        docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
        got = {
            r["doc_id"]: r
            for r in hybrid_search_rrf(
                docs, "spark filter window", k=10, k_each=5, dim=16, hash_fn="md5"
            ).collect()
        }
        # doc 3 may sneak into the dense list via 16-dim hash collisions,
        # but never the lexical one, and it must rank below both matches
        if 3 in got:
            assert got[3]["lex_rank"] is None
            assert got[3]["rrf_score"] < min(got[1]["rrf_score"], got[2]["rrf_score"])
        assert got[1]["rrf_score"] == pytest.approx(
            1.0 / (60 + got[1]["lex_rank"]) + 1.0 / (60 + got[1]["dense_rank"])
        )
        # every returned doc with both ranks beats any doc with one rank
        both = [r for r in got.values() if r["lex_rank"] and r["dense_rank"]]
        single = [
            r
            for r in got.values()
            if (r["lex_rank"] is None) != (r["dense_rank"] is None)
        ]
        for b in both:
            for s in single:
                if (b["lex_rank"] or 99) <= (s["lex_rank"] or 99) and (
                    b["dense_rank"] or 99
                ) <= (s["dense_rank"] or 99):
                    assert b["rrf_score"] > s["rrf_score"]

    def test_rank_only_no_score_leak(self, spark, sf_dir):
        """Fused score depends only on ranks: rrf of the top-10 equals
        recomputing 1/(60+rank) from the emitted rank columns."""
        from dbt_databricks_metrics_spark.ext.search import hybrid_search_rrf

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = hybrid_search_rrf(
            docs, "spark filter window", k=10, dim=16, hash_fn="md5"
        ).collect()
        assert out
        for r in out:
            exp = (1.0 / (60 + r["lex_rank"]) if r["lex_rank"] else 0.0) + (
                1.0 / (60 + r["dense_rank"]) if r["dense_rank"] else 0.0
            )
            assert r["rrf_score"] == exp


class TestRerank:
    def _docs(self, spark):
        rows = [
            (1, "spark spark spark"),                      # 1 term, tf 3
            (2, "the spark filter window runs here"),      # 3 terms early
            (3, "padding text then spark filter window"),  # 3 terms later
            (4, "filter only"),                            # 1 term
            (5, "nothing relevant at all"),                # 0 terms
        ]
        return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    def test_lexicographic_priorities(self, spark):
        from pyspark.sql import functions as F

        from dbt_databricks_metrics_spark.ext.search import rerank_top_k

        docs = self._docs(spark)
        cands = docs.select("doc_id")  # rerank everything
        got = {
            r["doc_id"]: r["rerank"]
            for r in rerank_top_k(docs, cands, "spark filter window", k=5).collect()
        }
        # coverage dominates tf: docs 2,3 (3 terms) beat doc 1 (tf=3);
        # earlier first match breaks the 2-vs-3 tie; doc 5 ranks last
        assert got[2] == 1 and got[3] == 2
        assert got[1] == 3  # 1 term but tf 3 beats doc 4's tf 1
        assert got[4] == 4 and got[5] == 5

    def test_only_candidates_are_ranked(self, spark):
        from dbt_databricks_metrics_spark.ext.search import rerank_top_k

        docs = self._docs(spark)
        cands = docs.filter("doc_id IN (3, 4)").select("doc_id")
        out = rerank_top_k(docs, cands, "spark filter window", k=10).collect()
        assert {r["doc_id"] for r in out} == {3, 4}
        assert [r["rerank"] for r in sorted(out, key=lambda r: r["rerank"])] == [1, 2]

    def test_score_is_integer_exact(self, spark):
        from dbt_databricks_metrics_spark.ext.search import rerank_top_k

        docs = self._docs(spark)
        out = rerank_top_k(docs, docs.select("doc_id"), "spark", k=5)
        assert dict(out.dtypes)["rerank_score"] == "bigint"
        # doc 1: present=1, tf=3, first_pos=1 -> packed
        row = {r["doc_id"]: r["rerank_score"] for r in out.collect()}
        assert row[1] == 1 * 10**12 + 3 * 10**6 + (999999 - 1)

    def test_bad_args(self, spark):
        import pytest as _pytest

        from dbt_databricks_metrics_spark.ext.search import rerank_top_k

        docs = self._docs(spark)
        with _pytest.raises(ValueError, match="empty query"):
            rerank_top_k(docs, docs.select("doc_id"), "   ")
        with _pytest.raises(ValueError, match="k must be"):
            rerank_top_k(docs, docs.select("doc_id"), "spark", k=0)

    def test_pipeline_with_bm25_first_stage(self, spark, sf_dir):
        from dbt_databricks_metrics_spark.ext.search import bm25_search, rerank_top_k
        from dbt_databricks_metrics_spark.sources import load_table

        docs = load_table(spark, sf_dir, "documents")
        cands = bm25_search(docs, "spark filter window", k=30)
        out = rerank_top_k(docs, cands, "spark filter window", k=10).collect()
        assert 0 < len(out) <= 10
        ranks = [r["rerank"] for r in sorted(out, key=lambda r: r["rerank"])]
        assert ranks == list(range(1, len(out) + 1))
