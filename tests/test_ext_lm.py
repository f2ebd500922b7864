"""Bigram-LM scoring tests ([EXT]): outlier ranking, degenerate docs,
perplexity form, and DuckDB oracle parity.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.ext import lm
from dbt_databricks_metrics_spark.sources import load_table


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repeated_text_scores_higher_than_outlier(spark):
    # corpus dominated by one pattern; the odd doc out gets lower avg_logp
    rows = [(i, "the cat sat on the mat") for i in range(20)]
    rows.append((99, "zq xv qqj zzk wpm vnx"))
    scores = {r["doc_id"]: r["avg_logp"] for r in lm.lm_doc_scores(_df(spark, rows)).collect()}
    common = scores[0]
    assert scores[99] < common  # gibberish is less probable
    assert all(abs(scores[i] - common) < 1e-12 for i in range(20))


def test_degenerate_docs_survive(spark):
    df = _df(spark, [(1, None), (2, ""), (3, "single"), (4, "two tokens")])
    rows = {r["doc_id"]: r for r in lm.lm_doc_scores(df).collect()}
    assert set(rows) == {1, 2, 3, 4}
    for d in (1, 2, 3):
        assert rows[d]["n_bigrams"] == 0 and rows[d]["avg_logp"] is None
    assert rows[4]["n_bigrams"] == 1 and rows[4]["avg_logp"] is not None


def test_ppl_is_exp_neg_avg(spark):
    df = _df(spark, [(1, "a b c a b")])
    r = lm.lm_doc_scores(df).collect()[0]
    assert math.isclose(r["ppl"], math.exp(-r["avg_logp"]), rel_tol=1e-12)


def test_oracle_parity(spark, duck, sf_dir):
    sdf = load_table(spark, sf_dir, "documents")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
        for r in lm.lm_doc_scores(sdf).collect()
    }
    want = {
        r[0]: (r[1], r[2])
        for r in duck.execute(
            r"""
            WITH tokd AS (
              SELECT doc_id,
                     list_filter(string_split(regexp_replace(lower(trim(coalesce(text, ''))),
                                                             '\s+', ' ', 'g'), ' '),
                                 x -> length(x) > 0) AS toks
              FROM documents
            ),
            bigr AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 2
                          THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
                          ELSE [] END AS bigrams
              FROM tokd
            ),
            events AS (SELECT doc_id, unnest(bigrams) AS bigram FROM bigr),
            model AS (SELECT bigram, count(*) AS c_big FROM events GROUP BY 1),
            ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, sum(c_big) AS c_ctx
                    FROM model GROUP BY 1),
            v AS (SELECT count(DISTINCT tok) AS v
                  FROM (SELECT unnest(toks) AS tok FROM tokd)),
            scored AS (
              SELECT e.doc_id,
                     ln((coalesce(m.c_big, 0) + 0.5)
                        / (coalesce(x.c_ctx, 0) + 0.5 * v.v)) AS logp
              FROM events e
              LEFT JOIN model m USING (bigram)
              LEFT JOIN ctx x ON split_part(e.bigram, ' ', 1) = x.w1
              CROSS JOIN v
            )
            SELECT t.doc_id,
                   count(s.logp) AS n_bigrams,
                   avg(s.logp) AS avg_logp
            FROM tokd t LEFT JOIN scored s USING (doc_id)
            GROUP BY 1
            """
        ).fetchall()
    }
    assert set(got) == set(want)
    for d, (n, a) in want.items():
        gn, ga = got[d]
        assert gn == n
        if a is None:
            assert ga is None
        else:
            assert math.isclose(ga, a, rel_tol=1e-9)


def test_plan_no_python_udf(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    plan = lm.lm_doc_scores(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ppl_buckets_partition(spark):
    rows = [(i, "the cat sat on the mat") for i in range(30)]
    rows += [(100 + i, f"rare words unique{i} apart{i}") for i in range(6)]
    scores = lm.lm_doc_scores(_df(spark, rows))
    b = lm.ppl_buckets(scores, n_buckets=3)
    got = {r["doc_id"]: r["bucket"] for r in b.collect()}
    assert set(got.values()) <= {1, 2, 3}
    # the 30 common docs all share the same (high) score -> bucket 1
    assert all(got[i] == 1 for i in range(30))
    # rare-word docs are less probable -> never bucket 1
    assert all(got[100 + i] >= 2 for i in range(6))


def test_ppl_buckets_null_scores(spark):
    df = _df(spark, [(1, "a b c a b"), (2, "a b a b c"), (3, "solo"), (4, None)])
    b = lm.ppl_buckets(lm.lm_doc_scores(df))
    got = {r["doc_id"]: r["bucket"] for r in b.collect()}
    assert got[3] is None and got[4] is None
    assert got[1] is not None and got[2] is not None


def test_ppl_buckets_oracle_parity(spark, duck, sf_dir):
    sdf = load_table(spark, sf_dir, "documents")
    got = {
        r["doc_id"]: r["bucket"]
        for r in lm.ppl_buckets(lm.lm_doc_scores(sdf), n_buckets=3).collect()
    }
    want = dict(
        duck.execute(
            r"""
            WITH tokd AS (
              SELECT doc_id,
                     list_filter(string_split(regexp_replace(lower(trim(coalesce(text, ''))),
                                                             '\s+', ' ', 'g'), ' '),
                                 x -> length(x) > 0) AS toks
              FROM documents
            ),
            bigr AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 2
                          THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
                          ELSE [] END AS bigrams
              FROM tokd
            ),
            events AS (SELECT doc_id, unnest(bigrams) AS bigram FROM bigr),
            model AS (SELECT bigram, count(*) AS c_big FROM events GROUP BY 1),
            ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, sum(c_big) AS c_ctx
                    FROM model GROUP BY 1),
            v AS (SELECT count(DISTINCT tok) AS v
                  FROM (SELECT unnest(toks) AS tok FROM tokd)),
            scored AS (
              SELECT e.doc_id,
                     ln((coalesce(m.c_big, 0) + 0.5)
                        / (coalesce(x.c_ctx, 0) + 0.5 * v.v)) AS logp
              FROM events e
              LEFT JOIN model m USING (bigram)
              LEFT JOIN ctx x ON split_part(e.bigram, ' ', 1) = x.w1
              CROSS JOIN v
            ),
            per_doc AS (
              SELECT t.doc_id, round(avg(s.logp), 4) AS sc
              FROM tokd t LEFT JOIN scored s USING (doc_id)
              GROUP BY 1
            ),
            cuts AS (
              SELECT round(quantile_cont(sc, 2.0/3.0), 6) AS c1,
                     round(quantile_cont(sc, 1.0/3.0), 6) AS c2
              FROM per_doc WHERE sc IS NOT NULL
            )
            SELECT doc_id,
                   CASE WHEN sc IS NULL THEN NULL
                        ELSE 1 + (sc < c1)::INT + (sc < c2)::INT END AS bucket
            FROM per_doc CROSS JOIN cuts
            """
        ).fetchall()
    )
    assert got == want
