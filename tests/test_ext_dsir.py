"""DSIR importance weighting (ext/dsir.py) and the decontaminate
anti-join (ext/contamination.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.ext import contamination, dsir


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_weights_prefer_target_language(spark, docs):
    target = docs.filter(F.col("lang") == "en")
    w = dsir.dsir_weights(docs, target)
    by_lang = {
        r["lang"]: r["avg_w"]
        for r in docs.join(w, "doc_id")
        .groupBy("lang")
        .agg(F.avg("log_weight").alias("avg_w"))
        .collect()
    }
    assert all(by_lang["en"] > v for k, v in by_lang.items() if k != "en")


def test_md5_and_xxhash_modes_agree_on_ranking(spark, docs):
    target = docs.filter(F.col("lang") == "en")

    def top50(hash_fn):
        w = dsir.dsir_weights(docs, target, hash_fn=hash_fn)
        top = w.orderBy(F.desc("log_weight"), "doc_id").limit(50)
        return {r["doc_id"] for r in top.collect()}

    top_md5, top_xx = top50("md5"), top50("xxhash64")
    # bucketed hashing perturbs individual weights but not the signal:
    # the two top-50 selections overlap heavily
    assert len(top_md5 & top_xx) >= 40


def test_model_is_bucket_bounded(spark, docs):
    m = dsir.hashed_feature_counts(docs, n_buckets=256)
    assert m.count() <= 256


def test_empty_and_null_text_get_null_weight(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, None)], ["doc_id", "text"]
    )
    target = df.filter("doc_id = 1")
    rows = {r["doc_id"]: r for r in dsir.dsir_weights(df, target).collect()}
    assert set(rows) == {1, 2, 3}  # nothing disappears
    assert rows[2]["n_features"] == 0 and rows[2]["log_weight"] is None
    assert rows[3]["n_features"] == 0 and rows[3]["log_weight"] is None
    assert rows[1]["log_weight"] is not None


def test_dsir_unknown_hash_fn(spark, docs):
    with pytest.raises(ValueError, match="hash_fn"):
        dsir.dsir_weights(docs, docs, hash_fn="sha9").collect()


def test_oracle_parity(spark, docs, duck):
    target = docs.filter(F.col("lang") == "en")
    w = dsir.dsir_weights(docs, target, hash_fn="md5")
    got = {
        r["doc_id"]: (r["n_features"], r["log_weight"])
        for r in w.collect()
    }
    exp = duck.execute(r"""
        WITH tokd AS (
          SELECT doc_id, lang,
                 list_filter(string_split(regexp_replace(lower(trim(coalesce(text, ''))),
                                                         '\s+', ' ', 'g'), ' '),
                             x -> length(x) > 0) AS toks
          FROM documents
        ),
        feats AS (
          SELECT doc_id, lang,
                 list_concat(toks,
                   CASE WHEN len(toks) >= 2
                        THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
                        ELSE [] END) AS fs
          FROM tokd
        ),
        events AS (SELECT doc_id, lang, unnest(fs) AS f FROM feats),
        tm AS (SELECT f, count(*) AS ct FROM events WHERE lang = 'en' GROUP BY 1),
        rm AS (SELECT f, count(*) AS cr FROM events GROUP BY 1),
        tt AS (SELECT sum(ct) AS nt FROM tm),
        rt AS (SELECT sum(cr) AS nr FROM rm),
        scored AS (
          SELECT e.doc_id,
                 ln((coalesce(tm.ct, 0) + 0.5) / (tt.nt + 5000.0))
                 - ln((coalesce(rm.cr, 0) + 0.5) / (rt.nr + 5000.0)) AS lr
          FROM events e LEFT JOIN tm USING (f) LEFT JOIN rm USING (f)
          CROSS JOIN tt CROSS JOIN rt
        )
        SELECT d.doc_id, count(s.lr) AS nf, sum(s.lr) AS lw
        FROM documents d LEFT JOIN scored s USING (doc_id) GROUP BY 1
    """).fetchall()
    assert len(exp) == len(got)
    for doc_id, nf, lw in exp:
        g_nf, g_lw = got[doc_id]
        assert g_nf == nf
        assert g_lw == pytest.approx(lw, rel=1e-9)


# ------------------------------------------------------- decontaminate


def test_decontaminate_drops_exactly_the_flagged_ids(spark, docs):
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    flagged = {
        r["doc_id"]
        for r in contamination.contaminated_docs(corpus, bench, n=4).collect()
    }
    clean = contamination.decontaminate(corpus, bench, n=4)
    kept = {r["doc_id"] for r in clean.collect()}
    assert kept.isdisjoint(flagged)
    assert kept | flagged == {r["doc_id"] for r in corpus.collect()}
    assert clean.columns == corpus.columns


def test_decontaminate_noop_on_disjoint_corpora(spark):
    corpus = spark.createDataFrame(
        [(1, "one two three four five"), (2, "six seven eight nine ten")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(99, "totally different words here now")], ["doc_id", "text"]
    )
    assert contamination.decontaminate(corpus, bench, n=3).count() == 2


def test_decontaminate_min_shared_threshold(spark, docs):
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    loose = contamination.decontaminate(corpus, bench, n=4, min_shared=1).count()
    strict = contamination.decontaminate(corpus, bench, n=4, min_shared=3).count()
    assert strict >= loose  # higher bar -> fewer drops -> more survivors
