"""Round-11 optimization pins.

Diamond cuts: ssjoin's candidate self-join reads ONE checkpointed
prefix table (the former repartition-for-stage-reuse never produced a
ReusedExchange — the planner broadcasts one side — and each side
recomputed the whole prefix pipeline); the IDF vectorizer's tf table
feeds its df-aggregate and the join probe from ONE checkpoint, and its
corpus count rides in the lazy plan instead of an eager job.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _rows(df):
    return sorted([tuple(r) for r in df.collect()], key=str)


def _hot_corpus(spark, n=400):
    """Synthetic corpus with ONE hot token/gram/fingerprint family: every
    doc shares a boilerplate sentence (hot keys with df == n) next to a
    unique payload (cold keys)."""
    boiler = "shared boilerplate sentence repeated in every document body"
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.sha2(F.col("id").cast("string"), 256),
            F.lit(" " + boiler + " "),
            F.sha2((F.col("id") + 7).cast("string"), 256),
        ).alias("text"),
    )


# ---------------------------------------------------------------------------
# diamond cuts
# ---------------------------------------------------------------------------


def test_ssjoin_prefix_pipeline_computed_once(spark):
    """The candidate self-join's sides must read the SAME checkpointed
    prefix table — no repartition exchanges, no duplicated window/order
    pipeline in the final plan (it lives behind the checkpoint leaf)."""
    from dbt_databricks_metrics_spark.ext.ssjoin import ssjoin_pairs

    docs = _hot_corpus(spark, 30)
    plan = _plan(ssjoin_pairs(docs, k=5, threshold=0.5))
    assert "REPARTITION_BY_COL" not in plan
    # prefix pipeline (window + per-doc order) is checkpointed: the final
    # plan contains no Window at all — it reads the RDD leaf twice
    assert "Window" not in plan
    assert plan.count("Scan ExistingRDD") >= 2


def test_idf_vectorizer_inline_count_matches_literal(spark):
    """n_docs=None now rides as a lazy 1-row aggregate; it must equal the
    eager-count path bit for bit (including a NULL id, which the old
    distinct().count() counted as one group)."""
    from dbt_databricks_metrics_spark.ext.vectors import hashed_doc_vectors

    docs = spark.createDataFrame(
        [(1, "a b c a"), (2, "b c"), (None, "a d"), (3, None), (3, "a b")],
        "doc_id long, text string",
    )
    n = docs.select("doc_id").distinct().count()
    auto = hashed_doc_vectors(docs, dim=8, hash_fn="md5")
    lit = hashed_doc_vectors(docs, dim=8, hash_fn="md5", n_docs=n)
    assert _rows(auto) == _rows(lit)


def test_idf_vectorizer_tf_checkpointed_once(spark):
    """tf feeds the df-aggregate AND the idf join probe; the checkpoint
    makes that one computation (the old tree re-derived the (id, tok)
    aggregation twice). Plan pin: the final plan reads an RDD leaf and
    contains exactly one tok-keyed aggregate pair (the df count)."""
    from dbt_databricks_metrics_spark.ext.vectors import hashed_doc_vectors

    docs = spark.createDataFrame(
        [(1, "a b c a"), (2, "b c")], "doc_id long, text string"
    )
    plan = _plan(hashed_doc_vectors(docs, dim=8, hash_fn="md5", n_docs=2))
    assert "Scan ExistingRDD" in plan
    # the (id, tok) explode+aggregate lives behind the checkpoint: no
    # Generate (explode) survives in the final plan
    import re

    assert len(re.findall(r"^\(\d+\) Generate\b", plan, re.M)) == 0, plan
