from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.ext import pipeline, textstats as ts
from dbt_databricks_metrics_spark.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_report_shape_and_totals(spark, docs):
    rep = pipeline.source_reputation(docs)
    rows = rep.collect()
    n_sources = docs.select("source").distinct().count()
    assert len(rows) == n_sources
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert 0 <= r["n_dup"] <= r["n_docs"]
        assert 0 <= r["n_low_quality"] <= r["n_docs"]
        assert r["keep"] == (not (r["dup_flag"] or r["low_quality_flag"]))


def test_dup_charged_to_copy_source(spark, docs):
    # clone one doc into a fresh source: the copy's source gets the dup
    clone = docs.limit(1).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        "text",
        "lang",
        F.lit("cloner").alias("source"),
        "n_chars",
    )
    rep = pipeline.source_reputation(docs.unionByName(clone))
    cloner = rep.filter(F.col("source") == "cloner").first()
    assert cloner["n_docs"] == 1
    assert cloner["n_dup"] == 1
    assert cloner["dup_flag"]  # 1/1 > 1/5
    assert not cloner["keep"]


def test_flags_are_integer_cross_multiplications(spark, docs):
    # a source whose every doc scores below the floor must be flagged
    junk = spark.createDataFrame(
        [(90_000_000 + i, "!!! ### $$$", "en", "junkers", 11) for i in range(4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rep = pipeline.source_reputation(docs.unionByName(junk))
    row = rep.filter(F.col("source") == "junkers").first()
    assert row["low_quality_flag"]
    assert not row["keep"]


def test_quality_micro_matches_rowwise_round(spark, docs):
    rep = pipeline.source_reputation(docs)
    scored = ts.with_quality_score(docs)
    want = (
        scored.groupBy("source")
        .agg(
            F.sum(
                F.round(F.col("quality_score_raw") * 1_000_000.0, 0).cast("long")
            ).alias("want")
        )
        .collect()
    )
    want = {r["source"]: r["want"] for r in want}
    for r in rep.collect():
        assert r["sum_quality_micro"] == want[r["source"]]
