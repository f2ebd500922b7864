"""Count-min sketch: deterministic guarantees on the documents fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.ext import cms
from dbt_databricks_metrics_spark.sources import load_table


def _toks(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return cms.doc_tokens(docs).cache()


def test_cms_never_underestimates(spark, sf_dir):
    """estimate >= exact for EVERY token (the deterministic guarantee)."""
    toks = _toks(spark, sf_dir)
    sketch = cms.cms_build(toks)
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact"))
    est = cms.cms_estimate(sketch, exact.select("token"))
    under = (
        exact.join(est, "token")
        .filter(F.col("cms_estimate") < F.col("exact"))
        .count()
    )
    assert under == 0


def test_cms_heavy_hitter_accuracy(spark, sf_dir):
    """Top tokens stay within the e*N/width overshoot bound."""
    toks = _toks(spark, sf_dir)
    n_total = toks.count()
    sketch = cms.cms_build(toks)
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact"))
    top = exact.orderBy(F.col("exact").desc(), "token").limit(15)
    est = cms.cms_estimate(sketch, top.select("token"))
    bound = cms.error_bound(n_total, cms.DEFAULT_WIDTH)
    rows = top.join(est, "token").collect()
    assert len(rows) == 15
    for r in rows:
        assert r["cms_estimate"] >= r["exact"]
        assert r["cms_estimate"] <= r["exact"] + bound, r


def test_cms_merge_equals_whole(spark, sf_dir):
    """Sketching two halves and merging == sketching everything (the
    mergeable-partial property that makes CMS fold into rollups)."""
    toks = _toks(spark, sf_dir)
    left = toks.filter(F.col("_doc") % 2 == 0)
    right = toks.filter(F.col("_doc") % 2 == 1)
    merged = (
        cms.cms_build(left)
        .unionByName(cms.cms_build(right))
        .groupBy("row_j", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    whole = cms.cms_build(toks)
    diff = (
        merged.alias("m")
        .join(whole.alias("w"), ["row_j", "bucket"], "full")
        .filter(
            ~F.coalesce(F.col("m.n"), F.lit(0)).eqNullSafe(
                F.coalesce(F.col("w.n"), F.lit(0))
            )
        )
        .count()
    )
    assert diff == 0


def test_cms_sketch_size_capped(spark, sf_dir):
    """State never exceeds depth*width rows regardless of corpus size."""
    toks = _toks(spark, sf_dir)
    sketch = cms.cms_build(toks, depth=3, width=64)
    assert sketch.count() <= 3 * 64
    assert sketch.filter((F.col("bucket") < 0) | (F.col("bucket") >= 64)).count() == 0
