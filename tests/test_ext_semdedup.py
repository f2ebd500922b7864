"""SemDeDup tests ([EXT]): within-cluster recall vs the exact brute
pairs, the lower-id keeper rule, cluster-size guard, and plan shape (the pair
join must be an equi-join on cluster_id, not a cartesian).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.ext import dedup, semdedup
from dbt_databricks_metrics_spark.sources import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def emb_with_dups(spark, emb):
    """embeddings ∪ exact copies (vec_id+10000) of the first 20 vectors —
    guaranteed cosine=1.0 duplicates that must co-cluster (identical
    vectors always share an argmax centroid)."""
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    return emb.unionByName(copies).cache()


def test_exact_copies_found_and_dropped(emb_with_dups):
    pairs = semdedup.semantic_dup_pairs(emb_with_dups, n_clusters=8, threshold=0.9999)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # every injected copy pairs with its lower-id twin, so dropping every
    # id_b drops all 20 copies and nothing else
    assert {(i, i + 10000) for i in range(20)} <= found
    assert {b for _, b in found} == {i + 10000 for i in range(20)}


def test_within_cluster_pairs_subset_of_brute(emb):
    brute = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_dup_pairs(emb, threshold=0.9).collect()
    }
    sem = {
        (r["id_a"], r["id_b"])
        for r in semdedup.semantic_dup_pairs(emb, n_clusters=4, threshold=0.9).collect()
    }
    assert sem <= brute  # never invents pairs; recall loss only


def test_cluster_guard_raises(emb):
    with pytest.raises(ValueError, match="max_cluster"):
        semdedup.semantic_dup_pairs(emb, n_clusters=2, max_cluster=10).count()


def test_plan_is_cluster_equijoin(emb):
    pairs = semdedup.semantic_dup_pairs(emb, n_clusters=4)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
