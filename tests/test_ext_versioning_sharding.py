"""Phrase search, quality-aware cluster retention, corpus version diff,
and deterministic shard planning ([EXT] — round-4 additions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.ext import dedup, packing, search, versioning
from dbt_databricks_metrics_spark.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


# ---------------------------------------------------------------- phrase


def test_phrase_search_trigram_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "big red fox big red fox jumps"),   # 2 occurrences
            (2, "big red herring and a big red fox"),  # 1
            (3, "red fox big"),                      # 0 (wrong order)
            (4, "Big, RED fox!"),                    # 1 (case/punct-folded)
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {
        r["doc_id"]: r["n_phrase"]
        for r in search.phrase_search(df, "big red fox", k=10).collect()
    }
    assert got == {1: 2, 2: 1, 4: 1}


def test_phrase_search_single_term_is_tf(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a"), (3, "b")], "doc_id BIGINT, text STRING"
    )
    got = {
        r["doc_id"]: r["n_phrase"]
        for r in search.phrase_search(df, "a", k=10).collect()
    }
    assert got == {1: 2, 2: 1}


def test_phrase_search_ties_break_by_id(spark):
    df = spark.createDataFrame(
        [(9, "x y"), (3, "x y"), (5, "x y")], "doc_id BIGINT, text STRING"
    )
    ids = [r["doc_id"] for r in search.phrase_search(df, "x y", k=2).collect()]
    assert ids == [3, 5]


def test_phrase_search_validates_inputs(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id BIGINT, text STRING")
    with pytest.raises(ValueError, match="empty phrase"):
        search.phrase_search(df, "   ")
    with pytest.raises(ValueError, match="k must be"):
        search.phrase_search(df, "a", k=0)


# ------------------------------------------------------- keep-best member


def test_keep_best_prefers_longer_then_smaller_id(spark):
    df = spark.createDataFrame(
        [
            (1, "short text"),
            (2, "a much longer canonical version of the text"),
            (3, "a much longer canonical version of the text"),  # tie w/ 2
            (7, "singleton"),
        ],
        "doc_id BIGINT, text STRING",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7)], "doc_id BIGINT, cluster_id BIGINT"
    )
    rows = {
        r["cluster_id"]: r
        for r in dedup.keep_best_in_cluster(df, clusters).collect()
    }
    assert rows[1]["kept_doc_id"] == 2          # longest wins, tie -> min id
    assert rows[1]["kept_tokens"] == 8
    assert rows[1]["cluster_size"] == 3
    assert rows[1]["n_removed"] == 2
    assert rows[7]["kept_doc_id"] == 7          # singleton keeps itself
    assert rows[7]["n_removed"] == 0


def test_keep_best_composes_with_duplicate_clusters(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, k=5, threshold=0.7)
    clusters = dedup.duplicate_clusters(docs, pairs)
    kept = dedup.keep_best_in_cluster(docs, clusters)
    n_docs = docs.count()
    agg = kept.agg(
        F.sum("cluster_size").alias("total"),
        F.count(F.lit(1)).alias("n_clusters"),
    ).first()
    assert agg["total"] == n_docs               # partition of the corpus
    assert agg["n_clusters"] <= n_docs
    # every winner is a member of its own cluster
    bad = (
        kept.select(F.col("kept_doc_id").alias("doc_id"), "cluster_id")
        .join(clusters, ["doc_id", "cluster_id"], "left_anti")
        .count()
    )
    assert bad == 0


# ------------------------------------------------------------ corpus diff


def test_corpus_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id BIGINT, text STRING"
    )
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta EDITED"), (4, "delta")],
        "doc_id BIGINT, text STRING",
    )
    got = {
        r["doc_id"]: r["status"]
        for r in versioning.corpus_diff(old, new).collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_corpus_diff_whitespace_case_insensitive(spark):
    # equality is on normalized text (the dedup fingerprint's definition)
    old = spark.createDataFrame([(1, "Hello  World")], "doc_id BIGINT, text STRING")
    new = spark.createDataFrame([(1, " hello world ")], "doc_id BIGINT, text STRING")
    assert versioning.corpus_diff(old, new).first()["status"] == "unchanged"


def test_diff_summary_counts(spark):
    old = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], "doc_id BIGINT, text STRING"
    )
    new = spark.createDataFrame(
        [(i, f"doc {i}" + (" v2" if i % 3 == 0 else "")) for i in range(8)],
        "doc_id BIGINT, text STRING",
    )
    got = {r["status"]: r["n_docs"] for r in versioning.diff_summary(old, new).collect()}
    assert got == {"removed": 2, "changed": 3, "unchanged": 5}


# ------------------------------------------------------------- shard plan


def test_shard_plan_partitions_corpus(docs):
    n_docs = docs.count()
    plan = packing.shard_plan(docs, n_shards=8).collect()
    assert sum(r["n_docs"] for r in plan) == n_docs
    assert {r["shard_id"] for r in plan} <= set(range(8))


def test_assign_shards_deterministic_and_engine_free(spark):
    # the Knuth hash is explicit arithmetic: assert the exact values so a
    # regression to an engine-native hash (non-portable) is caught
    df = spark.createDataFrame(
        [(i, "x") for i in (0, 1, 2, 1000003)], "doc_id BIGINT, text STRING"
    )
    got = {
        r["doc_id"]: r["shard_id"]
        for r in packing.assign_shards(df, 8).collect()
    }
    expect = {
        i: (((i * 2654435761) % 4294967296) * 8) // 4294967296
        for i in (0, 1, 2, 1000003)
    }
    assert got == expect


def test_assign_shards_high_bits_break_id_mod_degeneracy(spark):
    # 2654435761 ≡ 1 (mod 8): a low-bits `% 8` reduction would collapse
    # to shard == id % 8 for sequential ids. The high-bits reduction
    # must not.
    df = spark.createDataFrame(
        [(i, "x") for i in range(8)], "doc_id BIGINT, text STRING"
    )
    got = [
        r["shard_id"]
        for r in packing.assign_shards(df, 8).orderBy("doc_id").collect()
    ]
    assert got != list(range(8))


def test_assign_shards_empty_text_zero_tokens(spark):
    df = spark.createDataFrame([(1, "   "), (2, "a b")], "doc_id BIGINT, text STRING")
    got = {r["doc_id"]: r["n_tokens"] for r in packing.assign_shards(df, 4).collect()}
    assert got == {1: 0, 2: 2}


def test_shard_plan_validates_n_shards(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id BIGINT, text STRING")
    with pytest.raises(ValueError, match="n_shards"):
        packing.shard_plan(df, 0)


# ------------------------------------------------- incremental + budget


def test_incremental_targets_worklist(spark):
    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id BIGINT, text STRING"
    )
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta EDITED"), (4, "delta")],
        "doc_id BIGINT, text STRING",
    )
    got = {
        r["doc_id"]: r["action"]
        for r in versioning.incremental_targets(old, new).collect()
    }
    assert got == {2: "upsert", 3: "delete", 4: "upsert"}


def test_select_token_budget_tiers_and_boundary(spark):
    from dbt_databricks_metrics_spark.ext.sampling import select_token_budget

    # score 3: 4+4=8 tokens; score 2: 3+3+3=9; score 1: 2
    df = spark.createDataFrame(
        [
            (1, 3, "a b c d"),
            (2, 3, "a b c d"),
            (10, 2, "a b c"),
            (11, 2, "a b c"),
            (12, 2, "a b c"),
            (20, 1, "a b"),
        ],
        "doc_id BIGINT, score INT, text STRING",
    )
    # budget 14: tier 3 fits whole (8); boundary tier 2 fills ids 10, 11
    # (8+3+3=14); id 12 would overflow; tier 1 is below the boundary
    got = sorted(
        r["doc_id"]
        for r in select_token_budget(df, 14, "score").collect()
    )
    assert got == [1, 2, 10, 11]
    # budget smaller than the best tier: boundary is tier 3, id order
    got = sorted(
        r["doc_id"] for r in select_token_budget(df, 4, "score").collect()
    )
    assert got == [1]
    # zero budget selects nothing; negative raises
    assert select_token_budget(df, 0, "score").count() == 0
    with pytest.raises(ValueError, match="budget_tokens"):
        select_token_budget(df, -1, "score")


def test_select_token_budget_whole_corpus_when_budget_large(spark):
    from dbt_databricks_metrics_spark.ext.sampling import select_token_budget

    df = spark.createDataFrame(
        [(i, i % 3, "w " * (i + 1)) for i in range(6)],
        "doc_id BIGINT, score INT, text STRING",
    )
    assert select_token_budget(df, 10_000, "score").count() == 6


def test_keep_best_rejects_out_of_range_ids(spark):
    """ADVICE r4: the packed-argmax id precondition (0 <= id < 10^12) is
    enforced per row, not just documented — an out-of-range id must fail
    loudly instead of silently corrupting the per-cluster argmax."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame(
        [(10**12 + 5, "some text here")], "doc_id BIGINT, text STRING"
    )
    clusters = spark.createDataFrame(
        [(10**12 + 5, 1)], "doc_id BIGINT, cluster_id BIGINT"
    )
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)) as ei:
        dedup.keep_best_in_cluster(df, clusters).collect()
    assert "out of [0, 10^12)" in str(ei.value)
