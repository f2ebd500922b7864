"""SemDeDup — semantic deduplication via cluster-scoped cosine pruning
([EXT]; Abbas et al., "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication", 2023 — public algorithm).

`dedup.embedding_dup_pairs` compares ALL embedding pairs — exact, but
O(n²) and only usable as a small-scale oracle. SemDeDup's observation:
semantic duplicates land in the same k-means cluster, so it suffices to
compare pairs WITHIN clusters — O(Σ|cluster|²) ≪ O(n²), and perfectly
parallel across clusters. `similarity.srp_candidate_pairs` is the
hash-bucketed alternative; SemDeDup trades its probabilistic recall for
a semantic partition that callers often already have (the same
clusters drive curation / mixing decisions).

Pipeline: `kmeans_fit` → assign → self-join scoped by `cluster_id` →
pairs with cosine ≥ τ (``id_a < id_b``, so dropping every ``id_b`` keeps
the lowest id per duplicate group, the keeper rule of
`dedup.exact_dedup`).

Scale shape (100 TB posture): the pair join's key is `cluster_id`, so
the shuffle moves each vector once; per-cluster fan-out is |cluster|²
— k is the skew knob (SemDeDup's paper runs 50k clusters for LAION).
A `max_cluster` guard refuses degenerate clusterings instead of
silently melting a reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import cosine_similarity
from .kmeans import kmeans_assign, kmeans_fit
from .similarity import _as_double_array


def semantic_dup_pairs(
    df: DataFrame,
    n_clusters: int = 8,
    n_iter: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    max_cluster: int = 100_000,
) -> DataFrame:
    """(id_a, id_b, cosine, cluster_id) — within-cluster pairs ≥ τ.

    Recall caveat (inherent to SemDeDup): a duplicate pair split across
    two clusters is missed; the paper accepts this (duplicates are far
    more likely to co-cluster than random pairs). The exact oracle is
    ``dedup.embedding_dup_pairs``.
    """
    cents = centroids if centroids is not None else kmeans_fit(
        df, n_clusters, n_iter, id_col, vec_col
    )
    # localCheckpoint: the assignment pass (k cosines per row) feeds the
    # size guard AND both sides of the pair self-join — without the cut
    # it would recompute three times over the corpus. The blocks live in
    # executor storage until the assignment DataFrame is GC'd; callers
    # looping over many corpora should hold/unpersist their own
    # assignment via kmeans_assign instead.
    assign = (
        kmeans_assign(df, cents, id_col, vec_col)
        .select(id_col, "cluster_id")
        .localCheckpoint(eager=True)
    )
    sizes = assign.groupBy("cluster_id").count()
    too_big = sizes.filter(F.col("count") > max_cluster)
    if too_big.limit(1).count() > 0:
        worst = too_big.orderBy(F.col("count").desc()).first()
        raise ValueError(
            f"semantic_dup_pairs: cluster {worst['cluster_id']} has "
            f"{worst['count']} members (> max_cluster={max_cluster}) — raise "
            f"n_clusters (pair fan-out is per-cluster quadratic)"
        )
    v = df.select(
        F.col(id_col).alias("_id"), _as_double_array(F.col(vec_col)).alias("_v")
    ).join(assign.withColumnRenamed(id_col, "_id"), "_id")
    a, b = v.alias("a"), v.alias("b")
    cos = F.round(cosine_similarity(F.col("a._v"), F.col("b._v")), 6)
    return (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            cos.alias("cosine"),
            F.col("a.cluster_id").alias("cluster_id"),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )
