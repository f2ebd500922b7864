"""Exact set-similarity self-join via prefix filtering ([EXT];
Chaudhuri, Ganti & Kaushik, "A Primitive Operator for Similarity
Joins in Data Cleaning", ICDE 2006; Xiao et al., "Efficient Similarity
Joins for Near Duplicate Detection", WWW 2008 (PPJoin) — public
algorithms).

The dedup family's missing middle: MinHash/SimHash/SRP are *probabilistic*
(tunable miss rate), the brute-force `ngram_jaccard_pairs` is *exact but
O(n²)*. Prefix filtering is exact AND scalable: under any global total
order on tokens, two sets with Jaccard ≥ τ MUST share at least one token
inside their prefixes of length ``|s| − ⌈τ·|s|⌉ + 1`` (if the prefixes
were disjoint, even perfect overlap of the remaining suffixes is too
small to reach τ). So candidates = pairs sharing a PREFIX token — an
equi-join on ~(1−τ)·|s| tokens per document — then exact verification on
the candidates only. No false negatives, by theorem rather than by
banding probability.

Global order = rarest-first (ascending document frequency, token string
tie-break): prefixes then hold each document's rarest tokens, so the
candidate join groups are as small as the data allows. The shuffles move
(8-byte-hashable token, id) pairs and per-doc shingle arrays — never
text.

Pruning power scales with prefix-token RARITY: on natural corpora
(zipfian shingle vocabulary) candidates collapse to near the true pair
count (tested: <1% of n²/2 on a high-entropy corpus). On low-entropy /
templated corpora whose rarest shingles still appear in many documents
the candidate set degrades toward all-pairs — exactness is unaffected,
but there the probabilistic LSH paths (`dedup.py`) are the better
first-stage filter.

Verification arithmetic matches `dedup.ngram_jaccard_pairs` exactly
(same shingles, same round-to-6-then-filter), so the two operators are
interchangeable result-for-result; the contract pins equality. The
prefix length is computed at ``τ − tau_slack`` so a pair whose true
Jaccard sits just below τ but ROUNDS to τ (the brute-force filter is on
the rounded value) still surfaces as a candidate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import char_shingles


def ssjoin_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.8,
    tau_slack: float = 1e-6,
) -> DataFrame:
    """All pairs with shingle-Jaccard ≥ τ — exact, via prefix filtering.

    Returns (id_a, id_b, jaccard) with id_a < id_b: the same contract
    (and bit-identical values) as the brute-force
    ``dedup.ngram_jaccard_pairs``, without the O(n²) compare.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0,1], got {threshold}")
    tau = threshold - tau_slack
    sets = df.select(
        F.col(id_col).alias("_id"), char_shingles(text_col, k).alias("_sh")
    ).localCheckpoint(eager=False)

    # document frequency via a WINDOW over the token key — the exploded
    # (id, token) table is computed and shuffled once instead of feeding
    # both an aggregate and a join-back (guide §2.4; NULL tokens are
    # filtered as the old inner join's key would have dropped them)
    from pyspark.sql import Window

    tok = sets.select("_id", F.explode("_sh").alias("_t")).filter(
        F.col("_t").isNotNull()
    )
    with_df = tok.select(
        "_id",
        "_t",
        F.count(F.lit(1)).over(Window.partitionBy("_t")).alias("_df"),
    )
    # per-doc tokens in global rarest-first order; prefix keeps the first
    # n - ceil(tau*n) + 1 of them
    ordered = (
        with_df.groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("_t")))
            ).alias("_ord")
        )
        .select(
            "_id",
            F.expr(
                f"slice(transform(_ord, s -> s._t), 1, "
                f"greatest(size(_ord) - cast(ceil({tau!r} * size(_ord)) as int)"
                f" + 1, 1))"
            ).alias("_prefix"),
        )
    )
    # checkpoint the (small: ~(1−τ)·|s| rows per doc) prefix table so the
    # candidate self-join's two sides share ONE computation — Catalyst
    # plans are trees, so without it the whole explode→df-window→order
    # pipeline ran twice, once per join side (verified in the executed
    # plan: every exchange of the prefix pipeline appeared twice and the
    # former repartition-for-stage-reuse never produced a ReusedExchange,
    # because the planner broadcasts one join side — its two REPARTITION
    # exchanges were pure overhead; plans/r11/ssjoin_pairs_*)
    pre = ordered.select("_id", F.explode("_prefix").alias("_t")).localCheckpoint(
        eager=False
    )
    cand = (
        pre.alias("a")
        .join(pre.alias("b"), "_t")
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    sa = sets.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"))
    sb = sets.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    union = F.size(F.array_union(F.col("_sha"), F.col("_shb")))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
