"""Deterministic sampling & data-mixing operators ([EXT]).

Training-data pipelines need *reproducible* sampling: the same corpus +
the same config must select the same rows on any cluster size, any
partitioning, any run — so `rand()` (per-task RNG) is out. Everything
here derives a bucket in [0, MODULUS) from a stable key column and keeps
a row iff its bucket clears the configured threshold:

* ``stratified_sample`` — per-stratum fractions (the data-mixing
  primitive: up/down-weight languages, sources, domains)
* ``train_test_split``  — disjoint, exhaustive split by weight vector

All are map-only filters (no shuffle, no state); the strata thresholds
compile to a CASE expression, never a join.

Hashing: ``hash_fn="xxhash64"`` (default) is the production choice.
``hash_fn="multiplicative"`` (Knuth 2654435761 — exact int64 arithmetic)
exists so an external engine can reproduce the selection bit-for-bit
(the DuckDB oracle in ``__spark_entry__`` uses it; xxhash64 has no DuckDB
equivalent).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MODULUS = 1_000_000
_KNUTH = 2654435761  # 2^32 * golden-ratio conjugate, odd → equidistributed


def bucket(key_col: str, salt: int = 0, hash_fn: str = "xxhash64") -> Column:
    """Stable bucket in [0, MODULUS) for a row's key."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(F.col(key_col), F.lit(salt)), F.lit(MODULUS))
    if hash_fn == "multiplicative":
        # (k*K + salt) mod M computed as ((k mod M)*(K mod M) + salt) mod M:
        # identical value (modular identity), but the intermediate stays
        # < 1e6 * 1e6 — no int64 overflow for ANY key magnitude, so Spark
        # agrees bit-for-bit with engines that widen to 128-bit (DuckDB)
        # and never wraps/throws under ANSI mode.
        k = F.pmod(F.col(key_col).cast("long"), F.lit(MODULUS))
        return F.pmod(k * F.lit(_KNUTH % MODULUS) + F.lit(salt), F.lit(MODULUS))
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def _check_multiplicative_key(df: DataFrame, key_col: str, hash_fn: str) -> None:
    """The multiplicative hash needs an integral key: casting a string key
    to long yields NULL, which would silently drop every row instead of
    erroring (xxhash64 hashes any type and has no such trap)."""
    if hash_fn != "multiplicative":
        return
    dt = df.schema[key_col].dataType
    if not isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        raise TypeError(
            f"hash_fn='multiplicative' requires an integral key column; "
            f"{key_col!r} is {dt.simpleString()} — use hash_fn='xxhash64' "
            f"or cast the key explicitly"
        )


def _threshold(fraction: float) -> int:
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return int(round(fraction * MODULUS))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    default: float = 0.0,
    key_col: str = "doc_id",
    salt: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-stratum Bernoulli sampling — the data-mixing primitive.

    ``fractions`` maps stratum value → keep fraction; unlisted strata get
    ``default``. Thresholds compile to one CASE expression, so the plan is
    a single scan + filter regardless of the number of strata.
    """
    _check_multiplicative_key(df, key_col, hash_fn)
    thr: Column = F.lit(_threshold(default))
    for value, frac in fractions.items():
        thr = F.when(F.col(strata_col) == F.lit(value), F.lit(_threshold(frac))).otherwise(thr)
    return df.filter(bucket(key_col, salt, hash_fn) < thr)


def train_test_split(
    df: DataFrame,
    weights: Sequence[float] = (0.9, 0.1),
    split_names: Sequence[str] = ("train", "test"),
    key_col: str = "doc_id",
    salt: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Label every row with a split name — disjoint and exhaustive, by
    cumulative weight ranges over the key bucket. Returns the input plus
    a ``split`` column (filter on it for the individual sets)."""
    if len(weights) != len(split_names):
        raise ValueError("weights and split_names must align")
    _check_multiplicative_key(df, key_col, hash_fn)
    total = float(sum(weights))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    b = bucket(key_col, salt, hash_fn)
    cum = 0.0
    expr: Column = F.lit(split_names[-1])  # remainder catches rounding tail
    bounds = []
    for w in weights[:-1]:
        cum += w / total
        bounds.append(_threshold(cum))
    for name, hi in reversed(list(zip(split_names[:-1], bounds))):
        expr = F.when(b < F.lit(hi), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def temperature_fractions(
    df: DataFrame,
    group_col: str,
    temperature: float,
    budget_rows: int,
) -> dict[str, float]:
    """Temperature-scaled mixing fractions (the multilingual-balancing
    formula popularized by multilingual-BERT / XLM-R training, public:
    sample groups ∝ n_g^(1/T) instead of ∝ n_g).

    T=1 keeps natural proportions; T→∞ approaches uniform across groups;
    the returned per-group fraction f_g = min(1, budget·p_g / n_g) with
    p_g = n_g^(1/T) / Σ n^(1/T) makes the EXPECTED sampled total ≤
    *budget_rows* while up-weighting small groups. Group counts are
    group-cardinality-sized (collected); the sampling itself stays the
    map-only deterministic filter of :func:`stratified_sample`.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    if budget_rows <= 0:
        raise ValueError(f"budget_rows must be > 0, got {budget_rows}")
    counts = {
        r["g"]: r["n"]
        for r in df.groupBy(F.col(group_col).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not counts:
        # empty input: no groups to mix — an empty fraction map (rather
        # than a ZeroDivisionError from total_p == 0, ADVICE r2)
        return {}
    # sorted-key order: the reduction is a float sum, so a stable
    # accumulation order keeps fractions bit-identical across runs
    # regardless of the collect()'s partition-dependent row order
    total_p = sum(counts[g] ** (1.0 / temperature) for g in sorted(counts))
    return {
        g: min(1.0, budget_rows * (n ** (1.0 / temperature)) / total_p / n)
        for g, n in counts.items()
    }


def temperature_sample(
    df: DataFrame,
    group_col: str,
    temperature: float,
    budget_rows: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic temperature-balanced corpus: per-group fractions
    from :func:`temperature_fractions` applied via the stable hash-bucket
    filter (map-only, partitioning-invariant, reproducible)."""
    fr = temperature_fractions(df, group_col, temperature, budget_rows)
    return stratified_sample(df, group_col, fr, default=0.0, key_col=key_col)


def select_token_budget(
    docs: DataFrame,
    budget_tokens: int,
    score_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Best-first corpus selection under a token budget — "fill a
    fixed-size training run with the highest-quality documents": take
    whole quality tiers from the best score down while they fit, then
    fill the remaining budget from the boundary tier in deterministic
    (id) order. ``score_col`` must be an INTEGER quality score (higher =
    better) so tier totals and the cut are bit-reproducible cross-engine.

    Scale shape — the greedy is NOT a global sorted cumsum (that window
    is a single-partition sort of the corpus): per-tier token totals
    aggregate to a |score-domain|-sized table, the running-total window
    runs over THOSE few rows to find the boundary tier and its residual
    budget, and docs join the per-tier verdict (keep-all / keep-none /
    boundary) by score. Only the boundary TIER needs a per-doc cumsum —
    a window partitioned by that one score value, bounded by the tier's
    size, never the corpus. Two shuffles total (tier agg + boundary
    window), both keyed.

    Returns the selected rows of *docs* plus ``n_tokens``. Whole-tier
    keeps are exact; the boundary tier admits docs in ascending-id order
    while they fit (first doc of the boundary tier that would overflow
    stops the fill — documents are atomic).
    """
    from pyspark.sql import Window

    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    n_tok = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
    base = docs.withColumn("n_tokens", n_tok.cast("bigint"))

    tiers = base.groupBy(score_col).agg(F.sum("n_tokens").alias("_tier_tok"))
    w = Window.orderBy(F.col(score_col).desc())  # |score domain| rows only
    tiers = tiers.select(
        F.col(score_col),
        (
            F.sum("_tier_tok").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            )
        ).alias("_above"),
        "_tier_tok",
    ).select(
        F.col(score_col),
        F.coalesce(F.col("_above"), F.lit(0)).alias("_above"),
        "_tier_tok",
    ).withColumn(
        "_verdict",
        F.when(F.col("_above") + F.col("_tier_tok") <= budget_tokens, F.lit("all"))
        .when(F.col("_above") >= budget_tokens, F.lit("none"))
        .otherwise(F.lit("boundary")),
    )
    joined = base.join(
        F.broadcast(tiers.select(score_col, "_verdict", "_above")), score_col
    )
    keep_all = joined.filter(F.col("_verdict") == "all")
    wb = Window.partitionBy(score_col).orderBy(F.col(id_col))
    boundary = (
        joined.filter(F.col("_verdict") == "boundary")
        .withColumn(
            "_cum",
            F.sum("n_tokens").over(
                wb.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .filter(F.col("_above") + F.col("_cum") <= budget_tokens)
        .drop("_cum")
    )
    return keep_all.unionByName(boundary).drop("_verdict", "_above")
