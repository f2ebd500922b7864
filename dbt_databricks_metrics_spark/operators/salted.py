"""Skew-mitigation operators (SURVEY §4 '100 TB posture').

Spark's hash aggregation already does map-side partial aggregation, so
plain `groupBy().agg()` tolerates key skew for decomposable aggregates.
The operators that *do* collapse under a hot key are joins (all rows of a
key land on one task) and order-insensitive collects. Two remedies:

* **AQE skew-join splitting** — on by default in our session conf
  (`spark.sql.adaptive.skewJoin.enabled`); handles sort-merge joins.
* **Salted broadcast-free join** (:func:`salted_join`) — for when the
  build side is too big to broadcast and a hot key would swamp one task:
  the fact side gets a random salt in [0, S), the dim side is exploded S×
  with every salt value, and the join key becomes (key, salt) — the hot
  key's rows spread over S tasks. Deterministic salting (hash of a row id)
  keeps runs reproducible.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, salt_buckets: int, id_cols: Sequence[str]) -> DataFrame:
    """Deterministic salt in [0, salt_buckets) from a row-identifying hash."""
    h = F.xxhash64(*[F.col(c).cast("string") for c in id_cols])
    return df.withColumn("_salt", F.pmod(h, F.lit(salt_buckets)).cast("int"))


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    salt_buckets: int = 8,
    how: str = "left",
    fact_id_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Equi-join resilient to hot keys on the fact side.

    fact rows get a deterministic salt; dim rows are replicated once per
    salt value (dim must be the *small* side — replication is S×). The
    join key (on, _salt) spreads each hot key across S tasks.
    """
    fact_salted = with_salt(fact, salt_buckets, fact_id_cols or [on])
    dim_exploded = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = fact_salted.join(dim_exploded, [on, "_salt"], how)
    return out.drop("_salt")


def distinct_count_salted(
    df: DataFrame, keys: Sequence[str], value_col: str, salt_buckets: int = 16
) -> DataFrame:
    """Exact count(distinct value) per key without a single-task hot spot:
    dedup on (key, value) first (spreads by value hash), then count."""
    return (
        df.select(*keys, value_col)
        .distinct()
        .groupBy(*[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias(f"distinct_{value_col}"))
    )
