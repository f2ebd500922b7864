"""Count-min sketch — mergeable approximate frequencies ([EXT];
Cormode & Muthukrishnan, "An Improved Data Stream Summary: The
Count-Min Sketch and its Applications", J. Algorithms 2005 — public).

Completes the repo's mergeable-sketch family: HLL answers "how many
DISTINCT?" (functions/aggregates.py), fixed-range histograms answer
"which quantile?" (functions/histogram.py), CMS answers "how often does
item x occur?" in ``depth x width`` counters regardless of vocabulary
size — the bounded-memory substrate for heavy-hitter monitoring over a
100 TB token stream whose exact vocabulary would itself be huge.

Representation: the sketch IS a DataFrame of ``(row_j, bucket, n)`` —
at most ``depth*width`` rows (8k rows at the 4x2048 default). That
relational form is what makes every required property a one-liner:

* **build** — one groupBy over the exploded (row, bucket) pairs;
  map-side combine shrinks the shuffle to ``depth*width`` rows per task;
* **merge** — union + sum per (row_j, bucket): partial sketches from
  partitions, days, or incremental folds add exactly like rollup
  partials (same contract as the HLL/histogram measures);
* **estimate** — the sketch side is tiny, so lookups broadcast-join it
  and take ``min`` over the depth rows; no shuffle of the query side.

Guarantees (deterministic ones are tested; probabilistic stated):
``estimate >= true_count`` ALWAYS (counters only over-count, and
min() of over-counts over-counts). ``estimate <= true_count +
e*N/width`` with probability ``1 - exp(-depth)`` per item (N = total
item occurrences); hashes are seeded xxhash64, so on a fixed corpus the
estimate — and hence the contract query's bound booleans — is exactly
reproducible.

Reference parity: the reference project has no sketch operators; this
extends its monitoring story (dbt-databricks-metrics README.md:1-40
frames metric views over event/usage data) with the standard
bounded-memory frequency summary.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _norm_col

DEFAULT_DEPTH = 4
DEFAULT_WIDTH = 2048


def _bucket_array(item: Column, depth: int, width: int, seed: int) -> Column:
    """Array of *depth* bucket indices for one item (seeded hash rows)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(item, F.lit(seed * depth + j)), F.lit(width))
            for j in range(depth)
        ]
    )


def cms_build(
    items: DataFrame,
    item_col: str = "token",
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
    seed: int = 0,
) -> DataFrame:
    """The sketch of one occurrence stream: ``(row_j, bucket, n)``.

    One explode (depth small constant) + one groupBy whose result is
    capped at ``depth*width`` rows — the ONLY state that survives,
    whatever the corpus size.
    """
    pairs = items.select(
        F.posexplode(
            _bucket_array(F.col(item_col), depth, width, seed)
        ).alias("row_j", "bucket")
    )
    return pairs.groupBy("row_j", "bucket").agg(F.count(F.lit(1)).alias("n"))


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    item_col: str = "token",
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
    seed: int = 0,
) -> DataFrame:
    """Per-item count estimates: min over the item's *depth* cells.

    The sketch (≤ depth*width rows) is broadcast; the query side never
    shuffles for the join. A bucket missing from the sketch means a zero
    counter, hence estimate 0 for any item hashing into it.
    """
    pairs = queries.select(
        F.col(item_col),
        F.posexplode(
            _bucket_array(F.col(item_col), depth, width, seed)
        ).alias("row_j", "bucket"),
    )
    joined = pairs.join(
        F.broadcast(sketch), ["row_j", "bucket"], "left"
    ).withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
    return joined.groupBy(item_col).agg(F.min("n").alias("cms_estimate"))


def doc_tokens(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The normalized token occurrence stream (same normalization as
    ``textstats.vocab_topk`` so sketch and exact counts agree on input)."""
    return df.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.split(_norm_col(text_col), " ")).alias("token"),
    ).filter(F.length("token") > 0)


def error_bound(n_total: int, width: int) -> int:
    """The classic CMS overshoot bound e*N/width, as an integer."""
    return int(math.ceil(math.e * n_total / width))
