"""DSIR-style importance weighting for data selection ([EXT]).

Data Selection with Importance Resampling (Xie et al. 2023, public
paper) ranks raw-corpus documents by how target-like they are: estimate
a bag-of-hashed-n-grams language model on a TARGET corpus (the domain
you want more of) and one on the RAW corpus, and weight each raw doc by
the log-likelihood ratio

    log w(x) = sum_f  c_f(x) * [ log p_target(f) - log p_raw(f) ]

over the doc's features f (word unigrams + bigrams), with add-alpha
smoothing over a fixed support size. High ``log_weight`` = looks like
the target domain; selection is then top-k / thresholding on the weight
(the paper's Gumbel resampling adds noise before top-k — that is a
post-hoc column, orthogonal to the heavy lifting here).

Scale shape (100 TB posture):
* each model is ``explode features -> groupBy count`` — one shuffle of
  (feature key, count) with map-side combine; in ``hash_fn="xxhash64"``
  mode features are bucketed to ``n_buckets`` ids, so the model table
  is AT MOST ``n_buckets`` rows — broadcastable regardless of corpus
  size (exactly why DSIR uses hashed features);
* scoring joins the exploded raw corpus against the two (broadcast)
  models and sums per doc — shuffle keys are doc ids, never text.

``hash_fn="md5"`` keeps the feature as a 16-hex-char md5 prefix (no
bucketing) purely so an external engine reproduces the pipeline
bit-for-bit (DuckDB's ``md5()`` emits the identical string) — the
oracle mode, vocabulary-sized model. Production mode is xxhash64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .lm import _bigram_col, _token_col


def _feature_col(text_col: str, hash_fn: str, n_buckets: int) -> Column:
    """Array of hashed features: word unigrams + bigrams of the
    normalized text. Empty/NULL text -> empty array (docs never vanish;
    they surface with n_features = 0 and NULL weight)."""
    feats = F.concat(_token_col(text_col), _bigram_col(text_col))
    if hash_fn == "xxhash64":
        return F.transform(
            feats, lambda s: F.pmod(F.xxhash64(s), F.lit(n_buckets))
        )
    if hash_fn == "md5":
        return F.transform(feats, lambda s: F.md5(s).substr(1, 16))
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def hashed_feature_counts(
    df: DataFrame,
    text_col: str = "text",
    hash_fn: str = "xxhash64",
    n_buckets: int = 10_000,
) -> DataFrame:
    """The feature model: (feature, c) counts over the corpus. In
    xxhash64 mode the output has at most ``n_buckets`` rows."""
    return (
        df.select(
            F.explode(_feature_col(text_col, hash_fn, n_buckets)).alias("feature")
        )
        .groupBy("feature")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
    n_buckets: int = 10_000,
    alpha: float = 0.5,
) -> DataFrame:
    """Per raw-corpus document: ``(id, n_features, log_weight)``.

    ``log_weight`` is the summed log-likelihood ratio of the doc's
    features under the target vs raw hashed-n-gram models, smoothed as
    ``p(f) = (c_f + alpha) / (N + alpha * n_buckets)`` (``n_buckets`` is
    the smoothing support in BOTH modes, so md5-mode weights are
    comparable and engine-reproducible). Docs with no features (empty
    text) get NULL weight.
    """
    t_model = hashed_feature_counts(target, text_col, hash_fn, n_buckets)
    r_model = hashed_feature_counts(raw, text_col, hash_fn, n_buckets)
    t_total = t_model.agg(F.sum("c").alias("_nt"))
    r_total = r_model.agg(F.sum("c").alias("_nr"))

    events = raw.select(
        F.col(id_col),
        F.explode_outer(_feature_col(text_col, hash_fn, n_buckets)).alias(
            "feature"
        ),
    )
    joined = (
        events.join(t_model.withColumnRenamed("c", "_ct"), ["feature"], "left")
        .join(r_model.withColumnRenamed("c", "_cr"), ["feature"], "left")
        .crossJoin(F.broadcast(t_total))
        .crossJoin(F.broadcast(r_total))
    )
    a = F.lit(alpha)
    s = F.lit(float(alpha * n_buckets))
    lr = F.log(
        (F.coalesce(F.col("_ct"), F.lit(0)) + a) / (F.col("_nt") + s)
    ) - F.log((F.coalesce(F.col("_cr"), F.lit(0)) + a) / (F.col("_nr") + s))
    per_event = joined.select(
        id_col, F.when(F.col("feature").isNotNull(), lr).alias("_lr")
    )
    return per_event.groupBy(id_col).agg(
        F.count("_lr").alias("n_features"),
        F.sum("_lr").alias("log_weight"),
    )
