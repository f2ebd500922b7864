"""Corpus n-gram language-model scoring ([EXT]) — the CCNet-style
perplexity filter, without an external model.

Training-data pipelines rank documents by how "natural" their text is
under a language model; CCNet (Wenzek et al. 2020, public) popularized
LM-perplexity buckets (head/middle/tail) for CommonCrawl curation. A
full KenLM is out of scope for a SQL engine, but a corpus-trained
bigram model captures the same signal (boilerplate/gibberish scores far
from the corpus mode) and is exactly expressible in relational algebra
— so it scales on Spark AND has a bit-faithful DuckDB oracle.

Model: add-alpha-smoothed bigram LM over whitespace tokens of the
normalized text (same tokenization as ``vocab_topk``/``dedup``):

    P(w2 | w1) = (c(w1 w2) + alpha) / (c(w1 ·) + alpha * V)

with V = distinct-token vocabulary size and c(w1 ·) summed over
TRAINED bigram events (so the conditional sums to 1 over the event
space). A document's score is the mean natural-log probability of its
bigrams; ``ppl = exp(-avg_logp)`` is the familiar perplexity form.

Scale shape (100 TB posture):
* training is ``explode bigrams → groupBy bigram count`` — one shuffle
  of (two short tokens, count); partial aggregation (map-side combine)
  collapses repeats before the exchange;
* scoring is ``explode bigrams → equi-join counts → per-doc avg`` —
  shuffle keys are bigrams and doc ids, never full text. The bigram
  table is corpus-sized-vocabulary, NOT corpus-sized; for web-scale
  corpora it stays orders of magnitude smaller than the input and the
  join is a plain shuffle-hash join.

Documents with fewer than 2 tokens have no bigram events; they surface
with ``n_bigrams = 0`` and NULL score (callers decide their fate —
documents never silently disappear, per the chunking contract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _bind_once, _norm_col


def _token_col(text_col: str) -> Column:
    """Whitespace tokens of the normalized text; empty/NULL → empty array."""
    return F.filter(
        F.split(F.coalesce(_norm_col(text_col), F.lit("")), " "),
        lambda tok: F.length(tok) > 0,
    )


def _bigrams_of(toks: Column) -> Column:
    """Bigram array from an already-bound token array."""
    return F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(1)),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i.cast("int")),
                F.element_at(toks, (i + F.lit(1)).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _bigram_col(text_col: str) -> Column:
    """Array of "w1 w2" bigram strings (order-preserving, with repeats)."""
    return _bind_once(_token_col(text_col), _bigrams_of)


def lm_doc_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document mean log-probability under the bigram LM trained on
    *df* itself (self-scoring: outlier docs — templated spam,
    wrong-language, gibberish — land in the distribution tails; CCNet's
    bucketing move). Returns ``(id, n_bigrams, avg_logp, ppl)``.

    The trained counts are localCheckpointed so the corpus-wide bigram
    explode runs once, not three times (the model feeds the context
    totals AND the scoring join). The checkpointed blocks live in
    executor storage until the DataFrame is garbage collected.
    """
    # ONE corpus pass trains the model AND counts the vocabulary:
    # each document explodes its bigrams (kind 0) and its distinct
    # tokens (kind 1) together; the (kind, key) count aggregate is
    # the bigram model where kind = 0 and — because groupBy already
    # de-duplicates keys — the vocabulary rows where kind = 1, so
    # count_distinct over a SECOND full corpus explode disappears
    # (guide §1.2: remove a whole pass before tuning anything in it).
    # Counting each doc's DISTINCT tokens keeps the kind-1 fan-out
    # sub-linear while leaving the global distinct set identical.
    both = df.select(
        F.explode(
            _bind_once(
                _token_col(text_col),
                lambda toks: F.concat(
                    F.transform(
                        _bigrams_of(toks),
                        lambda b: F.struct(
                            F.lit(0).alias("kind"), b.alias("key")
                        ),
                    ),
                    F.transform(
                        F.array_distinct(toks),
                        lambda t: F.struct(
                            F.lit(1).alias("kind"), t.alias("key")
                        ),
                    ),
                ),
            )
        ).alias("e")
    )
    counts = both.groupBy(
        F.col("e.kind").alias("kind"), F.col("e.key").alias("key")
    ).agg(F.count(F.lit(1)).alias("c"))
    counts = counts.localCheckpoint(eager=True)
    lm = counts.filter(F.col("kind") == 0).select(
        F.split_part(F.col("key"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("key"), F.lit(" "), F.lit(2)).alias("w2"),
        "c",
    )
    # re-materialize the bigram slice on its own: the scoring
    # join's build-side size estimate must reflect the MODEL, not
    # the combined (model + vocabulary) table — a doubled
    # estimate flips the broadcast join to sort-merge right at
    # the threshold (measured 3x on the 4x-scale corpus). This
    # pass reads the already-checkpointed counts, not the corpus.
    lm = lm.localCheckpoint(eager=True)
    vocab_n = (
        counts.filter(F.col("kind") == 1)
        .agg(F.count(F.lit(1)).alias("v"))
    )
    # context totals over the TRAINED event space
    ctx = lm.groupBy("w1").agg(F.sum("c").alias("c_ctx"))

    events = df.select(
        F.col(id_col), F.explode_outer(_bigram_col(text_col)).alias("bigram")
    ).select(
        id_col,
        "bigram",
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    joined = (
        events.join(
            lm.withColumnRenamed("c", "c_big"), ["w1", "w2"], "left"
        )
        .join(ctx, ["w1"], "left")
        .crossJoin(F.broadcast(vocab_n))
    )
    logp = F.log(
        (F.coalesce(F.col("c_big"), F.lit(0)) + F.lit(alpha))
        / (F.coalesce(F.col("c_ctx"), F.lit(0)) + F.lit(alpha) * F.col("v"))
    )
    per_event = joined.select(
        id_col, F.when(F.col("bigram").isNotNull(), logp).alias("_logp")
    )
    return per_event.groupBy(id_col).agg(
        F.count("_logp").alias("n_bigrams"),
        F.avg("_logp").alias("avg_logp"),
        F.exp(-F.avg("_logp")).alias("ppl"),
    )


def ppl_buckets(
    scores: DataFrame,
    n_buckets: int = 3,
    score_col: str = "avg_logp",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet's head/middle/tail move: bucket documents by LM score
    quantile (bucket 1 = highest avg_logp = most in-distribution).

    Scale shape: the cutoffs are ONE exact-percentile aggregate (a
    reduction, not a global sort — no ntile/unpartitioned window), then
    a broadcast 1-row join + CASE. Scores are rounded to 4 decimals
    before the quantile and the cutoffs to 6, so the bucket boundaries
    are engine-reproducible (DuckDB ``quantile_cont`` interpolates the
    same order statistics). The 4-decimal rounding ALSO bounds the
    exact-percentile aggregate's reducer state: Spark's ``percentile``
    buffers counts per DISTINCT value, and rounded scores over the
    log-prob range keep that to ~1e5 entries regardless of corpus size.
    Unscorable docs (NULL score) keep bucket NULL — they need a length
    filter, not a quality bucket.
    """
    if n_buckets < 2:
        raise ValueError(f"need n_buckets >= 2, got {n_buckets}")
    s = F.round(F.col(score_col), 4)
    scored = scores.select(F.col(id_col), s.alias("_s"))
    ps = [i / n_buckets for i in range(1, n_buckets)]
    cuts = scored.filter(F.col("_s").isNotNull()).agg(
        *[
            F.round(F.expr(f"percentile(_s, {1 - p!r})"), 6).alias(f"_c{i}")
            for i, p in enumerate(ps, start=1)
        ]
    )
    out = scored.crossJoin(F.broadcast(cuts))
    # bucket = 1 + number of cutoffs the score falls strictly below
    bucket = F.lit(1)
    for i in range(1, n_buckets):
        bucket = bucket + F.when(F.col("_s") < F.col(f"_c{i}"), 1).otherwise(0)
    return out.select(
        id_col,
        F.col("_s").alias("score"),
        F.when(F.col("_s").isNotNull(), bucket).alias("bucket"),
    )
