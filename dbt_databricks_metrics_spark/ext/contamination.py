"""Benchmark-contamination detection for training corpora ([EXT]).

The standard pre-training hygiene check: find corpus documents that share
word n-grams with a benchmark/eval set (so the benchmark is not leaked
into training data). Plan shape: explode each side's distinct word
n-grams → equi-join on the n-gram → count shared grams per (doc, bench)
pair. The O(|corpus| × |bench|) comparison never materializes — the join
is on the n-gram key, and benchmark sides are typically small enough that
Spark broadcasts them.

Scale note (100 TB): pass ``hash_ngrams=True`` to join on
``xxhash64(ngram)`` instead of the string — an 8-byte shuffle key instead
of a ~50-byte one, at the (negligible) risk of hash collisions. The
default keeps raw strings so results are exactly reproducible in any
engine (the DuckDB oracle in ``__spark_entry__``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _exploded_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int, out_id: str,
    hash_ngrams: bool,
) -> DataFrame:
    # materialize the token array ONCE before building grams: Catalyst does
    # not eliminate the normalize+split subexpression when it is re-derived
    # inside the transform lambda (measured ~5x on the gram explode)
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    toks = df.select(
        F.col(id_col).alias(out_id), F.split(norm, " ").alias("_toks")
    )
    grams = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size("_toks") - F.lit(n - 1), F.lit(1))
            ),
            lambda i: F.array_join(F.slice("_toks", i, n), " "),
        )
    )
    g = toks.select(out_id, F.explode(grams).alias("_ngram"))
    if hash_ngrams:
        g = g.select(out_id, F.xxhash64("_ngram").alias("_ngram"))
    return g


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    hash_ngrams: bool = False,
) -> DataFrame:
    """(doc_id, bench_id, n_shared) for every corpus×benchmark pair that
    shares ≥1 distinct word *n*-gram. ``n_shared`` counts distinct shared
    n-grams (each side's grams are de-duplicated before the join)."""
    c = _exploded_ngrams(corpus, id_col, text_col, n, "doc_id", hash_ngrams)
    b = _exploded_ngrams(
        benchmark, bench_id_col, text_col, n, "bench_id", hash_ngrams
    )
    return (
        c.join(b, "_ngram")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def gram_novelty(
    corpus: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_ngrams: bool = False,
) -> DataFrame:
    """Corpus-INTERNAL duplicate-n-gram fraction (the RefinedWeb /
    Gopher-repetition signal at corpus scope, not within-document):
    per document, the share of its distinct word n-grams that also
    appear in at least one OTHER document. High `dup_frac` = templated/
    boilerplate content; `novelty = 1 − dup_frac`.

    Plan shape: one gram explode → global df-count per gram (map-side
    combine collapses repeats) → join back on the gram key → per-doc
    fraction. Two shuffles, both on gram keys (8-byte with
    ``hash_ngrams=True``); never a doc×doc comparison.

    Returns (id, n_grams, n_dup_grams, dup_frac). Documents shorter
    than n words contribute their single partial gram (same convention
    as `ngram_contamination`); NULL-text documents surface with counts
    0 and NULL fraction — nothing disappears.
    """
    # the per-gram document frequency comes from a WINDOW over the gram
    # key instead of a groupBy + join-back: the gram explode is computed
    # and shuffled exactly ONCE (the agg+join diamond re-derived it on
    # both join sides — two scans, two gram-keyed exchanges; guide §2.4).
    # WindowExec sorts within gram-partitions and spills, so a hot
    # boilerplate gram degrades to disk, not to an OOM.
    from pyspark.sql import Window

    # NULL grams (NULL-text docs emit one) never matched the old inner
    # join's key; the window keeps every row, so drop them explicitly
    g = _exploded_ngrams(
        corpus, id_col, text_col, n, "doc_id", hash_ngrams
    ).filter(F.col("_ngram").isNotNull())
    with_df = g.select(
        "doc_id",
        F.count(F.lit(1)).over(Window.partitionBy("_ngram")).alias("_df"),
    )
    per_doc = with_df.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count_if(F.col("_df") > 1).alias("n_dup_grams"),
    )
    ids = corpus.select(F.col(id_col).alias("doc_id")).distinct()
    return (
        ids.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.round(
                F.col("n_dup_grams") / F.nullif(F.col("n_grams"), F.lit(0)), 6
            ).alias("dup_frac"),
        )
    )


def contaminated_docs(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_ngrams: bool = False,
) -> DataFrame:
    """Per contaminated corpus doc: how many benchmark docs it overlaps
    and the worst (max) shared-gram count — the drop-list a curation
    pipeline feeds back into its filter stage."""
    pairs = ngram_contamination(
        corpus, benchmark, n, id_col, text_col, hash_ngrams=hash_ngrams
    )
    return (
        pairs.filter(F.col("n_shared") >= min_shared)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bench_docs"),
            F.max("n_shared").alias("max_shared"),
            F.sum("n_shared").alias("total_shared"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_ngrams: bool = False,
) -> DataFrame:
    """The corpus minus contaminated documents — the actionable form of
    the check: rows whose text shares ≥ *min_shared* distinct word
    *n*-grams with ANY benchmark doc are removed, everything else passes
    through with all columns intact.

    Plan shape: the drop-list is the gram equi-join's doc-id projection
    (tiny — contaminated ids only), applied with a LEFT ANTI join, which
    Spark broadcasts when small. The corpus itself is scanned once.
    """
    drop = (
        contaminated_docs(
            corpus, benchmark, n, min_shared, id_col, text_col,
            hash_ngrams=hash_ngrams,
        )
        .select(F.col("doc_id").alias("_drop_id"))
    )
    return corpus.join(
        drop, corpus[id_col] == drop["_drop_id"], "left_anti"
    )


def split_leakage(
    docs: DataFrame,
    split_col: str = "split",
    holdout: str = "test",
    train: str = "train",
    n: int = 8,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_ngrams: bool = False,
) -> DataFrame:
    """Cross-split leakage audit: HOLDOUT documents that share >=
    *min_shared* distinct word *n*-grams with any TRAIN document — the
    eval-integrity check a pipeline runs AFTER splitting (near-duplicate
    pairs that straddle the split silently inflate held-out metrics even
    when the split itself is group-coherent). Same gram-join plan as
    ``ngram_contamination``: the doc×doc comparison never materializes.

    Returns (doc_id, n_train_docs, max_shared, total_shared) per leaky
    holdout doc; empty result = clean split. All-integer projection.
    """
    te = docs.filter(F.col(split_col) == F.lit(holdout))
    tr = docs.filter(F.col(split_col) == F.lit(train))
    pairs = ngram_contamination(
        te, tr, n, id_col, text_col, bench_id_col=id_col,
        hash_ngrams=hash_ngrams,
    )
    return (
        pairs.filter(F.col("n_shared") >= min_shared)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.max("n_shared").alias("max_shared"),
            F.sum("n_shared").alias("total_shared"),
        )
    )
