"""Keyword search over a document corpus ([EXT]).

IDF-weighted term matching (the BM25 idf component over distinct-term
presence): ``score(d, q) = Σ_{t ∈ q, t ∈ d} ln(1 + (N - df_t + 0.5) /
(df_t + 0.5))``.

Plan shape for scale: document frequencies for the (few) query terms come
from one filtered aggregate over the exploded token index; the per-doc
scoring pass is then a single scan with the idf weights folded in as
literals — no join against a vocabulary table, no UDFs. At 100 TB the
token index would be a prebuilt bucketed table; the scoring scan is
embarrassingly parallel either way.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _tokens(text_col: str) -> Column:
    """Distinct lowercase word tokens."""
    return F.array_distinct(
        F.split(
            F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"[^a-z0-9\s]", " "),
            r"\s+",
        )
    )


def idf(n_docs: int, df_t: int) -> float:
    return math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))


def _all_tokens(text_col: str) -> Column:
    """All lowercase word tokens (with repeats — BM25 needs tf)."""
    return F.filter(
        F.split(
            F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"[^a-z0-9\s]", " "),
            r"\s+",
        ),
        lambda t: F.length(t) > 0,
    )


def bm25_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k by full BM25 (Robertson/Spärck Jones, public):

        score(d,q) = Σ_t idf_t · tf_t·(k1+1) / (tf_t + k1·(1−b+b·|d|/avgdl))

    Same two-phase shape as :func:`keyword_search`: ONE aggregate pass
    computes N, avgdl and every query term's document frequency (a
    handful of scalars — the "model"), which fold into the scoring scan
    as literals. The scan is map-only + TakeOrderedAndProject: per doc,
    tf comes from counting the term in the (non-distinct) token array.
    No vocabulary-table join, no UDFs, no global sort.
    """
    terms = [t for t in query.lower().split() if t]
    if not terms:
        raise ValueError("empty query")
    stats = _bm25_stats(docs, terms, text_col)
    return _bm25_topk(docs, terms, stats, k, k1, b, id_col, text_col)


def _bm25_stats(
    docs: DataFrame,
    terms: list,
    text_col: str,
    extra_aggs: tuple = (),
):
    """The one-pass corpus statistics BM25 folds into its scoring scan:
    N, avgdl, per-term document frequencies — plus any caller-supplied
    aggregate columns (hybrid search rides count(distinct id) along so
    its dense branch skips a separate corpus job)."""
    toks_all = _all_tokens(text_col)
    toks_set = _tokens(text_col)
    return docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size(toks_all)).alias("avgdl"),
        *[
            F.count_if(F.array_contains(toks_set, t)).alias(f"df_{i}")
            for i, t in enumerate(terms)
        ],
        *extra_aggs,
    ).first()


def _bm25_topk(
    docs: DataFrame,
    terms: list,
    stats,
    k: int,
    k1: float,
    b: float,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The scoring scan given precomputed stats (see bm25_search)."""
    toks_all = _all_tokens(text_col)
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 0.0)
    if avgdl <= 0:
        raise ValueError("corpus has no tokens")

    from .dedup import _bind_once

    def score_of(toks: Column) -> Column:
        dl = F.size(toks)
        norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
        score = F.lit(0.0)
        matched = F.lit(0)
        for i, t in enumerate(terms):
            tf = F.size(F.filter(toks, lambda x: x == F.lit(t)))  # noqa: B023
            w = F.lit(round(idf(n_docs, int(stats[f"df_{i}"])), 9))
            score = score + w * (tf * F.lit(k1 + 1.0)) / (tf + norm)
            matched = matched + (tf > 0).cast("int")
        return F.struct(
            F.round(score, 6).alias("score"), matched.alias("n_matched")
        )

    sm = _bind_once(toks_all, score_of)
    return (
        docs.select(
            F.col(id_col), sm["score"].alias("score"), sm["n_matched"].alias("n_matched")
        )
        .filter(F.col("n_matched") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def keyword_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents by summed idf of matched query terms.

    Deterministic: ties break by id. Documents matching no term are
    excluded. Returns (id, score, n_matched).
    """
    terms = [t for t in query.lower().split() if t]
    if not terms:
        raise ValueError("empty query")
    # N and every term's df come from ONE aggregate pass (guide §1.2 —
    # the old shape ran a count() job AND a dfs job; same integers, so
    # the driver-side idf literals are bit-identical)
    toks_set = _tokens(text_col)
    row = docs.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.count_if(F.array_contains(toks_set, t.lower())).alias(f"df_{i}")
            for i, t in enumerate(terms)
        ],
    ).first()
    n_docs = int(row["_n"])
    dfs = {t: int(row[f"df_{i}"]) for i, t in enumerate(terms)}
    toks = _tokens(text_col)
    score = None
    matched = None
    for t in terms:
        hit = F.array_contains(toks, t).cast("int")
        s = hit * F.lit(round(idf(n_docs, dfs[t]), 9))
        score = s if score is None else score + s
        matched = hit if matched is None else matched + hit
    return (
        docs.select(
            F.col(id_col),
            F.round(score, 6).alias("score"),
            matched.alias("n_matched"),
        )
        .filter(F.col("n_matched") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def hybrid_search_rrf(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k_each: int = 20,
    rrf_k: int = 60,
    dim: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack, Clarke &
    Büttcher, SIGIR 2009 — public): fuse the BM25 lexical ranking with a
    hashed-TF-IDF cosine ranking by summing 1/(rrf_k + rank) over the
    lists each document appears in. RRF needs no score calibration
    between rankers — only ranks — which is why it is the standard
    first fusion at scale.

    Scale shape (100 TB posture): both branches end in a
    TakeOrderedAndProject top-k_each (no global sort of the corpus); the
    fusion full-outer-joins two k_each-row lists — driver-bounded.
    The query's own vector is built by running the SAME vectorizer over
    a one-row DataFrame (idf-less, L2-normalized) and folding the
    resulting dim floats into the scoring scan as literals. Ranks are
    integers, so every 1/(rrf_k + rank) term is bit-identical in any
    engine.
    """
    from pyspark.sql import Window

    from .vectors import hashed_doc_vectors

    spark = docs.sparkSession
    # ONE stats pass serves both branches: BM25's N/avgdl/dfs AND the
    # dense vectorizer's count(distinct id) ride in the same aggregate,
    # so the old separate distinct().count() corpus job disappears
    # (guide §1.2). Values are identical — same aggregate semantics.
    terms = [t for t in query.lower().split() if t]
    if not terms:
        raise ValueError("empty query")
    stats = _bm25_stats(
        docs, terms, text_col,
        extra_aggs=(F.count_distinct(F.col(id_col)).alias("_n_ids"),),
    )
    lex = _bm25_topk(
        docs, terms, stats, k_each, 1.2, 0.75, id_col, text_col
    ).withColumn(
        "lex_rank",
        F.row_number().over(Window.orderBy(F.desc("score"), F.col(id_col))),
    ).select(id_col, "lex_rank")

    qdf = spark.createDataFrame([(0, query)], f"{id_col} BIGINT, {text_col} STRING")
    qv = hashed_doc_vectors(
        qdf, dim=dim, idf=False, normalize=True,
        id_col=id_col, text_col=text_col, hash_fn=hash_fn,
    ).first()["vector"]
    dvec = hashed_doc_vectors(
        docs, dim=dim, idf=True, normalize=True,
        id_col=id_col, text_col=text_col, hash_fn=hash_fn,
        n_docs=int(stats["_n_ids"]),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("vector"),
            F.array(*[F.lit(float(x)) for x in qv]),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dense = (
        dvec.select(F.col(id_col), F.round(dot, 6).alias("cosine"))
        .filter(F.col("cosine") > 0)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k_each)
        .withColumn(
            "dense_rank",
            F.row_number().over(Window.orderBy(F.desc("cosine"), F.col(id_col))),
        )
        .select(id_col, "dense_rank")
    )
    fused = lex.join(dense, id_col, "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("dense_rank")), F.lit(0.0)
    )
    return (
        fused.select(F.col(id_col), "lex_rank", "dense_rank", rrf.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.col(id_col))
        .limit(k)
    )


def rerank_top_k(
    docs: DataFrame,
    candidates: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Second-stage reranker — the cross-encoder slot of a
    retrieve-then-rerank stack (Nogueira & Cho 2019, public). First-stage
    retrieval (BM25 / hybrid RRF) bounds the candidate set; only those
    |candidates| docs are re-scored against the full query, so the
    reranker's cost is independent of corpus size.

    The scorer here is a deterministic lexical stand-in for a model-based
    cross encoder (no ML runtime in this container — swap in an Arrow
    ``mapInPandas`` model call for real deployments; the plumbing is
    identical): a lexicographic triple packed into ONE int64,

        score = terms_present·10^12 + min(total_tf, 999999)·10^6
                + (10^6 − 1 − min(first_pos, 10^6 − 1))

    i.e. more distinct query terms beats more occurrences beats an
    earlier first match. Integer-exact, so ranking is reproducible
    bit-for-bit across engines and partition layouts.

    Plan shape: the candidate ids broadcast into a semi-join against the
    corpus scan (map-only re-read of just the candidate texts), scoring
    is pure codegen array ops, and the final rank window orders ≤
    |candidates| rows — the same accepted tiny-input window as
    hybrid_search's fusion.
    """
    from pyspark.sql import Window

    terms = [t for t in query.lower().split() if t]
    if not terms:
        raise ValueError("empty query")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cand_ids = candidates.select(id_col)
    texts = docs.join(F.broadcast(cand_ids), id_col, "left_semi")
    toks = _all_tokens(text_col)

    from .dedup import _bind_once

    def score_of(t: Column) -> Column:
        present = F.lit(0)
        total_tf = F.lit(0)
        first_pos = F.lit(1000000)
        for term in terms:
            tf = F.size(F.filter(t, lambda x: x == F.lit(term)))  # noqa: B023
            pos = F.array_position(t, term).cast("int")
            present = present + (tf > 0).cast("int")
            total_tf = total_tf + tf
            first_pos = F.when(
                (pos > 0) & (pos < first_pos), pos
            ).otherwise(first_pos)
        packed = (
            present.cast("bigint") * F.lit(1000000000000).cast("bigint")
            + F.least(total_tf, F.lit(999999)).cast("bigint") * F.lit(1000000)
            + (F.lit(999999) - F.least(first_pos, F.lit(999999))).cast("bigint")
        )
        return packed

    scored = texts.select(
        F.col(id_col),
        _bind_once(toks, score_of).alias("rerank_score"),
    )
    w = Window.orderBy(F.desc("rerank_score"), F.col(id_col))
    return (
        scored.withColumn("rerank", F.row_number().over(w))
        .filter(F.col("rerank") <= k)
        .select(id_col, "rerank", "rerank_score")
    )


def phrase_search(
    docs: DataFrame,
    phrase: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase matching, index-less: top-k documents by
    phrase-occurrence count (``n_phrase``), ties broken by id.

    A phrase occurrence is entirely WITHIN one document row, so ad-hoc
    search needs no join at all: one map-only scan counts, per doc, the
    token offsets i where tokens[i..i+n−1] equals the phrase — a
    higher-order-function fold fully inside whole-stage codegen, ending
    in a TakeOrderedAndProject. (The classic positional-inverted-index
    adjacency join — Manning, Raghavan & Schütze, IIR ch. 2 — is the
    right plan only when the index already EXISTS as a table; built
    ad-hoc it costs one corpus scan PER TERM, since the per-term posting
    branches share no exchange Catalyst can reuse.) Counts are integers,
    so ranking is bit-reproducible across engines.
    """
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("empty phrase")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    n = len(terms)

    def is_match_at(i: Column) -> Column:
        cond = None
        for j, t in enumerate(terms):
            eq = F.element_at(F.col("_t"), (i + j).cast("int")) == F.lit(t)
            cond = eq if cond is None else cond & eq
        return cond

    starts = F.sequence(F.lit(1), F.size(F.col("_t")) - (n - 1))
    cnt = F.when(
        F.size(F.col("_t")) >= n, F.size(F.filter(starts, is_match_at))
    ).otherwise(F.lit(0))
    return (
        docs.select(F.col(id_col), _all_tokens(text_col).alias("_t"))
        .select(F.col(id_col), cnt.cast("bigint").alias("n_phrase"))
        .filter(F.col("n_phrase") > 0)
        .orderBy(F.desc("n_phrase"), F.col(id_col))
        .limit(k)
    )
