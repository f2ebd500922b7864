"""End-to-end training-data curation pipeline ([EXT] north star).

Composes the text/dedup operators into the canonical pre-training data
flow, entirely as one lazy DataFrame plan (Catalyst fuses the filter
stages into a single scan pass; the only shuffles are the dedup key and
the final stats aggregate):

    raw documents
      → quality filter   (length / punctuation / stopword heuristics)
      → language filter  (n-gram/stopword language ID)
      → dedup            (exact normalized-fingerprint, or MinHash-LSH)
      → token accounting (whitespace + BPE-ish piece counts)

`curate()` returns the curated DataFrame; `curation_stats()` the one-row
funnel summary (counts per stage + token totals) a pipeline operator
would emit to its run ledger.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup as dd
from . import textstats as ts


def curate(
    documents: DataFrame,
    min_quality: float = 0.5,
    langs: Optional[Sequence[str]] = ("en",),
    dedup_mode: str = "exact",  # 'exact' | 'minhash' | 'cluster' | 'none'
    minhash_threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    lm_bucket_max: Optional[int] = None,
    lm_buckets: int = 3,
) -> DataFrame:
    """The curated corpus: quality-filtered, language-filtered, deduped,
    with token/quality/language columns attached.

    Dedup modes: ``exact`` (normalized-fingerprint), ``minhash`` (greedy —
    drop any doc that near-duplicates a lower id), ``cluster`` (transitive
    — connected components over the LSH pair graph keep exactly ONE
    representative per component, so chains a~b~c collapse to a even when
    (a,c) was never a pair), ``cluster_best`` (transitive, but the
    representative is the HIGHEST-quality member, min id on ties — the
    Gopher/FineWeb keep-the-best-duplicate practice), ``none``.

    ``lm_bucket_max`` adds CCNet's model-based gate after the heuristics:
    score survivors under the corpus bigram LM (`ext/lm.py`), bucket into
    ``lm_buckets`` perplexity tiers, and keep documents in bucket ≤
    ``lm_bucket_max`` (1 = most in-distribution). Unscorable docs (< 2
    tokens) are dropped by this gate — they carry no LM evidence. The
    model trains on the heuristic survivors themselves, which is the
    CCNet recipe (the corpus defines "in-distribution").
    """
    scored = ts.document_stats(documents, text_col)
    kept = scored.filter(F.col("quality_score_raw") >= min_quality)
    if langs:
        kept = kept.filter(F.col("lang_guess").isin(list(langs)))
    if lm_bucket_max is not None:
        from . import lm as _lm

        buckets = _lm.ppl_buckets(
            _lm.lm_doc_scores(kept, id_col=id_col, text_col=text_col),
            n_buckets=lm_buckets,
            id_col=id_col,
        )
        good = buckets.filter(F.col("bucket") <= lm_bucket_max).select(id_col)
        kept = kept.join(good, id_col, "inner")
    if dedup_mode == "exact":
        kept = dd.exact_dedup(kept, id_col, text_col)
    elif dedup_mode == "minhash":
        kept = dd.minhash_dedup(kept, id_col, text_col, threshold=minhash_threshold)
    elif dedup_mode == "cluster":
        pairs = dd.minhash_lsh_pairs(
            kept, id_col, text_col, threshold=minhash_threshold
        )
        reps = (
            dd.duplicate_clusters(kept, pairs, id_col)
            .filter(F.col("cluster_id") == F.col(id_col))
            .select(id_col)
        )
        kept = kept.join(reps, id_col, "inner")
    elif dedup_mode == "cluster_best":
        # quality-preserving transitive dedup (the Gopher/FineWeb
        # practice): within each near-dup component keep the HIGHEST-
        # quality member, not the smallest id — one groupBy(cluster_id)
        # max_by on top of the component labels
        pairs = dd.minhash_lsh_pairs(
            kept, id_col, text_col, threshold=minhash_threshold
        )
        labels = dd.duplicate_clusters(kept, pairs, id_col).join(
            kept.select(id_col, "quality_score_raw"), id_col
        )
        # best quality per component, min id on ties — two groupBys so the
        # tie-break stays type-independent (string ids can't negate)
        best_q = labels.groupBy("cluster_id").agg(
            F.max("quality_score_raw").alias("_mq")
        )
        reps = (
            labels.join(best_q, "cluster_id")
            .filter(F.col("quality_score_raw") == F.col("_mq"))
            .groupBy("cluster_id")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col)
        )
        kept = kept.join(reps, id_col, "inner")
    elif dedup_mode != "none":
        raise ValueError(f"unknown dedup_mode {dedup_mode!r}")
    return kept


def curation_stats(
    documents: DataFrame,
    min_quality: float = 0.5,
    langs: Optional[Sequence[str]] = ("en",),
    dedup_mode: str = "exact",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-row funnel: counts after each stage + curated token totals.

    The three stage counts are CONDITIONAL aggregates in one pass over a
    narrow cached projection (no text column in the cache), and exact
    dedup reuses the cached ``fingerprint`` — the old shape cached the
    full feature frame (text included) and scanned it five times, twice
    re-hashing the text (guide §1.2: remove whole passes first)."""
    q = F.col("quality_score_raw") >= min_quality
    lang_ok = F.col("lang_guess").isin(list(langs)) if langs else F.lit(True)
    if dedup_mode == "exact":
        scored = ts.document_stats(documents, text_col).select(
            F.col(id_col),
            "quality_score_raw",
            "lang_guess",
            "fingerprint",
            "ws_token_count",
            "bpe_piece_count",
        ).cache()
        # exact_dedup's semantics on the precomputed fingerprint column
        # (same xxhash64-of-normalized-text expression): keep rows whose
        # (fingerprint, id) matches the per-fingerprint min id
        after_l = scored.filter(q & lang_ok)
        keep = after_l.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
        curated = after_l.join(keep, ["fingerprint", id_col], "inner")
    else:
        scored = ts.document_stats(documents, text_col).cache()
        curated = curate(
            documents, min_quality, langs, dedup_mode, text_col=text_col, id_col=id_col
        )
    return (
        scored.agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.count_if(q).alias("n_quality"),
            F.count_if(q & lang_ok).alias("n_lang"),
        )
        .crossJoin(
            curated.agg(
                F.count(F.lit(1)).alias("n_curated"),
                F.sum("ws_token_count").alias("total_ws_tokens"),
                F.sum("bpe_piece_count").alias("total_bpe_pieces"),
            )
        )
    )


def source_reputation(
    documents: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    quality_micro_floor: int = 500_000,
    dup_num: int = 1,
    dup_den: int = 5,
) -> DataFrame:
    """Per-source curation report: duplicate and quality accounting with
    keep/flag decisions (the RefinedWeb/CCNet per-domain filtering idea —
    Penedo et al. 2023 §3.1, Wenzek et al. 2020 — applied at the
    ``source`` grain).

    A document is a *duplicate* when the corpus-wide first occurrence of
    its normalized fingerprint (min id) is a different document — the
    copy, not the original, is charged to its source. Flags are integer
    cross-multiplications so the decision is engine-exact:

    * ``dup_flag``         — n_dup / n_docs > dup_num / dup_den
    * ``low_quality_flag`` — mean quality < quality_micro_floor / 1e6
                             (per-row micro-quantized scores, int64 sum)
    * ``keep``             — neither flag

    Scale shape (100 TB): one 8-byte fingerprint shuffle for the
    corpus-wide min-id, one tiny per-source aggregate; no text ever
    shuffles. The report has |sources| rows.
    """
    scored = ts.with_fingerprint(
        ts.with_quality_score(documents, text_col), text_col
    )
    first = scored.groupBy("fingerprint").agg(
        F.min(id_col).alias("_first_id")
    )
    joined = scored.join(first, "fingerprint")
    is_dup = (F.col(id_col) != F.col("_first_id")).cast("int")
    q_micro = F.round(
        F.col("quality_score_raw") * F.lit(1_000_000.0), 0
    ).cast("long")
    rep = joined.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(is_dup).cast("long").alias("n_dup"),
        F.sum((F.col("quality_score_raw") < F.lit(min_quality)).cast("int"))
        .cast("long")
        .alias("n_low_quality"),
        F.sum(q_micro).alias("sum_quality_micro"),
    )
    dup_flag = F.col("n_dup") * F.lit(dup_den) > F.col("n_docs") * F.lit(dup_num)
    low_q = F.col("sum_quality_micro") < F.lit(quality_micro_floor) * F.col(
        "n_docs"
    )
    return (
        rep.withColumn("dup_flag", dup_flag)
        .withColumn("low_quality_flag", low_q)
        .withColumn("keep", ~(dup_flag | low_q))
    )


def curation_v2_stats(
    documents: DataFrame,
    min_quality: float = 0.5,
    substr_min_len: int = 48,
    gopher_min_words: int = 50,
    gopher_required_words: tuple[str, ...] = ts.GOPHER_REQUIRED_WORDS,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The modern curation recipe end-to-end (C4 → Gopher → RefinedWeb →
    ExactSubstr lineage), one lazy funnel:

        raw → heuristic quality → Gopher rule gate → exact dedup
            → duplicated-substring removal (Lee et al. 2022)

    Returns ONE summary row: survivor counts per stage, how many
    surviving docs had duplicated spans cut, total chars removed, and
    the post-clean whitespace-token budget — the run-ledger numbers a
    production curation job reports. Each stage reuses the standalone
    operator (textstats.gopher_gate, dedup.exact_dedup,
    substr.dedup_exact_substrings), so the funnel IS the composition,
    not a reimplementation.
    """
    from .substr import dedup_exact_substrings

    # The cached projection carries BOTH per-row gate signals (quality
    # score + gopher_pass, identical per-row values whichever stage
    # computes them) and the dedup fingerprint, so:
    # * gopher_gate's ~15 regex/HOF passes run ONCE per row at cache
    #   materialization — the old shape re-derived them for the count
    #   branch and both exact-dedup join sides;
    # * the three funnel counts are conditional aggregates in ONE pass;
    # * n_dedup rides in the substring-cleaner's aggregate (one output
    #   row per surviving doc), so no fourth count branch exists.
    # (guide §1.2: fix the number of passes before anything per-pass.)
    q = F.col("quality_score_raw") >= min_quality
    scored = ts.gopher_gate(
        ts.document_stats(documents, text_col),
        text_col,
        min_words=gopher_min_words,
        required_words=gopher_required_words,
    ).select(
        F.col(id_col),
        F.col(text_col),
        "quality_score_raw",
        "gopher_pass",
        "fingerprint",
    ).cache()
    after_g = scored.filter(q & F.col("gopher_pass"))
    # exact_dedup on the precomputed fingerprint (same xxhash64 of the
    # normalized text): keep the per-fingerprint min-id rows
    keep = after_g.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    survivors = after_g.join(keep, ["fingerprint", id_col], "inner")
    cleaned = dedup_exact_substrings(
        survivors.select(F.col(id_col), F.col(text_col)),
        id_col,
        text_col,
        min_len=substr_min_len,
        keep="first",
        hash_fn=hash_fn,
    )
    clean_toks = F.when(
        F.length(F.trim(F.col("text_clean"))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col("text_clean")), r"\s+")))
    return (
        scored.agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.count_if(q).alias("n_quality"),
            F.count_if(q & F.col("gopher_pass")).alias("n_gopher"),
        )
        .crossJoin(
            cleaned.agg(
                F.count(F.lit(1)).alias("n_dedup"),
                F.count(F.when(F.col("n_dup_spans") > 0, 1)).alias(
                    "n_substr_touched"
                ),
                F.sum("chars_removed").alias("substr_chars_removed"),
                F.sum(clean_toks).cast("long").alias("total_ws_tokens_clean"),
            )
        )
    )
