"""Deduplication operators for LLM training-data pipelines ([EXT]).

Five families, each chosen for a different scale/recall point:

* **exact** — 64-bit fingerprint of normalized text; groupBy the 8-byte
  hash (never the text) and keep the lowest doc id. One shuffle of
  (hash, id) pairs — at 100 TB this shuffles gigabytes, not terabytes.
* **MinHash + LSH** — shingle → per-permutation min-hash signature →
  banded bucket keys → candidate pairs via equi-join on (band, key) →
  exact n-gram-Jaccard verification of candidates only. The equi-join
  replaces the O(n²) similarity join; all expressed with native array
  functions (`transform`/`array_min`/`xxhash64`) — no Python UDFs.
* **SimHash** — 64-bit signature whose Hamming distance tracks cosine
  similarity of token multisets; near-dup candidates via the pigeonhole
  band trick (split signature into b chunks; distance ≤ d pairs share a
  chunk when b > d), verified by exact `bit_count(xor)`.
* **n-gram Jaccard (exact)** — the brute-force similarity join
  (`crossJoin` + filter) used as the small-scale oracle for the LSH
  paths and directly when one side is tiny.
* **embedding cosine** — near-dup by cosine ≥ τ over `array<float>`
  embeddings; brute pairs at small scale (see `similarity.py` for the
  bucketed scale path).

Determinism: every hash is `xxhash64(..., seed_lit)` — no RNG, so results
are reproducible across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..publish import publish_dir, recover_dir

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def normalized_text(text_col: str = "text") -> Column:
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one representative (lowest id) per normalized-text fingerprint."""
    with_fp = df.withColumn("_fp", F.xxhash64(normalized_text(text_col)))
    keep = with_fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return (
        with_fp.join(keep, [ "_fp", id_col], "inner")  # semi-join on (fp, min id)
        .drop("_fp")
    )


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(fingerprint, n_docs, doc_ids) for every duplicated normalized text."""
    return (
        df.withColumn("_fp", F.xxhash64(normalized_text(text_col)))
        .groupBy(F.col("_fp").alias("fingerprint"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# shingling + exact n-gram Jaccard
# ---------------------------------------------------------------------------


def _norm_col(text_col: str) -> Column:
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def _bind_once(value: Column, body) -> Column:
    """Evaluate *value* once per row and feed it to *body* as a lambda
    variable. Catalyst does NOT eliminate common subexpressions that are
    re-derived inside a `transform` lambda — without this binding, the
    normalization/split would re-run per shingle (measured ~5x on the
    shingle hot path)."""
    return F.element_at(F.transform(F.array(value), body), 1)


def char_shingles(text_col: str, k: int = 5) -> Column:
    """Distinct character k-shingles of the normalized text (native exprs)."""
    return _bind_once(
        _norm_col(text_col),
        lambda t: F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
                ),
                lambda i: t.substr(i, F.lit(k)),
            )
        ),
    )


def word_shingles(text_col: str, k: int = 3) -> Column:
    """Distinct word k-grams of the normalized text — the shingle unit most
    document-dedup pipelines use (char shingles catch reformatting; word
    shingles catch copied passages)."""
    return _bind_once(
        F.split(_norm_col(text_col), " "),
        lambda toks: F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
                ),
                lambda i: F.array_join(F.slice(toks, i, k), " "),
            )
        ),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact similarity self-join: all pairs with shingle-Jaccard ≥ τ.

    O(n²) compare — correct at any scale but only *runnable* when one
    side fits; it is the verification oracle for the LSH paths below.
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    sh = df.select(
        F.col(id_col).alias("_id"), char_shingles(text_col, k).alias("_sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a._sh"), F.col("b._sh")))
    union = F.size(F.array_union(F.col("a._sh"), F.col("b._sh")))
    jac = inter / union
    return (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _perm_hash(i: int):
    # NB: must be a single-parameter lambda — pyspark treats a second
    # (defaulted) parameter as the array-index argument of transform()
    return lambda s: F.xxhash64(s, F.lit(i))


def minhash_signature(shingles: Column, num_perm: int = 128) -> Column:
    """num_perm-wide MinHash signature: per permutation i, the min of
    xxhash64(shingle, i) over the shingle set."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, _perm_hash(i)))
            for i in range(num_perm)
        ]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 128,
    bands: int = 32,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    Signature is split into `bands` rows of `num_perm // bands` values;
    docs sharing any band-hash are candidates. The only shuffles are the
    explode + equi-join on the 16-byte (band, key) — this is the 100 TB
    path (the O(n²) comparison never materializes).
    """
    rows = num_perm // bands
    sh = df.select(
        F.col(id_col).alias("_id"), char_shingles(text_col, k).alias("_sh")
    ).withColumn("_sig", minhash_signature(F.col("_sh"), num_perm))
    banded = sh.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at(F.col("_sig"), b * rows + r + 1)
                                    for r in range(rows)
                                ],
                            )
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", "bk.band", "bk.key").localCheckpoint(eager=False)
    # checkpointed: the self-join's two sides otherwise each recompute
    # the signatures — num_perm xxhash64 calls PER SHINGLE, the heaviest
    # per-row compute in this family — twice per call (guide §5)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
) -> DataFrame:
    """LSH candidates → exact-Jaccard verification (candidates only).

    Output ⊆ `ngram_jaccard_pairs(..., threshold)`; recall depends on
    (num_perm, bands) — 128 perms / 32 bands (4-row bands) puts the
    s-curve midpoint at Jaccard ≈ (1/32)^(1/4) ≈ 0.42, so a τ=0.8 pair
    is missed with probability (1-0.8^4)^32 ≈ 5e-8.
    """
    cand = minhash_lsh_candidates(df, id_col, text_col, k, num_perm, bands)
    # checkpointed: both verification join sides read one shingle
    # materialization instead of re-deriving the shingle arrays per side
    sh = df.select(
        F.col(id_col).alias("_id"), char_shingles(text_col, k).alias("_sh")
    ).localCheckpoint(eager=False)
    j = (
        cand.join(sh.alias("sa"), cand.id_a == F.col("sa._id"))
        .join(sh.alias("sb"), cand.id_b == F.col("sb._id"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect(F.col("sa._sh"), F.col("sb._sh")))
                / F.size(F.array_union(F.col("sa._sh"), F.col("sb._sh"))),
                6,
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
) -> DataFrame:
    """Drop every doc that near-duplicates a lower-id doc (greedy keep)."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, k, num_perm, bands, threshold)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 64


def simhash(text_col: str = "text") -> Column:
    """64-bit SimHash over whitespace tokens, fully native:

    per token t: h = xxhash64(t); for each bit j accumulate +1/-1;
    signature bit j = sign of the accumulated counter.
    """
    # the Python shiftleft/shiftright wrappers require int shift amounts;
    # call_function reaches the SQL functions, which accept column shifts
    _shr = lambda c, j: F.call_function("shiftright", c, j)  # noqa: E731
    _shl = lambda c, j: F.call_function("shiftleft", c, j)  # noqa: E731
    tokens = F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " ")
    counters = F.aggregate(
        tokens,
        F.array_repeat(F.lit(0), _SIMHASH_BITS),
        lambda acc, t: F.zip_with(
            acc,
            # bind the token hash once — otherwise xxhash64(t) re-evaluates
            # per bit (64x) inside the transform lambda
            _bind_once(
                F.xxhash64(t),
                lambda h: F.transform(
                    F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1)),
                    lambda j: F.when(
                        _shr(h, j).bitwiseAND(F.lit(1)) == 1,
                        F.lit(1),
                    ).otherwise(F.lit(-1)),
                ),
            ),
            lambda a, b: a + b,
        ),
    )
    return F.aggregate(
        F.zip_with(
            counters,
            F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1)),
            lambda c, j: F.when(c > 0, _shl(F.lit(1).cast("long"), j)).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ d via the pigeonhole trick:
    split 64 bits into `bands` chunks; any pair at distance ≤ bands-1
    shares at least one exact chunk → equi-join on (chunk_idx, chunk),
    verify with bit_count(xor). Returns (id_a, id_b, hamming)."""
    width = _SIMHASH_BITS // bands
    sg = df.select(F.col(id_col).alias("_id"), simhash(text_col).alias("_sim"))
    chunks = sg.select(
        "_id",
        "_sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("_sim"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("chunk"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bc"),
    ).select("_id", "_sim", "bc.band", "bc.chunk").localCheckpoint(eager=False)
    # checkpointed: the self-join's two sides otherwise each recompute
    # the per-token simhash fold over the corpus (guide §5)
    a, b = chunks.alias("a"), chunks.alias("b")
    ham = F.bit_count(F.col("a._sim").bitwiseXOR(F.col("b._sim")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over two array<float/double> columns with native array ops.

    NULL (not an ANSI divide-by-zero error) when either vector has zero
    norm — degenerate vectors simply never match a threshold.
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    norm_a = F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )
    norm_b = F.sqrt(
        F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )
    return F.try_divide(dot, norm_a * norm_b)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: tuple[int, int] = (4, 5),
    max_df: int = 50,
) -> DataFrame:
    """ASYMMETRIC shingle containment C(A→B) = |A∩B| / |A| — the dedup
    signal Jaccard dilutes: a short document embedded verbatim inside a
    long one (quoted article, syndicated snippet, header-wrapped copy)
    has containment ≈ 1 while its Jaccard ≈ |A|/|B| can sit far below
    any resemblance threshold. Broder's containment coefficient
    (public, "On the resemblance and containment of documents", 1997).

    Scale shape — a bucketed equi-join, never a doc×doc compare:
    distinct char k-shingles explode to (shingle, id) rows; shingles
    with document frequency > *max_df* are dropped FIRST (boilerplate
    stop-shingles would otherwise fan out quadratically — the winnowing
    ``max_df`` discipline), the self-join runs on the shingle key, and
    per-ordered-pair shared counts compare against the contained side's
    size. ``size_*`` are measured over the SAME df-filtered shingle
    space, so the emitted ratio is exact for the operator's own event
    space (the contract every threshold gate needs).

    *threshold* is an exact integer rational ``(num, den)`` — the gate
    is the cross-multiplication ``shared·den ≥ num·size_a`` (rule 6; no
    float exists to diverge). Returns ordered pairs
    ``(id_a, id_b, shared, size_a, size_b)`` with id_a the CONTAINED
    side, both directions of every qualifying pair, all-integer.
    """
    t_num, t_den = threshold
    if t_den <= 0 or t_num < 0:
        raise ValueError(f"threshold must be (num>=0, den>0), got {threshold}")
    if max_df < 2:
        raise ValueError(f"max_df must be >= 2, got {max_df}")
    # Plan (one linear chain — the shingle explode is computed ONCE; the
    # old shape re-derived it four times: df-count aggregate, join probe,
    # and both sides of the candidate self-join; guide §2.4):
    #   1. window over the shingle key marks each (shingle, id) row with
    #      the shingle's document frequency (sort-based, spills — a hot
    #      boilerplate shingle degrades to disk, never an OOM) and drops
    #      stop-shingles (_df > max_df) BEFORE anything fans out;
    #   2. a second window over the doc id attaches each doc's
    #      df-filtered shingle-set size (the same integer the old
    #      ``sizes`` aggregate computed);
    #   3. the surviving rows — already partitioned by shingle — collapse
    #      to one (shingle, [(id, size)…]) row per shingle with NO new
    #      exchange, and the candidate pairs are generated MAP-SIDE from
    #      that ≤max_df-element list (the old self-join's fan-out, minus
    #      the join), carrying both sizes so no join-back is needed.
    from pyspark.sql import Window

    # NULL shingles (NULL-text docs emit one) never matched the old inner
    # join's key; the window keeps every row, so drop them explicitly
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.explode(char_shingles(text_col, k)).alias("_sh"),
    ).filter(F.col("_sh").isNotNull())
    kept = sh.select(
        "_id",
        "_sh",
        F.count(F.lit(1)).over(Window.partitionBy("_sh")).alias("_df"),
    ).filter(F.col("_df") <= max_df)
    sized = kept.select(
        "_id",
        "_sh",
        F.count(F.lit(1)).over(Window.partitionBy("_id")).alias("_size"),
    )
    occ = sized.groupBy("_sh").agg(
        F.collect_list(F.struct(F.col("_id"), F.col("_size"))).alias("_occ")
    )
    # all ordered pairs (x, y), x.id != y.id, from the per-shingle list —
    # flatten(transform(occ, x -> filter+transform)) is pure codegen
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("_occ"),
                lambda x: F.transform(
                    F.filter(F.col("_occ"), lambda y: y["_id"] != x["_id"]),
                    lambda y: F.struct(
                        x["_id"].alias("id_a"),
                        y["_id"].alias("id_b"),
                        x["_size"].alias("size_a"),
                        y["_size"].alias("size_b"),
                    ),
                ),
            )
        )
    )
    shared = (
        occ.select(pair.alias("_p"))
        .groupBy(
            F.col("_p.id_a").alias("id_a"),
            F.col("_p.id_b").alias("id_b"),
            F.col("_p.size_a").alias("size_a"),
            F.col("_p.size_b").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return shared.filter(
        F.col("shared") * t_den >= t_num * F.col("size_a")
    ).select("id_a", "id_b", "shared", "size_a", "size_b")


def duplicate_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every doc labeled
    with its cluster id = the smallest doc id in its component (singletons
    label themselves). Transitivity matters for dedup: a~b and b~c must
    put a,b,c in ONE cluster even when (a,c) was never emitted as a pair.

    Iterative min-label propagation (the scalable Spark CC recipe, aka
    Hash-to-Min): each round every node takes the min of its own label and
    its neighbors' labels — one equi-join + one groupBy per round,
    converging within the graph diameter (near-dup components are shallow,
    so a handful of rounds). Convergence is detected by counting labels
    that changed since the previous round — type-independent (works for
    string ids, where a numeric label-sum would silently be NULL and stop
    after one hop), and the count join is co-partitioned with the groupBy
    output so it adds no exchange. Lineage is cut with localCheckpoint so
    the plan does not grow with iterations.

    *pairs* needs columns ``id_a``/``id_b``; returns (id_col, cluster_id).
    """
    nodes = df.select(F.col(id_col).alias("id")).distinct()
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    labels = nodes.select("id", F.col("id").alias("label")).localCheckpoint(
        eager=True
    )
    for _ in range(max_iter):
        neighbor = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), "label")
        )
        new_labels = (
            labels.union(neighbor)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("p"), F.col("n.id") == F.col("p.id"))
            .filter(~F.col("n.label").eqNullSafe(F.col("p.label")))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters: no convergence in {max_iter} rounds — "
            f"component diameter exceeds max_iter"
        )
    return labels.select(
        F.col("id").alias(id_col), F.col("label").alias("cluster_id")
    )


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """All pairs with cosine ≥ τ (brute; see similarity.srp_candidates for
    the LSH-bucketed scale path). Returns (id_a, id_b, cosine)."""
    v = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    a, b = v.alias("a"), v.alias("b")
    cos = cosine_similarity(F.col("a._v"), F.col("b._v"))
    return (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _paragraph_fp(hash_fn: str):
    if hash_fn == "xxhash64":
        return F.xxhash64(F.col("para"))
    if hash_fn == "md5":
        return F.md5(F.col("para")).substr(1, 16)
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def _exploded_paragraphs(
    docs: DataFrame, id_col: str, text_col: str, sep: str, hash_fn: str
) -> DataFrame:
    """(id, pos, para, fp) — non-blank paragraphs in document order.

    ``sep`` is treated as a LITERAL separator: F.split takes a Java regex,
    so every regex-meaningful char is backslash-escaped (valid in Java
    regex for all non-alphanumerics) to match ``_reassembled``'s literal
    ``array_join`` — otherwise a sep like '.', '|' or '+' silently splits
    per-character and reassembles wrong."""
    import re as _re

    return (
        docs.select(
            F.col(id_col),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep))
            ).alias("pos", "para"),
        )
        .filter(F.length(F.trim(F.col("para"))) > 0)
        .withColumn("fp", _paragraph_fp(hash_fn))
    )


def _reassembled(
    docs: DataFrame,
    paras: DataFrame,
    kept: DataFrame,
    id_col: str,
    sep: str,
    out_col: str,
) -> DataFrame:
    """Join totals + surviving paragraphs back onto EVERY input doc —
    documents whose every paragraph was blank or claimed elsewhere
    surface with counts 0 and empty text, nothing disappears."""
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("para")))),
                lambda s: s["para"],
            ),
            sep,
        ).alias(out_col),
        F.count(F.lit(1)).alias("n_paras_kept"),
    )
    totals = paras.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_paras"))
    return (
        docs.select(id_col)
        .join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_paras"), F.lit(0)).cast("long").alias("n_paras"),
            F.coalesce(F.col("n_paras_kept"), F.lit(0)).cast("long").alias(
                "n_paras_kept"
            ),
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
        )
    )


def dedup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Global exact paragraph dedup, keep-first (C4's span-dedup rule —
    Raffel et al. 2020 §2.2 "we discard all but one of any
    three-sentence span occurring more than once", public — applied at
    paragraph granularity): every distinct paragraph survives only at
    its lowest (doc, position) occurrence, and documents are rewritten
    with their surviving paragraphs in original order. This is the
    boilerplate-removal pass (site footers, cookie banners) a crawl
    corpus runs before training.

    Scale shape (100 TB posture): paragraphs shuffle by an 8-byte
    fingerprint (``hash_fn="md5"`` keeps the 64-bit hex prefix so a
    DuckDB oracle reproduces decisions bit-for-bit), never by text; the
    keep decision is ONE min(struct(doc, pos)) aggregate per
    fingerprint; reassembly is one doc-keyed groupBy. A fingerprint
    collision (P ≈ n²/2⁶⁵) silently merges two distinct paragraphs —
    acceptable for curation, same trade every hashed dedup here makes.

    Returns one row per INPUT document — ``(id, n_paras, n_paras_kept,
    text_dedup)``; documents whose every paragraph was blank or claimed
    elsewhere surface with zero counts and empty text.
    """
    paras = _exploded_paragraphs(docs, id_col, text_col, sep, hash_fn)
    first = paras.groupBy("fp").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias(
            "keep"
        )
    )
    kept = paras.join(first, "fp").filter(
        (F.col(id_col) == F.col("keep.i")) & (F.col("pos") == F.col("keep.p"))
    )
    return _reassembled(docs, paras, kept, id_col, sep, "text_dedup")


def drop_common_paragraphs(
    docs: DataFrame,
    min_df: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """RefinedWeb-style line/paragraph boilerplate removal (Penedo et
    al. 2023, public): DROP every paragraph that occurs in >= *min_df*
    distinct documents (site chrome repeats everywhere; real content
    doesn't), keeping all other paragraphs in place. Complements
    :func:`dedup_paragraphs` (keep-first): keep-first preserves one copy
    of boilerplate; the document-frequency rule removes it everywhere.

    Same scale shape as dedup_paragraphs: fingerprint-keyed df-count
    (one count-distinct aggregate over (fp, doc)), anti-join of
    paragraphs against the common set, doc-keyed reassembly.

    Returns one row per INPUT document — ``(id, n_paras, n_paras_kept,
    text_clean)``.
    """
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2, got {min_df}")
    paras = _exploded_paragraphs(docs, id_col, text_col, sep, hash_fn)
    common = (
        paras.select("fp", id_col)
        .distinct()
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("fp")
    )
    kept = paras.join(common, "fp", "left_anti")
    return _reassembled(docs, paras, kept, id_col, sep, "text_clean")


def dedup_against_registry(
    new_docs: DataFrame,
    registry_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup against a persistent fingerprint REGISTRY —
    the batch-shard complement of ``streaming/dedup``'s state-store
    variant (public pattern: every crawl pipeline keeps a seen-hash set).

    The registry stores ``(fingerprint, doc_id)`` — 8-byte fingerprints of
    the corpus so far, ~3 orders of magnitude smaller than the text — so
    an arriving shard dedups with ONE anti-join against it and never
    rescans the corpus. Within-shard dups collapse keep-lowest-id first;
    survivors' fingerprints fold into the registry via the crash-safe
    rename-aside publish (``publish.publish_dir`` — LOCAL POSIX FS only;
    use a transactional table format on object stores).

    Returns the kept rows of *new_docs* (recomputed via a semi-join
    against the updated registry, so the returned plan does not depend on
    the pre-swap state). Ids must be globally unique across shards.
    """
    spark = new_docs.sparkSession
    with_fp = new_docs.withColumn(
        "_fp", F.xxhash64(normalized_text(text_col))
    )
    batch_first = with_fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    # recover_dir adopts a crash-orphaned aside; a plain existence probe
    # would read the registry as empty and the publish sweep would then
    # discard all prior-shard fingerprints
    if recover_dir(registry_path):
        old = spark.read.parquet(registry_path)
        fresh = batch_first.join(old.select("_fp"), "_fp", "left_anti")
        updated = old.unionByName(fresh)
    else:
        fresh = batch_first
        updated = fresh
    publish_dir(registry_path, updated.write.parquet)
    reg = spark.read.parquet(registry_path)
    return new_docs.join(
        reg.select(F.col(id_col)), id_col, "left_semi"
    )


def keep_best_in_cluster(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-aware retention over near-dup clusters: instead of
    keep-first (the ``duplicate_clusters`` consumer default), keep the
    HIGHEST-QUALITY member of each component — the policy production
    curation pipelines actually want (near-dup groups usually contain one
    canonical page and N truncated/boilerplate mirrors; keeping the
    longest member preserves the canonical one).

    Quality key here = whitespace token count (integer — bit-reproducible
    ranking in any engine), ties broken by smallest id. The argmax is a
    single packed-int64 ``max`` per cluster:

        key = n_tokens · 10^12 + (10^12 − 1 − id)

    so one groupBy shuffle on ``cluster_id`` resolves winner, size and
    removal count together — no window over the corpus, no second pass.
    Ids must be non-negative and < 10^12; the packing raise_error-guards
    the range per row (an out-of-range id would corrupt the packed
    argmax silently otherwise — ADVICE r4), at codegen CASE cost, no
    extra pass.

    *clusters* is ``duplicate_clusters`` output (id_col, cluster_id).
    Returns one row per cluster: (cluster_id, kept_<id>, kept_tokens,
    cluster_size, n_removed) — all integers.
    """
    p = F.lit(1000000000000).cast("bigint")
    n_tok = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
    id_ok = (F.col(id_col).cast("bigint") >= 0) & (
        F.col(id_col).cast("bigint") < p
    )
    checked_id = F.when(id_ok, F.col(id_col).cast("bigint")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"keep_best_in_cluster: {id_col} out of [0, 10^12): "),
                F.col(id_col).cast("string"),
            )
        )
    )
    keyed = (
        df.select(F.col(id_col), n_tok.cast("bigint").alias("_nt"))
        .join(clusters, id_col)
        .select(
            "cluster_id",
            (F.col("_nt") * p + (p - 1 - checked_id)).alias("_key"),
        )
    )
    agg = keyed.groupBy("cluster_id").agg(
        F.max("_key").alias("_best"), F.count(F.lit(1)).alias("cluster_size")
    )
    return agg.select(
        "cluster_id",
        (p - 1 - F.col("_best") % p).alias(f"kept_{id_col}"),
        # integer DIV, not float /: keys exceed 2^53 once token counts do
        F.expr("_best DIV 1000000000000").alias("kept_tokens"),
        "cluster_size",
        (F.col("cluster_size") - 1).alias("n_removed"),
    )


def _banded_keys(sig_col: Column, num_perm: int, bands: int) -> Column:
    """array<struct<band,key>> of LSH band hashes for a signature."""
    rows = num_perm // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(sig_col, b * rows + r + 1)
                            for r in range(rows)
                        ],
                    )
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )


def neardup_against_registry(
    new_docs: DataFrame,
    registry_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental NEAR-dup dedup of an arriving shard against a
    persistent MinHash registry — the banded complement of
    ``dedup_against_registry`` (which is exact-match only). This is how
    a crawl pipeline keeps near-dedup incremental: the corpus so far is
    represented by its band keys + signatures (~num_perm·8 bytes/doc,
    text never retained), an arriving shard probes the band table with
    one equi-join, and survivors fold back in.

    Cross-shard verification estimates Jaccard as the fraction of
    agreeing signature positions (unbiased, stderr ≈ √(s(1−s)/num_perm)
    ≈ 0.035 at s=0.8, num_perm=128 — the standard estimator once raw
    text is gone); within-shard dedup uses the exact-shingle verify
    (``minhash_dedup``) since the shard's text is at hand. Keep rule:
    within-shard lowest id wins, and any survivor matching a registered
    doc is dropped (the registry is older by construction).

    Registry layout: ``<path>/sigs`` (id, sig) and ``<path>/bands``
    (id, band, key), each folded with the crash-safe rename-aside
    publish (``publish.publish_dir`` — LOCAL POSIX FS only). Sigs
    promote BEFORE bands, and EACH fold derives its fresh ids by
    anti-joining its OWN registry side (sigs vs reg_sigs, bands vs
    reg_bands) — so a crash between the two promotes leaves an
    under-banded shard whose band rows ARE re-folded on re-run (the
    shard ids are absent from reg_bands even though reg_sigs already
    has them; anti-joining reg_sigs there would yield an empty band
    fold and leave the docs permanently band-undiscoverable). A doc is
    never band-discoverable without its verification signature.

    Returns the kept rows of *new_docs*. Ids must be globally unique
    across shards.
    """
    import os

    spark = new_docs.sparkSession
    sigs_path = os.path.join(registry_path, "sigs")
    bands_path = os.path.join(registry_path, "bands")
    recover_dir(sigs_path)
    has_bands = recover_dir(bands_path)

    survivors = minhash_dedup(
        new_docs, id_col, text_col, k, num_perm, bands, threshold
    )
    sh = survivors.select(
        F.col(id_col),
        minhash_signature(char_shingles(text_col, k), num_perm).alias("_sig"),
    ).localCheckpoint(eager=True)  # signatures are reused three times below
    shard_bands = sh.select(
        F.col(id_col),
        F.explode(_banded_keys(F.col("_sig"), num_perm, bands)).alias("bk"),
    ).select(F.col(id_col), F.col("bk.band"), F.col("bk.key"))

    if has_bands:
        reg_bands = spark.read.parquet(bands_path)
        reg_sigs = spark.read.parquet(sigs_path)
        cand = (
            shard_bands.join(
                reg_bands.select(
                    F.col(id_col).alias("_old_id"), "band", "key"
                ),
                ["band", "key"],
            )
            .select(F.col(id_col), F.col("_old_id"))
            .distinct()
        )
        agree = F.size(
            F.filter(
                F.zip_with(
                    F.col("_sig"), F.col("_old_sig"), lambda a, b: a == b
                ),
                lambda x: x,
            )
        )
        matched = (
            cand.join(sh, id_col)
            .join(
                reg_sigs.select(
                    F.col(id_col).alias("_old_id"),
                    F.col("_sig").alias("_old_sig"),
                ),
                "_old_id",
            )
            .filter(agree >= int(threshold * num_perm))
            .select(id_col)
            .distinct()
        )
        kept_ids = sh.select(id_col).join(matched, id_col, "left_anti")
    else:
        reg_sigs = None
        kept_ids = sh.select(id_col)

    # cut lineage to the pre-swap registry files: everything promoted or
    # returned below must not lazily re-read sigs/bands after the swap
    # replaces them (shard-sized id/sig tables, cheap to pin)
    kept_ids = kept_ids.localCheckpoint(eager=True)
    kept_sigs = sh.join(kept_ids, id_col, "left_semi")
    if reg_sigs is not None:
        fresh_sigs = kept_sigs.join(
            reg_sigs.select(id_col), id_col, "left_anti"
        ).localCheckpoint(eager=True)
        new_sigs = reg_sigs.unionByName(fresh_sigs)
        # band-side fresh ids anti-join reg_bands (NOT reg_sigs): after a
        # crash between the sigs and bands promotes, the shard ids are
        # already in reg_sigs but missing from reg_bands — this is the
        # re-run that heals them (docstring crash-ordering contract)
        fresh_band_ids = kept_ids.join(
            reg_bands.select(id_col).distinct(), id_col, "left_anti"
        )
        new_bands = reg_bands.unionByName(
            shard_bands.join(fresh_band_ids, id_col, "left_semi")
        ).localCheckpoint(eager=True)
    else:
        new_sigs = kept_sigs
        new_bands = shard_bands.join(kept_ids, id_col, "left_semi")
    # sigs first (see docstring crash-ordering contract); the bands fold
    # was pinned above, so replacing sigs_path cannot invalidate it
    publish_dir(sigs_path, new_sigs.write.parquet)
    publish_dir(bands_path, new_bands.write.parquet)
    return new_docs.join(kept_ids, id_col, "left_semi")


def neardup_fold_stream(
    spark,
    source_dir: str,
    registry_path: str,
    kept_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    schema=None,
):
    """Streaming near-dedup: fold an append-only parquet document stream
    through :func:`neardup_against_registry`, appending each micro-batch's
    survivors to *kept_dir* — the always-on form of the shard loop (a
    crawl drops files, the stream near-dedups them against everything
    ever seen, state = band keys + signatures, never text).

    ``availableNow`` gives scheduled-batch semantics; per-batch work is
    batch×registry band-join-sized. Registry promotion inherits
    ``neardup_against_registry``'s crash contract (LOCAL POSIX FS only,
    single writer). Returns the streaming query (caller awaits
    termination, then reads survivors at *kept_dir*).
    """
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def fold(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        kept = neardup_against_registry(
            batch_df, registry_path, id_col, text_col,
            k, num_perm, bands, threshold,
        )
        kept.write.mode("append").parquet(kept_dir)

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
