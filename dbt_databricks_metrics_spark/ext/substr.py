"""Exact duplicated-substring removal ([EXT]) — the ExactSubstr family of
Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better" (public), re-expressed for Spark.

The paper builds a corpus-wide suffix array and removes every substring
of >= 50 tokens that occurs more than once. A suffix array is a
single-machine construction; the Spark-first equivalent uses the k-gram
fingerprint identity: *a substring of length >= k is duplicated iff every
one of its length-k grams is duplicated at the corresponding offsets*, so
marking all duplicated k-gram start positions and merging runs of marked
positions recovers exactly the maximal duplicated spans (modulo 64-bit
fingerprint collisions, ~2^-64 per gram pair).

Scale shape (100 TB posture):

* gram extraction is a map-only explode fused by whole-stage codegen —
  one output row per char offset carrying only ``(fp, id, pos)``
  (8 + 8 + 4 bytes), never the text; the corpus shuffles once on the
  8-byte fingerprint (the same contract as MinHash banding, linearly
  larger: one row per char rather than per shingle — the price of EXACT
  span recovery, and still ~20 bytes/char vs the suffix array's 8
  bytes/char on a single machine).
* duplicate marking is one groupBy(fp) with a count>1 filter plus a
  min(struct(id,pos)) exemplar for keep='first'.
* span merge and text rebuild are per-document array folds
  (gaps-and-islands over sorted positions), pure codegen higher-order
  functions — no Python UDF anywhere, state bounded by the document.

keep='first' leaves the lexicographically first occurrence (by (id, pos))
of each duplicated gram intact (C4-flavored: one copy survives);
keep='none' removes every occurrence (the paper's strictest reading).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _gram_fp(hash_fn: str, gram):
    if hash_fn == "xxhash64":
        return F.xxhash64(gram)
    if hash_fn == "md5":
        # oracle mode: DuckDB's md5() matches Spark's bit-for-bit
        return F.md5(gram).substr(1, 16)
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def _gram_starts(docs: DataFrame, id_col: str, text_col: str, min_len: int,
                 hash_fn: str) -> DataFrame:
    """(id, pos, fp) for every length-``min_len`` gram start (1-based).

    Docs shorter than ``min_len`` emit nothing (they cannot contain a
    duplicated span) and are re-attached with zero spans downstream.
    The explode and the substring projection fuse in codegen: emitted
    rows never carry the text column.
    """
    n_starts = F.length(F.col(text_col)) - F.lit(min_len - 1)
    return (
        docs.filter(F.length(F.col(text_col)) >= min_len)
        .select(
            F.col(id_col),
            F.col(text_col).alias("_t"),
            F.explode(F.sequence(F.lit(1), n_starts)).alias("pos"),
        )
        .select(
            F.col(id_col),
            F.col("pos"),
            _gram_fp(
                hash_fn, F.col("_t").substr(F.col("pos"), F.lit(min_len))
            ).alias("fp"),
        )
    )


def dedup_exact_substrings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 64,
    keep: str = "first",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Remove every duplicated substring of length >= ``min_len`` chars.

    Returns one row per input doc: ``(id, n_chars, n_dup_spans,
    chars_removed, text_clean)`` — spans merged maximally (overlapping/
    adjacent duplicated gram starts coalesce), text rebuilt with the
    surviving segments in order. ``keep='first'`` exempts the first
    (id, pos) occurrence of each duplicated gram; ``keep='none'``
    removes all occurrences.
    """
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    # The dup-count and first-occurrence aggregates come from a WINDOW
    # over the fingerprint instead of a groupBy + self-join: the per-char
    # gram explode — the largest intermediate in this operator — is
    # computed and shuffled exactly ONCE (the old agg+join diamond
    # re-derived it on both join sides: two scans, two exchanges; join-key
    # null-inference pushes asymmetric filters into the branches, which
    # defeats exchange reuse). Guide §2.4: establish the partitioning
    # once. WindowExec sorts within fp-partitions and spills, so a hot
    # fingerprint degrades to disk, not to an OOM.
    from pyspark.sql import Window

    w = Window.partitionBy("fp")
    grams = _gram_starts(docs, id_col, text_col, min_len, hash_fn)
    marked = grams.select(
        F.col(id_col),
        F.col("pos"),
        F.count(F.lit(1)).over(w).alias("_cnt"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).over(w).alias("_first"),
    )
    dup = marked.filter(F.col("_cnt") > 1)
    if keep == "first":
        dup = dup.filter(
            ~(
                (F.col(id_col) == F.col("_first")[id_col])
                & (F.col("pos") == F.col("_first")["pos"])
            )
        )
    # gaps-and-islands span merge: fold the sorted start positions into
    # maximal [s, e] intervals; start p covers [p, p + min_len - 1], and
    # a start adjoining or overlapping the open interval extends it
    starts = dup.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("_ps")
    )
    k = min_len
    spans = starts.withColumn(
        "_spans",
        F.expr(
            f"""
            aggregate(
                _ps,
                cast(array() as array<struct<s:int, e:int>>),
                (acc, p) -> CASE
                    WHEN size(acc) > 0 AND p <= element_at(acc, -1).e + 1
                    THEN concat(
                        slice(acc, 1, size(acc) - 1),
                        array(named_struct(
                            's', element_at(acc, -1).s,
                            'e', greatest(element_at(acc, -1).e, p + {k} - 1))))
                    ELSE concat(acc, array(named_struct('s', p, 'e', p + {k} - 1)))
                END)
            """
        ),
    ).select(id_col, "_spans")
    # rebuild: fold spans over (cursor, out) keeping the text between them
    out = (
        docs.join(spans, id_col, "left")
        .withColumn(
            "_spans",
            F.coalesce(
                F.col("_spans"),
                F.expr("cast(array() as array<struct<s:int, e:int>>)"),
            ),
        )
        .withColumn(
            "text_clean",
            F.expr(
                f"""
                aggregate(
                    _spans,
                    named_struct('cur', 1, 'out', ''),
                    (acc, sp) -> named_struct(
                        'cur', sp.e + 1,
                        'out', concat(acc.out,
                                      substring({text_col}, acc.cur,
                                                sp.s - acc.cur))),
                    acc -> concat(acc.out, substring({text_col}, acc.cur,
                                                     length({text_col}))))
                """
            ),
        )
        .select(
            F.col(id_col),
            F.length(F.col(text_col)).cast("long").alias("n_chars"),
            F.size("_spans").cast("long").alias("n_dup_spans"),
            F.expr(
                "aggregate(_spans, 0L, (a, sp) -> a + sp.e - sp.s + 1)"
            ).alias("chars_removed"),
            F.col("text_clean"),
        )
    )
    return out
