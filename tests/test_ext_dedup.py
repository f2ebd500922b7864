"""Dedup operator tests ([EXT]): exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding cosine — LSH paths validated against exact brute force.

The fixture documents are all distinct, so near-dup fixtures are built by
unioning perturbed copies of real fixture rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.ext import dedup
from dbt_databricks_metrics_spark.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def docs_with_dups(docs):
    """documents ∪ near-copies (doc_id+10000, one word changed) ∪ exact
    normalized copies (doc_id+20000, case/whitespace mangled)."""
    near = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    exact = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.upper(F.concat(F.lit("  "), F.col("text"))).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return docs.unionByName(near).unionByName(exact).cache()


def test_exact_dedup_no_dups_is_identity(docs):
    assert dedup.exact_dedup(docs).count() == docs.count()


def test_exact_dedup_case_whitespace(spark, docs):
    # upper-cased + padded copies collapse onto the original (lower id kept)
    mangled = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.upper(F.concat(F.lit("  "), F.col("text"), F.lit("   "))).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    u = docs.unionByName(mangled)
    kept = dedup.exact_dedup(u)
    assert kept.count() == docs.count()
    assert kept.filter(F.col("doc_id") >= 20000).count() == 0


def test_ngram_jaccard_pairs_finds_near_dups(docs_with_dups):
    pairs = dedup.ngram_jaccard_pairs(
        docs_with_dups, threshold=0.8
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # each near-copy must pair with its source (tiny 'extra' suffix)
    for i in range(30):
        assert any(a == i and b == i + 10000 for a, b in found), i
    # jaccard in (0, 1]
    assert all(0 < r["jaccard"] <= 1 for r in pairs)


def test_minhash_lsh_matches_exact_bruteforce(docs_with_dups):
    """LSH pairs ⊆ exact pairs; recall ≥ 95% at τ=0.8 with 64 perms."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs_with_dups, threshold=0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs_with_dups, threshold=0.8).collect()
    }
    assert lsh <= exact  # verification makes false positives impossible
    assert len(lsh) >= 0.95 * len(exact), (len(lsh), len(exact))


def test_minhash_dedup_removes_near_dups(docs_with_dups):
    kept = dedup.minhash_dedup(docs_with_dups, threshold=0.8)
    # all 10000-range near-copies drop (their source has a lower id);
    # 20000-range exact copies also near-dup their source
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert not any(i + 10000 in ids for i in range(30))
    # originals survive unless they genuinely near-dup a lower-id fixture
    # doc (the synthetic corpus does contain a few such pairs)
    genuine_losers = {
        r["id_b"]
        for r in dedup.ngram_jaccard_pairs(docs_with_dups, threshold=0.8).collect()
    }
    assert all(i in ids for i in range(30) if i not in genuine_losers)


def test_simhash_deterministic_and_sensitive(spark, docs):
    two = docs.filter(F.col("doc_id") < 2).select(
        "doc_id", dedup.simhash("text").alias("s")
    )
    a = {r["doc_id"]: r["s"] for r in two.collect()}
    b = {r["doc_id"]: r["s"] for r in two.collect()}
    assert a == b  # deterministic
    assert a[0] != a[1]  # different docs → different signatures


def test_simhash_pairs_near_dups(spark, docs):
    # a copy with one appended token differs in few bits → hamming small
    near = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" q")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    u = docs.filter(F.col("doc_id") < 50).unionByName(near)
    pairs = dedup.simhash_pairs(u, max_hamming=12, bands=4)
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    hits = sum((i, i + 10000) in found for i in range(10))
    assert hits >= 8, found  # pigeonhole bands catch ≤12-bit differences


def test_embedding_dup_pairs_self_similarity(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    # union a jittered copy: scaling a vector leaves cosine == 1
    copy = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(2.0)).alias("embedding"),
        "label",
    )
    u = emb.filter(F.col("vec_id") < 100).unionByName(copy)
    pairs = dedup.embedding_dup_pairs(u, threshold=0.999)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert {(i, i + 10000) for i in range(5)} <= found


def test_duplicate_clusters_transitive(spark):
    """a~b and b~c must land a,b,c in one cluster labeled min(a,b,c) even
    though (a,c) is not a pair; disconnected nodes cluster to themselves."""
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup.duplicate_clusters(docs, pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)}


def test_duplicate_clusters_chain_diameter(spark):
    """A long path graph exercises multi-round propagation."""
    n = 12
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    out = dedup.duplicate_clusters(docs, pairs).collect()
    assert all(r.cluster_id == 0 for r in out) and len(out) == n


def test_duplicate_clusters_on_near_dups(docs_with_dups):
    """Near-copies cluster with their originals; representatives (rows
    where cluster_id == doc_id) count = number of distinct components."""
    pairs = dedup.ngram_jaccard_pairs(docs_with_dups, k=5, threshold=0.7)
    clusters = dedup.duplicate_clusters(docs_with_dups, pairs).cache()
    n_docs = docs_with_dups.count()
    assert clusters.count() == n_docs
    # every doc in a pair shares its cluster with its partner
    joined = (
        pairs.join(
            clusters.select(F.col("doc_id").alias("id_a"),
                            F.col("cluster_id").alias("ca")), "id_a")
        .join(
            clusters.select(F.col("doc_id").alias("id_b"),
                            F.col("cluster_id").alias("cb")), "id_b")
    )
    assert joined.filter(F.col("ca") != F.col("cb")).count() == 0
    reps = clusters.filter(F.col("cluster_id") == F.col("doc_id")).count()
    dup_members = pairs.select(F.explode(F.array("id_a", "id_b")).alias("d")).distinct().count()
    assert reps < n_docs  # at least one multi-doc cluster collapsed
    assert reps == n_docs - clusters.filter(F.col("cluster_id") != F.col("doc_id")).count()
    assert dup_members > 0


def test_duplicate_clusters_string_ids_transitive(spark):
    # convergence detection must be type-independent: with string ids a
    # numeric label-sum is NULL and the loop would stop after one hop,
    # leaving the a~b~c chain under-merged
    docs = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "doc_id string")
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string"
    )
    out = dedup.duplicate_clusters(docs, pairs)
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d"}


class TestParagraphDedup:
    def test_keep_first_and_reassembly(self, spark):
        from dbt_databricks_metrics_spark.ext.dedup import dedup_paragraphs

        rows = [
            (1, "alpha\nshared footer\nbeta"),
            (2, "gamma\nshared footer"),
            (3, "alpha\ndelta"),  # 'alpha' already claimed by doc 1 pos 0
            (4, "shared footer"),  # everything claimed -> empties out
            (5, "   "),  # all-blank: must still surface, zero counts
        ]
        docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
        got = {
            r["doc_id"]: r
            for r in dedup_paragraphs(docs, hash_fn="md5").collect()
        }
        assert got[1]["text_dedup"] == "alpha\nshared footer\nbeta"
        assert got[2]["text_dedup"] == "gamma"
        assert got[3]["text_dedup"] == "delta"
        assert got[4]["text_dedup"] == ""
        assert (got[4]["n_paras"], got[4]["n_paras_kept"]) == (1, 0)
        assert (got[5]["n_paras"], got[5]["n_paras_kept"], got[5]["text_dedup"]) == (0, 0, "")
        # kept-paragraph multiset is exactly the distinct paragraph set
        total_kept = sum(r["n_paras_kept"] for r in got.values())
        assert total_kept == 5  # alpha, shared footer, beta, gamma, delta

    def test_regex_meaningful_separator_is_literal(self, spark):
        """sep is a literal, not a Java regex: '|' would otherwise split
        per-character (empty-pattern alternation) and corrupt the
        reassembled text (ADVICE r3)."""
        from dbt_databricks_metrics_spark.ext.dedup import dedup_paragraphs

        rows = [(1, "alpha|shared|beta"), (2, "shared|gamma")]
        docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
        got = {
            r["doc_id"]: r
            for r in dedup_paragraphs(docs, sep="|", hash_fn="md5").collect()
        }
        assert got[1]["text_dedup"] == "alpha|shared|beta"
        assert got[2]["text_dedup"] == "gamma"
        assert got[1]["n_paras"] == 3 and got[2]["n_paras"] == 2

    def test_contract_boilerplate_survives_once(self, spark, sf_dir):
        import __spark_entry__ as entry

        out = entry.queries()["paragraph_dedup"](spark, sf_dir).collect()
        boiler = entry._BOILER_PARA
        holders = [
            r["cid"] for r in out if boiler in r["text_dedup"].split("\n")
        ]
        assert holders == [0]
        # repeat containers (cid >= 50) lose every paragraph
        for r in out:
            if r["cid"] >= 50:
                assert r["n_paras_kept"] == 0 and r["text_dedup"] == ""


def test_containment_pairs_snippet_in_document(spark):
    """A short doc embedded verbatim in a long one must surface with
    containment ~1 even though Jaccard is tiny (the asymmetric signal)."""
    from dbt_databricks_metrics_spark.ext.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    long_text = " ".join(f"tokenword{i}" for i in range(120))
    snippet = " ".join(f"tokenword{i}" for i in range(40, 60))
    df = spark.createDataFrame(
        [(1, long_text), (2, snippet), (3, "completely unrelated words here")],
        "doc_id BIGINT, text STRING",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r
        for r in containment_pairs(
            df, k=5, threshold=(4, 5), max_df=50
        ).collect()
    }
    assert (2, 1) in pairs  # snippet contained in the long doc
    r = pairs[(2, 1)]
    assert r["shared"] * 5 >= 4 * r["size_a"]
    # the symmetric Jaccard misses it at the same bar
    assert ngram_jaccard_pairs(df, k=5, threshold=0.8).count() == 0
    # containment is directional: the long doc is NOT contained in the
    # snippet at tau=0.8
    assert (1, 2) not in pairs


def test_containment_pairs_validates_inputs(spark):
    from dbt_databricks_metrics_spark.ext.dedup import containment_pairs

    df = spark.createDataFrame([(1, "abc")], "doc_id BIGINT, text STRING")
    with pytest.raises(ValueError, match="threshold"):
        containment_pairs(df, threshold=(1, 0))
    with pytest.raises(ValueError, match="max_df"):
        containment_pairs(df, max_df=1)
