"""Deterministic sampling / data mixing ([EXT]): reproducibility,
fraction accuracy, stratified mixing, split partition laws, and the
engine-portable hash vs a DuckDB oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.ext import sampling
from dbt_databricks_metrics_spark.sources import load_table

from .conftest import assert_df_matches_oracle


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def _sample(df, fraction, **kw):
    """Bernoulli(fraction) per row: one stratum-free threshold."""
    return sampling.stratified_sample(df, "lang", {}, default=fraction, **kw)


def test_deterministic_and_partitioning_invariant(docs):
    a = sorted(r.doc_id for r in _sample(docs, 0.3).select("doc_id").collect())
    b = sorted(
        r.doc_id
        for r in _sample(docs.repartition(13), 0.3)
        .select("doc_id")
        .collect()
    )
    assert a == b and len(a) > 0


def test_fraction_accuracy(docs):
    n = docs.count()
    for frac in (0.1, 0.5, 0.9):
        k = _sample(docs, frac).count()
        assert abs(k / n - frac) < 0.1, (frac, k, n)


def test_subset_monotone(docs):
    """A smaller fraction's sample is a subset of a larger one (same salt)
    — threshold sampling, not independent draws."""
    small = {r.doc_id for r in _sample(docs, 0.2).select("doc_id").collect()}
    big = {r.doc_id for r in _sample(docs, 0.6).select("doc_id").collect()}
    assert small <= big


def test_stratified_mixing(docs):
    fr = {"en": 0.8, "fr": 0.2}
    out = sampling.stratified_sample(docs, "lang", fr, default=0.0)
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    base = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) <= {"en", "fr"}  # default 0.0 drops other strata
    for lang, frac in fr.items():
        if base.get(lang, 0) >= 50:
            assert abs(got.get(lang, 0) / base[lang] - frac) < 0.15


def test_train_test_split_partition_laws(docs):
    out = sampling.train_test_split(docs, (0.8, 0.1, 0.1), ("train", "val", "test")).cache()
    n = docs.count()
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == n  # exhaustive
    assert set(counts) <= {"train", "val", "test"}
    assert abs(counts.get("train", 0) / n - 0.8) < 0.1
    # disjoint by construction (one label per row); stable across runs
    again = sampling.train_test_split(docs, (0.8, 0.1, 0.1), ("train", "val", "test"))
    assert out.select("doc_id", "split").exceptAll(again.select("doc_id", "split")).count() == 0


def test_portable_hash_vs_duck_oracle(docs, duck):
    out = sampling.stratified_sample(
        docs, "lang", {"en": 0.5, "fr": 0.3}, default=0.1,
        hash_fn="multiplicative",
    ).select("doc_id", "lang")
    assert_df_matches_oracle(
        out,
        duck,
        """
        SELECT doc_id, lang FROM documents
        WHERE (doc_id * 2654435761) % 1000000 <
              CASE lang WHEN 'en' THEN 500000 WHEN 'fr' THEN 300000
                   ELSE 100000 END
        """,
    )


def test_bad_inputs(docs):
    with pytest.raises(ValueError):
        _sample(docs, 1.5)
    with pytest.raises(ValueError):
        sampling.bucket("doc_id", hash_fn="md5")
    with pytest.raises(ValueError):
        sampling.train_test_split(docs, (1.0,), ("a", "b"))


def test_sampling_plan_is_map_only(docs):
    """The ARCHITECTURE claim: sampling is a scan + filter — zero
    exchanges, no aggregation, at any scale."""
    df = sampling.stratified_sample(docs, "lang", {"en": 0.5}, default=0.1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]


def test_multiplicative_requires_integral_key(docs):
    # a string key would cast to NULL and silently drop every row
    with pytest.raises(TypeError, match="integral key"):
        _sample(docs, 0.5, key_col="lang", hash_fn="multiplicative")
    with pytest.raises(TypeError, match="integral key"):
        sampling.train_test_split(docs, key_col="lang", hash_fn="multiplicative")


def test_multiplicative_no_int64_overflow(spark):
    # keys above ~3.5e9 overflow key*KNUTH in int64; the mod-reduced form
    # must agree with exact (arbitrary-precision) arithmetic
    keys = [2**62 + 12345, 3_500_000_000, 2**31, 7, 0]
    big = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    split = sampling.train_test_split(
        big, (0.5, 0.5), ("a", "b"), hash_fn="multiplicative"
    )
    kept = {r["doc_id"] for r in split.filter(F.col("split") == "a").collect()}
    expect = {k for k in keys if (k * 2654435761) % 1_000_000 < 500_000}
    assert kept == expect


def test_temperature_fractions_properties(spark, sf_dir):
    """T=1 reproduces natural proportions; higher T up-weights small
    groups; expected total stays within the budget."""
    from dbt_databricks_metrics_spark.ext.sampling import (
        temperature_fractions,
        temperature_sample,
    )
    from dbt_databricks_metrics_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    counts = {
        r["lang"]: r["n"]
        for r in docs.groupBy(F.col("lang").alias("lang"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(counts.values())
    budget = total // 3

    f1 = temperature_fractions(docs, "lang", 1.0, budget)
    # T=1: expected kept per group = budget * n_g / total → fraction = budget/total
    for g, n in counts.items():
        assert f1[g] == pytest.approx(min(1.0, budget / total), rel=1e-9)

    f5 = temperature_fractions(docs, "lang", 5.0, budget)
    small = min(counts, key=counts.get)
    big = max(counts, key=counts.get)
    assert f5[small] > f1[small] * 0.99 and f5[small] >= f5[big]
    # expected totals within budget for both temperatures
    for fr in (f1, f5):
        assert sum(fr[g] * counts[g] for g in counts) <= budget * (1 + 1e-9)

    picked = temperature_sample(docs, "lang", 5.0, budget)
    assert 0 < picked.count() <= total
    # determinism: same selection on a different partitioning
    again = temperature_sample(docs.repartition(7), "lang", 5.0, budget)
    assert {r["doc_id"] for r in picked.collect()} == {
        r["doc_id"] for r in again.collect()
    }


def test_temperature_validation(spark, sf_dir):
    from dbt_databricks_metrics_spark.ext.sampling import temperature_fractions
    from dbt_databricks_metrics_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="temperature"):
        temperature_fractions(docs, "lang", 0.0, 10)
    with pytest.raises(ValueError, match="budget"):
        temperature_fractions(docs, "lang", 1.0, 0)


def test_temperature_fractions_empty_input(spark):
    from dbt_databricks_metrics_spark.ext.sampling import temperature_fractions

    empty = spark.createDataFrame([], "lang STRING, doc_id BIGINT")
    assert temperature_fractions(empty, "lang", 2.0, 100) == {}
