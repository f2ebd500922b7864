"""Drift scores (PSI / binned KS) and Welch's t (ext/drift.py)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.ext.drift import drift_report, welch_t


def _df(spark, vals, col="x"):
    return spark.createDataFrame([(float(v),) for v in vals], [col])


def _scores(a, b, col, lo, hi, bins):
    """PSI (sum of psi_term) and binned KS (max cdf_gap) of drift_report."""
    return drift_report(a, b, col, lo, hi, bins=bins).agg(
        F.sum("psi_term").alias("psi"), F.max("cdf_gap").alias("ks_binned")
    ).first()


def test_identical_distributions_score_zero(spark):
    vals = [i % 10 for i in range(1000)]
    a, b = _df(spark, vals), _df(spark, vals)
    row = _scores(a, b, "x", 0, 10, bins=10)
    assert row["psi"] == pytest.approx(0.0, abs=1e-12)
    assert row["ks_binned"] == pytest.approx(0.0, abs=1e-12)


def test_shifted_distribution_scores_high(spark):
    rng = random.Random(7)
    a = _df(spark, [rng.gauss(0, 1) for _ in range(4000)])
    b = _df(spark, [rng.gauss(1.5, 1) for _ in range(4000)])
    row = _scores(a, b, "x", -4, 6, bins=20)
    assert row["psi"] > 0.25  # "shifted" per the rule of thumb
    assert 0.4 < row["ks_binned"] < 0.9  # true KS for 1.5 sigma ~ 0.55


def test_report_bins_partition_all_rows(spark):
    a = _df(spark, [-100, 0.5, 1.5, 999])  # out-of-range clamps to edge bins
    b = _df(spark, [0.5, 1.5])
    rep = drift_report(a, b, "x", 0, 2, bins=4).collect()
    assert len(rep) == 4
    assert sum(r["frac_a"] for r in rep) == pytest.approx(1.0)
    assert sum(r["frac_b"] for r in rep) == pytest.approx(1.0)
    by_bin = {r["bin"]: r for r in rep}
    # width 0.5: -100 clamps to bin 0, 0.5 -> bin 1, 1.5 and 999 -> bin 3
    assert by_bin[0]["frac_a"] == pytest.approx(0.25)
    assert by_bin[1]["frac_a"] == pytest.approx(0.25)
    assert by_bin[3]["frac_a"] == pytest.approx(0.5)


def test_psi_matches_duckdb(spark, sf_dir, duck):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = ev.filter("event_type = 'click'")
    b = ev.filter("event_type = 'purchase'")
    got = _scores(a, b, "value", 0, 100, bins=10)
    exp = duck.execute("""
        WITH binned AS (
          SELECT least(greatest(CAST(floor(value / 10.0) AS INT), 0), 9) AS bin,
                 event_type
          FROM events
          WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
        ),
        fa AS (SELECT bin, count(*)::DOUBLE / sum(count(*)) OVER () AS f
               FROM binned WHERE event_type = 'click' GROUP BY 1),
        fb AS (SELECT bin, count(*)::DOUBLE / sum(count(*)) OVER () AS f
               FROM binned WHERE event_type = 'purchase' GROUP BY 1),
        spine AS (SELECT unnest(generate_series(0, 9)) AS bin),
        j AS (
          SELECT s.bin,
                 greatest(coalesce(fa.f, 0), 1e-6) AS pa,
                 greatest(coalesce(fb.f, 0), 1e-6) AS pb
          FROM spine s LEFT JOIN fa USING (bin) LEFT JOIN fb USING (bin)
        )
        SELECT sum((pa - pb) * ln(pa / pb)) AS psi FROM j
    """).fetchone()
    assert got["psi"] == pytest.approx(exp[0], rel=1e-9)


def test_welch_t_hand_checked(spark):
    rows = [("a", v) for v in (1.0, 2.0, 3.0)] + [("b", v) for v in (2.0, 4.0, 6.0, 8.0)]
    df = spark.createDataFrame(rows, ["g", "x"])
    r = welch_t(df, "g", "x", "a", "b").first()
    # scipy-checked values for these samples
    ma, mb = 2.0, 5.0
    va, vb = 1.0, 20.0 / 3
    se = va / 3 + vb / 4
    t = (ma - mb) / math.sqrt(se)
    dof = se * se / ((va / 3) ** 2 / 2 + (vb / 4) ** 2 / 3)
    assert r["mean_a"] == pytest.approx(ma) and r["mean_b"] == pytest.approx(mb)
    assert r["t_stat"] == pytest.approx(t, rel=1e-12)
    assert r["dof"] == pytest.approx(dof, rel=1e-12)


def test_welch_t_symmetry_and_null_effect(spark):
    rows = [("a", float(v)) for v in range(20)] + [("b", float(v)) for v in range(20)]
    df = spark.createDataFrame(rows, ["g", "x"])
    r = welch_t(df, "g", "x", "a", "b").first()
    assert r["t_stat"] == pytest.approx(0.0, abs=1e-12)
    ab = welch_t(df, "g", "x", "a", "b").first()["t_stat"]
    ba = welch_t(df, "g", "x", "b", "a").first()["t_stat"]
    assert ab == pytest.approx(-ba)


def test_validation(spark):
    a = _df(spark, [1, 2])
    with pytest.raises(ValueError, match="bins"):
        drift_report(a, a, "x", 0, 1, bins=1)
    with pytest.raises(ValueError, match="hi > lo"):
        drift_report(a, a, "x", 5, 5)


def test_embedding_drift_identical_and_orthogonal(spark):
    from dbt_databricks_metrics_spark.ext.drift import embedding_drift

    a = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])], "id long, embedding array<double>"
    )
    b_same = spark.createDataFrame([(3, [2.0, 0.0])], "id long, embedding array<double>")
    b_orth = spark.createDataFrame([(4, [0.0, 1.0])], "id long, embedding array<double>")
    (r1,) = embedding_drift(a, b_same).collect()
    assert (r1["n_a"], r1["n_b"], r1["centroid_cosine"]) == (2, 1, 1.0)
    (r2,) = embedding_drift(a, b_orth).collect()
    assert r2["centroid_cosine"] == 0.0


def test_embedding_drift_self_is_one(spark, sf_dir):
    from dbt_databricks_metrics_spark.ext.drift import embedding_drift
    from dbt_databricks_metrics_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    (r,) = embedding_drift(emb, emb).collect()
    assert r["centroid_cosine"] == 1.0
    assert r["n_a"] == r["n_b"] > 0


def test_embedding_drift_ragged_lengths_single_row(spark):
    # review fix: ragged vector lengths must yield ONE row (cosine over
    # the common dims), not one partial row per count combination
    from dbt_databricks_metrics_spark.ext.drift import embedding_drift

    a = spark.createDataFrame(
        [(1, [1.0, 0.0, 5.0]), (2, [1.0, 0.0])], "id long, embedding array<double>"
    )
    b = spark.createDataFrame([(3, [2.0, 0.0])], "id long, embedding array<double>")
    rows = embedding_drift(a, b).collect()
    assert len(rows) == 1
    assert rows[0]["centroid_cosine"] == 1.0  # common dims agree exactly


def test_drift_report_exact_empty_cohort_is_null_not_zero(spark):
    """Review round 5: an empty cohort makes the CDF gap UNDEFINED —
    gap_num/gap_den must be NULL (a 0/0 rational would read as 'no
    drift' through a cross-multiplied threshold gate). Counts still
    report so the caller sees which side is missing."""
    from dbt_databricks_metrics_spark.ext.drift import drift_report_exact

    a = spark.createDataFrame([(5.0,), (15.0,)], "value DOUBLE")
    b = spark.createDataFrame([], "value DOUBLE")
    rows = drift_report_exact(a, b, "value", 0.0, 20.0, bins=2).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["gap_num"] is None and r["gap_den"] is None
    assert sum(r["n_a"] for r in rows) == 2
    assert all(r["n_b"] == 0 for r in rows)


def test_drift_report_exact_matches_float_gap(spark):
    """The exact rational and the float cdf_gap agree bin-for-bin (they
    share one _bin_counts expression)."""
    from dbt_databricks_metrics_spark.ext.drift import (
        drift_report,
        drift_report_exact,
    )

    a = spark.createDataFrame([(float(i % 10),) for i in range(40)], "v DOUBLE")
    b = spark.createDataFrame([(float(i % 7),) for i in range(30)], "v DOUBLE")
    fl = {r["bin"]: r["cdf_gap"]
          for r in drift_report(a, b, "v", 0.0, 10.0, bins=5).collect()}
    for r in drift_report_exact(a, b, "v", 0.0, 10.0, bins=5).collect():
        assert abs(fl[r["bin"]] - r["gap_num"] / r["gap_den"]) < 1e-12
