"""Salted join / distinct-count correctness: salting must never change
results, only data distribution."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.operators.salted import (
    distinct_count_salted,
    salted_join,
)
from dbt_databricks_metrics_spark.sources import load_table


@pytest.fixture(scope="module")
def skewed(spark, sf_dir):
    """orders with an artificially hot customer key (~1/3 of all rows)."""
    o = load_table(spark, sf_dir, "orders")
    return o.withColumn(
        "cust",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(1)).otherwise(F.col("o_custkey")),
    ).cache()


def test_salted_join_equals_plain_join(spark, sf_dir, skewed):
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust"), "c_mktsegment"
    )
    plain = (
        skewed.join(c, "cust", "left")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s"))
    )
    salted = (
        salted_join(skewed, c, on="cust", salt_buckets=8, fact_id_cols=["o_orderkey"])
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s"))
    )
    p = {r["c_mktsegment"]: (r["n"], round(r["s"], 2)) for r in plain.collect()}
    s = {r["c_mktsegment"]: (r["n"], round(r["s"], 2)) for r in salted.collect()}
    assert p == s


def test_salted_join_inner(spark, sf_dir, skewed):
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust")
    )
    plain_n = skewed.join(c, "cust", "inner").count()
    salted_n = salted_join(
        skewed, c, on="cust", salt_buckets=4, how="inner", fact_id_cols=["o_orderkey"]
    ).count()
    assert plain_n == salted_n


def test_distinct_count_salted(spark, sf_dir, skewed):
    expected = {
        r["cust"]: r["d"]
        for r in skewed.groupBy("cust")
        .agg(F.count_distinct("o_orderstatus").alias("d"))
        .collect()
    }
    got = {
        r["cust"]: r["distinct_o_orderstatus"]
        for r in distinct_count_salted(skewed, ["cust"], "o_orderstatus").collect()
    }
    assert expected == got
