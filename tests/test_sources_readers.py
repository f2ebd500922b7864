"""Generic reader/sink round-trips (csv/json/parquet) + partitioned sink."""

from __future__ import annotations

import os

import pytest

from dbt_databricks_metrics_spark.sources import load_table, read_source, write_sink


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").limit(200).cache()


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json"])
def test_roundtrip(spark, orders, tmp_path, fmt):
    p = str(tmp_path / f"rt_{fmt}")
    write_sink(orders, p, format=fmt)
    back = read_source(spark, p, format=fmt)
    assert back.count() == orders.count()
    assert set(back.columns) == set(orders.columns)


def test_partitioned_sink(spark, orders, tmp_path):
    p = str(tmp_path / "parts")
    write_sink(orders, p, partition_by=["o_orderstatus"])
    dirs = {d for d in os.listdir(p) if d.startswith("o_orderstatus=")}
    assert len(dirs) >= 2
    assert read_source(spark, p).count() == orders.count()


def test_bad_format_rejected(spark, orders, tmp_path):
    with pytest.raises(ValueError, match="unsupported source format"):
        read_source(spark, "/nope", format="avro")
    with pytest.raises(ValueError, match="unsupported sink format"):
        write_sink(orders, str(tmp_path / "x"), format="xml")


def test_compact_parquet(spark, tmp_path):
    from pyspark.sql import functions as F

    from dbt_databricks_metrics_spark.sources.readers import compact_parquet

    p = str(tmp_path / "frag")
    # fragment: 40 tiny files
    spark.range(10000).repartition(40).write.parquet(p)
    import os

    n_before = sum(1 for f in os.listdir(p) if f.endswith(".parquet"))
    assert n_before >= 30
    n_after = compact_parquet(spark, p, target_mb=256)
    assert n_after < n_before and n_after <= 4
    assert spark.read.parquet(p).count() == 10000


def test_compact_parquet_partitioned(spark, tmp_path):
    from pyspark.sql import functions as F

    from dbt_databricks_metrics_spark.sources.readers import compact_parquet

    p = str(tmp_path / "fragp")
    df = spark.range(9000).withColumn("part", (F.col("id") % 3).cast("int"))
    df.repartition(30).write.partitionBy("part").parquet(p)
    total_before = sum(
        1 for root, _, fs in __import__("os").walk(p) for f in fs if f.endswith(".parquet")
    )
    n_after = compact_parquet(spark, p, target_mb=256, partition_by=["part"])
    assert n_after < total_before
    out = spark.read.parquet(p)
    assert out.count() == 9000 and set(r["part"] for r in out.select("part").distinct().collect()) == {0, 1, 2}


def test_compact_parquet_trailing_slash_and_stale_debris(spark, tmp_path):
    import os
    import time

    from dbt_databricks_metrics_spark.sources.readers import compact_parquet

    p = str(tmp_path / "frag2")
    spark.range(5000).repartition(20).write.parquet(p)
    # simulate debris from a previous crash (a stale aside and a tmp aged
    # past the publish sweep's gate) + a trailing-slash caller
    os.makedirs(p + "__old_deadbeef")
    os.makedirs(p + "__tmp_deadbeef")
    aged = time.time() - 7200
    os.utime(p + "__tmp_deadbeef", (aged, aged))
    n = compact_parquet(spark, p + "/", target_mb=256)
    assert n <= 4
    assert spark.read.parquet(p).count() == 5000
    assert not os.path.exists(p + "__old_deadbeef")
    assert not os.path.exists(p + "__tmp_deadbeef")


def test_compact_parquet_crash_recovery(spark, tmp_path):
    """A crash between the rename-aside and the promote leaves the data at
    a <path>__old_ aside; the next run must restore it first."""
    import os

    from dbt_databricks_metrics_spark.sources.readers import compact_parquet

    p = str(tmp_path / "crashy")
    spark.range(3000).repartition(12).write.parquet(p)
    # simulate the mid-swap crash state: path moved aside, tmp half-baked
    os.rename(p, p + "__old_cafe0001")
    os.makedirs(p + "__tmp_cafe0001")
    n = compact_parquet(spark, p, target_mb=256)
    assert n >= 1
    assert spark.read.parquet(p).count() == 3000
    assert not os.path.exists(p + "__old_cafe0001")


def test_with_json_fields_explicit_schema(spark):
    from dbt_databricks_metrics_spark.sources.readers import with_json_fields

    df = spark.createDataFrame(
        [(1, '{"k": 7, "tag": "a"}'), (2, '{"k": 9}'), (3, None), (4, "not json")],
        "id long, props string",
    )
    out = with_json_fields(df, "props", schema="k BIGINT, tag STRING")
    got = {r["id"]: (r["k"], r["tag"]) for r in out.collect()}
    assert got[1] == (7, "a")
    assert got[2] == (9, None)
    assert got[3] == (None, None)  # NULL input -> NULL fields
    assert got[4] == (None, None)  # malformed -> PERMISSIVE nulls
    assert "props" in out.columns


def test_with_json_fields_inferred_and_drop(spark):
    from dbt_databricks_metrics_spark.sources.readers import with_json_fields

    df = spark.createDataFrame([(1, '{"k": 69}')], "id long, props string")
    out = with_json_fields(df, "props", drop=True)
    assert out.columns == ["id", "k"]
    assert out.first()["k"] == 69


def test_with_json_fields_collision_and_empty(spark):
    import pytest as _pt

    from dbt_databricks_metrics_spark.sources.readers import with_json_fields

    df = spark.createDataFrame([(1, '{"id": 2}')], "id long, props string")
    with _pt.raises(ValueError, match="collide"):
        with_json_fields(df, "props")
    empty = spark.createDataFrame([], "id long, props string")
    with _pt.raises(ValueError, match="infer"):
        with_json_fields(empty, "props")
