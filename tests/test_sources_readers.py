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
