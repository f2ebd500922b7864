"""Generic source readers / sinks beyond the fixture parquet.

The reference reads Unity Catalog tables only; a standalone engine needs
the common lake formats. All readers return plain DataFrames so the model
DAG / metric-view layers are storage-agnostic, and all writes support
`partition_by` (partition pruning is the first scale lever — SURVEY §4).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_FORMATS = ("parquet", "csv", "json", "orc")


def read_source(
    spark: SparkSession,
    path: str,
    format: str = "parquet",
    schema=None,
    **options: str,
) -> DataFrame:
    """Read *path* in *format*. CSV defaults to header+inferSchema unless a
    schema is given (explicit schema avoids the extra inference pass —
    always pass one in production)."""
    fmt = format.lower()
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported source format {format!r} (one of {_FORMATS})")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options = {"header": "true", **({} if schema is not None else {"inferSchema": "true"}), **options}
    return reader.options(**options).format(fmt).load(path)


def write_sink(
    df: DataFrame,
    path: str,
    format: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
    **options: str,
) -> None:
    fmt = format.lower()
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported sink format {format!r} (one of {_FORMATS})")
    writer = df.write.mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.format(fmt).save(path)


def with_json_fields(
    df: DataFrame,
    json_col: str,
    schema: "str | None" = None,
    drop: bool = False,
) -> DataFrame:
    """Parse a JSON-string column into typed top-level fields — the
    semi-structured ingestion step (event ``props``, API payloads) that
    turns a lake table's string blob into pruned, filterable columns.

    *schema* is a DDL string (``"k BIGINT, tag STRING"``). When omitted
    it is INFERRED from one sampled non-null value via
    ``schema_of_json`` — convenient interactively, but a single-row
    sample: heterogeneous payloads need the explicit schema (and
    production jobs should always pass one so the scan stays
    deterministic and the inference job disappears). Parsing stays
    JVM-side (``from_json``, codegen) — no Python in the row path;
    malformed rows yield NULL fields (from_json's PERMISSIVE default).

    New columns are the struct's top-level fields; name collisions with
    existing columns raise. ``drop=True`` removes the raw string column.
    """
    if schema is None:
        row = df.select(json_col).filter(F.col(json_col).isNotNull()).first()
        if row is None:
            raise ValueError(
                f"with_json_fields: no non-null {json_col!r} value to infer "
                f"a schema from — pass schema= explicitly"
            )
        sample = row[0]
        inferred = df.sparkSession.range(1).select(
            F.schema_of_json(F.lit(sample)).alias("s")
        ).first()["s"]
        schema = inferred
    parsed = F.from_json(F.col(json_col), schema)
    tmp = "_json_parsed"
    while tmp in df.columns:  # never clobber a user column
        tmp = f"_{tmp}"
    out = df.withColumn(tmp, parsed)
    dt = out.schema[tmp].dataType
    if not hasattr(dt, "fields"):
        raise ValueError(
            f"with_json_fields: schema must describe a JSON OBJECT "
            f"(struct), got {dt.simpleString()} — wrap arrays/scalars in "
            f"a named field"
        )
    fields = [f.name for f in dt.fields]
    clash = [f for f in fields if f in df.columns]
    if clash:
        raise ValueError(
            f"with_json_fields: parsed fields collide with existing "
            f"columns: {clash} — pass a schema with renamed fields"
        )
    out = out.select("*", f"{tmp}.*").drop(tmp)
    return out.drop(json_col) if drop else out
