"""Blocked fuzzy matching (record linkage) on the part-name fixture."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.ext.linkage import blocked_fuzzy_pairs
from dbt_databricks_metrics_spark.sources import load_table


def test_pairs_match_duckdb_within_blocks(spark, sf_dir):
    """Pair set == DuckDB's identically-blocked levenshtein join (both
    engines ship the standard edit distance)."""
    part = load_table(spark, sf_dir, "part")
    got = {
        (r["name_a"], r["name_b"], r["dist"], r["n_a"], r["n_b"])
        for r in blocked_fuzzy_pairs(part, "p_name", max_dist=3).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW part AS SELECT * FROM read_parquet('{sf_dir}/part.parquet')"
    )
    want = {
        tuple(r)
        for r in con.execute(
            """
            WITH ents AS (
              SELECT p_name AS name, count(*) AS n,
                     lower(split_part(trim(p_name), ' ', 1)) AS block
              FROM part GROUP BY 1
            )
            SELECT a.name, b.name, levenshtein(a.name, b.name), a.n, b.n
            FROM ents a JOIN ents b
              ON a.block = b.block AND a.name < b.name
            WHERE levenshtein(a.name, b.name) <= 3
            """
        ).fetchall()
    }
    assert got == want and got


def test_blocking_never_crosses_blocks(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    pairs = blocked_fuzzy_pairs(part, "p_name", max_dist=3)
    crossed = pairs.filter(
        F.lower(F.split(F.trim("name_a"), r"\s+").getItem(0))
        != F.lower(F.split(F.trim("name_b"), r"\s+").getItem(0))
    ).count()
    assert crossed == 0


def test_max_block_guard_drops_degenerate_blocks(spark, sf_dir):
    """A blocking key that lumps everything together is dropped, not
    exploded quadratically."""
    part = load_table(spark, sf_dir, "part")
    pairs = blocked_fuzzy_pairs(
        part, "p_name", max_dist=99, block_expr=F.lit("all"), max_block=10
    )
    assert pairs.count() == 0


def test_bad_max_dist_raises(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    with pytest.raises(ValueError, match="max_dist"):
        blocked_fuzzy_pairs(part, "p_name", max_dist=-1)
