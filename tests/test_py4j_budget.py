"""py4j round-trip budgets of the driver tier.

A routed query over a driver-served rollup, a driver-local CDC fold and
the fresh read after it run no Spark job, so their cost is driver work,
and most of that is py4j round trips: every ``F.col``/``F.expr`` is one
to three, and a list of Java columns costs one more per element.
Driver-tier steps are therefore SQL text, one ``filter``/``selectExpr``
call each. These pins are the measured counts: a per-column ``F.col`` or
``F.expr`` that creeps back into the path changes them and fails here.
"""

from __future__ import annotations

import gc
import os
from contextlib import contextmanager

import pytest

from dbt_databricks_metrics_spark.engine import MetricEngine
from dbt_databricks_metrics_spark.project import build_registry
from perfbench.workloads import DASHBOARD_SHAPES, Tile

# one per perfbench.workloads.DASHBOARD_SHAPES tile, build and collect
TILE_ROUND_TRIPS = (36, 49, 16, 15, 18, 17, 50, 36)
FOLD_ROUND_TRIPS = 99
FRESH_READ_ROUND_TRIPS = 37


@contextmanager
def round_trips():
    """Count the py4j commands this block sends to the JVM. The cyclic
    collector is paused, and memory-delete commands (``m\\nd\\n``, sent
    when Python drops a JVM reference, at whatever moment that happens)
    are left out, so the count is deterministic."""
    from py4j.clientserver import ClientServerConnection

    real = ClientServerConnection.send_command
    n = [0]

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            n[0] += 1
        return real(self, command, *args, **kwargs)

    gc.collect()
    gc.disable()
    ClientServerConnection.send_command = counting
    try:
        yield n
    finally:
        ClientServerConnection.send_command = real
        gc.enable()


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    eng = MetricEngine(spark, build_registry(sf_dir),
                       warehouse_dir=str(tmp_path_factory.mktemp("py4j_wh")))
    eng.run(materialize_rollups=True)
    return eng


def _tile(k: int) -> Tile:
    s = DASHBOARD_SHAPES[k]
    return Tile(s, s.where_tpl.format(s.values[0]) if s.where_tpl else None)


@pytest.mark.parametrize("k", range(len(DASHBOARD_SHAPES)))
def test_dashboard_tile_round_trips(engine, k):
    tile = _tile(k)
    s = tile.shape
    assert engine.metric_view(s.view).explain_route(
        s.dims, s.measures, where=tile.where)["serving"]["tier"] == "driver"
    tile.run(engine)  # loads the rollup
    with round_trips() as n:
        tile.run(engine)
    assert n[0] == TILE_ROUND_TRIPS[k], f"tile {k}: {n[0]} round trips"


def _ingest_rows(spark, sf_dir):
    """The ``ingest`` workload's source rows over the fixture's orders."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    return [tuple(r) for r in (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .select(o.o_orderkey.alias("order_id"), c.c_mktsegment.alias("market_segment"),
                o.o_orderstatus.alias("order_status"),
                F.year(o.o_orderdate).alias("order_year"),
                F.month(o.o_orderdate).alias("order_month"),
                F.round(o.o_totalprice * 100).cast("long").alias("price_cents"))
        .orderBy("order_id").collect()
    )]


def test_ingest_fold_and_fresh_read_round_trips(spark, sf_dir, tmp_path):
    """An Arrow-batch ``refresh_cdc`` folded on the driver, then the
    routed fresh read of the ``ingest`` workload. Each batch re-prices 50
    orders, so no group empties and the fold prunes nothing."""
    from dbt_databricks_metrics_spark.specs import MetricViewSpec
    from perfbench.workloads import (
        GRAIN, INGEST_SOURCE, INGEST_VIEW, INGEST_YAML, MEASURES, PROJECTIONS, _arrow,
    )

    rows = _ingest_rows(spark, sf_dir)
    spark.createDataFrame(_arrow(rows)).createOrReplaceTempView(INGEST_SOURCE)
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh"))
    mv = eng.register(MetricViewSpec.from_yaml(INGEST_YAML, name=INGEST_VIEW))
    eng.refresh(INGEST_VIEW)
    dims = GRAIN[PROJECTIONS[0]]
    counts = []
    for i in range(2):  # the first fold loads the resident rollup
        before = rows[i * 50:(i + 1) * 50]
        after = [r[:5] + (r[5] + 1,) for r in before]
        bdf = spark.createDataFrame(_arrow(before))
        adf = spark.createDataFrame(_arrow(after))
        with round_trips() as fold:
            eng.refresh_cdc(INGEST_VIEW, bdf, adf)
        with round_trips() as read:
            df, route = mv.query_routed(dims, MEASURES)
            df.collect()
        counts.append((fold[0], read[0]))
    assert route == "rollup:by_segment_status_month"
    assert mv.explain_route(dims, MEASURES)["serving"]["tier"] == "driver"
    assert counts[-1] == (FOLD_ROUND_TRIPS, FRESH_READ_ROUND_TRIPS), counts
