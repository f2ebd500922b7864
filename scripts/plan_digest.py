"""Print the normalized optimized plans of the benchmark's query shapes.

Usage: python scripts/plan_digest.py [fixture_dir]   (default ~/testdata/sf0.001)

Builds the project over the fixture tables (``MetricEngine.run`` plus
every rollup), then prints, one ``## <label>`` block each, the optimized
logical plan of:

* every ``perfbench.workloads`` ``DASHBOARD_SHAPES`` and ``ADHOC_SHAPES``
  tile, at every value of its WHERE slice, through the same entry point
  the benchmark uses (the MEASURE() SQL front-end or ``MetricView.query``);
* the ``ingest`` workload's fresh read, on its view built over the
  fixture's orders;
* the flat projection (``QueryCompiler.baseline_projection``) each
  materialized view's rollup build aggregates.

Expression ids, temp paths and temp-view names are stripped, so the
output is byte-identical for two checkouts that build the same plans:
``diff`` the output of two commits to check that a change left every
plan as it was. Nothing is executed beyond the builds.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def normalize(plan: str, tmp: str) -> str:
    plan = plan.replace(tmp, "<tmp>")
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"_mv_cte_[0-9a-f]{32}", "_mv_cte_<id>", plan)
    return re.sub(r"plan_id=\d+", "plan_id=", plan)


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def tile_plans(eng, shapes, label: str):
    from perfbench.workloads import Tile

    for k, s in enumerate(shapes):
        values = s.values if s.where_tpl else (None,)
        for v in values:
            t = Tile(s, None if v is None else s.where_tpl.format(v))
            if s.sql:
                df = eng.sql(t.text())
            else:
                df = eng.metric_view(s.view).query(s.dims, s.measures, where=t.where)
            yield f"{label}[{k}] {t.text()}", df


def ingest_plan(eng, data_dir: str, tmp: str):
    """The ``ingest`` view over the fixture's orders, refreshed, and its
    fresh read."""
    from pyspark.sql import functions as F

    from dbt_databricks_metrics_spark.specs import MetricViewSpec
    from perfbench.workloads import (
        GRAIN, INGEST_SOURCE, INGEST_VIEW, INGEST_YAML, MEASURES, PROJECTIONS,
    )

    spark = eng.spark
    path = os.path.join(tmp, INGEST_SOURCE)
    o = spark.read.parquet(os.path.join(data_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(data_dir, "customer.parquet"))
    (o.join(c, o.o_custkey == c.c_custkey, "left")
     .select(o.o_orderkey.alias("order_id"), c.c_mktsegment.alias("market_segment"),
             o.o_orderstatus.alias("order_status"),
             F.year(o.o_orderdate).alias("order_year"),
             F.month(o.o_orderdate).alias("order_month"),
             F.round(o.o_totalprice * 100).cast("long").alias("price_cents"))
     .write.parquet(path))
    spark.read.parquet(path).createOrReplaceTempView(INGEST_SOURCE)
    mv = eng.register(MetricViewSpec.from_yaml(INGEST_YAML, name=INGEST_VIEW))
    eng.refresh(INGEST_VIEW)
    df, route = mv.query_routed(GRAIN[PROJECTIONS[0]], MEASURES)
    yield f"ingest fresh read ({route})", df


def flat_plans(eng):
    comp = eng._compiler
    for name in sorted(eng.catalog.names()):
        spec = eng.catalog.get(name).spec
        if spec.materialization:
            yield f"flat projection {name}", comp.baseline_projection(
                spec, comp.source_plan(spec))


def main(argv: list[str]) -> int:
    from dbt_databricks_metrics_spark import MetricEngine
    from dbt_databricks_metrics_spark.project import build_registry
    from dbt_databricks_metrics_spark.session import get_spark
    from perfbench.workloads import ADHOC_SHAPES, DASHBOARD_SHAPES

    data_dir = os.path.expanduser(
        argv[0] if argv else os.path.join("~", "testdata", "sf0.001"))
    tmp = tempfile.mkdtemp(prefix="plan_digest_")
    try:
        spark = get_spark("plan_digest", cpus=2)
        spark.sparkContext.setLogLevel("ERROR")
        eng = MetricEngine(spark, build_registry(data_dir),
                           warehouse_dir=os.path.join(tmp, "warehouse"))
        eng.run(materialize_rollups=True)
        blocks = [
            *tile_plans(eng, DASHBOARD_SHAPES, "dashboard"),
            *tile_plans(eng, ADHOC_SHAPES, "adhoc"),
            *flat_plans(eng),
            *ingest_plan(eng, data_dir, tmp),
        ]
        for label, df in blocks:
            print(f"## {label}")
            print(normalize(optimized(df), tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
