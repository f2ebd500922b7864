"""Incremental refresh + streaming sessionization tests.

The incremental invariant: fold(rollup(S), ΔS) ≡ rollup(S ∪ ΔS).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.engine import MetricEngine
from dbt_databricks_metrics_spark.project import build_registry
from dbt_databricks_metrics_spark.sources import load_table
from dbt_databricks_metrics_spark.streaming import refresh as srefresh
from dbt_databricks_metrics_spark.streaming import sessions as ssessions


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    eng = MetricEngine(
        spark,
        build_registry(sf_dir),
        warehouse_dir=str(tmp_path_factory.mktemp("whs")),
    )
    eng.run(materialize_rollups=True)
    return eng


def _rows(df):
    import math

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            if v == 0:
                return 0.0
            return round(v, max(0, 9 - int(math.log10(abs(v)))))
        return str(v)

    return sorted(tuple(norm(x) for x in r) for r in df.collect())


def test_fold_increment_equals_full_rebuild(engine, spark):
    """Build rollup from a prefix of the data, fold in the remainder —
    result must equal the full-rebuild rollup and answer queries
    identically."""
    rv = engine.catalog.get("mv_order_metrics")
    built = rv.state.rollups["revenue_by_segment"]
    full = _rows(spark.read.parquet(built.path))

    src = engine._compiler.source_plan(rv.spec)
    cutoff = "1996-01-01"
    old_rows = src.filter(F.col("order_date") < cutoff)
    new_rows = src.filter(F.col("order_date") >= cutoff)
    assert old_rows.count() > 0 and new_rows.count() > 0

    # rebuild the rollup from the prefix only (against a scratch path)
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="roll_inc_")
    from dbt_databricks_metrics_spark.plans.rollup import BuiltRollup
    from dbt_databricks_metrics_spark.publish import publish_dir

    prefix_partials = srefresh._partial_agg(old_rows, built)
    scratch_path = os.path.join(scratch, "revenue_by_segment")
    publish_dir(scratch_path, prefix_partials.write.parquet)
    scratch_built = BuiltRollup(
        spec=built.spec, path=scratch_path, decompositions=built.decompositions
    )

    srefresh.fold_increment(spark, scratch_built, new_rows)
    incremental = _rows(spark.read.parquet(scratch_path))
    assert incremental == full
    shutil.rmtree(scratch)


def test_streaming_rollup_availablenow(engine, spark, tmp_path):
    """availableNow stream over an append-only dir converges to the batch
    rollup."""
    rv = engine.catalog.get("mv_order_metrics")
    built = rv.state.rollups["monthly_revenue"]
    full = _rows(spark.read.parquet(built.path))

    src = engine._compiler.source_plan(rv.spec)
    src_dir = str(tmp_path / "stream_src")
    src.write.mode("overwrite").parquet(src_dir)

    from dbt_databricks_metrics_spark.plans.rollup import BuiltRollup

    out_path = str(tmp_path / "stream_rollup")
    stream_built = BuiltRollup(
        spec=built.spec, path=out_path, decompositions=built.decompositions
    )
    q = srefresh.streaming_rollup(
        spark, stream_built, src_dir, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert _rows(spark.read.parquet(out_path)) == full


def test_stateful_sessionizer_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionizer: closed sessions emitted by the
    stream must equal the batch sessionize result minus each user's final
    (still-open) session."""
    from dbt_databricks_metrics_spark.ext import sessionize

    ev = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "ev_state_src")
    ev.write.mode("overwrite").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)

    out = ssessions.stateful_sessionizer(stream, gap_minutes=30)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_sess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = _rows(
        spark.sql(
            "SELECT user_id, session_start, session_end, n_events, total_value "
            "FROM stateful_sess"
        )
    )

    # expected: every batch session except each user's last (still open)
    stats = sessionize.session_stats(ev, gap_minutes=30)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("session_start").desc())
    expected = _rows(
        stats.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") > 1)
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )
    assert got == expected
    assert len(got) > 0


def test_engine_refresh_incremental(spark, sf_dir, tmp_path):
    """engine.refresh_incremental folds a delta into rollups + baseline and
    answers queries identically to a full rebuild."""
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    full = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("order_status"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )
    prefix = full.filter(F.col("order_date") < "1996-01-01")
    delta = full.filter(F.col("order_date") >= "1996-01-01")
    assert prefix.count() > 0 and delta.count() > 0

    spec_yaml = """
version: 0.1
source: inc_src
dimensions:
  - name: order_status
    expr: order_status
measures:
  - name: revenue
    expr: sum(total_price)
  - name: n
    expr: count(*)
  - name: avg_price
    expr: avg(total_price)
materialization:
  materialized_views:
    - name: baseline
      type: unaggregated
    - name: by_status
      type: aggregated
      dimensions: [order_status]
      measures: [revenue, n, avg_price]
"""
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh_inc"))
    prefix.createOrReplaceTempView("inc_src")
    mv = eng.register(MetricViewSpec.from_yaml(spec_yaml, name="mv_inc"))
    eng.refresh("mv_inc")
    eng.refresh_incremental("mv_inc", delta)

    # reference: a fresh engine built directly on the full data
    eng2 = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh_full"))
    full.createOrReplaceTempView("inc_src")
    mv2 = eng2.register(MetricViewSpec.from_yaml(spec_yaml, name="mv_inc"))
    eng2.refresh("mv_inc")

    for dims, meas in [
        (["order_status"], ["revenue", "n", "avg_price"]),
        ([], ["revenue", "n"]),
    ]:
        got, route = mv.query_routed(dims, meas)
        want, route2 = mv2.query_routed(dims, meas)
        assert route == route2 == "rollup:by_status"
        assert _rows(got) == _rows(want), (dims, meas)

    # baseline also folded: un-routable query (not in rollup) via baseline
    got_b, route_b = mv.query_routed(["order_status"], ["revenue"])
    assert route_b == "rollup:by_status"


def test_streaming_dedup(spark, sf_dir, tmp_path):
    """Duplicated append-only source → exactly-once output via
    dropDuplicatesWithinWatermark."""
    ev = load_table(spark, sf_dir, "events").limit(500)
    doubled = ev.unionByName(ev)
    src_dir = str(tmp_path / "dup_src")
    doubled.write.mode("overwrite").parquet(src_dir)

    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    deduped = ssessions.streaming_dedup(stream, key_cols=("event_id",))
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) FROM dedup_stream").first()[0]
    assert got == ev.count()

    # batch form: same contract
    assert ssessions.streaming_dedup(doubled).count() == ev.count()


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Two live streams joined on key + event-time range emit exactly the
    batch interval-join pairs (inner joins emit eagerly; the watermark
    only bounds state)."""
    from dbt_databricks_metrics_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    clicks_b = ev.filter(F.col("event_type") == "click")
    purch_b = ev.filter(F.col("event_type") == "purchase")
    batch = stream_stream_interval_join(
        clicks_b, purch_b, key="user_id", ts_col="ts",
        max_gap="4 hours", left_prefix="c", right_prefix="p",
    )
    want = {
        (r["c_event_id"], r["p_event_id"]) for r in batch.collect()
    }
    assert want, "fixture should produce at least one pair"

    src_dir = str(tmp_path / "ssj_src")
    ev.write.mode("overwrite").parquet(src_dir)
    mk = lambda et: (
        spark.readStream.schema(ev.schema)
        .parquet(src_dir)
        .filter(F.col("event_type") == et)
    )
    out = stream_stream_interval_join(
        mk("click"), mk("purchase"), key="user_id", ts_col="ts",
        max_gap="4 hours", watermark="1 hour",
        left_prefix="c", right_prefix="p",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ssj_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["c_event_id"], r["p_event_id"])
        for r in spark.table("ssj_stream").collect()
    }
    assert got == want


def test_stream_stream_join_gap_bounds(spark, sf_dir):
    """Every emitted pair respects 0 <= gap <= max_gap."""
    from dbt_databricks_metrics_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    out = stream_stream_interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        key="user_id", ts_col="ts", max_gap="4 hours",
        left_prefix="c", right_prefix="p",
    )
    bad = out.filter(
        (F.col("gap_seconds") < 0) | (F.col("gap_seconds") > 4 * 3600)
    ).count()
    assert bad == 0


def test_stream_static_enrich_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static left join over availableNow micro-batches must equal
    the plain batch join; right/full orientations are rejected."""
    import pytest
    from pyspark.sql import functions as F

    from dbt_databricks_metrics_spark.sources import load_table
    from dbt_databricks_metrics_spark.streaming.joins import stream_static_enrich

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "ev")
    ev.write.parquet(src)
    seg = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        stream_static_enrich(stream, seg, on="user_id")
        .writeStream.format("memory")
        .queryName("t_enrich")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["event_id"], r["segment"])
        for r in spark.table("t_enrich").select("event_id", "segment").collect()
    }
    exp = {
        (r["event_id"], r["segment"])
        for r in ev.join(seg, "user_id", "left").select("event_id", "segment").collect()
    }
    assert got == exp

    with pytest.raises(ValueError, match="inner.*left"):
        stream_static_enrich(stream, seg, on="user_id", how="full")
