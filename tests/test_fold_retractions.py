"""CDC-aware rollup maintenance (fold_retractions): exact retraction of
sum-family partials, zero-group pruning, min/max refusal, and equivalence
with a full rebuild after an upsert+delete batch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.engine import MetricEngine
from dbt_databricks_metrics_spark.specs import MetricViewSpec
from dbt_databricks_metrics_spark.streaming.refresh import fold_retractions

SPEC = """
version: 0.1
source: ret_src
dimensions:
  - name: seg
    expr: seg
measures:
  - name: n
    expr: count(*)
  - name: cents
    expr: sum(cast(round(price * 100) as bigint))
  - name: avg_cents
    expr: avg(cast(round(price * 100) as bigint))
materialization:
  materialized_views:
    - name: by_seg
      type: aggregated
      dimensions: [seg]
      measures: [n, cents, avg_cents]
"""


def _rows(spark, data):
    return spark.createDataFrame(data, "id long, seg string, price double")


def test_fold_retractions_matches_rebuild(spark, tmp_path):
    initial = _rows(
        spark,
        [
            (1, "A", 10.0),
            (2, "A", 20.0),
            (3, "B", 5.0),
            (4, "C", 7.0),
        ],
    )
    initial.createOrReplaceTempView("ret_src")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh"))
    mv = eng.register(MetricViewSpec.from_yaml(SPEC, name="mv_ret"))
    eng.refresh("mv_ret")
    built = eng.catalog.get("mv_ret").state.rollups["by_seg"]

    # CDC batch: update row 2 (A: 20 -> 25), delete row 3 (B's only
    # row), insert row 5 (new segment D)
    before = _rows(spark, [(2, "A", 20.0), (3, "B", 5.0)])
    after = _rows(spark, [(2, "A", 25.0), (5, "D", 9.0)])
    fold_retractions(spark, built, before, after)

    folded = spark.read.parquet(built.path)
    dec = built.decompositions
    got = {
        r["seg"]: (r["n"], r["cents"], r["avg_cents"])
        for r in folded.select(
            "seg",
            F.expr(dec["n"].finalize).alias("n"),
            F.expr(dec["cents"].finalize).alias("cents"),
            F.expr(dec["avg_cents"].finalize).alias("avg_cents"),
        ).collect()
    }
    assert got["A"] == (2, 3500, 1750.0)
    assert got["C"] == (1, 700, 700.0)
    assert got["D"] == (1, 900, 900.0)
    assert "B" not in got  # fully retracted group pruned (count partial)

    # routed equivalence vs full rebuild on the post-change table
    post = _rows(
        spark,
        [(1, "A", 10.0), (2, "A", 25.0), (4, "C", 7.0), (5, "D", 9.0)],
    )
    post.createOrReplaceTempView("ret_src")
    eng2 = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh2"))
    mv2 = eng2.register(MetricViewSpec.from_yaml(SPEC, name="mv_ret"))
    eng2.refresh("mv_ret")
    df2, route2 = mv2.query_routed(["seg"], ["n", "cents", "avg_cents"])
    assert route2 == "rollup:by_seg"
    rebuilt = {
        r["seg"]: (r["n"], r["cents"], r["avg_cents"]) for r in df2.collect()
    }
    assert rebuilt == got


def test_fold_retractions_refuses_min_max(spark, tmp_path):
    spec = """
version: 0.1
source: ret_src2
dimensions:
  - name: seg
    expr: seg
measures:
  - name: top
    expr: max(price)
materialization:
  materialized_views:
    - name: bad
      type: aggregated
      dimensions: [seg]
      measures: [top]
"""
    _rows(spark, [(1, "A", 1.0)]).createOrReplaceTempView("ret_src2")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "whm"))
    eng.register(MetricViewSpec.from_yaml(spec, name="mv_ret2"))
    eng.refresh("mv_ret2")
    built = eng.catalog.get("mv_ret2").state.rollups["bad"]
    with pytest.raises(ValueError, match="non-retractable"):
        fold_retractions(
            spark,
            built,
            _rows(spark, [(1, "A", 1.0)]),
            _rows(spark, [(1, "A", 2.0)]),
        )


def test_engine_refresh_cdc_end_to_end(spark, tmp_path):
    initial = _rows(spark, [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0)])
    initial.createOrReplaceTempView("ret_src")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh3"))
    mv = eng.register(MetricViewSpec.from_yaml(SPEC, name="mv_ret"))
    eng.refresh("mv_ret")
    eng.refresh_cdc(
        "mv_ret",
        before=_rows(spark, [(3, "B", 5.0)]),
        after=_rows(spark, [(4, "B", 8.0), (5, "B", 2.0)]),
    )
    df, route = mv.query_routed(["seg"], ["n", "cents"])
    assert route == "rollup:by_seg"
    got = {r["seg"]: (r["n"], r["cents"]) for r in df.collect()}
    assert got == {"A": (2, 3000), "B": (2, 1000)}


def test_streaming_rollup_cdc_availablenow(spark, tmp_path):
    from dbt_databricks_metrics_spark.streaming.refresh import (
        streaming_rollup_cdc,
    )

    initial = _rows(spark, [(1, "A", 10.0), (2, "B", 5.0)])
    initial.createOrReplaceTempView("ret_src")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "whs"))
    mv = eng.register(MetricViewSpec.from_yaml(SPEC, name="mv_ret"))
    eng.refresh("mv_ret")
    built = eng.catalog.get("mv_ret").state.rollups["by_seg"]

    # Debezium-style change log: update row 1 (10 -> 15), delete row 2,
    # insert row 3
    log = spark.createDataFrame(
        [
            ("update_before", "before", 1, "A", 10.0),
            ("update_after", "after", 1, "A", 15.0),
            ("delete", "before", 2, "B", 5.0),
            ("insert", "after", 3, "C", 4.0),
        ],
        "op string, image string, id long, seg string, price double",
    )
    logdir = str(tmp_path / "changelog")
    log.write.parquet(logdir)
    q = streaming_rollup_cdc(
        spark, built, logdir, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    folded = spark.read.parquet(built.path)
    dec = built.decompositions
    got = {
        r["seg"]: (r["n"], r["cents"])
        for r in folded.select(
            "seg",
            F.expr(dec["n"].finalize).alias("n"),
            F.expr(dec["cents"].finalize).alias("cents"),
        ).collect()
    }
    assert got == {"A": (1, 1500), "C": (1, 400)}  # B fully retracted


def test_fold_retractions_requires_count_star(spark, tmp_path):
    # review fix: count_if/count(col) partials can be 0 for LIVE groups —
    # pruning on them would delete real data; a count(*) partial is the
    # only exact zero-group witness, so rollups without one are refused
    spec = """
version: 0.1
source: ret_src3
dimensions:
  - name: seg
    expr: seg
measures:
  - name: cents
    expr: sum(cast(round(price * 100) as bigint))
materialization:
  materialized_views:
    - name: sums_only
      type: aggregated
      dimensions: [seg]
      measures: [cents]
"""
    _rows(spark, [(1, "A", 1.0)]).createOrReplaceTempView("ret_src3")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "whc"))
    eng.register(MetricViewSpec.from_yaml(spec, name="mv_ret3"))
    eng.refresh("mv_ret3")
    built = eng.catalog.get("mv_ret3").state.rollups["sums_only"]
    with pytest.raises(ValueError, match="count\\(\\*\\) partial"):
        fold_retractions(
            spark, built, _rows(spark, []), _rows(spark, [(2, "A", 2.0)])
        )


def test_refresh_cdc_validates_all_rollups_before_folding(spark, tmp_path):
    # review fix: a mid-loop refusal must not leave some rollups folded
    spec = """
version: 0.1
source: ret_src4
dimensions:
  - name: seg
    expr: seg
measures:
  - name: n
    expr: count(*)
  - name: cents
    expr: sum(cast(round(price * 100) as bigint))
  - name: top
    expr: max(price)
materialization:
  materialized_views:
    - name: ok_roll
      type: aggregated
      dimensions: [seg]
      measures: [n, cents]
    - name: bad_roll
      type: aggregated
      dimensions: [seg]
      measures: [top]
"""
    _rows(spark, [(1, "A", 10.0)]).createOrReplaceTempView("ret_src4")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "whv"))
    eng.register(MetricViewSpec.from_yaml(spec, name="mv_ret4"))
    eng.refresh("mv_ret4")
    ok_built = eng.catalog.get("mv_ret4").state.rollups["ok_roll"]
    before_fold = spark.read.parquet(ok_built.path).collect()
    with pytest.raises(ValueError, match="non-retractable"):
        eng.refresh_cdc(
            "mv_ret4",
            before=_rows(spark, []),
            after=_rows(spark, [(2, "A", 5.0)]),
        )
    # the sum-family rollup was NOT folded (atomic refusal)
    assert spark.read.parquet(ok_built.path).collect() == before_fold


def test_streaming_cdc_rejects_null_image_and_bootstraps(spark, tmp_path):
    import shutil

    from dbt_databricks_metrics_spark.streaming.refresh import (
        streaming_rollup_cdc,
    )

    _rows(spark, [(1, "A", 10.0)]).createOrReplaceTempView("ret_src")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "whn"))
    eng.register(MetricViewSpec.from_yaml(SPEC, name="mv_ret"))
    eng.refresh("mv_ret")
    built = eng.catalog.get("mv_ret").state.rollups["by_seg"]

    # bootstrap: missing rollup path must not kill the stream
    shutil.rmtree(built.path)
    log = spark.createDataFrame(
        [("insert", "after", 1, "A", 10.0), ("insert", "after", 2, "B", 4.0)],
        "op string, image string, id long, seg string, price double",
    )
    d1 = str(tmp_path / "log1")
    log.write.parquet(d1)
    q = streaming_rollup_cdc(spark, built, d1, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    dec = built.decompositions
    got = {
        r["seg"]: r["n"]
        for r in spark.read.parquet(built.path)
        .select("seg", F.expr(dec["n"].finalize).alias("n"))
        .collect()
    }
    assert got == {"A": 1, "B": 1}

    # NULL image: the batch is refused, not silently dropped
    bad = spark.createDataFrame(
        [(None, None, 3, "C", 1.0)],
        "op string, image string, id long, seg string, price double",
    )
    d2 = str(tmp_path / "log2")
    bad.write.parquet(d2)
    q2 = streaming_rollup_cdc(spark, built, d2, str(tmp_path / "ck2"))
    with pytest.raises(Exception, match="NULL 'image'|StreamingQueryException"):
        q2.awaitTermination(120)
        raise RuntimeError(str(q2.exception()))


def test_fold_retractions_refuses_midhistory_bootstrap(spark, tmp_path):
    """ADVICE r4: a changelog starting mid-history (first batch carries
    pre-images) must NOT bootstrap an empty rollup — the negated
    pre-images would persist wrong state silently."""
    import shutil

    from dbt_databricks_metrics_spark.streaming.refresh import fold_retractions

    _rows(spark, [(1, "A", 10.0)]).createOrReplaceTempView("ret_src")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "whb"))
    eng.register(MetricViewSpec.from_yaml(SPEC, name="mv_retb"))
    eng.refresh("mv_retb")
    built = eng.catalog.get("mv_retb").state.rollups["by_seg"]
    shutil.rmtree(built.path)

    # mid-history update (pre-image of a row the state never held):
    # count nets to 0 but mass survives -> witness trips
    with pytest.raises(ValueError, match="mid-history"):
        fold_retractions(
            spark,
            built,
            before=_rows(spark, [(1, "A", 10.0)]),
            after=_rows(spark, [(1, "A", 12.0)]),
        )
    import os

    assert not os.path.exists(built.path)

    # mid-history delete-only: negative count witness
    with pytest.raises(ValueError, match="mid-history"):
        fold_retractions(
            spark, built, before=_rows(spark, [(1, "A", 10.0)]),
            after=_rows(spark, []),
        )
    assert not os.path.exists(built.path)

    # a SELF-CONTAINED first batch (insert + update of the same row in
    # one batch) nets correctly and must bootstrap (review round 5)
    fold_retractions(
        spark,
        built,
        before=_rows(spark, [(1, "A", 10.0)]),
        after=_rows(spark, [(1, "A", 10.0), (1, "A", 12.0)]),
    )
    dec = built.decompositions
    got = {
        (r["seg"]): (r["n"], r["c"])
        for r in spark.read.parquet(built.path)
        .selectExpr(
            "seg",
            f"{dec['n'].finalize} AS n",
            f"{dec['cents'].finalize} AS c",
        )
        .collect()
    }
    assert got == {"A": (1, 1200)}


def test_fold_retractions_refuses_midhistory_with_state(spark, tmp_path):
    """ADVICE r5: a change batch retracting rows the EXISTING state never
    held must be refused too — previously only the bootstrap (no-state)
    branch ran the witness scan, so the corrupt merge persisted silently
    (negative count passes the count != 0 prune; zero-count-with-mass is
    silently discarded by it)."""
    _rows(spark, [(1, "A", 10.0)]).createOrReplaceTempView("ret_src")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "whs"))
    eng.register(MetricViewSpec.from_yaml(SPEC, name="mv_rets"))
    eng.refresh("mv_rets")
    built = eng.catalog.get("mv_rets").state.rollups["by_seg"]
    snapshot = sorted(
        tuple(r) for r in spark.read.parquet(built.path).collect()
    )

    # delete-only of a row the state never held: count for segment B
    # merges to -1 -> negative-count witness
    with pytest.raises(ValueError, match="mid-history"):
        fold_retractions(
            spark, built,
            before=_rows(spark, [(9, "B", 5.0)]),
            after=_rows(spark, []),
        )
    # update of an unseen row: count nets to 0 but the integer cents
    # partial survives (700-500=200) -> zero-count-with-mass witness
    with pytest.raises(ValueError, match="mid-history"):
        fold_retractions(
            spark, built,
            before=_rows(spark, [(9, "B", 5.0)]),
            after=_rows(spark, [(9, "B", 7.0)]),
        )
    # both refusals left the stored state untouched
    assert snapshot == sorted(
        tuple(r) for r in spark.read.parquet(built.path).collect()
    )

    # a legitimate update of a row the state DOES hold still folds
    fold_retractions(
        spark, built,
        before=_rows(spark, [(1, "A", 10.0)]),
        after=_rows(spark, [(1, "A", 12.0)]),
    )
    dec = built.decompositions
    got = {
        r["seg"]: (r["n"], r["c"])
        for r in spark.read.parquet(built.path)
        .selectExpr(
            "seg",
            f"{dec['n'].finalize} AS n",
            f"{dec['cents'].finalize} AS c",
        )
        .collect()
    }
    assert got == {"A": (1, 1200)}


FLOAT_SPEC = """
version: 0.1
source: retf_src
dimensions:
  - name: seg
    expr: seg
measures:
  - name: n
    expr: count(*)
  - name: fsum
    expr: sum(price)
materialization:
  materialized_views:
    - name: by_seg
      type: aggregated
      dimensions: [seg]
      measures: [n, fsum]
"""


def test_float_partial_midhistory_witness_paths(spark, tmp_path):
    """VERDICT r6 #6: pin the DOCUMENTED float-partial limitation of the
    mid-history witness (refresh.py fold_retractions docstring): with
    pre-existing state, float-mass leftovers are excluded from the scan
    (a stored float partial carries summation-order residue vs the
    retracted values, so a float-mass check would false-positive), while
    the count witnesses still hold, and the bootstrap path witnesses
    floats exactly. Three facts, one batch shape:

    1. merge path, update of an unseen row whose ONLY leftover is float
       mass (count nets to 0): accepted — the documented false-negative
       (the zero-count group is then pruned, so no wrong mass persists);
    2. bootstrap path, same batch: REFUSED (true self-cancellation there
       subtracts identical doubles, so surviving float mass > 1e-9 is an
       exact witness);
    3. merge path, delete-only of an unseen row: REFUSED via the
       negative-count witness even though the mass partial is float.
    """
    import os
    import shutil

    from dbt_databricks_metrics_spark.streaming.refresh import fold_retractions

    _rows(spark, [(1, "A", 10.0)]).createOrReplaceTempView("retf_src")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "whf"))
    eng.register(MetricViewSpec.from_yaml(FLOAT_SPEC, name="mv_retf"))
    eng.refresh("mv_retf")
    built = eng.catalog.get("mv_retf").state.rollups["by_seg"]
    snapshot = sorted(
        tuple(r) for r in spark.read.parquet(built.path).collect()
    )

    # (1) merge path: count nets to 0, only FLOAT mass survives
    # (7.0 - 5.0 = 2.0) -> no witness fires (documented limitation),
    # and the zero-count B group is pruned so state is unchanged
    fold_retractions(
        spark, built,
        before=_rows(spark, [(9, "B", 5.0)]),
        after=_rows(spark, [(9, "B", 7.0)]),
    )
    assert snapshot == sorted(
        tuple(r) for r in spark.read.parquet(built.path).collect()
    )

    # (3) merge path: delete-only of an unseen row -> the count witness
    # still refuses, float partials or not
    with pytest.raises(ValueError, match="mid-history"):
        fold_retractions(
            spark, built,
            before=_rows(spark, [(9, "B", 5.0)]),
            after=_rows(spark, []),
        )
    assert snapshot == sorted(
        tuple(r) for r in spark.read.parquet(built.path).collect()
    )

    # (2) bootstrap path: the SAME float-leftover batch from (1) is
    # refused — floats witness exactly when there is no stored state
    shutil.rmtree(built.path)
    with pytest.raises(ValueError, match="mid-history"):
        fold_retractions(
            spark, built,
            before=_rows(spark, [(9, "B", 5.0)]),
            after=_rows(spark, [(9, "B", 7.0)]),
        )
    assert not os.path.exists(built.path)


def test_refresh_cdc_after_crash_between_aside_and_promote(
    spark, tmp_path, monkeypatch
):
    """A crash after a rebuild moved the live rollup out of its path but
    before the new version took it must not cost the stored state: the
    next insert-only refresh_cdc (which passes the mid-history check)
    adopts the surviving version instead of bootstrapping a rollup from
    that one batch."""
    import os

    initial = [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 5.0)]
    _rows(spark, initial).createOrReplaceTempView("ret_src")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh"))
    mv = eng.register(MetricViewSpec.from_yaml(SPEC, name="mv_ret"))
    eng.refresh("mv_ret")
    path = eng.catalog.get("mv_ret").state.rollups["by_seg"].path

    def crash_on_promote(real):
        def move(src, dst, *a, **k):
            if dst == path:
                raise OSError("simulated crash before the promote")
            return real(src, dst, *a, **k)

        return move

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash_on_promote(os.rename))
        m.setattr(os, "replace", crash_on_promote(os.replace))
        with pytest.raises(OSError, match="simulated crash"):
            eng.refresh("mv_ret")

    inserted = [(4, "B", 8.0), (5, "C", 2.0)]
    eng.refresh_cdc("mv_ret", before=_rows(spark, []), after=_rows(spark, inserted))
    df, route = mv.query_routed(["seg"], ["n", "cents"])
    assert route == "rollup:by_seg"
    got = {r["seg"]: (r["n"], r["cents"]) for r in df.collect()}

    _rows(spark, initial + inserted).createOrReplaceTempView("ret_src")
    eng2 = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh2"))
    mv2 = eng2.register(MetricViewSpec.from_yaml(SPEC, name="mv_ret"))
    eng2.refresh("mv_ret")
    df2, _ = mv2.query_routed(["seg"], ["n", "cents"])
    assert got == {r["seg"]: (r["n"], r["cents"]) for r in df2.collect()}
