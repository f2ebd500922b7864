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


# ---------------------------------------------------------------------------
# the driver tier: batches whose frames live on the driver fold into a
# driver-served rollup with no Spark job


def _local(spark, data, schema="id long, seg string, price double"):
    """*data* as a frame made from a ``pyarrow.Table``, so ``isLocal()``
    holds and ``refresh_cdc`` folds it on the driver."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(spark.createDataFrame([], schema).schema)
    cols = list(zip(*data)) if data else [()] * len(target)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, target)], schema=target))


def _debris(path):
    import os

    base = os.path.basename(path)
    return [n for n in os.listdir(os.path.dirname(path))
            if n.startswith((f"{base}__tmp_", f"{base}__old_"))]


def test_driver_fold_refuses_midhistory_and_keeps_the_resident_rollup(spark, tmp_path):
    """A mid-history batch (a negative count, or a zero count with
    leftover integer mass) is refused on the driver tier by the same rule
    as the Spark fold; the stored rollup, its row count and the resident
    table are untouched and no temp directory is left. The resident
    table staying the same object shows the refusal never reached the
    Spark fold, whose callers drop it."""
    _rows(spark, [(1, "A", 10.0)]).createOrReplaceTempView("ret_src")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "whd"))
    mv = eng.register(MetricViewSpec.from_yaml(SPEC, name="mv_retd"))
    eng.refresh("mv_retd")
    built = eng.catalog.get("mv_retd").state.rollups["by_seg"]
    assert mv.explain_route(["seg"], ["n"])["serving"]["tier"] == "driver"
    resident = eng._rollups._loaded[built.path]
    n_rows = built.n_rows
    snapshot = sorted(tuple(r) for r in spark.read.parquet(built.path).collect())

    for before, after in (([(9, "B", 5.0)], []), ([(9, "B", 5.0)], [(9, "B", 7.0)])):
        with pytest.raises(ValueError, match="mid-history"):
            eng.refresh_cdc("mv_retd", _local(spark, before), _local(spark, after))
        assert eng._rollups._loaded[built.path] is resident
        assert built.n_rows == n_rows
        assert snapshot == sorted(
            tuple(r) for r in spark.read.parquet(built.path).collect())
        assert _debris(built.path) == []

    eng.refresh_cdc("mv_retd", _local(spark, [(1, "A", 10.0)]),
                    _local(spark, [(1, "A", 12.0)]))
    assert eng._rollups._loaded[built.path] is not resident
    got = {r["seg"]: (r["n"], r["cents"])
           for r in mv.query(["seg"], ["n", "cents"]).collect()}
    assert got == {"A": (1, 1200)}


WIDE_SPEC = """
version: 0.1
source: {src}
dimensions:
  - name: seg
    expr: seg
  - name: st
    expr: st
measures:
  - name: n
    expr: count(*)
  - name: cents
    expr: sum(cents)
  - name: amt
    expr: sum(amount)
  - name: n_amt
    expr: count(amount)
  - name: big
    expr: count_if(amount > 10)
  - name: avg_amt
    expr: avg(amount)
materialization:
  materialized_views:
    - name: by_seg_st
      type: aggregated
      dimensions: [seg, st]
      measures: [n, cents, amt, n_amt, big, avg_amt]
"""
WIDE_SCHEMA = "id long, seg string, st string, cents long, amount decimal(12,2)"


def test_driver_fold_stores_what_the_spark_fold_stores(spark, tmp_path):
    """The same change batches folded on the driver and by Spark leave
    byte-identical rollups (sorted rows, Spark-read schema, ``n_rows``)
    over every per-row partial form (``sum``, ``count(*)``,
    ``count(x)``, ``count_if``, ``avg``'s pair), NULL dims and values and
    a decimal sum; both equal a rebuild."""
    from decimal import Decimal as D

    rows = {
        1: (1, "A", "x", 100, D("5.00")),
        2: (2, "A", "y", 250, None),
        3: (3, None, "x", 75, D("12.50")),
        4: (4, "B", "x", 40, D("11.00")),
    }
    batches = [
        # update 2 (value set), delete 4 (B's only row), insert a NULL-dim row
        ([rows[2], rows[4]], [(2, "A", "y", 300, D("20.00")), (5, None, None, 10, None)]),
        # update the NULL-seg row into A, insert B back
        ([(3, None, "x", 75, D("12.50"))], [(3, "A", "x", 80, D("9.99")), (6, "B", "y", 1, D("0.01"))]),
        # an empty batch
        ([], []),
    ]
    dumps = {}
    for tier in ("driver", "spark"):
        src = f"wide_src_{tier}"
        spark.createDataFrame(list(rows.values()), WIDE_SCHEMA).createOrReplaceTempView(src)
        eng = MetricEngine(spark, warehouse_dir=str(tmp_path / tier))
        mv = eng.register(MetricViewSpec.from_yaml(WIDE_SPEC.format(src=src), name="mv_wide"))
        eng.refresh("mv_wide")
        built = mv._rv.state.rollups["by_seg_st"]
        mv.query(["seg"], ["n"]).collect()
        resident = eng._rollups._loaded[built.path]
        for before, after in batches:
            if tier == "driver":
                b, a = _local(spark, before, WIDE_SCHEMA), _local(spark, after, WIDE_SCHEMA)
            else:
                b = spark.createDataFrame(before, WIDE_SCHEMA)
                a = spark.createDataFrame(after, WIDE_SCHEMA)
            eng.refresh_cdc("mv_wide", b, a)
        # the driver fold replaced the resident table; the Spark fold dropped it
        assert (eng._rollups._loaded.get(built.path) not in (None, resident)) == (
            tier == "driver")
        stored = spark.read.parquet(built.path)
        dumps[tier] = (stored.schema.simpleString(), built.n_rows,
                       sorted(map(repr, map(tuple, stored.collect()))))
        assert mv.explain_route(["seg"], ["n"])["serving"]["tier"] == "driver"
    assert dumps["driver"] == dumps["spark"]
    assert "_p_amt_0:decimal(22,2)" in dumps["driver"][0]

    final = dict(rows)
    for before, after in batches:
        for r in before:
            final.pop(r[0])
        for r in after:
            final[r[0]] = r
    spark.createDataFrame(list(final.values()), WIDE_SCHEMA).createOrReplaceTempView("wide_src_re")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "rebuild"))
    mv = eng.register(MetricViewSpec.from_yaml(WIDE_SPEC.format(src="wide_src_re"), name="mv_wide"))
    eng.refresh("mv_wide")
    built = mv._rv.state.rollups["by_seg_st"]
    stored = spark.read.parquet(built.path)
    assert (stored.schema.simpleString(), built.n_rows,
            sorted(map(repr, map(tuple, stored.collect())))) == dumps["driver"]


DEC_SPEC = """
version: 0.1
source: {src}
dimensions:
  - name: k
    expr: k
measures:
  - name: total
    expr: sum(v)
  - name: n
    expr: count(*)
materialization:
  materialized_views:
    - name: by_k
      type: aggregated
      dimensions: [k]
      measures: [total, n]
"""


@pytest.mark.parametrize("fold", ["refresh_cdc", "refresh_cdc_local", "refresh_incremental"])
def test_folds_keep_stored_decimal_types(spark, tmp_path, fold):
    """A fold stores each partial in the type a rebuild gives it: a
    ``sum`` over ``decimal(12,2)`` stays ``decimal(22,2)`` instead of
    widening by 10 digits per fold (to ``(32,2)``, then ``(38,2)``), so
    the query's result type and the driver serving tier hold too."""
    from decimal import Decimal as D

    schema = "k string, v decimal(12,2)"
    src = f"dec_src_{fold}"
    data = [("A", D("1.50")), ("B", D("2.25"))]
    spark.createDataFrame(data, schema).createOrReplaceTempView(src)
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh"))
    mv = eng.register(MetricViewSpec.from_yaml(DEC_SPEC.format(src=src), name="mv_dec"))
    eng.refresh("mv_dec")
    path = mv._rv.state.rollups["by_k"].path
    stored, query = spark.read.parquet(path).schema, mv.query(["k"], ["total"]).schema
    assert "_p_total_0:decimal(22,2)" in stored.simpleString()

    def frame(rows):
        if fold == "refresh_cdc_local":
            return _local(spark, rows, schema)
        return spark.createDataFrame(rows, schema)

    for i in range(2):
        new = ("C", D(f"{i + 1}.00"))
        if fold == "refresh_incremental":
            eng.refresh_incremental("mv_dec", frame([new]))
            data.append(new)
        else:
            eng.refresh_cdc("mv_dec", frame([data[0]]), frame([new]))
            data[0] = new
    assert spark.read.parquet(path).schema == stored
    assert mv.query(["k"], ["total"]).schema == query
    assert mv.explain_route(["k"], ["total"])["serving"]["tier"] == "driver"
    folded = sorted(tuple(r) for r in mv.query(["k"], ["total", "n"]).collect())

    spark.createDataFrame(data, schema).createOrReplaceTempView(src)
    eng.refresh("mv_dec")
    assert spark.read.parquet(path).schema == stored
    assert sorted(tuple(r) for r in mv.query(["k"], ["total", "n"]).collect()) == folded


def test_two_level_build_keeps_decimal_partial_types(spark, tmp_path, monkeypatch):
    """The two-level build merges its fine-grain partials once more; each
    grain still stores the type a one-grain build stores."""
    from decimal import Decimal as D

    from dbt_databricks_metrics_spark.plans import rollup

    monkeypatch.setattr(rollup, "TWO_LEVEL_MIN_BYTES", 0)
    spec = DEC_SPEC.format(src="dec_src_2l").replace(
        "dimensions:\n  - name: k\n    expr: k\n",
        "dimensions:\n  - name: k\n    expr: k\n  - name: s\n    expr: s\n",
    ) + (
        "    - name: by_k_s\n      type: aggregated\n"
        "      dimensions: [k, s]\n      measures: [total, n]\n"
    )
    spark.createDataFrame([("A", "x", D("1.50")), ("B", "y", D("2.25"))],
                          "k string, s string, v decimal(12,2)").createOrReplaceTempView("dec_src_2l")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh"))
    mv = eng.register(MetricViewSpec.from_yaml(spec, name="mv_dec2"))
    eng.refresh("mv_dec2")
    assert sorted(mv._rv.state.rollups) == ["by_k", "by_k_s"]
    for built in mv._rv.state.rollups.values():
        assert "_p_total_0:decimal(22,2)" in spark.read.parquet(built.path).schema.simpleString()
