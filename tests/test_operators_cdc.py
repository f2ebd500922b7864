"""CDC apply: latest-wins upsert/delete post-image."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.operators.cdc import cdc_apply, latest_changes


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, val double",
    )


def test_cdc_apply_upsert_delete_insert(spark):
    base = _base(spark)
    changes = spark.createDataFrame(
        [
            # id 1: updated twice — seq 5 wins
            (1, "a2", 11.0, 4, "upsert", 100),
            (1, "a3", 12.0, 5, "upsert", 101),
            # id 2: deleted after an update
            (2, "b2", 21.0, 1, "upsert", 102),
            (2, None, None, 2, "delete", 103),
            # id 4: brand-new key
            (4, "d", 40.0, 1, "upsert", 104),
        ],
        "id long, name string, val double, seq long, op string, change_id long",
    )
    out = cdc_apply(base, changes, ["id"], "seq", tiebreak_cols=["change_id"])
    got = {(r["id"], r["name"], r["val"]) for r in out.collect()}
    assert got == {(1, "a3", 12.0), (3, "c", 30.0), (4, "d", 40.0)}
    assert out.columns == base.columns


def test_cdc_tie_broken_by_tiebreak_col(spark):
    base = _base(spark)
    changes = spark.createDataFrame(
        [
            (1, "x", 1.0, 7, "upsert", 200),
            (1, "y", 2.0, 7, "upsert", 201),  # same seq — higher change_id wins
        ],
        "id long, name string, val double, seq long, op string, change_id long",
    )
    out = cdc_apply(base, changes, ["id"], "seq", tiebreak_cols=["change_id"])
    assert {(r["id"], r["name"]) for r in out.filter(F.col("id") == 1).collect()} == {
        (1, "y")
    }


def test_cdc_validates_inputs(spark):
    base = _base(spark)
    with pytest.raises(ValueError, match="lack base columns"):
        cdc_apply(
            base,
            spark.createDataFrame([(1, 1, "upsert")], "id long, seq long, op string"),
            ["id"],
            "seq",
        )
    bad = spark.createDataFrame(
        [(1, "a", 1.0, 1, "replace")],
        "id long, name string, val double, seq long, op string",
    )
    with pytest.raises(ValueError, match="op column"):
        cdc_apply(base, bad, ["id"], "seq")


def test_cdc_idempotent_replay(spark):
    """Replaying the same feed over the post-image is a no-op — the
    at-least-once delivery property CDC consumers rely on."""
    base = _base(spark)
    changes = spark.createDataFrame(
        [
            (1, "a9", 99.0, 3, "upsert", 1),
            (2, None, None, 4, "delete", 2),
        ],
        "id long, name string, val double, seq long, op string, change_id long",
    )
    once = cdc_apply(base, changes, ["id"], "seq", tiebreak_cols=["change_id"])
    twice = cdc_apply(once, changes, ["id"], "seq", tiebreak_cols=["change_id"])
    assert {tuple(r) for r in once.collect()} == {tuple(r) for r in twice.collect()}


def test_latest_changes_one_row_per_key(spark, sf_dir):
    from dbt_databricks_metrics_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    last = latest_changes(ev, ["user_id"], "ts", tiebreak_cols=["event_id"])
    assert last.count() == ev.select("user_id").distinct().count()


def test_cdc_fold_stream_out_of_order(spark, tmp_path):
    """Streaming fold over an out-of-order feed: tombstones stop stale
    upserts from resurrecting keys; post-image == batch apply of the
    whole feed."""
    import time

    from dbt_databricks_metrics_spark.operators.cdc import (
        cdc_fold_stream,
        cdc_post_image,
    )

    cols = "id long, name string, val double, seq long, op string, change_id long"
    # batch 1 (arrives first): newer changes, including a delete of id 2
    first = spark.createDataFrame(
        [
            (1, "new", 2.0, 10, "upsert", 1),
            (2, None, None, 12, "delete", 2),
            (3, "c", 3.0, 5, "upsert", 3),
        ],
        cols,
    )
    # batch 2 (arrives later): OLDER seq for ids 1 and 2 — must lose
    second = spark.createDataFrame(
        [
            (1, "stale", 1.0, 9, "upsert", 4),
            (2, "zombie", 9.0, 11, "upsert", 5),
            (4, "d", 4.0, 1, "upsert", 6),
        ],
        cols,
    )
    src = str(tmp_path / "cdc_src")
    first.coalesce(1).write.mode("overwrite").parquet(src)
    state = str(tmp_path / "cdc_state")
    q1 = cdc_fold_stream(
        spark, src, state, str(tmp_path / "ck"), ["id"], "seq",
        tiebreak_cols=["change_id"],
    )
    assert q1.awaitTermination(300)
    time.sleep(1.1)  # parquet mtime granularity: make the append a new file
    second.coalesce(1).write.mode("append").parquet(src)
    q2 = cdc_fold_stream(
        spark, src, state, str(tmp_path / "ck"), ["id"], "seq",
        tiebreak_cols=["change_id"],
    )
    assert q2.awaitTermination(300)

    got = {
        (r["id"], r["name"], r["val"])
        for r in cdc_post_image(
            spark, state, drop_cols=["seq", "change_id"]
        ).collect()
    }
    # id 1 keeps 'new' (stale seq 9 < 10); id 2 stays deleted (zombie 11 < 12)
    assert got == {(1, "new", 2.0), (3, "c", 3.0), (4, "d", 4.0)}

    # equivalence with one-shot batch apply over the full feed
    full = first.unionByName(second)
    base = spark.createDataFrame([], "id long, name string, val double")
    want = {
        (r["id"], r["name"], r["val"])
        for r in cdc_apply(
            base, full, ["id"], "seq", tiebreak_cols=["change_id"]
        ).collect()
    }
    assert got == want


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def change_feed(draw):
    n = draw(st.integers(1, 25))
    rows = []
    for i in range(n):
        rows.append(
            (
                draw(st.integers(1, 6)),          # key
                f"v{i}",                          # name payload
                float(i),                         # val payload
                draw(st.integers(0, 8)),          # seq (collisions likely)
                draw(st.sampled_from(["upsert", "delete"])),
                i,                                # unique change_id tiebreak
            )
        )
    base = [(k, "base", -1.0) for k in draw(st.sets(st.integers(1, 6)))]
    return base, rows


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(change_feed())
def test_cdc_apply_matches_python_reference(spark, feed):
    """cdc_apply == an independent dict-based latest-wins reference, for
    random feeds with seq collisions; replay is idempotent."""
    base_rows, change_rows = feed
    base = spark.createDataFrame(
        base_rows or [(999, "base", -1.0)], "id long, name string, val double"
    )
    changes = spark.createDataFrame(
        change_rows,
        "id long, name string, val double, seq long, op string, change_id long",
    )
    out = cdc_apply(base, changes, ["id"], "seq", tiebreak_cols=["change_id"])
    got = {(r["id"], r["name"], r["val"]) for r in out.collect()}

    # reference: latest change per key by (seq, change_id)
    last = {}
    for (k, name, val, seq, op, cid) in change_rows:
        if k not in last or (seq, cid) > (last[k][0], last[k][1]):
            last[k] = (seq, cid, op, name, val)
    want = set()
    for (k, name, val) in (base_rows or [(999, "base", -1.0)]):
        if k not in last:
            want.add((k, name, val))
    for k, (_s, _c, op, name, val) in last.items():
        if op == "upsert":
            want.add((k, name, val))
    assert got == want

    replay = cdc_apply(out, changes, ["id"], "seq", tiebreak_cols=["change_id"])
    assert {(r["id"], r["name"], r["val"]) for r in replay.collect()} == want


def test_promote_state_dir_crash_safe(spark, tmp_path):
    """publish_dir leaves no tmp/old residue and a complete state dir at
    every step; orphaned __old asides from a simulated crash are swept."""
    import os

    from dbt_databricks_metrics_spark.publish import publish_dir

    state = str(tmp_path / "state")
    df1 = spark.createDataFrame([(1, "a")], "k INT, v STRING")
    publish_dir(state, df1.write.parquet)
    assert spark.read.parquet(state).count() == 1

    # simulate a crash-after-promote leftover
    os.makedirs(f"{state}__old_deadbeef/x", exist_ok=True)

    df2 = spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING")
    publish_dir(state, df2.write.parquet)
    assert spark.read.parquet(state).count() == 2
    residue = [
        n
        for n in os.listdir(tmp_path)
        if n.startswith("state__old_") or n.startswith("state__tmp_")
    ]
    assert residue == []


def test_restore_adopts_crash_orphaned_aside(spark, tmp_path):
    """Simulated crash between rename-aside and promote: state_path is
    missing, only the __old aside survives. The next fold must ADOPT the
    aside (not rebuild from the batch alone and sweep it away)."""
    import os
    import time

    from dbt_databricks_metrics_spark.publish import publish_dir, recover_dir

    state = str(tmp_path / "state")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING")
    publish_dir(state, df1.write.parquet)
    # crash window: current state renamed aside, promote never happened
    os.rename(state, f"{state}__old_cafe0001")
    # plus a stale tmp from the same crash (aged past the sweep gate)
    # and a YOUNG tmp that could be another process's in-flight write
    os.makedirs(f"{state}__tmp_cafe0001/x", exist_ok=True)
    old_time = time.time() - 7200
    os.utime(f"{state}__tmp_cafe0001", (old_time, old_time))
    os.makedirs(f"{state}__tmp_beef0002/x", exist_ok=True)

    assert recover_dir(state)
    assert {r["k"] for r in spark.read.parquet(state).collect()} == {1, 2}

    # a subsequent promote folds new data on the restored state, sweeps
    # the AGED stale tmp, and leaves the young tmp alone (the sweep is
    # age-gated: a young tmp may be an in-flight write — review round 5)
    df2 = spark.read.parquet(state).unionByName(
        spark.createDataFrame([(3, "c")], "k INT, v STRING")
    )
    publish_dir(state, df2.write.parquet)
    assert spark.read.parquet(state).count() == 3
    residue = [n for n in os.listdir(tmp_path) if "__old_" in n or "__tmp_" in n]
    assert residue == [os.path.basename(f"{state}__tmp_beef0002")]


def test_state_lock_serializes_promote_and_restore(spark, tmp_path):
    """VERDICT r4 #8: the swap protocol's same-machine interleavings are
    serialized by an flock beside the state dir — a second locker blocks
    until the first releases, and the lock file never matches the
    __old_/__tmp_ sweep patterns."""
    import os
    import threading
    import time

    from dbt_databricks_metrics_spark.publish import _lock, publish_dir, recover_dir

    state = str(tmp_path / "locked_state")
    df = spark.createDataFrame([(1,)], "k LONG")
    publish_dir(state, df.write.parquet)
    assert os.path.exists(state)
    assert os.path.exists(state + "__lock")

    order = []

    def contender():
        with _lock(state):
            order.append("contender")

    with _lock(state):
        t = threading.Thread(target=contender)
        t.start()
        time.sleep(0.3)
        order.append("holder")
    t.join(10)
    assert order == ["holder", "contender"]

    # restore under the lock is a no-op when state exists and the lock
    # file does not confuse the aside scan
    assert recover_dir(state)
    assert spark.read.parquet(state).count() == 1
