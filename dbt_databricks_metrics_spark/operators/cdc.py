"""CDC apply — latest-wins upsert/delete change application ([EXT]).

The lakehouse ``APPLY CHANGES INTO`` primitive (public semantics:
Delta Lake / Debezium-style change feeds): given a base table and a
feed of keyed change rows carrying an operation and a sequence number,
produce the post-image — each key reflects its LATEST change
(upsert replaces, delete removes), unchanged keys pass through.

Plan shape (100 TB posture): ONE window over the change feed
(per-key ``row_number`` ordered by sequence desc — shuffles only the
changes, never the base), then a broadcast-friendly LEFT ANTI join of
the base against changed keys plus a union of the surviving upserts.
The base table is never shuffled: at scale the change feed is orders of
magnitude smaller than the base, and this plan touches the base with a
single anti-join probe.

Determinism: *seq_col* orders changes; ties break by *tiebreak_cols*
(pass the feed's id/offset column — real change feeds carry one).
With same-key sequence ties and NO tiebreak the winning row is
partition-order-dependent; always pass a tiebreak when sequences can
collide.

Reference parity: the reference's snapshots (SCD2) track history;
``cdc_apply`` is the complementary CURRENT-STATE operator its
Lakeflow-style pipelines assume upstream (dbt-databricks-metrics
README.md:88-118 frames sources as continuously refreshed tables).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..publish import publish_dir, recover_dir

UPSERT = "upsert"
DELETE = "delete"


def latest_changes(
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """The last change per key: one window pass over the feed."""
    order = [F.col(seq_col).desc()] + [F.col(c).desc() for c in tiebreak_cols]
    w = Window.partitionBy(*[F.col(k) for k in key_cols]).orderBy(*order)
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_col: str,
    op_col: str = "op",
    tiebreak_cols: Sequence[str] = (),
    broadcast_changed_keys: bool | None = None,
) -> DataFrame:
    """Post-image of *base* after applying *changes* (latest wins).

    *changes* must carry the key columns, *seq_col*, *op_col* with
    values ``'upsert'``/``'delete'``, and every base column for upsert
    rows. Returns exactly the base schema.

    *broadcast_changed_keys*: ``True`` forces a broadcast hash of the
    distinct changed keys into the anti-join (right only when the change
    feed is known-small — a forced broadcast of a large key set hits
    Spark's 8 GB broadcast limit and driver memory). The default
    (``None``) leaves the strategy to Catalyst/AQE, which broadcasts
    automatically when the key set fits ``autoBroadcastJoinThreshold``
    and falls back to a shuffled anti-join when it does not — the safe
    choice at 100 TB where a feed can be arbitrarily large.
    """
    key_cols = list(key_cols)
    missing = [c for c in base.columns if c not in changes.columns]
    if missing:
        raise ValueError(
            f"cdc_apply: changes lack base columns {missing} "
            f"(upserts must carry the full row)"
        )
    bad_ops = changes.select(op_col).filter(
        ~F.col(op_col).isin(UPSERT, DELETE)
    )
    if bad_ops.limit(1).count() > 0:
        raise ValueError(
            f"cdc_apply: op column {op_col!r} must be "
            f"'{UPSERT}' or '{DELETE}'"
        )
    last = latest_changes(changes, key_cols, seq_col, tiebreak_cols)
    changed_keys = last.select(*key_cols)
    if broadcast_changed_keys:
        changed_keys = F.broadcast(changed_keys)
    untouched = base.join(changed_keys, key_cols, "left_anti")
    upserts = last.filter(F.col(op_col) == UPSERT).select(*base.columns)
    return untouched.unionByName(upserts)


def cdc_fold_stream(
    spark,
    source_dir: str,
    state_path: str,
    checkpoint_dir: str,
    key_cols: Sequence[str],
    seq_col: str,
    op_col: str = "op",
    tiebreak_cols: Sequence[str] = (),
    schema=None,
):
    """Maintain CDC state from an append-only change-feed directory.

    The state is the LAST CHANGE per key — including delete tombstones,
    which is what makes out-of-order delivery safe across micro-batches:
    an older upsert arriving after a delete loses the per-key
    ``latest_changes`` race against the stored tombstone instead of
    resurrecting the key. Each fold is
    ``state' = latest_changes(state ∪ batch)`` (one window over
    state+batch — both keyed-entity-sized, never feed-history-sized),
    published with ``publish.publish_dir``. Read the current table with
    :func:`cdc_post_image`. `availableNow` gives scheduled-batch
    semantics.

    State publication is rename-based and therefore LOCAL-POSIX-FS ONLY
    (object stores need a transactional table format instead —
    Delta/Iceberg state tables at cluster scale): a crash mid-publish
    leaves either the old or the new state on disk — never neither (see
    ``publish.publish_dir``).
    """
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def fold(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        if recover_dir(state_path):
            merged = s.read.parquet(state_path).unionByName(batch_df)
        else:
            merged = batch_df
        new_state = latest_changes(merged, key_cols, seq_col, tiebreak_cols)
        publish_dir(state_path, new_state.write.parquet)

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def cdc_post_image(
    spark,
    state_path: str,
    op_col: str = "op",
    drop_cols: Sequence[str] = (),
) -> DataFrame:
    """The current table from folded CDC state: surviving upserts with
    tombstones and change metadata dropped."""
    recover_dir(state_path)
    state = spark.read.parquet(state_path)
    out = state.filter(F.col(op_col) == UPSERT).drop(op_col)
    for c in drop_cols:
        out = out.drop(c)
    return out
