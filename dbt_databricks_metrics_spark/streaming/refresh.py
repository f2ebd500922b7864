"""Incremental rollup refresh (SURVEY §4 'Incremental refresh').

The reference delegates refresh to Lakeflow pipelines which are
"incremental whenever possible" (``README.md:118``); full recompute lives
in ``plans/rollup.py``. This module adds the incremental path, built on the
partial-state property that makes rollups re-aggregable in the first
place:

    rollup(S ∪ ΔS) = merge(rollup(S), rollup(ΔS))

* :func:`fold_increment` — batch fold: aggregate only the new rows to
  partial states and merge them into the stored rollup (read old + union +
  re-merge + ``publish_dir``). At 100 TB this touches |rollup| + |Δ| rows, not
  the full source.
* :func:`streaming_rollup` — Structured Streaming form: `readStream` over
  an append-only directory, `trigger(availableNow=True)`, `foreachBatch`
  folding each micro-batch with the same merge — exactly-once per batch
  via the checkpoint dir; the package's one `foreachBatch` fold.
* :func:`fold_retractions` — the upsert/delete-aware batch fold: merge
  the NEGATED partials of a change batch's pre-images with its
  post-images' partials. ``MetricEngine.refresh_cdc`` runs it on one of
  two tiers per rollup:

  - the driver tier, :func:`fold_retractions_on_driver`, when both batch
    frames are ``isLocal()`` (their rows already live on the driver: a
    ``createDataFrame`` of a ``pyarrow.Table`` or pandas frame, not of a
    list or a file scan) and the rollup is served from the driver
    (``plans/rollup.py``). Signed per-row partials are collected from a
    projection of the batch, merged into the resident ``pyarrow.Table``,
    published with ``pyarrow.parquet`` and installed as the resident
    rollup: no Spark job;
  - the Spark tier, :func:`fold_retractions` itself, for everything
    else (list- or scan-backed batches, Spark-tier rollups, no stored
    rollup yet).

  Both refuse by one rule (:func:`_mid_history`) and store the same
  rows and types.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.aggregates import (
    merge_columns,
    merge_functions,
    merge_table,
    partial_columns,
    row_contribution,
)
from ..plans.rollup import BuiltRollup, RollupManager, resident_table
from ..publish import publish_dir, recover_dir


def _partial_agg(delta: DataFrame, built: BuiltRollup) -> DataFrame:
    """Aggregate a slice of source rows to the rollup's partial layout."""
    return delta.groupBy(*[F.col(d) for d in built.spec.dimensions]).agg(
        *[F.expr(e).alias(c) for c, e in partial_columns(built.decompositions).items()]
    )


def _publish_counted(built: BuiltRollup, rows: DataFrame) -> None:
    """Publish *rows* as *built*'s rollup and set its ``n_rows`` from a
    row count that rides the write (no extra job)."""
    ob = Observation()
    publish_dir(built.path, rows.observe(ob, F.count(F.lit(1)).alias("n")).write.parquet)
    built.n_rows = int(ob.get["n"])


def merge_partials(old: DataFrame, delta_partials: DataFrame, built: BuiltRollup) -> DataFrame:
    """merge(rollup(S), rollup(ΔS)) — re-aggregate the union of partial
    states with each partial's merge function, each cast back to the type
    :func:`_partial_agg` gives it (*delta_partials*' type), so a fold
    stores what a rebuild stores."""
    types = {f.name: f.dataType for f in delta_partials.schema}
    return (
        old.unionByName(delta_partials)
        .groupBy(*[F.col(d) for d in built.spec.dimensions])
        .agg(*merge_columns(built.decompositions, types=types))
    )


def fold_increment(
    spark: SparkSession, built: BuiltRollup, delta_source_rows: DataFrame
) -> None:
    """Fold new source rows into the stored rollup, atomically (one
    ``publish_dir``).

    `delta_source_rows` must be the same relation shape the rollup was
    built from (the metric view's filtered+joined source) restricted to
    the *new* rows — e.g. the latest date partition.
    """
    delta = _partial_agg(delta_source_rows, built)
    recover_dir(built.path)
    old = spark.read.parquet(built.path)
    _publish_counted(built, merge_partials(old, delta, built))


def streaming_rollup(
    spark: SparkSession,
    built: BuiltRollup,
    source_dir: str,
    checkpoint_dir: str,
    schema=None,
    max_files_per_trigger: int | None = None,
):
    """Maintain a rollup from an append-only parquet directory with
    Structured Streaming (`availableNow` = catch up on everything new,
    then stop — the scheduled-batch semantics of the reference's
    `schedule: every 6 hours`, `models/schema.yml:106-108`).
    ``max_files_per_trigger`` bounds each micro-batch (availableNow
    honors it), forcing the old⊕delta merge path to run repeatedly —
    the steady-state shape of a long-lived maintenance stream."""
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = _partial_agg(batch_df, built)
        if recover_dir(built.path):
            old = batch_df.sparkSession.read.parquet(built.path)
            merged = merge_partials(old, delta, built)
        else:
            merged = delta
        _publish_counted(built, merged)

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def validate_retractable(built: BuiltRollup) -> str:
    """Raise unless *built* can be maintained by retraction folds; returns
    the rollup's ``count(*)``/``count(1)`` partial column. Two
    preconditions: (a) every merge fn is ``sum`` (min/max/sketch partials
    cannot subtract a departed row), and (b) a row-count partial exists —
    without one, a fully-retracted group is indistinguishable from a live
    group whose sums happen to be zero, so fold-vs-rebuild equivalence
    would break (add an ``n: count(*)`` measure to the rollup)."""
    import re

    bad = sorted(
        {
            fn
            for dec in built.decompositions.values()
            for fn in dec.merges.values()
            if fn != "sum"
        }
    )
    if bad:
        raise ValueError(
            f"fold_retractions: rollup {built.spec.name!r} has "
            f"non-retractable partials (merge fns {bad}) — min/max/sketch "
            f"partials cannot subtract a departed row; rebuild instead"
        )
    for dec in built.decompositions.values():
        for p_expr, p_col in dec.partials:
            if re.fullmatch(r"count\(\s*(\*|1)\s*\)", p_expr.strip().lower()):
                return p_col
    raise ValueError(
        f"fold_retractions: rollup {built.spec.name!r} has no count(*) "
        f"partial — retraction folds need a row count to prune fully-"
        f"retracted groups exactly (count_if/count(col) partials can be "
        f"legitimately 0 for live groups); add an 'n: count(*)' measure "
        f"to the rollup"
    )


def fold_retractions(
    spark: SparkSession,
    built: BuiltRollup,
    before: DataFrame,
    after: DataFrame,
) -> None:
    """Upsert/delete-aware incremental maintenance — the CDC complement
    of :func:`fold_increment`: fold one change batch's PRE-images (rows
    leaving the table: deletes + old versions of updates) and
    POST-images (inserts + new versions) into the stored rollup in one
    ``publish_dir``, via

        rollup(S ∪ ΔS⁺ ∖ ΔS⁻) = merge(rollup(S), rollup(ΔS⁺), −rollup(ΔS⁻))

    Sum-mergeable partials (sum/count/count_if and composites built from
    them, incl. avg's (sum, count) pair) retract EXACTLY by merging the
    NEGATED pre-image partials; :func:`validate_retractable` states the
    preconditions (all-sum merges + a ``count(*)`` partial, which prunes
    fully-retracted groups exactly — fold-vs-rebuild equivalence is
    tested). Retraction of FLOAT sums is exact only up to
    summation-order jitter; keep money partials on the int64 cent grid
    (the repo-wide discipline) for bit-exact maintenance. A missing
    rollup path bootstraps from the batch itself (first-batch
    semantics, like :func:`streaming_rollup`) — including a
    SELF-CONTAINED batch whose pre-images retract rows inserted earlier
    in the same batch (insert + update in one micro-batch nets
    correctly). What it refuses is a changelog that starts MID-HISTORY
    (retracting rows the state never held), detected by the exact
    witnesses such a batch leaves in the merged state: a negative
    count partial, or a zero count with surviving non-zero mass (no
    rows ⇒ ALL partials zero; a mid-history update nets count to 0 but
    leaves Σ(new−old) behind). Both would otherwise persist silently
    wrong state (ADVICE r4 + review round 5).

    Cost: |rollup| + |Δ| rows, like fold_increment — an upsert stream at
    100 TB never re-reads the source. This is the Spark tier;
    :func:`fold_retractions_on_driver` folds a driver-local batch into a
    driver-served rollup with no job.
    """
    count_col = validate_retractable(built)
    dims = list(built.spec.dimensions)
    pos = _partial_agg(after, built)
    pcols = [c for c in pos.columns if c not in dims]
    neg = _partial_agg(before, built).select(
        *[F.col(d) for d in dims],
        *[(-F.col(c)).alias(c) for c in pcols],
    )
    bootstrap = not recover_dir(built.path)
    if bootstrap:
        merged = merge_partials(pos, neg, built)
    else:
        merged = merge_partials(
            spark.read.parquet(built.path), pos.unionByName(neg), built
        )
    # The witness count RIDES THE WRITE as an observed metric instead of
    # running as its own job over a persisted merge (guide §1.2: one pass
    # where two ran — the old shape was witness-scan job + write job +
    # persist/unpersist). The observation is read after the write to the
    # publish tmp dir finishes, and a dirty batch raises inside `write`,
    # so publish_dir discards the tmp and the stored state is untouched
    # on refusal. The observation point sits ABOVE the zero-count prune
    # so the witness sees every merged row, like a standalone scan would.
    # The stored row count rides the same observation: the rows the
    # zero-count prune below keeps.
    ob = Observation()
    observed = merged.observe(
        ob,
        F.count_if(F.expr(_mid_history(merged.dtypes, dims, count_col, bootstrap))).alias(
            "n_bad"
        ),
        F.count_if(F.col(count_col) != 0).alias("n_rows"),
    )

    def write(tmp: str) -> None:
        observed.filter(F.col(count_col) != 0).write.parquet(tmp)
        if int(ob.get["n_bad"]) > 0:
            _refuse(built, bootstrap)

    publish_dir(built.path, write)
    built.n_rows = int(ob.get["n_rows"])


def _mid_history(dtypes, dims, count_col: str, bootstrap: bool) -> str:
    """The refusal rule of a retraction fold, as a SQL predicate over a
    merged row of columns *dtypes* (``(name, type)`` pairs): true on a
    row that witnesses a changelog starting MID-HISTORY — a negative
    count partial, or a zero count with surviving non-zero mass (no rows
    ⇒ ALL partials zero; a mid-history update nets count to 0 but leaves
    Σ(new−old) behind). Both folds evaluate this one predicate over every
    merged row, before the zero-count prune. Integer partials witness
    exactly with or without state. Float partials witness only when
    *bootstrap*ping (1e-9 band: true self-cancellation there subtracts
    IDENTICAL doubles, exactly 0.0 per row); with pre-existing state, a
    stored float partial carries summation-order residue vs the retracted
    values, so a float-mass check would false-positive — the count
    witnesses still hold."""
    count = f"`{count_col}`"
    terms = [f"{count} < 0"]
    for c, dt in dtypes:
        floating = dt in ("double", "float")
        if c in dims or c == count_col or (floating and not bootstrap):
            continue
        mass = f"coalesce(`{c}`, 0)"
        left = f"abs({mass}) > 1e-9" if floating else f"{mass} != 0"
        terms.append(f"({count} = 0 AND {left})")
    return " OR ".join(terms)


def _refuse(built: BuiltRollup, bootstrap: bool) -> None:
    where = (
        f"no rollup state at {built.path!r} and the change batch"
        if bootstrap
        else f"the rollup state at {built.path!r} plus this change batch"
    )
    raise ValueError(
        f"fold_retractions: {where} retracts rows that were never "
        f"inserted (negative count partial, or zero count with "
        f"surviving mass) — a changelog starting mid-history cannot "
        f"be folded; build the rollup from a source snapshot first, "
        f"then fold changes"
    )


def fold_retractions_on_driver(
    rollups: RollupManager, built: BuiltRollup, before: DataFrame, after: DataFrame
) -> bool:
    """:func:`fold_retractions` on the driver, with no Spark job, for a
    change batch whose frames live on the driver (``isLocal()`` before
    the flat projection, which *before* and *after* are) into a rollup
    that *rollups* serves from there. Returns False, having done nothing,
    when *built* is not such a rollup (Spark-tier, no stored version, or
    a partial with no per-row form); the caller then runs the Spark fold.

    1. Project each frame to its dims plus one per-row contribution per
       partial (:func:`row_contribution`), cast to the stored type and
       negated for *before*, and ``collect`` it: a projection of a
       ``LocalRelation`` runs no job.
    2. Merge the resident table with those signed rows (``merge_table``)
       and cast back to the stored schema, checked: an overflow raises.
    3. Refuse by :func:`_mid_history` over a ``LocalRelation`` of the
       merge, then prune zero-count rows.
    4. Publish with a ``pyarrow.parquet`` writer through ``publish_dir``.
    5. Install the merged table as the resident rollup (write-through);
       one grown past ``DRIVER_MAX_ROWS`` is dropped instead.

    A refusal raises before the publish, so the stored rollup and the
    resident table stay as they were, as they do when the publish fails
    before its promote; a failure after the promote installs the
    committed table before it raises."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as papq
    from pyspark.sql.pandas.types import from_arrow_type

    contribs = {
        c: row_contribution(e) for c, e in partial_columns(built.decompositions).items()
    }
    if None in contribs.values():
        return False
    resident = rollups.resident(built)
    if resident is None:
        return False
    count_col = validate_retractable(built)
    dims = list(built.spec.dimensions)
    schema = resident.table.schema
    types = {f.name: from_arrow_type(f.type).simpleString() for f in schema}

    # SQL text, so each projection is one py4j call, not one per column
    def signed(df: DataFrame, negate: bool) -> list:
        sign = "-" if negate else ""
        return df.selectExpr(
            *[f"CAST(`{d}` AS {types[d]}) AS `{d}`" for d in dims],
            *[f"{sign}CAST(({e}) AS {types[c]}) AS `{c}`" for c, e in contribs.items()],
        ).collect()

    rows = signed(before, True) + signed(after, False)
    by_name = dict(zip(dims + list(contribs), zip(*rows)))
    batch = pa.Table.from_arrays(
        [pa.array(by_name.get(f.name, ()), f.type) for f in schema], schema=schema
    )
    merged = merge_table(
        pa.concat_tables([resident.table, batch]), dims, merge_functions(built.decompositions)
    ).select(schema.names)
    try:
        merged = merged.cast(schema)
    except pa.ArrowInvalid as e:
        raise OverflowError(
            f"fold_retractions: a partial of rollup {built.spec.name!r} "
            f"overflows its stored type"
        ) from e
    # the rows the refusal rule flags or the prune drops; usually none,
    # and then the merge's LocalRelation is the one installed
    bad = _mid_history(types.items(), dims, count_col, bootstrap=False)
    loaded = resident_table(rollups.spark, merged)
    hits = loaded.df.filter(f"({bad}) OR `{count_col}` = 0").selectExpr(
        f"({bad}) AS bad"
    ).collect()
    if any(r.bad for r in hits):
        _refuse(built, bootstrap=False)
    if hits:
        loaded = resident_table(
            rollups.spark, merged.filter(pc.not_equal(merged.column(count_col), 0))
        )
    part = f"part-00000-{uuid.uuid4()}.parquet"

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        papq.write_table(loaded.table, os.path.join(tmp, part))

    try:
        publish_dir(built.path, write)
    except BaseException:
        # a failure after the promote (the aside delete) still committed
        if os.path.exists(os.path.join(built.path, part)):
            built.n_rows = loaded.n_rows
            rollups.install(built, loaded)
        raise
    built.n_rows = loaded.n_rows
    rollups.install(built, loaded)
    return True
