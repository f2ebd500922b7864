"""Crash safety of the one state-directory publish (``publish.py``).

Every state writer replaces its directory through ``publish_dir``; these
tests inject a failure at each step of the protocol — the tmp write, the
rename-aside, the promote and the aside delete — into four of its
callers, then check that ``recover_dir`` finds a complete old or new
version and that the next successful publish leaves no debris.
"""

from __future__ import annotations

import os
import re
import shutil
from pathlib import Path

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

STEPS = ("write", "aside", "promote", "aside_delete")


def _inject(m: pytest.MonkeyPatch, step: str, path: str) -> None:
    """Make the publish of *path* raise at *step*."""
    tmp_prefix, old_prefix = f"{path}__tmp_", f"{path}__old_"
    if step == "write":
        real_parquet = DataFrameWriter.parquet

        def parquet(self, p, *a, **k):
            real_parquet(self, p, *a, **k)  # leave a complete tmp behind
            if p.startswith(tmp_prefix):
                raise OSError("injected failure after the tmp write")

        m.setattr(DataFrameWriter, "parquet", parquet)
    elif step in ("aside", "promote"):
        real_rename = os.rename

        def rename(src, dst, *a, **k):
            if (step == "aside" and dst.startswith(old_prefix)) or (
                step == "promote" and src.startswith(tmp_prefix)
            ):
                raise OSError(f"injected {step} failure")
            return real_rename(src, dst, *a, **k)

        m.setattr(os, "rename", rename)
    else:
        real_rmtree = shutil.rmtree

        def rmtree(p, *a, **k):
            if str(p).startswith(old_prefix):
                raise OSError("injected aside-delete failure")
            return real_rmtree(p, *a, **k)

        m.setattr(shutil, "rmtree", rmtree)


def _debris(path: str) -> list[str]:
    base = os.path.basename(path)
    return sorted(
        n
        for n in os.listdir(os.path.dirname(path))
        if n.startswith((f"{base}__tmp_", f"{base}__old_"))
    )


class _RollupBuild:
    """Full rollup rebuild (``RollupManager.build``) over a changed source."""

    SPEC = """
version: 0.1
source: pub_src
dimensions:
  - name: seg
    expr: seg
measures:
  - name: n
    expr: count(*)
  - name: cents
    expr: sum(cast(round(price * 100) as bigint))
materialization:
  materialized_views:
    - name: by_seg
      type: aggregated
      dimensions: [seg]
      measures: [n, cents]
"""

    def __init__(self, spark, tmp_path: Path):
        from dbt_databricks_metrics_spark.engine import MetricEngine
        from dbt_databricks_metrics_spark.specs import MetricViewSpec

        self.spark = spark
        self._src([(1, "A", 1.0), (2, "B", 2.0)])
        self.eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh"))
        self.eng.register(MetricViewSpec.from_yaml(self.SPEC, name="mv_pub"))
        self.eng.refresh("mv_pub")
        self.path = self.eng.catalog.get("mv_pub").state.rollups["by_seg"].path
        self._src([(1, "A", 1.0), (2, "B", 2.0), (3, "B", 4.0)])

    def _src(self, rows):
        self.spark.createDataFrame(
            rows, "id long, seg string, price double"
        ).createOrReplaceTempView("pub_src")

    def publish(self):
        self.eng.refresh("mv_pub")

    def retry(self, committed: bool):
        self.publish()  # a full rebuild is idempotent

    def read(self):
        return sorted(tuple(r) for r in self.spark.read.parquet(self.path).collect())


class _FoldRetractions(_RollupBuild):
    """One CDC change batch folded by ``fold_retractions``."""

    def __init__(self, spark, tmp_path: Path):
        super().__init__(spark, tmp_path)
        self.built = self.eng.catalog.get("mv_pub").state.rollups["by_seg"]

    def _fold(self, before, after):
        from dbt_databricks_metrics_spark.streaming.refresh import fold_retractions

        schema = "id long, seg string, price double"
        fold_retractions(
            self.spark,
            self.built,
            self.spark.createDataFrame(before, schema),
            self.spark.createDataFrame(after, schema),
        )

    def publish(self):
        self._fold([(2, "B", 2.0)], [(2, "B", 5.0), (4, "C", 1.0)])

    def retry(self, committed: bool):
        # a committed batch must not fold twice: publish an empty batch
        if committed:
            self._fold([], [])
        else:
            self.publish()


class _CdcFoldStream:
    """A ``cdc_fold_stream`` micro-batch over a second change file."""

    SCHEMA = "id long, v string, seq long, op string"

    def __init__(self, spark, tmp_path: Path):
        self.spark = spark
        self.src = str(tmp_path / "feed")
        self.ckpt = str(tmp_path / "ckpt")
        self.path = str(tmp_path / "state")
        self._append([(1, "a", 1, "upsert"), (2, "b", 1, "upsert")])
        self._run()
        self._append([(1, "a2", 2, "upsert"), (2, None, 2, "delete")])

    def _append(self, rows):
        self.spark.createDataFrame(rows, self.SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.src)

    def _run(self):
        from dbt_databricks_metrics_spark.operators.cdc import cdc_fold_stream

        q = cdc_fold_stream(
            self.spark, self.src, self.path, self.ckpt, ["id"], "seq",
            schema=self.SCHEMA,
        )
        q.awaitTermination(120)
        assert not q.isActive

    publish = _run

    def retry(self, committed: bool):
        # the failed micro-batch never reached the checkpoint's commit log,
        # so the restart replays it; a latest-change fold is idempotent
        self._run()

    def read(self):
        return sorted(
            tuple(r) for r in self.spark.read.parquet(self.path).collect()
        )


class _Compaction:
    """``compact_parquet`` of a 20-file table; versions differ in layout."""

    def __init__(self, spark, tmp_path: Path):
        self.spark = spark
        self.path = str(tmp_path / "frag")
        spark.range(2000).repartition(20).write.parquet(self.path)

    def publish(self):
        from dbt_databricks_metrics_spark.sources.readers import compact_parquet

        compact_parquet(self.spark, self.path)

    def retry(self, committed: bool):
        self.publish()

    def read(self):
        n_files = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(self.path) for f in fs
        )
        ids = sorted(r[0] for r in self.spark.read.parquet(self.path).collect())
        assert ids == list(range(2000))
        return n_files


CALLERS = {
    "rollup_build": _RollupBuild,
    "fold_retractions": _FoldRetractions,
    "cdc_fold_stream": _CdcFoldStream,
    "compact_parquet": _Compaction,
}


@pytest.mark.parametrize("step", STEPS)
@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_publish_failure_leaves_a_complete_version(spark, tmp_path, caller, step):
    from dbt_databricks_metrics_spark.publish import recover_dir

    sc = CALLERS[caller](spark, tmp_path)
    old = sc.read()
    with pytest.MonkeyPatch.context() as m:
        _inject(m, step, sc.path)
        with pytest.raises(Exception, match="injected"):
            sc.publish()
    # only a failure after the promote has committed the new version
    committed = step == "aside_delete"
    assert recover_dir(sc.path)
    after_failure = sc.read()
    sc.retry(committed)
    new = sc.read()
    assert new != old
    assert after_failure == (new if committed else old)
    assert _debris(sc.path) == []


def test_publish_to_trailing_slash_path(spark, tmp_path):
    """A state path given with a trailing ``/`` publishes beside itself:
    renaming the dir into its own ``__old_`` child failed with EINVAL and
    left the lock and tmp dirs inside the live state."""
    from dbt_databricks_metrics_spark.ext.dedup import dedup_against_registry

    schema = "doc_id long, text string"
    reg = str(tmp_path / "reg")
    first = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc"), (3, "alpha doc")], schema
    )
    second = spark.createDataFrame([(4, "Alpha  doc"), (5, "gamma doc")], schema)
    kept1 = {r["doc_id"] for r in dedup_against_registry(first, reg + "/").collect()}
    kept2 = {r["doc_id"] for r in dedup_against_registry(second, reg + "/").collect()}
    assert (kept1, kept2) == ({1, 2}, {5})
    assert sorted(r["doc_id"] for r in spark.read.parquet(reg).collect()) == [1, 2, 5]
    assert sorted(os.listdir(tmp_path)) == ["reg", "reg__lock"]
    assert not [n for n in os.listdir(reg) if "__" in n]

    from dbt_databricks_metrics_spark.publish import publish_dir, recover_dir

    publish_dir(reg + "/", spark.range(3).write.parquet)
    assert recover_dir(reg + "/")
    assert sorted(os.listdir(tmp_path)) == ["reg", "reg__lock"]
    assert spark.read.parquet(reg).count() == 3


def test_only_the_publish_module_renames_directories():
    pkg = Path(__file__).resolve().parents[1] / "dbt_databricks_metrics_spark"
    pattern = re.compile(r"\bos\.(rename|replace)\b")
    offenders = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if p.name != "publish.py" and pattern.search(p.read_text())
    )
    assert offenders == []


def test_incremental_model_first_write_crash_leaves_no_state(spark, tmp_path):
    """A crash in the middle of an ``incremental`` model's first full
    write leaves no ``path``: the next run bootstraps the full set instead
    of taking the partial table for existing state and extending it."""
    from dbt_databricks_metrics_spark.models import ModelRegistry, Runner

    reg = ModelRegistry()
    seen = []

    @reg.model("inc", materialized="incremental")
    def inc(spark_, ref, ctx):
        seen.append(ctx.is_incremental)
        if ctx.is_incremental:
            hi = ctx.existing().agg(F.max("id")).first()[0]
            return spark_.range(hi + 1, hi + 3).select("id")
        return spark_.range(10).select("id")

    path = str(tmp_path / "inc")
    real_parquet = DataFrameWriter.parquet

    def crash(self, p, *a, **k):
        # part of the table reaches disk, then the process dies
        real_parquet(spark.range(4).select("id").write, p)
        raise OSError("injected crash mid-write")

    with pytest.MonkeyPatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", crash)
        with pytest.raises(Exception, match="injected"):
            Runner(spark, reg, warehouse_dir=str(tmp_path)).run()
    assert not os.path.exists(path)
    assert _debris(path) == []
    out = Runner(spark, reg, warehouse_dir=str(tmp_path)).run()["inc"]
    assert seen == [False, False]
    assert sorted(r["id"] for r in out.collect()) == list(range(10))
