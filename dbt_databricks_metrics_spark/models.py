"""Model registry + DAG runner — the dbt graph, natively on Spark.

The reference arranges SQL models in a dependency DAG via ``ref()``
(``models/marts/fct_orders.sql:22-24``) and materializes each as a view
(``models/staging/stg_orders.sql:4-8``) or table
(``models/marts/fct_orders.sql:4-8``), executed in topological order by
``dbt run``. Here a *model* is a Python function ``(spark, ref) ->
DataFrame`` where ``ref(name)`` returns the materialized DataFrame of an
upstream model — lazy DataFrame lineage gives Catalyst the full intra-query
plan, so view-materialized chains collapse into one optimized plan.

Materializations:

* ``view`` — the DataFrame is registered as a temp view and flows on
  unmaterialized (recomputed per reader; Catalyst sees through it).
* ``table`` — CTAS semantics: the DataFrame is written to parquet under the
  run's warehouse directory and re-read, cutting lineage exactly like a
  physical table. At scale, pass ``partition_by`` so marts land
  partitioned for downstream partition pruning.
* ``ephemeral`` — dbt's inlined-CTE materialization: the model exists only
  as a DataFrame for downstream ``ref()``s (Catalyst inlines it into each
  consumer's plan); nothing is written and no view is registered.
* ``incremental`` — dbt's incremental models. First run behaves like
  ``table``; later runs fold only the new slice in, per
  ``incremental_strategy``: ``append`` (new files appended),
  ``insert_overwrite`` (dynamic partition overwrite — only the partitions
  present in the increment are replaced; requires ``partition_by``; the
  dbt-spark default for file-backed tables), or ``merge`` (upsert by
  ``unique_key`` via anti-join + rewrite — honest about parquet having no
  transactional MERGE; use a table format with MERGE for true in-place
  upserts at scale). Model fns that accept a third argument receive an
  :class:`IncrementalContext` (``is_incremental`` / ``existing()``) to
  filter their source to the new slice, dbt's ``is_incremental()`` jinja
  idiom.
* ``snapshot`` — dbt snapshots: SCD Type-2 change tracking. Each run
  compares the model's current rows against the open (``valid_to IS
  NULL``) generation by ``unique_key`` + a hash of ``check_cols``,
  closing changed/deleted rows at ``snapshot_at`` and inserting new
  generations. One full-outer join per run, keyed on ``unique_key``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from .publish import publish_dir, recover_dir

ModelFn = Callable[..., DataFrame]


class ModelError(ValueError):
    pass


_MATERIALIZATIONS = ("view", "table", "ephemeral", "incremental", "snapshot")
_INC_STRATEGIES = ("append", "insert_overwrite", "merge")


@dataclass
class IncrementalContext:
    """What an incremental model fn sees as its third argument — dbt's
    ``is_incremental()`` + ``{{ this }}`` pair."""

    is_incremental: bool
    _existing: Optional[Callable[[], DataFrame]] = None

    def existing(self) -> Optional[DataFrame]:
        """The previously materialized table (None on the first run) —
        e.g. to read ``max(watermark_col)`` for the new-slice filter."""
        return self._existing() if self._existing else None


@dataclass
class Model:
    name: str
    fn: ModelFn
    deps: tuple[str, ...] = ()
    materialized: str = "view"  # one of _MATERIALIZATIONS
    partition_by: tuple[str, ...] = ()
    # (num_buckets, key_columns): hash-bucket the table on the join key so
    # equi-joins between tables bucketed the same way need NO shuffle on
    # either side — the co-location lever for fact-to-fact joins at scale
    bucket_by: Optional[tuple[int, tuple[str, ...]]] = None
    sort_by: tuple[str, ...] = ()  # within-bucket sort (skips the SMJ sort)
    incremental_strategy: str = "append"  # one of _INC_STRATEGIES
    unique_key: tuple[str, ...] = ()  # incremental 'merge' / snapshot key
    check_cols: tuple[str, ...] = ()  # snapshot change columns (() = all)
    description: Optional[str] = None
    # metric_view metadata attached via meta (schema.yml meta.metric_view)
    meta: dict[str, Any] = field(default_factory=dict)


class ModelRegistry:
    """Named models + ``ref()`` edges; topological execution.

    Mirrors the graph walk of ``macros/generate_metric_views.sql:19-29``:
    models carry optional ``meta['metric_view']`` blocks that the engine
    turns into metric-view registrations after a run (the ``on-run-end``
    hook semantics of ``dbt_project.yml:19-21``).
    """

    def __init__(self) -> None:
        self._models: dict[str, Model] = {}
        self._exposures: dict[str, Exposure] = {}
        self._state_manifest: "Optional[dict[str, str]]" = None

    def exposure(
        self,
        name: str,
        depends_on: "tuple[str, ...] | list[str]",
        owner: Optional[str] = None,
        type: str = "dashboard",
        url: Optional[str] = None,
        description: Optional[str] = None,
    ) -> "Exposure":
        """dbt exposures: a declared downstream consumer (dashboard,
        notebook, ML pipeline) of models/metric views. Dependencies are
        validated lazily at ``run()`` time via :meth:`check_exposures`
        (a dependency may be a metric view registered only after the
        run's on-run-end hook)."""
        if name in self._exposures:
            raise ModelError(f"duplicate exposure {name!r}")
        exp = Exposure(
            name=name,
            depends_on=tuple(depends_on),
            owner=owner,
            type=type,
            url=url,
            description=description,
        )
        self._exposures[name] = exp
        return exp

    def exposures(self) -> "list[Exposure]":
        return list(self._exposures.values())

    def check_exposures(self, known_extra: Sequence[str] = ()) -> None:
        """Every exposure dependency must resolve to a model or one of
        *known_extra* (e.g. registered metric views) — dangling refs are
        exactly the rot exposures exist to catch."""
        known = set(self._models) | set(known_extra)
        for exp in self._exposures.values():
            missing = [d for d in exp.depends_on if d not in known]
            if missing:
                raise ModelError(
                    f"exposure {exp.name!r} depends on unknown refs {missing}"
                )

    def model(
        self,
        name: Optional[str] = None,
        *,
        deps: tuple[str, ...] | list[str] = (),
        materialized: str = "view",
        partition_by: tuple[str, ...] | list[str] = (),
        bucket_by: Optional[tuple[int, tuple[str, ...] | list[str]]] = None,
        sort_by: tuple[str, ...] | list[str] = (),
        incremental_strategy: str = "append",
        unique_key: tuple[str, ...] | list[str] = (),
        check_cols: tuple[str, ...] | list[str] = (),
        description: Optional[str] = None,
        meta: Optional[dict[str, Any]] = None,
    ) -> Callable[[ModelFn], ModelFn]:
        """Decorator: register a model function ``(spark, ref) -> DataFrame``."""

        def deco(fn: ModelFn) -> ModelFn:
            mname = name or fn.__name__
            if materialized not in _MATERIALIZATIONS:
                raise ModelError(
                    f"model {mname!r}: materialized must be one of "
                    f"{_MATERIALIZATIONS}"
                )
            if bucket_by is not None and materialized != "table":
                raise ModelError(f"model {mname!r}: bucket_by requires materialized='table'")
            if materialized == "incremental":
                if incremental_strategy not in _INC_STRATEGIES:
                    raise ModelError(
                        f"model {mname!r}: incremental_strategy must be one "
                        f"of {_INC_STRATEGIES}"
                    )
                if incremental_strategy == "insert_overwrite" and not partition_by:
                    raise ModelError(
                        f"model {mname!r}: insert_overwrite requires partition_by"
                    )
                if incremental_strategy == "merge" and not unique_key:
                    raise ModelError(
                        f"model {mname!r}: merge strategy requires unique_key"
                    )
            if materialized == "snapshot" and not unique_key:
                raise ModelError(f"model {mname!r}: snapshot requires unique_key")
            if mname in self._models:
                raise ModelError(f"duplicate model {mname!r}")
            self._models[mname] = Model(
                name=mname,
                fn=fn,
                deps=tuple(deps),
                materialized=materialized,
                partition_by=tuple(partition_by),
                bucket_by=(bucket_by[0], tuple(bucket_by[1])) if bucket_by else None,
                sort_by=tuple(sort_by),
                incremental_strategy=incremental_strategy,
                unique_key=tuple(unique_key),
                check_cols=tuple(check_cols),
                description=description,
                meta=dict(meta or {}),
            )
            return fn

        return deco

    def add(self, model: Model) -> None:
        if model.name in self._models:
            raise ModelError(f"duplicate model {model.name!r}")
        self._models[model.name] = model

    def seed(
        self,
        name: str,
        path: str,
        schema=None,
        description: Optional[str] = None,
        **csv_options: str,
    ) -> None:
        """dbt seeds: a version-controlled CSV loaded as a table model
        (``dbt seed`` semantics — the file IS the source of truth; the
        run rewrites the table from it). Pass an explicit *schema* in
        production; inference costs an extra pass and guesses types."""

        def fn(spark: SparkSession, ref) -> DataFrame:
            from .sources.readers import read_source

            return read_source(spark, path, format="csv", schema=schema, **csv_options)

        self.add(
            Model(
                name=name,
                fn=fn,
                materialized="table",
                description=description or f"seed from {path}",
                # recorded so state:modified fingerprints cover the seed's
                # identity (path/options via the meta hash) AND contents
                # (file checksum in fingerprints() — dbt checksums seeds)
                meta={
                    "seed": {
                        "path": path,
                        "schema": str(schema),
                        "csv_options": dict(csv_options),
                    }
                },
            )
        )

    def __contains__(self, name: str) -> bool:
        return name in self._models

    def __getitem__(self, name: str) -> Model:
        try:
            return self._models[name]
        except KeyError:
            raise ModelError(f"unknown model {name!r}") from None

    def names(self) -> list[str]:
        return list(self._models)

    def _children(self) -> dict[str, list[str]]:
        ch: dict[str, list[str]] = {n: [] for n in self._models}
        for m in self._models.values():
            for d in m.deps:
                ch.setdefault(d, []).append(m.name)
        return ch

    def _walk(
        self, start: str, edges: dict[str, list[str]], depth: Optional[int]
    ) -> set[str]:
        out: set[str] = set()
        frontier = [start]
        level = 0
        while frontier and (depth is None or level < depth):
            level += 1
            nxt: list[str] = []
            for n in frontier:
                for x in edges.get(n, []):
                    if x not in out:
                        out.add(x)
                        nxt.append(x)
            frontier = nxt
        return out

    def fingerprints(self) -> dict[str, str]:
        """Content fingerprint per model — the basis of dbt's
        ``state:modified`` slim-CI selection: the model function's source
        plus every build-affecting config field, hashed. A fingerprint
        changes iff a rebuild could produce different output (source
        edit, dep change, materialization/partitioning/incremental
        config, or attached metric-view meta)."""
        import hashlib
        import inspect
        import json
        import os
        import types

        def stable_code(code) -> str:
            """Reproducible code-object digest: bytecode + names, with
            nested code objects recursed and everything address-bearing
            (repr of code/function objects) excluded."""
            parts = [
                code.co_code.hex(),
                repr(code.co_names),
                repr(code.co_varnames),
                repr(code.co_freevars),
            ]
            for c in code.co_consts:
                if isinstance(c, types.CodeType):
                    parts.append(stable_code(c))
                elif isinstance(c, (str, bytes, int, float, bool, tuple, frozenset)) or c is None:
                    parts.append(repr(c))
                else:
                    parts.append(type(c).__name__)
            return hashlib.sha256("|".join(parts).encode()).hexdigest()

        def stable_cell(v) -> str:
            """Closure-captured state enters the fingerprint where it is
            stable: primitives by value, functions/code by their stable
            digest, everything else by type name (better a rare false
            'modified' than a silent false 'unchanged')."""
            if isinstance(v, (str, bytes, int, float, bool, tuple, frozenset)) or v is None:
                return repr(v)
            if isinstance(v, dict):
                return json.dumps(v, sort_keys=True, default=str)
            if isinstance(v, types.FunctionType):
                return stable_code(v.__code__)
            if isinstance(v, types.CodeType):
                return stable_code(v)
            return type(v).__name__

        out: dict[str, str] = {}
        for n, m in sorted(self._models.items()):
            try:
                src = inspect.getsource(m.fn)
            except (OSError, TypeError):  # builtins / dynamically built fns
                code = getattr(m.fn, "__code__", None)
                src = stable_code(code) if code is not None else m.fn.__class__.__name__
            cells = getattr(m.fn, "__closure__", None) or ()
            if cells:
                src += "\n[closure] " + "|".join(
                    stable_cell(c.cell_contents) for c in cells
                )
            seed_meta = (m.meta or {}).get("seed")
            if seed_meta and isinstance(seed_meta, dict):
                sp = seed_meta.get("path")
                if sp and os.path.exists(sp):
                    with open(sp, "rb") as f:
                        src += "\n[seed sha256] " + hashlib.sha256(f.read()).hexdigest()
            cfg = {
                "deps": m.deps,
                "materialized": m.materialized,
                "partition_by": m.partition_by,
                "bucket_by": m.bucket_by,
                "sort_by": m.sort_by,
                "incremental_strategy": m.incremental_strategy,
                "unique_key": m.unique_key,
                "check_cols": m.check_cols,
                "meta": m.meta,
            }
            payload = src + "\n" + json.dumps(cfg, sort_keys=True, default=str)
            out[n] = hashlib.sha256(payload.encode()).hexdigest()
        return out

    def write_manifest(self, path: str) -> dict[str, str]:
        """Persist the current fingerprints — the ``--state`` artifact a
        later run compares against. Returns what was written."""
        import json

        fps = self.fingerprints()
        with open(path, "w") as f:
            json.dump({"version": 1, "models": fps}, f, indent=2, sort_keys=True)
        return fps

    def load_state(self, path: str) -> None:
        """Load a prior manifest for ``state:modified`` / ``state:new``
        selection (dbt's ``--state`` flag)."""
        import json

        with open(path) as f:
            doc = json.load(f)
        self._state_manifest = dict(doc.get("models", {}))

    def select_models(self, selectors: Sequence[str]) -> list[str]:
        """dbt node-selection syntax (public dbt `--select` grammar) over
        the model graph: ``model``, ``+model`` (ancestors), ``model+``
        (descendants), ``N+model`` / ``model+N`` (bounded degree),
        ``+model+``, ``@model`` (model, its descendants, and ALL their
        ancestors — the "build everything this subtree needs" form) and
        ``tag:x`` (models whose ``meta['tags']`` contains x). Items
        union; ``,``-joined parts within one item intersect (dbt's
        space-vs-comma semantics). Returns names in topo order."""
        import re

        parents = {n: list(m.deps) for n, m in self._models.items()}
        children = self._children()

        def atom(sel: str) -> set[str]:
            sel = sel.strip()
            sm = re.fullmatch(r"state:(modified|new)(\+)?", sel)
            if sm:
                if self._state_manifest is None:
                    raise ModelError(
                        "state: selectors need a prior manifest — call "
                        "load_state(path) (written by write_manifest) first"
                    )
                fps = self.fingerprints()
                if sm.group(1) == "new":
                    picked = {n for n in fps if n not in self._state_manifest}
                else:
                    picked = {
                        n
                        for n, fp in fps.items()
                        if self._state_manifest.get(n) != fp
                    }
                if sm.group(2):  # state:modified+ -> changed + descendants
                    for n in list(picked):
                        picked |= self._walk(n, children, None)
                return picked
            if sel.startswith("tag:"):
                tag = sel[4:]
                return {
                    n
                    for n, m in self._models.items()
                    if tag in tuple(m.meta.get("tags", ()))
                }
            if sel.startswith("@"):
                name = sel[1:]
                self[name]  # raises on unknown
                picked = {name} | self._walk(name, children, None)
                for d in list(picked):
                    picked |= self._walk(d, parents, None)
                return picked
            m = re.fullmatch(r"(?:(\d*)\+)?([A-Za-z0-9_.]+)(?:\+(\d*))?", sel)
            if not m:
                raise ModelError(f"unparseable selector {sel!r}")
            up, name, down = m.group(1), m.group(2), m.group(3)
            self[name]  # raises on unknown
            picked = {name}
            if up is not None:
                picked |= self._walk(name, parents, int(up) if up else None)
            if down is not None:
                picked |= self._walk(name, children, int(down) if down else None)
            return picked

        selected: set[str] = set()
        for item in selectors:
            for union_part in item.split():
                parts = [p for p in union_part.split(",") if p]
                sets = [atom(p) for p in parts]
                got = set.intersection(*sets) if sets else set()
                selected |= got
        return [n for n in self.topo_order() if n in selected]

    def topo_order(self) -> list[str]:
        """Kahn topo sort over declared deps; stable w.r.t. insertion order."""
        indeg = {n: 0 for n in self._models}
        for m in self._models.values():
            for d in m.deps:
                if d not in self._models:
                    raise ModelError(f"model {m.name!r} depends on unknown model {d!r}")
                indeg[m.name] += 1
        ready = [n for n, k in indeg.items() if k == 0]
        out: list[str] = []
        while ready:
            n = ready.pop(0)
            out.append(n)
            for m in self._models.values():
                if n in m.deps:
                    indeg[m.name] -= 1
                    if indeg[m.name] == 0:
                        ready.append(m.name)
        if len(out) != len(self._models):
            cyc = sorted(set(self._models) - set(out))
            raise ModelError(f"dependency cycle among models: {cyc}")
        return out


@dataclass(frozen=True)
class Exposure:
    """A declared downstream consumer (dbt ``exposures:``)."""

    name: str
    depends_on: tuple[str, ...]
    owner: Optional[str] = None
    type: str = "dashboard"
    url: Optional[str] = None
    description: Optional[str] = None


@dataclass(frozen=True)
class RunResult:
    """One model's outcome in a run — the dbt ``run_results.json`` row."""

    model: str
    materialized: str
    status: str  # 'success' | 'error'
    duration_s: float
    message: Optional[str] = None


class Runner:
    """Executes a registry against a SparkSession (``dbt run`` equivalent)."""

    def __init__(
        self,
        spark: SparkSession,
        registry: ModelRegistry,
        warehouse_dir: Optional[str] = None,
        snapshot_at: Optional[str] = None,
    ) -> None:
        self.spark = spark
        self.registry = registry
        self.warehouse_dir = warehouse_dir
        # SCD2 effective date for this run's snapshot models (explicit, so
        # runs are deterministic and replayable — dbt stamps wall-clock)
        self.snapshot_at = snapshot_at
        self._built: dict[str, DataFrame] = {}
        # per-model outcome of the most recent run() (dbt run_results)
        self.run_results: list[RunResult] = []

    def ref(self, name: str) -> DataFrame:
        """dbt ``ref()``: the materialized output of an upstream model."""
        if name not in self._built:
            raise ModelError(
                f"ref({name!r}) before it was built — declare it in deps=[...]"
            )
        return self._built[name]

    def run(
        self, select: Optional[list[str]] = None, parallel: bool = True
    ) -> dict[str, DataFrame]:
        """Build all (or selected + upstream) models in topo order.

        With *parallel* (default), models whose dependencies are satisfied
        build concurrently — Spark's scheduler accepts job submissions from
        multiple threads, so independent marts (e.g. ``fct_orders`` and
        ``fct_customer_summary``) materialize side by side instead of
        serially, exactly as dbt's ``threads:`` setting does against a
        warehouse. Dependency order is still honored via topological waves.
        """
        order = self.registry.topo_order()
        if select is not None:
            # dbt graph-selector syntax expands to model names first;
            # plain names pass through unchanged
            if any(
                "+" in s or "@" in s or "," in s or " " in s
                or s.startswith("tag:") or s.startswith("state:")
                for s in select
            ):
                select = self.registry.select_models(select)
            needed: set[str] = set()

            def visit(n: str) -> None:
                if n in needed:
                    return
                needed.add(n)
                for d in self.registry[n].deps:
                    visit(d)

            for s in select:
                visit(s)
            order = [n for n in order if n in needed]
        # the models THIS call materialized (ref() accumulates across
        # runs; engine.build scopes its data checks to this list)
        self.last_run_models = list(order)

        # topological waves: wave(m) = 1 + max(wave(deps)); every model in a
        # wave depends only on earlier waves, so a wave can run concurrently
        wave: dict[str, int] = {}
        for name in order:
            deps = [d for d in self.registry[name].deps]
            wave[name] = 1 + max((wave[d] for d in deps), default=-1)
        n_waves = max(wave.values(), default=-1) + 1
        results: dict[str, RunResult] = {}

        def _timed(name: str) -> DataFrame:
            model = self.registry[name]
            t0 = time.perf_counter()
            try:
                df = self._materialize(model)
            except Exception as e:  # record, then surface — dbt marks 'error'
                results[name] = RunResult(
                    name,
                    model.materialized,
                    "error",
                    round(time.perf_counter() - t0, 4),
                    message=f"{type(e).__name__}: {e}",
                )
                self.run_results = [results[n] for n in order if n in results]
                raise
            results[name] = RunResult(
                name,
                model.materialized,
                "success",
                round(time.perf_counter() - t0, 4),
            )
            return df

        for w in range(n_waves):
            members = [n for n in order if wave[n] == w]
            if len(members) == 1 or not parallel:
                for name in members:
                    self._built[name] = _timed(name)
            else:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=len(members)) as ex:
                    futures = {n: ex.submit(_timed, n) for n in members}
                    for n in members:  # deterministic insertion order
                        self._built[n] = futures[n].result()
        self.run_results = [results[n] for n in order if n in results]
        return dict(self._built)

    def _materialize(self, model: Model) -> DataFrame:
        if model.materialized == "incremental":
            return self._check_contract(model, self._materialize_incremental(model))
        if model.materialized == "snapshot":
            return self._materialize_snapshot(model)
        df = self._check_contract(model, model.fn(self.spark, self.ref))
        if model.materialized == "ephemeral":
            # dbt's inlined CTE: downstream ref()s get the DataFrame and
            # Catalyst fuses it into their plans; nothing persists and no
            # view is registered
            return df
        if model.materialized == "table":
            if not self.warehouse_dir:
                raise ModelError(
                    f"model {model.name!r} is table-materialized but no warehouse_dir set"
                )
            path = os.path.join(self.warehouse_dir, model.name)
            out = df
            if model.partition_by and not model.bucket_by:
                # AQE REBALANCE on the partition keys before a partitioned
                # write: without it every task opens a writer per partition
                # value (small-files explosion at cluster scale — 1000
                # tasks × K values = 1000K files); with it each partition
                # value lands in few tasks, and AQE still SPLITS a skewed
                # value across tasks (unlike a plain repartition, which
                # would bottleneck a hot partition on one task).
                out = df.hint("rebalance", *model.partition_by)
            writer = out.write.mode("overwrite")
            if model.partition_by:
                writer = writer.partitionBy(*model.partition_by)
            if model.bucket_by:
                # bucket metadata only survives through the session catalog,
                # so bucketed tables go through saveAsTable (external, with
                # an explicit path under this engine's warehouse dir)
                n, cols = model.bucket_by
                writer = writer.bucketBy(n, *cols).format("parquet")
                if model.sort_by:
                    writer = writer.sortBy(*model.sort_by)
                self.spark.sql(f"DROP TABLE IF EXISTS {model.name}")
                writer.option("path", path).saveAsTable(model.name)
                return self.spark.table(model.name)
            writer.parquet(path)
            df = self.spark.read.parquet(path)
        df.createOrReplaceTempView(model.name)
        return df

    def _check_contract(self, model: Model, df: DataFrame) -> DataFrame:
        """dbt model contracts (``contract: enforced``): a model with
        ``meta['contract']`` never builds with the wrong schema — the
        check is pure metadata (no job runs)."""
        contract = model.meta.get("contract")
        if contract:
            from .checks import enforce_contract

            try:
                enforce_contract(model.name, df, contract)
            except ValueError as e:
                raise ModelError(str(e)) from None
        return df

    def _model_path(self, model: Model) -> str:
        if not self.warehouse_dir:
            raise ModelError(
                f"model {model.name!r} is {model.materialized}-materialized "
                "but no warehouse_dir set"
            )
        return os.path.join(self.warehouse_dir, model.name)

    def _call_model_fn(self, model: Model, ctx: IncrementalContext) -> DataFrame:
        """Pass the incremental context to fns that declare a 3rd param
        (dbt's ``is_incremental()`` idiom); 2-arg fns build the full set."""
        import inspect

        try:
            n_params = len(inspect.signature(model.fn).parameters)
        except (TypeError, ValueError):
            n_params = 2
        if n_params >= 3:
            return model.fn(self.spark, self.ref, ctx)
        return model.fn(self.spark, self.ref)

    def _materialize_incremental(self, model: Model) -> DataFrame:
        path = self._model_path(model)
        exists = recover_dir(path)
        ctx = IncrementalContext(
            is_incremental=exists,
            _existing=(lambda: self.spark.read.parquet(path)) if exists else None,
        )
        df = self._call_model_fn(model, ctx)
        if not exists:
            # the first full build publishes whole: a crash mid-write must
            # not leave a partial `path` that the next run would take for
            # existing state and extend incrementally
            writer = df.write
            if model.partition_by:
                writer = writer.partitionBy(*model.partition_by)
            publish_dir(path, writer.parquet)
        elif model.incremental_strategy == "append":
            writer = df.write.mode("append")
            if model.partition_by:
                writer = writer.partitionBy(*model.partition_by)
            writer.parquet(path)
        elif model.incremental_strategy == "insert_overwrite":
            # dynamic partition overwrite: only partitions present in the
            # increment are replaced — the dbt-spark insert_overwrite
            # strategy, and the scalable one for file-backed tables (the
            # write touches |increment| data, never the full table)
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*model.partition_by)
                .parquet(path)
            )
        else:  # merge
            old = self.spark.read.parquet(path)
            keys = list(model.unique_key)
            merged = old.join(
                df.select(*keys).distinct(), keys, "left_anti"
            ).unionByName(df)
            # parquet has no transactional MERGE: the upsert rewrites the
            # table (anti-join + union + publish). Honest fallback — at 100 TB
            # use insert_overwrite partitioning or a table format with MERGE
            publish_dir(path, merged.write.parquet)
        out = self.spark.read.parquet(path)
        out.createOrReplaceTempView(model.name)
        return out

    def _materialize_snapshot(self, model: Model) -> DataFrame:
        if not self.snapshot_at:
            raise ModelError(
                f"model {model.name!r} is a snapshot — pass snapshot_at "
                "(e.g. Runner(..., snapshot_at='2024-01-01'))"
            )
        path = self._model_path(model)
        df = model.fn(self.spark, self.ref)
        out = snapshot_scd2(
            self.spark,
            df,
            path,
            unique_key=model.unique_key,
            check_cols=model.check_cols or None,
            snapshot_at=self.snapshot_at,
        )
        out.createOrReplaceTempView(model.name)
        return out


def snapshot_scd2(
    spark: SparkSession,
    new_df: DataFrame,
    path: str,
    unique_key: tuple[str, ...] | list[str],
    check_cols: Optional[tuple[str, ...] | list[str]] = None,
    snapshot_at: str = "1970-01-01",
    invalidate_hard_deletes: bool = False,
) -> DataFrame:
    """SCD Type-2 snapshot fold — dbt's ``check`` snapshot strategy.

    Maintains a history table at *path* with two extra columns:
    ``valid_from`` / ``valid_to`` (dates; the open generation has
    ``valid_to IS NULL``). Each call compares *new_df* against the open
    generation by *unique_key* and a hash over *check_cols* (default: all
    non-key columns, in schema order):

    * unchanged rows keep their open generation;
    * changed rows close the old generation at *snapshot_at* and insert a
      new open one;
    * new keys insert an open generation;
    * keys absent from *new_df* stay open unless
      ``invalidate_hard_deletes`` (then they close at *snapshot_at*).

    Plan shape: ONE full-outer join keyed on *unique_key* between the open
    generation and the snapshot (closed history passes through untouched),
    then one ``publish_dir`` — |history| + |snapshot| rows per run, no
    per-row driver logic. The change hash is ``xxhash64`` over the check
    columns (stored as ``scd_hash``, so later runs never re-derive old
    hashes).

    *snapshot_at* must be strictly later than any previous run's value —
    generations are dated, not versioned (same-date re-runs would produce
    zero-length generations).
    """
    from pyspark.sql import functions as F

    keys = list(unique_key)
    if not keys:
        raise ModelError("snapshot_scd2: unique_key is required")
    data_cols = [c for c in new_df.columns if c not in keys]
    checks = list(check_cols) if check_cols else data_cols
    missing = [c for c in checks if c not in new_df.columns]
    if missing:
        raise ModelError(f"snapshot_scd2: check_cols not in snapshot: {missing}")
    at = F.lit(snapshot_at).cast("date")

    snap = new_df.withColumn("scd_hash", F.xxhash64(*[F.col(c) for c in checks]))
    if not recover_dir(path):
        first = snap.select(
            *keys, *data_cols, "scd_hash",
            at.alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
        )
        publish_dir(path, first.write.parquet)
        return spark.read.parquet(path)

    hist = spark.read.parquet(path)
    closed = hist.filter(F.col("valid_to").isNotNull())
    cur = hist.filter(F.col("valid_to").isNull())

    new_side = snap.select(
        *[F.col(c).alias(f"_n_{c}") for c in (*keys, *data_cols)],
        F.col("scd_hash").alias("_n_hash"),
    )
    cond = [cur[k] == new_side[f"_n_{k}"] for k in keys]
    j = cur.join(new_side, cond, "full_outer")

    in_new = new_side[f"_n_{keys[0]}"].isNotNull()
    in_cur = cur[keys[0]].isNotNull()
    changed = in_cur & in_new & (cur["scd_hash"] != new_side["_n_hash"])

    # existing open generations: close when changed (or hard-deleted)
    close_when = changed | (
        (in_cur & ~in_new) if invalidate_hard_deletes else F.lit(False)
    )
    kept = j.filter(in_cur).select(
        *[cur[c] for c in (*keys, *data_cols, "scd_hash", "valid_from")],
        F.when(close_when, at).otherwise(cur["valid_to"]).alias("valid_to"),
    )
    # new open generations: changed rows + brand-new keys
    opened = j.filter(in_new & (changed | ~in_cur)).select(
        *[new_side[f"_n_{c}"].alias(c) for c in (*keys, *data_cols)],
        new_side["_n_hash"].alias("scd_hash"),
        at.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    publish_dir(path, closed.unionByName(kept).unionByName(opened).write.parquet)
    return spark.read.parquet(path)
