"""The benchmark's workloads.

Each workload builds its inputs from the run's seed, sets the engine up
the way a user does, and then serves a closed loop of operations. An
operation returns the latency (ms) a user sees for it and raises
:class:`Mismatch` when its output is wrong.
"""

from __future__ import annotations

import gc
import math
import os
import random
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Optional

from .trace import Summary, median


class Mismatch(Exception):
    """An operation returned a wrong result."""


def _same(a: Any, b: Any) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def rows_key(rows: list) -> list[tuple]:
    """Order-independent form of collected rows."""
    return sorted((tuple(r) for r in rows), key=repr)


def check_rows(label: str, got: list, want: list) -> None:
    g, w = rows_key(got), rows_key(want)
    if not _same(g, w):
        raise Mismatch(f"{label}: {len(g)} rows differ from the {len(w)} expected")


class Workload:
    """Interface the runner drives."""

    name = ""
    clients = 1

    def setup(self, b) -> None:
        """User-visible set-up after the session starts (timed)."""

    def prepare(self, b) -> None:
        """Reference results for the correctness checks (untimed)."""

    def op(self, b, client: int, i: int) -> float:
        raise NotImplementedError

    def finish(self, b) -> tuple[int, int]:
        """End-of-run checks: (checks run, checks failed)."""
        return 0, 0

    def diagnostics(self) -> dict:
        return {}

    def layer_metrics(self, summ: Summary) -> dict[str, float]:
        return {}


def new_engine(b) -> Any:
    from dbt_databricks_metrics_spark.engine import MetricEngine
    from dbt_databricks_metrics_spark.project import build_registry

    return MetricEngine(b.spark, build_registry(b.data_dir),
                        warehouse_dir=os.path.join(b.tmp, "warehouse"))


def start_engine(b) -> Any:
    """``MetricEngine.run``: the dbt run a user does before querying."""
    eng = new_engine(b)
    eng.run()
    return eng


# ---------------------------------------------------------------------------
# metric-view read workloads


class Shape:
    """One tile: a query shape with an optional seeded WHERE slice."""

    def __init__(self, view: str, dims: tuple, measures: tuple,
                 where: Optional[str] = None, values: tuple = (),
                 sql: bool = False) -> None:
        self.view, self.dims, self.measures = view, dims, measures
        self.where_tpl, self.values, self.sql = where, values, sql

    def instantiate(self, rng: random.Random) -> "Tile":
        where = None
        if self.where_tpl:
            where = self.where_tpl.format(rng.choice(self.values))
        return Tile(self, where)


class Tile:
    def __init__(self, shape: Shape, where: Optional[str]) -> None:
        self.shape, self.where = shape, where

    def text(self) -> str:
        s = self.shape
        cols = list(s.dims) + [f"MEASURE({m}) AS {m}" for m in s.measures]
        text = f"SELECT {', '.join(cols)} FROM {s.view}"
        if self.where:
            text += f" WHERE {self.where}"
        if s.dims:
            text += f" GROUP BY {', '.join(s.dims)}"
        return text

    def run(self, eng) -> list:
        s = self.shape
        if s.sql:
            return eng.sql(self.text()).collect()
        return eng.metric_view(s.view).query(s.dims, s.measures,
                                             where=self.where).collect()

    def reference(self, eng) -> list:
        """The same shape compiled without routing (straight off the
        source)."""
        from dbt_databricks_metrics_spark.plans.compiler import MetricQuery

        s = self.shape
        spec = eng.metric_view(s.view).spec
        q = MetricQuery(spec, s.dims, s.measures, where=self.where)
        return eng._compiler.compile(q).select(*s.dims, *s.measures).collect()


STATUS = ("F", "O", "P")
YEARS = tuple(range(1995, 2002))
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

# Every dashboard shape is covered by a declared rollup; half go through
# the MEASURE() SQL front-end, half through MetricView.query.
DASHBOARD_SHAPES = (
    Shape("mv_order_metrics", ("market_segment",), ("total_revenue", "total_orders"),
          sql=True),
    Shape("mv_order_metrics", ("market_segment",), ("total_revenue",),
          where="order_status = '{}'", values=STATUS),
    Shape("mv_order_metrics", ("order_year", "order_month"), ("total_revenue",),
          where="order_year = {}", values=YEARS, sql=True),
    Shape("mv_orders_simple", ("order_status",), ("order_count", "total_revenue")),
    Shape("mv_lineitem_pricing", ("return_flag", "line_status"),
          ("sum_qty", "sum_base_price", "avg_price", "count_order"), sql=True),
    Shape("mv_lineitem_pricing", ("ship_year", "ship_month"),
          ("sum_disc_price", "count_order"), where="ship_year = {}", values=YEARS),
    Shape("mv_lineitem_pricing", ("return_flag",), ("sum_charge", "avg_disc"),
          where="line_status = '{}'", values=("F", "O"), sql=True),
    Shape("mv_order_metrics", ("order_status",), ("total_orders", "total_revenue")),
)

# No rollup covers these: windows, non-decomposable measures, the star
# joins, the customer view, and slices on non-rollup dimensions.
ADHOC_SHAPES = (
    Shape("mv_order_metrics", ("market_segment",), ("trailing_7d_revenue",)),
    Shape("mv_order_metrics", ("market_segment",), ("cumulative_revenue",),
          where="order_year <= {}", values=YEARS, sql=True),
    Shape("mv_order_metrics", ("order_status",), ("distinct_customers",
                                                  "median_order_value")),
    Shape("mv_sales_star", ("nation_name",), ("revenue", "line_count"), sql=True),
    Shape("mv_sales_star", ("region_name", "order_year"), ("revenue",),
          where="return_flag = '{}'", values=("A", "N", "R")),
    Shape("mv_customer_metrics", ("market_segment",),
          ("total_customers", "avg_customer_value", "high_value_customers"), sql=True),
    Shape("mv_order_metrics", ("market_segment",), ("total_revenue", "total_orders"),
          where="order_priority = '{}'", values=PRIORITIES),
    Shape("mv_lineitem_pricing", ("return_flag",), ("sum_qty", "avg_disc"),
          where="ship_date >= date '{}-01-01'", values=YEARS, sql=True),
)


class QueryWorkload(Workload):
    """Closed loop over a seeded order of tiles; each client walks its
    own permutation of the same tile set."""

    shapes: tuple = ()
    # Rounds of the timed loop run before the timer starts. With one
    # sequential pass only (and the default C2 JIT), query latency fell
    # by half over the first 20 s of the timed phase, so where a run's
    # median sat on that slope followed host speed.
    WARMUP_ROUNDS = 4

    def setup(self, b) -> None:
        with b.step("models"):
            self.eng = start_engine(b)
        with b.step("rollups"):
            self.eng.refresh_all()
        rng = random.Random(b.seed)
        self.tiles = [s.instantiate(rng) for s in self.shapes]
        self.orders = []
        for _ in range(self.clients):
            order = list(range(len(self.tiles)))
            rng.shuffle(order)
            self.orders.append(order)
        self.round_len = len(self.tiles)
        with b.step("warmup"):
            for t in self.tiles:
                t.run(self.eng)
            with ThreadPoolExecutor(self.clients) as pool:
                list(pool.map(self._warm, range(self.clients)))

    def _warm(self, client: int) -> None:
        for _ in range(self.WARMUP_ROUNDS):
            for k in self.orders[client]:
                self.tiles[k].run(self.eng)

    def prepare(self, b) -> None:
        with ThreadPoolExecutor(self.clients) as pool:
            self.refs = list(pool.map(lambda t: t.reference(self.eng), self.tiles))

    def op(self, b, client: int, i: int) -> float:
        order = self.orders[client]
        k = order[i % len(order)]
        t0 = time.perf_counter()
        rows = self.tiles[k].run(self.eng)
        ms = (time.perf_counter() - t0) * 1e3
        check_rows(f"tile {k}", rows, self.refs[k])
        return ms

    def layer_metrics(self, summ: Summary) -> dict[str, float]:
        out = summ.layer(summ.select("MetricEngine.refresh_all", "setup"),
                         "rollup.build_ms", "rollup.build_jobs")
        out.update(summ.layer(summ.select("execute_sql", "timed"), "sql.compile_ms", None))
        routed = summ.select("MetricView.query_routed", "timed")
        out.update(summ.layer(routed, "query.build_ms", None))
        if routed:
            out["query.routed_share"] = sum(
                s.attrs.get("route", "").startswith("rollup:") for s in routed
            ) / len(routed)
        execs = summ.select("DataFrame.collect", "timed",
                            lambda s: s.parent is not None and s.parent.name == "op")
        out.update(summ.layer(execs, "query.exec_ms", "query.jobs"))
        out["query.stages"] = median([summ.total(s, "stages") for s in execs])
        out["query.tasks"] = median([summ.total(s, "tasks") for s in execs])
        for phase in ("analysis", "optimization", "planning"):
            out[f"query.{phase}_ms"] = median([s.attrs.get(f"{phase}_ms", 0.0)
                                                for s in execs])
        return out


class Dashboard(QueryWorkload):
    """Two clients: with four, the clients queued for the four cores and
    the run-to-run spread of the query median was a third wider."""

    name = "dashboard"
    clients = 2
    shapes = DASHBOARD_SHAPES


class Adhoc(QueryWorkload):
    name = "adhoc"
    clients = 1
    shapes = ADHOC_SHAPES


# ---------------------------------------------------------------------------
# ingest: CDC folds beside routed reads


INGEST_VIEW = "mv_perfbench_ingest"
INGEST_SOURCE = "perfbench_orders"
INGEST_YAML = f"""
version: 0.1
source: {INGEST_SOURCE}

dimensions:
  - name: market_segment
    expr: market_segment
  - name: order_status
    expr: order_status
  - name: order_year
    expr: order_year
  - name: order_month
    expr: order_month

measures:
  - name: revenue_cents
    expr: sum(price_cents)
  - name: order_count
    expr: count(*)

materialization:
  schedule: every 1 hours
  mode: relaxed
  materialized_views:
    - name: by_segment_status_month
      type: aggregated
      dimensions:
        - market_segment
        - order_status
        - order_year
        - order_month
      measures:
        - revenue_cents
        - order_count
"""
INGEST_COLS = ("order_id", "market_segment", "order_status", "order_year",
               "order_month", "price_cents")
GRAIN = ("market_segment", "order_status", "order_year", "order_month")
MEASURES = ("revenue_cents", "order_count")
# the fresh read groups by the first two grain columns; the check after
# the rebuild also projects onto the last two
PROJECTIONS = (slice(0, 2), slice(2, 4))


def _arrow(rows: list) -> Any:
    """Rows as an Arrow table, the form in which a CDC client hands a
    batch to Spark."""
    import pyarrow as pa

    types = (pa.int64(), pa.string(), pa.string(), pa.int32(), pa.int32(), pa.int64())
    cols = list(zip(*rows)) if rows else [()] * len(types)
    return pa.table([pa.array(c, type=t) for c, t in zip(cols, types)],
                    names=list(INGEST_COLS))


def _project(rows: list, proj: slice) -> list:
    """Re-aggregate (grain..., cents, count) rows onto a projection."""
    agg: dict = {}
    for r in rows:
        key = tuple(r[:4])[proj]
        s, n = agg.get(key, (0, 0))
        agg[key] = (s + r[4], n + r[5])
    return [key + v for key, v in agg.items()]


class Ingest(Workload):
    """Seeded CDC batches folded with ``refresh_cdc`` into the view's one
    rollup, each followed by a routed read that re-aggregates it. After
    the timed phase, one full ``refresh`` runs over a source that reflects
    every applied batch, and the folded rollup must equal the rebuilt one.
    Money is int64 cents, so folds, rebuilds and the Python-side expected
    aggregates agree exactly.

    A batch changes 1000 order keys, the size of the CDC fold in
    ``bench.py``. Inserts and deletes are equal in number, 150 each: the
    size of TPC-H's paired refresh functions RF1/RF2 (SF x 1500 orders)
    at SF 0.1. The other 700 keys are updates. An update draws a new
    status and takes the price of another seeded order; an insert copies
    the dimensions of one seeded order and the price of another."""

    name = "ingest"
    UPDATES, DELETES, INSERTS = 700, 150, 150
    # Batches folded in set-up. Batch time fell over the first 10 to 15
    # batches, from 1.4 s to 0.8 s; with fewer warm-up batches, a run
    # measured that slope and its median moved with host speed.
    WARMUP = 10

    def setup(self, b) -> None:
        from dbt_databricks_metrics_spark.specs import MetricViewSpec
        from pyspark.sql import functions as F

        spark = b.spark
        with b.step("source"):
            self.eng = new_engine(b)
            self.base_path = os.path.join(b.tmp, "warehouse", INGEST_SOURCE)
            o = spark.read.parquet(os.path.join(b.data_dir, "orders.parquet"))
            c = spark.read.parquet(os.path.join(b.data_dir, "customer.parquet"))
            (o.join(c, o.o_custkey == c.c_custkey, "left")
             .select(o.o_orderkey.alias("order_id"), c.c_mktsegment.alias("market_segment"),
                     o.o_orderstatus.alias("order_status"),
                     F.year(o.o_orderdate).alias("order_year"),
                     F.month(o.o_orderdate).alias("order_month"),
                     F.round(o.o_totalprice * 100).cast("long").alias("price_cents"))
             .write.parquet(self.base_path))
            self.base = spark.read.parquet(self.base_path)
            self.base.createOrReplaceTempView(INGEST_SOURCE)
            self.mv = self.eng.register(MetricViewSpec.from_yaml(INGEST_YAML,
                                                                 name=INGEST_VIEW))
        with b.step("rollups"):
            self.eng.refresh(INGEST_VIEW)
        with b.untimed():
            self._init_state(b)
        self.rebuild_ms = 0.0
        with b.step("warmup"):
            for i in range(self.WARMUP):
                self.op(b, 0, i)

    def _init_state(self, b) -> None:
        """Python mirror of the source: the batches are generated from it
        and the expected aggregates are maintained from it."""
        import pyarrow.parquet as papq

        self.rng = random.Random(b.seed)
        tbl = papq.read_table(self.base_path, columns=list(INGEST_COLS))
        self.rows = {r[0]: r for r in zip(*(tbl.column(c).to_pylist()
                                             for c in INGEST_COLS))}
        self.live = list(self.rows)
        self.next_id = max(self.live) + 1
        self.touched: dict[int, Optional[tuple]] = {}
        self.expected = [{}, {}]
        for r in self.rows.values():
            self._add(r, 1)
        # keep the mirror's ~150k row tuples out of the collector's full
        # passes, which would otherwise fall inside timed engine calls
        gc.freeze()

    def _add(self, r: tuple, sign: int) -> None:
        for agg, proj in zip(self.expected, PROJECTIONS):
            key = r[1:5][proj]
            s, n = agg.get(key, (0, 0))
            s, n = s + sign * r[5], n + sign
            if n:
                agg[key] = (s, n)
            else:
                agg.pop(key, None)

    def _any_row(self) -> tuple:
        return self.rows[self.live[self.rng.randrange(len(self.live))]]

    def _next_batch(self) -> tuple[list, list]:
        rng = self.rng
        picked = rng.sample(range(len(self.live)), self.UPDATES + self.DELETES)
        before, after = [], []
        for j, idx in enumerate(picked):
            old = self.rows[self.live[idx]]
            before.append(old)
            self._add(old, -1)
            if j < self.UPDATES:
                new = old[:2] + (rng.choice(STATUS),) + old[3:5] + (self._any_row()[5],)
                after.append(new)
                self.rows[new[0]] = new
                self.touched[new[0]] = new
                self._add(new, 1)
            else:
                del self.rows[old[0]]
                self.touched[old[0]] = None
        # deleted keys leave the live list (swap-remove, highest index first)
        for idx in sorted(picked[self.UPDATES:], reverse=True):
            self.live[idx] = self.live[-1]
            self.live.pop()
        for _ in range(self.INSERTS):
            new = (self.next_id,) + self._any_row()[1:5] + (self._any_row()[5],)
            self.next_id += 1
            self.rows[new[0]] = new
            self.live.append(new[0])
            self.touched[new[0]] = new
            after.append(new)
            self._add(new, 1)
        return before, after

    def _expected_rows(self, k: int) -> list:
        return [key + (s, n) for key, (s, n) in self.expected[k].items()]

    def _read(self, dims: tuple) -> list:
        df, route = self.mv.query_routed(dims, MEASURES)
        if not route.startswith("rollup:"):
            raise Mismatch(f"read by {dims} took route {route!r}, not a rollup")
        return df.collect()

    def op(self, b, client: int, i: int) -> float:
        spark = b.spark
        before, after = self._next_batch()
        bdf = spark.createDataFrame(_arrow(before))
        adf = spark.createDataFrame(_arrow(after))
        t0 = time.perf_counter()
        self.eng.refresh_cdc(INGEST_VIEW, bdf, adf)
        with b.tracer.span("fresh_read"):
            rows = self._read(GRAIN[PROJECTIONS[0]])
        ms = (time.perf_counter() - t0) * 1e3
        check_rows("fresh read", rows, self._expected_rows(0))
        return ms

    def _publish_source(self, b) -> None:
        spark = b.spark
        keys = spark.createDataFrame([(k,) for k in self.touched], "order_id long")
        current = spark.createDataFrame(
            _arrow([r for r in self.touched.values() if r is not None]))
        (self.base.join(keys, "order_id", "left_anti").unionByName(current)
         .createOrReplaceTempView(INGEST_SOURCE))

    def finish(self, b) -> tuple[int, int]:
        """One full refresh over the final source; the folded rollup must
        equal the rebuilt one, and both the Python aggregates, exactly.
        A traced run then measures the ``ext`` layer (:func:`ext_layer`),
        which has no workload in BENCHMARK.json."""
        checks, failed = self._check_rebuild(b)
        if b.trace:
            c, f = ext_layer(b)
            checks, failed = checks + c, failed + f
        return checks, failed

    def _check_rebuild(self, b) -> tuple[int, int]:
        try:
            folded = self._read(GRAIN)
            self._publish_source(b)
            t0 = time.perf_counter()
            self.eng.refresh(INGEST_VIEW)
            self.rebuild_ms = (time.perf_counter() - t0) * 1e3
            rebuilt = self._read(GRAIN)
            check_rows("rebuild vs fold", folded, rebuilt)
            for k, proj in enumerate(PROJECTIONS):
                check_rows(f"rebuild by {GRAIN[proj]}", _project(rebuilt, proj),
                           self._expected_rows(k))
        except Exception:
            traceback.print_exc()
            return 1, 1
        return 1, 0

    def diagnostics(self) -> dict:
        return {"rebuild_ms": round(self.rebuild_ms, 3)}

    def layer_metrics(self, summ: Summary) -> dict[str, float]:
        out = summ.layer(summ.select("MetricEngine.refresh", "check"),
                         "rollup.build_ms", "rollup.build_jobs")
        out.update(summ.layer(summ.select("MetricEngine.refresh_cdc", "timed"),
                              "fold.ms", "fold.jobs"))
        out.update(summ.layer(summ.select("fresh_read", "timed"),
                              "fresh_read.ms", "fresh_read.jobs"))
        out.update(ext_metrics(summ, "check", "check"))
        return out


# ---------------------------------------------------------------------------
# ext: nearest-neighbour queries over a PQ index built in set-up


class Ext(Workload):
    """IVF-PQ vector search, the ``ext`` entry point a corpus user calls
    again and again. Set-up loads the embeddings and builds the index
    once: the PQ codebook (``pq_train``) and the codes (``pq_encode``).
    There is no dbt run. Each op is one ``ivfpq_topk`` call for one of
    ``QUERIES`` seeded query vectors; each client walks its own seeded
    order. Every output must equal the warm-up result for its vector."""

    name = "ext"
    clients = 4
    QUERIES = 4

    def setup(self, b) -> None:
        from dbt_databricks_metrics_spark.ext import pq

        spark = b.spark
        with b.step("ext.load"):
            self.emb = (spark.read.parquet(os.path.join(b.data_dir, "embeddings.parquet"))
                        .repartition(spark.sparkContext.defaultParallelism)
                        .localCheckpoint(eager=True))
        with b.step("pq_train"):
            self.book = pq.pq_train(self.emb, m=4, n_codes=8,
                                    n_iter=1).localCheckpoint(eager=True)
            self.codes = pq.pq_encode(self.emb, self.book).localCheckpoint(eager=True)
        with b.untimed():
            self.vecs, self.orders = self._inputs(b)
        # one query per vector, all at once, as the clients send them
        with b.step("ext.warmup"), ThreadPoolExecutor(self.QUERIES) as pool:
            self.refs = list(pool.map(self._query, range(self.QUERIES)))

    def _inputs(self, b) -> tuple[list, list]:
        """Seeded query vectors, read from the fixture file in Python, and
        each client's seeded order over them."""
        import pyarrow.parquet as papq

        rng = random.Random(b.seed)
        vecs = papq.read_table(os.path.join(b.data_dir, "embeddings.parquet"),
                               columns=["embedding"]).column(0)
        orders = [[rng.randrange(self.QUERIES) for _ in range(256)]
                  for _ in range(self.clients)]
        return ([[float(x) for x in vecs[i].as_py()]
                 for i in rng.sample(range(len(vecs)), self.QUERIES)], orders)

    def _query(self, k: int) -> list:
        from dbt_databricks_metrics_spark.ext import pq

        return pq.ivfpq_topk(self.emb, self.codes, self.book, self.vecs[k],
                             k=10).collect()

    def op(self, b, client: int, i: int) -> float:
        order = self.orders[client]
        k = order[i % len(order)]
        t0 = time.perf_counter()
        with b.tracer.span("ext.pq"):
            rows = self._query(k)
        ms = (time.perf_counter() - t0) * 1e3
        check_rows(f"query vector {k}", rows, self.refs[k])
        return ms

    def layer_metrics(self, summ: Summary) -> dict[str, float]:
        return ext_metrics(summ, "timed", "setup")


def ext_metrics(summ: Summary, query_phase: str, build_phase: str) -> dict[str, float]:
    out = summ.layer(summ.select("ext.pq", query_phase), "ext.pq.ms", "ext.pq.jobs")
    out.update(summ.layer(summ.select("pq_train", build_phase),
                          "ext.pq_train.ms", "ext.pq_train.jobs"))
    return out


def ext_layer(b) -> tuple[int, int]:
    """The ``ext`` layer, measured in a traced run after its timed phase:
    the index build of :class:`Ext` with one client, then one query per
    vector, each checked against its warm-up result. Returns (checks
    run, checks failed)."""
    ext = Ext()
    ext.clients = 1
    try:
        ext.setup(b)
        for k in range(ext.QUERIES):
            ext.op(b, 0, k)
    except Exception:
        traceback.print_exc()
        return 1, 1
    return 1, 0


WORKLOADS = {w.name: w for w in (Dashboard, Adhoc, Ingest, Ext)}
