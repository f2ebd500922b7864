"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`pipeline` is the full `dbt run`-equivalent (2 staging + 2 marts + 3 metric
views + rollup build). Routed vs live segment queries demonstrate the
rollup router speedup (BASELINE.md target: >=10x on covered dims).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def correctness_last_rows(root=None, exclude_newest=False):
    """Parse the driver's CORRECTNESS_r*.json history into
    ``(last_row_round_by_contract, keys_of_the_latest_file)`` — shared by
    :func:`_max_row_age_rounds` and the rotation-discipline guard test so
    the two can never disagree about staleness (one filename/format
    parser). ``exclude_newest=True`` drops the highest-numbered file —
    i.e. reconstructs the history as it looked at prefix-BUILD time, for
    validating a committed prefix after its own driver round has landed
    (VERDICT r9 #3). Returns ``({}, set())`` when no history exists."""
    import glob

    root = root or os.path.dirname(os.path.abspath(__file__))
    by_round: dict = {}
    for f in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(os.path.basename(f).split("_r")[1].split(".")[0])
            with open(f) as fh:
                rows = json.load(fh)
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        by_round[rnd] = set(rows)
    if exclude_newest and by_round:
        by_round.pop(max(by_round))
    last: dict = {}
    newest_keys: set = set()
    for rnd in sorted(by_round):
        newest_keys = by_round[rnd]
        for k in newest_keys:
            last[k] = max(last.get(k, 0), rnd)
    return last, newest_keys


def _max_row_age_rounds():
    """Contract-evidence staleness in the parsed tail (VERDICT r7 #7 /
    r8 #2): max over every contract in ``queries()`` of (current_round −
    round of the contract's latest driver CORRECTNESS row). The bench
    usually runs BEFORE the driver writes this round's file, so contracts
    in the current ``_DRIVER_PREFIX`` count as age 0 (they receive rows
    this round by construction) and current_round = latest recorded + 1;
    when this round's file already landed — detected by the latest
    file's key set CONTAINING the current prefix (superset, not exact
    equality: a partial driver re-run or a diagnostic extra key must not
    silently flip the accounting back to pre-driver; ADVICE r9 #4) —
    current_round = that file's round. (A pre-driver prefix cannot be a
    subset of the previous round's sample: with ~180 contracts and 50
    slots the oldest-first guard always forces stale contracts, absent
    from the last sample, into the new prefix.) A never-sampled
    non-prefix contract is a rotation bug and is counted at full age so
    it cannot hide. None when no history exists."""
    last, newest_keys = correctness_last_rows()
    if not last:
        return None
    import __spark_entry__ as entry

    prefix = set(entry._DRIVER_PREFIX)
    contracts = set(entry.queries())
    max_round = max(last.values())
    post_driver = prefix <= newest_keys
    current = max_round if post_driver else max_round + 1
    return max(
        0 if (k in prefix and not post_driver) else current - last.get(k, 0)
        for k in contracts
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    import tempfile

    from dbt_databricks_metrics_spark.engine import MetricEngine
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery
    from dbt_databricks_metrics_spark.project import build_registry
    from dbt_databricks_metrics_spark.session import get_spark
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    spark = get_spark("bench")
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}

    # All scratch dirs (replica parquet, warehouses, layout trees) are
    # removed when the process exits — a bench run writes hundreds of MB
    # of replica data and must not leak it across runs (ADVICE r5).
    import atexit
    import shutil

    def _scratch_dir(prefix: str) -> str:
        d = tempfile.mkdtemp(prefix=prefix)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        return d

    # r01-subset members always run 3x so the subset can ALSO be summed
    # over per-query MEDIANS (VERDICT r4 #7: r04's subset drifted +8%
    # while every individual query improved — best-of hides session
    # composition noise, medians attribute it). `pipeline` is stateful
    # (one dbt-run) and stays single-shot.
    _MEDIAN_SET = set(
        "q_segment_routed q_segment_exact_cover q_segment_live "
        "q_monthly_routed q_trailing_7d q_trailing_7d_source_grain "
        "q_mixed_plain_window q_ytd q_customer_metrics "
        "q_lineitem_pricing_live q_pricing_routed q_star_nation "
        "ext_doc_stats ext_curation_funnel ext_session_stats "
        "ext_contamination ext_pack_bins ext_stratified_sample "
        "ext_topk_similar".split()
    )

    def timed(name: str, fn, warm: bool = False, best_of: int = 1):
        # Every ext_* entry runs 3x too (VERDICT r6 #2: the r6 1.5-1.7x
        # drift hit exactly the single-shot entries, so it could not be
        # attributed from medians — full per-entry medians disambiguate
        # host noise from code regressions). The headline stays a sum of
        # MINIMA, so extra repeats can only tighten it.
        if name in _MEDIAN_SET or name.startswith("ext_"):
            best_of = max(best_of, 3)
        if warm:
            fn()  # steady-state: skip the cold first run
        samples, out = [], None
        for _ in range(max(1, best_of)):
            t0 = time.perf_counter()
            out = fn()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 4)
        if len(samples) >= 3:
            medians[name] = round(sorted(samples)[len(samples) // 2], 4)
        return out

    # warm the JVM/parquet footprint outside the timings
    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).count()

    # host-speed calibration: a fixed pure-JVM workload (best of 3).
    # Shared-host contention swings wall-clock 2-3x between runs; divide
    # any timing by (calib_range_sum / its recorded value) to normalize
    # across runs. Round-1 era machines measured ~0.55-0.75 s.
    def _calib():
        return spark.range(400_000_000).selectExpr("sum(id)").collect()

    _calib()  # warm
    timed("calib_range_sum", _calib, best_of=3)

    # I/O calibration: a fixed full-column parquet scan. Virtualized
    # disks throttle after sustained use (burst credits), slowing
    # scan-bound queries while CPU-bound work is unaffected — the two
    # calib numbers disentangle that when comparing runs.
    def _calib_io():
        return (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .selectExpr("sum(hash(*))")
            .collect()
        )

    timed("calib_parquet_scan", _calib_io, best_of=3)

    eng = MetricEngine(
        spark, build_registry(sf_dir), warehouse_dir=_scratch_dir("bench_wh_")
    )
    timed("pipeline", lambda: eng.run(materialize_rollups=True))

    from __spark_entry__ import YTD_SPEC_YAML

    eng.register(MetricViewSpec.from_yaml(YTD_SPEC_YAML, name="mv_ytd"))

    mv = eng.metric_view("mv_order_metrics")

    def routed():
        df, route = mv.query_routed(["market_segment"], ["total_revenue", "total_orders"])
        assert route == "rollup:revenue_by_segment", route
        return df.collect()

    def live():
        q = MetricQuery(mv.spec, ("market_segment",), ("total_revenue", "total_orders"))
        return eng._compiler.compile(q).collect()

    def routed_exact():
        # dims exactly match the rollup grain → zero-exchange projection
        df, route = mv.query_routed(
            ["market_segment", "order_status"], ["total_revenue", "total_orders"]
        )
        assert route == "rollup:revenue_by_segment", route
        return df.collect()

    timed("q_segment_routed", routed, warm=True, best_of=3)
    timed("q_segment_exact_cover", routed_exact, warm=True, best_of=3)
    timed("q_segment_live", live, warm=True, best_of=3)

    # IVM evidence: folding a 1000-row CDC batch into the segment rollup
    # (|rollup| + |delta| rows) vs rebuilding the view's rollups from the
    # source. The fold pays its full cost (2 partial aggs + merge +
    # swap-write) into a copy of the rollup at a scratch path, so the
    # stored rollup that later entries read stays as built.
    from dataclasses import replace

    from dbt_databricks_metrics_spark.streaming.refresh import fold_retractions

    ivm_built = eng.catalog.get("mv_order_metrics").state.rollups["revenue_by_segment"]
    ivm_copy = replace(
        ivm_built, path=os.path.join(_scratch_dir("bench_ivm_"), "revenue_by_segment")
    )
    shutil.copytree(ivm_built.path, ivm_copy.path)

    def _ivm_fold():
        batch = eng.ref("fct_orders").limit(1000)
        fold_retractions(spark, ivm_copy, batch, batch)

    timed("ivm_cdc_fold", _ivm_fold)
    timed("ivm_full_refresh", lambda: eng.refresh("mv_order_metrics"))
    timed(
        "q_monthly_routed",
        lambda: mv.query(["order_year", "order_month"], ["total_revenue"]).collect(),
    )
    def trailing_routed():
        df, route = mv.query_routed(["market_segment"], ["trailing_7d_revenue"])
        assert route == "live+grain:daily_revenue", route
        return df.collect()

    def trailing_source_grain():
        # forced source-scan grain (no WindowGrainProvider) — the delta vs
        # q_trailing_7d is the window-grain routing win
        q = MetricQuery(mv.spec, ("market_segment",), ("trailing_7d_revenue",))
        return eng._compiler.compile(q).collect()

    timed("q_trailing_7d", trailing_routed, warm=True, best_of=3)
    timed("q_trailing_7d_source_grain", trailing_source_grain, warm=True, best_of=3)
    timed(
        "q_mixed_plain_window",
        lambda: mv.query(
            ["market_segment"], ["total_revenue", "trailing_7d_revenue"]
        ).collect(),
    )
    timed(
        "q_ytd",
        lambda: eng.metric_view("mv_ytd")
        .query(["market_segment"], ["ytd_revenue"])
        .collect(),
    )
    timed(
        "q_customer_metrics",
        lambda: eng.metric_view("mv_customer_metrics")
        .query(
            ["market_segment"],
            [
                "total_customers",
                "total_revenue",
                "avg_customer_value",
                "high_value_customers",
                "avg_order_frequency",
            ],
        )
        .collect(),
    )

    # big-fact surface: Q1-style pricing (full lineitem scan), its routed
    # counterpart (rollup read), and the snowflake star join
    mvp = eng.metric_view("mv_lineitem_pricing")
    timed(
        "q_lineitem_pricing_live",
        lambda: eng._compiler.compile(
            MetricQuery(
                mvp.spec,
                ("return_flag", "line_status"),
                ("sum_qty", "sum_disc_price", "avg_price", "count_order"),
            )
        ).collect(),
        warm=True,
    )

    def pricing_routed():
        df, route = mvp.query_routed(
            ["return_flag", "line_status"],
            ["sum_qty", "sum_disc_price", "avg_price", "count_order"],
        )
        assert route == "rollup:pricing_by_flag_status", route
        return df.collect()

    timed("q_pricing_routed", pricing_routed, warm=True, best_of=3)

    # ---- sf1-scale routed speedup (VERDICT r4 #6): at sf0.1 the routed
    # read sits under the ~0.2 s local job floor, so the wall-clock win
    # is invisible; a 10x replicated lineitem (≈ sf1, ~6M rows) puts the
    # live scan well above the floor and makes the >=10x BASELINE target
    # an OBSERVED number. The replica is written once (untimed), a
    # second engine builds the pricing rollup over it, and live/routed
    # run through the same compile/route paths as the sf0.1 pair.
    from pyspark.sql import functions as _F

    from dbt_databricks_metrics_spark.models import ModelRegistry
    from dbt_databricks_metrics_spark.project import MV_LINEITEM_PRICING_YAML

    sf1_dir = os.path.join(_scratch_dir("bench_sf1_"), "li10")
    (
        eng.ref("stg_lineitem")
        .crossJoin(spark.range(10).select(_F.col("id").alias("_rep")))
        .drop("_rep")
        .write.mode("overwrite")
        .parquet(sf1_dir)
    )
    reg10 = ModelRegistry()

    @reg10.model("stg_lineitem", materialized="view")
    def _stg_lineitem10(spark_, ref):
        return spark_.read.parquet(sf1_dir)

    eng10 = MetricEngine(
        spark, reg10, warehouse_dir=_scratch_dir("bench_wh10_")
    )
    eng10.run()
    eng10.register(
        MetricViewSpec.from_yaml(
            MV_LINEITEM_PRICING_YAML,
            name="mv_lineitem_pricing",
            source="stg_lineitem",
        )
    )
    timed(
        "sf1_pricing_rollup_build",
        lambda: eng10.refresh("mv_lineitem_pricing"),
    )
    mvp10 = eng10.metric_view("mv_lineitem_pricing")
    timed(
        "sf1_pricing_live",
        lambda: eng10._compiler.compile(
            MetricQuery(
                mvp10.spec,
                ("return_flag", "line_status"),
                ("sum_qty", "sum_disc_price", "avg_price", "count_order"),
            )
        ).collect(),
        warm=True,
        best_of=3,
    )

    def pricing_routed_sf1():
        df, route = mvp10.query_routed(
            ["return_flag", "line_status"],
            ["sum_qty", "sum_disc_price", "avg_price", "count_order"],
        )
        assert route == "rollup:pricing_by_flag_status", route
        return df.collect()

    timed("sf1_pricing_routed", pricing_routed_sf1, warm=True, best_of=3)
    timed(
        "q_star_nation",
        lambda: eng.metric_view("mv_sales_star")
        .query(["nation_name", "region_name"], ["revenue", "line_count"])
        .collect(),
        warm=True,
    )

    # [EXT] operator throughput at sf0.1
    from pyspark.sql import functions as F

    from dbt_databricks_metrics_spark.ext import pipeline as ext_pipeline
    from dbt_databricks_metrics_spark.ext import sessionize as ext_sessions
    from dbt_databricks_metrics_spark.ext import textstats as ext_text
    from dbt_databricks_metrics_spark.sources import load_table

    # the fixture parquet files hold ONE row group, so the scan itself is
    # a single task no matter the split config — spread the corpora
    # across cores once (the layout any real multi-file corpus has) so
    # the ext timings measure the operators, not a one-core scan
    n_par = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    docs = (
        load_table(spark, sf_dir, "documents").repartition(n_par).localCheckpoint(eager=True)
    )
    events = (
        load_table(spark, sf_dir, "events").repartition(n_par).localCheckpoint(eager=True)
    )
    emb = (
        load_table(spark, sf_dir, "embeddings").repartition(n_par).localCheckpoint(eager=True)
    )
    timed(
        "ext_doc_stats",
        lambda: ext_text.document_stats(docs)
        .agg(F.sum("ws_token_count"), F.avg("quality_score"))
        .collect(),
    )
    timed(
        "ext_curation_funnel",
        lambda: ext_pipeline.curation_stats(docs, min_quality=0.5, langs=("en",)).collect(),
    )
    timed(
        "ext_session_stats",
        lambda: ext_sessions.session_stats(events)
        .agg(F.count(F.lit(1)), F.avg("n_events"))
        .collect(),
    )
    from dbt_databricks_metrics_spark.ext import contamination as ext_contam
    from dbt_databricks_metrics_spark.ext import packing as ext_pack
    from dbt_databricks_metrics_spark.ext import sampling as ext_sample

    timed(
        "ext_contamination",
        lambda: ext_contam.ngram_contamination(
            docs.filter(F.col("doc_id") % 20 != 0),
            docs.filter(F.col("doc_id") % 20 == 0),
            n=5,
            hash_ngrams=True,
        ).count(),
    )
    from dbt_databricks_metrics_spark.ext import winnow as ext_winnow

    timed(
        "ext_winnow_pairs",
        lambda: ext_winnow.winnow_overlap_pairs(docs, k=8, w=4, min_shared=2).count(),
    )
    from dbt_databricks_metrics_spark.ext import lm as ext_lm

    timed(
        "ext_lm_scores",
        lambda: ext_lm.lm_doc_scores(docs).agg(F.avg("avg_logp")).collect(),
    )
    from dbt_databricks_metrics_spark.ext import kmeans as ext_kmeans

    timed(
        "ext_kmeans",
        lambda: ext_kmeans.kmeans_cluster_stats(emb, n_clusters=8, n_iter=2).collect(),
    )
    from dbt_databricks_metrics_spark.ext.contamination import gram_novelty
    from dbt_databricks_metrics_spark.ext.search import bm25_search

    timed(
        "ext_gram_novelty",
        lambda: gram_novelty(docs, n=5, hash_ngrams=True).agg(F.avg("dup_frac")).collect(),
    )
    timed("ext_bm25", lambda: bm25_search(docs, "spark filter window", k=15).collect())
    timed(
        "ext_pack_bins",
        lambda: ext_pack.bin_stats(docs, 2048).count(),
    )
    timed(
        "ext_stratified_sample",
        lambda: ext_sample.stratified_sample(
            docs, "lang", {"en": 0.5, "fr": 0.3}, default=0.1
        ).count(),
    )
    from dbt_databricks_metrics_spark.operators.asof import asof_join

    timed(
        "ext_asof_join",
        lambda: asof_join(
            events.filter(F.col("event_type") == "click").select(
                "event_id", "user_id", "ts", "value"
            ),
            events.filter(F.col("event_type") == "purchase").select(
                "user_id", "ts", "value"
            ),
            on="ts",
            by=["user_id"],
        ).count(),
    )
    from dbt_databricks_metrics_spark.operators.asof import interval_join

    def _interval_bench():
        # sessions as intervals (start..end per user), points = purchases
        sess = ext_sessions.sessionize(events).groupBy(
            F.col("user_id"), F.col("session_id")
        ).agg(F.min("ts").alias("start"), F.max("ts").alias("end"))
        pts = events.filter(F.col("event_type") == "purchase").select(
            "user_id", "event_id", "ts"
        )
        return interval_join(
            pts, sess, point_ts="ts", by=["user_id"], bucket_seconds=3600
        ).count()

    timed("ext_interval_join", _interval_bench)

    def _stream_join_bench():
        # batch form of the stream-stream interval join (same expression)
        from dbt_databricks_metrics_spark.streaming.joins import (
            stream_stream_interval_join,
        )

        return stream_stream_interval_join(
            events.filter(F.col("event_type") == "click").select(
                "event_id", "ts", "user_id"
            ),
            events.filter(F.col("event_type") == "purchase").select(
                "event_id", "ts", "user_id"
            ),
            key="user_id",
            ts_col="ts",
            max_gap="4 hours",
            left_prefix="c",
            right_prefix="p",
        ).count()

    timed("ext_stream_join_batch", _stream_join_bench)

    def _cms_bench():
        from dbt_databricks_metrics_spark.ext import cms as _cms

        toks = _cms.doc_tokens(docs)
        sketch = _cms.cms_build(toks)
        top = (
            toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "token")
            .limit(20)
        )
        return _cms.cms_estimate(sketch, top.select("token")).count()

    timed("ext_cms_heavy_hitters", _cms_bench)

    def _advisor_bench():
        from dbt_databricks_metrics_spark.plans.advisor import (
            WorkloadQuery,
            advise,
        )

        mv = eng.metric_view("mv_order_metrics")
        wl = [
            WorkloadQuery(("market_segment",), ("total_revenue",), 5),
            WorkloadQuery(("order_status",), ("total_orders",), 3),
            WorkloadQuery(("order_year", "order_month"), ("total_revenue",), 2),
            WorkloadQuery(("order_priority", "order_year"), ("total_revenue",), 1),
        ]
        compiler = eng._compiler
        flat = compiler.baseline_projection(mv.spec, compiler.source_plan(mv.spec))
        return len(advise(mv.spec, flat, wl, max_rollups=3))

    timed("ext_rollup_advisor", _advisor_bench)

    def _linkage_bench():
        from dbt_databricks_metrics_spark.ext.linkage import blocked_fuzzy_pairs

        part = spark.read.parquet(f"{sf_dir}/part.parquet")
        return blocked_fuzzy_pairs(part, "p_name", max_dist=3).count()

    timed("ext_fuzzy_linkage", _linkage_bench)

    def _cdc_bench():
        from dbt_databricks_metrics_spark.operators.cdc import cdc_apply

        base = events.select("user_id").distinct().withColumn(
            "value", F.lit(-1.0).cast("double")
        )
        feed = events.filter(
            F.col("event_type").isin("purchase", "error")
        ).select(
            "user_id",
            "value",
            F.unix_micros("ts").alias("seq"),
            "event_id",
            F.when(F.col("event_type") == "purchase", F.lit("upsert"))
            .otherwise(F.lit("delete"))
            .alias("op"),
        )
        return cdc_apply(
            base, feed, ["user_id"], "seq", tiebreak_cols=["event_id"]
        ).count()

    timed("ext_cdc_apply", _cdc_bench)

    def _pagerank_bench():
        from dbt_databricks_metrics_spark.ext.graph import pagerank

        # sessions-share-user graph proxy: consecutive-event edges
        e = events.select(
            F.col("user_id").alias("src"),
            F.pmod(F.col("event_id"), F.lit(500)).alias("dst"),
        )
        return pagerank(e, n_iter=3).count()

    timed("ext_pagerank", _pagerank_bench)

    def _triangle_bench():
        from dbt_databricks_metrics_spark.ext.graph import triangle_counts

        # same consecutive-event proxy graph as pagerank
        e = events.select(
            F.col("user_id").alias("src"),
            F.pmod(F.col("event_id"), F.lit(500)).alias("dst"),
        )
        return triangle_counts(e).count()

    timed("ext_triangle_counts", _triangle_bench)

    def _para_containers(d):
        body = d.select(
            F.pmod(F.col("doc_id"), F.lit(50)).alias("cid"),
            F.col("doc_id").cast("long").alias("ord"),
            F.col("text").alias("para"),
        )
        boiler = body.select("cid").distinct().select(
            "cid",
            F.lit(10**7).cast("long").alias("ord"),
            F.lit("subscribe to our newsletter").alias("para"),
        )
        return (
            body.unionByName(boiler)
            .groupBy("cid")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("ord", "para"))),
                        lambda s: s["para"],
                    ),
                    "\n",
                ).alias("text")
            )
        )

    def _paragraph_dedup_bench():
        from dbt_databricks_metrics_spark.ext.dedup import dedup_paragraphs

        # containers of 10 docs each + a shared boilerplate paragraph —
        # the contract's shape at bench scale (_para_containers helper,
        # shared with the 1x/4x scaling harness)
        return dedup_paragraphs(_para_containers(docs), id_col="cid").count()

    timed("ext_paragraph_dedup", _paragraph_dedup_bench)

    def _media_decode_bench():
        # Arrow-batched mapInPandas codec throughput: synthesize real
        # PNG bytes (zlib deflate, cycling scanline filters) for every
        # document id and decode them back (inflate + unfilter). The
        # pure-Python kernels are the honest cost of codec work without
        # native libraries; the measured shape (bytes/sec through
        # mapInPandas) is what transfers to real decoders at scale.
        from dbt_databricks_metrics_spark.ext import multimodal

        media = multimodal.synthesize_png(docs.select("doc_id"))
        return (
            multimodal.decode_media(media)
            .agg(F.sum("payload_sum"), F.count(F.lit(1)))
            .collect()
        )

    timed("ext_media_decode_png", _media_decode_bench)

    def _media_decode_codecs_bench():
        # the round-6/7 codec family in one pass: LZW GIFs, huffman
        # JPEGs (incl. restart/4:2:0/progressive id classes), G.711 and
        # IMA ADPCM WAVs, and MJPEG/AVI videos synthesized over
        # DISJOINT fifths of the corpus (doc_id % 5 == k; disjoint
        # residues per ADVICE r6 so odd-id paths — A-law, local-palette
        # GIFs, all JPEG geometries — are exercised) and pushed through
        # the same decode_media dispatch — codec cost at corpus scale,
        # not per-format microbenchmarks
        from dbt_databricks_metrics_spark.ext import multimodal

        def fifth(k):
            return docs.select("doc_id").filter(F.col("doc_id") % 5 == k)

        parts = [
            multimodal.synthesize_gif(fifth(0)),
            multimodal.synthesize_jpeg(fifth(1)),
            multimodal.synthesize_g711(fifth(2)),
            multimodal.synthesize_mjpeg(fifth(3)),
            multimodal.synthesize_adpcm(fifth(4)),
        ]
        media = parts[0]
        for p in parts[1:]:
            media = media.unionByName(p)
        return (
            multimodal.decode_media(media)
            .agg(F.sum("payload_sum"), F.count(F.lit(1)))
            .collect()
        )

    timed("ext_media_decode_codecs", _media_decode_codecs_bench)

    def _hybrid_bench():
        from dbt_databricks_metrics_spark.ext.search import hybrid_search_rrf

        return hybrid_search_rrf(docs, "spark filter window", k=10).count()

    timed("ext_hybrid_search", _hybrid_bench)

    def _bpe_encode_bench():
        from dbt_databricks_metrics_spark.ext import bpe

        merges = bpe.bpe_train(docs, 8)
        return bpe.bpe_segment(docs, merges).count()

    timed("ext_bpe_encode", _bpe_encode_bench)

    def _substr_dedup_bench():
        from pyspark.sql import functions as F

        from dbt_databricks_metrics_spark.ext.substr import dedup_exact_substrings

        out = dedup_exact_substrings(docs, min_len=48, keep="first")
        return out.agg(F.sum("chars_removed")).collect()[0][0]

    timed("ext_substring_dedup", _substr_dedup_bench)

    def _rerank_bench():
        from dbt_databricks_metrics_spark.ext.search import bm25_search, rerank_top_k

        cands = bm25_search(docs, "spark filter window", k=30)
        return rerank_top_k(docs, cands, "spark filter window", k=15).count()

    timed("ext_rerank", _rerank_bench)

    def _pq_bench():
        from pyspark.sql import functions as F

        from dbt_databricks_metrics_spark.ext import pq
        from dbt_databricks_metrics_spark.sources import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        book = pq.pq_train(emb, m=4, n_codes=8, n_iter=1)
        codes = pq.pq_encode(emb, book)
        qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
        return pq.ivfpq_topk(emb, codes, book, qv, k=10).count()

    timed("ext_pq_ivfpq", _pq_bench)

    def _curation_v2_bench():
        from dbt_databricks_metrics_spark.ext.pipeline import curation_v2_stats

        return curation_v2_stats(
            docs, min_quality=0.5, substr_min_len=48, gopher_min_words=30,
            gopher_required_words=("the", "a"),
        ).collect()

    timed("ext_curation_v2", _curation_v2_bench)

    def _logreg_bench():
        from dbt_databricks_metrics_spark.ext.classify import logreg_train
        from dbt_databricks_metrics_spark.ext.vectors import hashed_doc_vectors

        feats = hashed_doc_vectors(docs, dim=16, idf=False).join(
            docs.select(
                "doc_id", (F.col("lang") == "en").cast("int").alias("y")
            ),
            "doc_id",
        )
        return logreg_train(feats, "y", dim=16, n_iter=3)

    timed("ext_logreg_train", _logreg_bench)

    def _ssjoin_bench():
        from dbt_databricks_metrics_spark.ext.ssjoin import ssjoin_pairs

        # exact similarity join on its proper domain: a high-entropy
        # corpus (zipfian/web-like vocabulary), where prefix filtering
        # collapses candidates to ~the true pairs. The driver fixture's
        # templated text is the documented degenerate case (candidates →
        # all-pairs; LSH is the filter there) — benching it would
        # measure the corpus, not the operator. 5k docs ≈ 12.5M brute
        # pairs; planted dups are id i ↔ i+100000.
        n_docs = int(5000 * (sf / 0.1)) or 500
        base = spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.substring(F.sha2(F.concat(F.col("id"), F.lit(f":{j}")), 256), 1, 8)
                    for j in range(24)
                ],
            ).alias("text"),
        )
        dups = base.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" edited")).alias("text"),
        )
        corpus = base.unionByName(dups)
        return ssjoin_pairs(corpus, k=5, threshold=0.7).count()

    timed("ext_ssjoin_exact", _ssjoin_bench)
    timed(
        "ext_topk_similar",
        lambda: __import__(
            "dbt_databricks_metrics_spark.ext.similarity", fromlist=["topk_similar"]
        ).topk_similar(
            emb, emb.filter(F.col("vec_id") == 0).first()["embedding"], k=10
        ).collect(),
    )

    def _hamming_bench():
        from dbt_databricks_metrics_spark.ext.similarity import hamming_topk

        qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
        return hamming_topk(emb, qv, k=10).collect()

    timed("ext_hamming_topk", _hamming_bench)

    def _trunc_bench():
        from dbt_databricks_metrics_spark.ext.similarity import truncation_agreement

        return truncation_agreement(emb, trunc_dim=32, k=10, n_queries=8).collect()

    timed("ext_truncation_eval", _trunc_bench)

    def _privacy_bench():
        from dbt_databricks_metrics_spark.ext import privacy

        c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            F.col("c_mktsegment").alias("segment"),
            F.col("c_nationkey").alias("nation_id"),
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
        )
        return privacy.t_closeness_report(
            c, ["segment", "nation_id"], "bal_bucket", t=(2, 25)
        ).collect()

    timed("ext_t_closeness", _privacy_bench)

    # scaling evidence: warm per-op time at 1x vs 4x corpus (distinct ids,
    # same text distribution). Linear map/shuffle ops should scale ≤4x —
    # the sub-linear gap is fixed scheduling/plan overhead, which shrinks
    # to noise at cluster scale. (Dup-finding ops are excluded: replicated
    # text inflates their OUTPUT quadratically, which measures the data,
    # not the plan.)
    from dbt_databricks_metrics_spark.ext import lm as _lm_mod
    from dbt_databricks_metrics_spark.ext import winnow as _win_mod
    from dbt_databricks_metrics_spark.ext.contamination import gram_novelty as _gn

    # docs is already repartitioned + checkpointed at setup; build the 4x
    # copy with collision-proof id offsets (shift past the current max
    # each doubling round — fixture ids are NOT assumed small)
    def _logreg_feats(d):
        from dbt_databricks_metrics_spark.ext.vectors import hashed_doc_vectors

        return hashed_doc_vectors(d, dim=16, idf=False).join(
            d.select("doc_id", (F.col("lang") == "en").cast("int").alias("y")),
            "doc_id",
        )

    docs1 = docs
    docs4 = docs
    for _ in range(2):  # 4x
        shift = docs4.agg(F.max("doc_id")).first()[0] + 1
        docs4 = docs4.unionByName(
            docs4.withColumn("doc_id", F.col("doc_id") + F.lit(shift))
        )
    docs4 = docs4.repartition(n_par).localCheckpoint(eager=True)
    # 4x corpus for DUP-FINDING ops: verbatim replication makes EVERY
    # gram a duplicate (dup density 1.0 vs the ~natural rate at 1x), so
    # the measured ratio reflects output inflation, not the plan — a
    # per-replica character translation keeps length/shape identical but
    # makes replicas gram-disjoint, holding dup density constant across
    # scales (r4: substring_dedup read 6.9x on the verbatim corpus and
    # ~linear on this one)
    docs4u = docs
    for rnd in range(2):
        shift = docs4u.agg(F.max("doc_id")).first()[0] + 1
        rot = "bcdfghjklm" if rnd == 0 else "nprstvwxyz"
        docs4u = docs4u.unionByName(
            docs4u.withColumn("doc_id", F.col("doc_id") + F.lit(shift))
            .withColumn("text", F.translate(F.col("text"), "aeioubcdfg", rot))
        )
    docs4u = docs4u.repartition(n_par).localCheckpoint(eager=True)
    scaling: dict[str, float] = {}
    for name, fn in (
        ("winnow_fingerprints", lambda d: _win_mod.winnow_fingerprints(d).count()),
        (
            "lm_scores",
            lambda d: _lm_mod.lm_doc_scores(d).agg(F.avg("avg_logp")).collect(),
        ),
        ("gram_novelty", lambda d: _gn(d, n=5, hash_ngrams=True).agg(F.avg("dup_frac")).collect()),
        (
            "doc_stats",
            lambda d: ext_text.document_stats(d).agg(F.avg("quality_score")).collect(),
        ),
        # round-3 ops: paragraph dedup over contract-shaped containers
        # (outputs stay container-sized — replicated paragraphs COLLAPSE,
        # they don't explode) and one logreg GD round (linear scans +
        # dim-sized gradient shuffle)
        (
            "paragraph_dedup",
            lambda d: __import__(
                "dbt_databricks_metrics_spark.ext.dedup", fromlist=["x"]
            ).dedup_paragraphs(_para_containers(d), id_col="cid").count(),
        ),
        (
            "logreg_round",
            lambda d: __import__(
                "dbt_databricks_metrics_spark.ext.classify", fromlist=["x"]
            ).logreg_train(_logreg_feats(d), "y", dim=16, n_iter=1),
        ),
        # round-4: exact substring dedup — gram rows scale with corpus
        # chars, the fp shuffle + per-doc folds must stay ~linear
        (
            "substring_dedup",
            lambda d: __import__(
                "dbt_databricks_metrics_spark.ext.substr", fromlist=["x"]
            ).dedup_exact_substrings(d, min_len=48)
            .agg(F.sum("chars_removed")).collect(),
        ),
        # round-4: per-source reputation — fingerprint shuffle + a
        # |sources|-row aggregate; output size is corpus-independent
        (
            "source_reputation",
            lambda d: __import__(
                "dbt_databricks_metrics_spark.ext.pipeline", fromlist=["x"]
            ).source_reputation(d).collect(),
        ),
        # round-5: asymmetric containment — shingle equi-join whose
        # fan-out the max_df cap bounds; runs on the gram-disjoint
        # corpus like every dup-finding op
        (
            "containment_pairs",
            lambda d: __import__(
                "dbt_databricks_metrics_spark.ext.dedup", fromlist=["x"]
            ).containment_pairs(d, k=5, threshold=(3, 5), max_df=50)
            .count(),
        ),
        # round-7 (VERDICT r6 #4): codec scaling tracked like the text
        # ops — PNG synth+decode over an eighth of the corpus (the
        # mapInPandas path is map-only, so the ratio should sit at ~4x
        # worker-parallel or below; a superlinear ratio would flag
        # batch-shape or memory trouble in the Python workers)
        (
            "media_decode",
            lambda d: __import__(
                "dbt_databricks_metrics_spark.ext.multimodal", fromlist=["x"]
            ).decode_media(
                __import__(
                    "dbt_databricks_metrics_spark.ext.multimodal",
                    fromlist=["x"],
                ).synthesize_png(
                    d.select("doc_id").filter(F.col("doc_id") % 8 == 0)
                )
            )
            .agg(F.sum("payload_sum"))
            .collect(),
        ),
    ):
        def best_of3(d, f=fn):
            f(d)  # warm
            # r8 (VERDICT r7 #3 attribution): the per-char/per-gram ops
            # are affine t = a + b*n with the fixed floor a comparable
            # to the 1x work (winnow a=0.30s b=0.05s/unit R2=0.97;
            # substring a=0.74s b=0.29s/unit R2=0.99 — quiet-host
            # median-of-5 ratios 1.42 / 1.89), so a single contended
            # sample near the floor can push the recorded ratio past 2.
            # Median-of-5 for those two pins the estimator; min-of-3
            # stays for the rest (their floors are smaller relative to
            # the measured work).
            reps = 5 if name in ("winnow_fingerprints", "substring_dedup") else 3
            samples = sorted(
                (lambda t0: (f(d), time.perf_counter() - t0)[1])(time.perf_counter())
                for _ in range(reps)
            )
            return samples[len(samples) // 2] if reps == 5 else samples[0]

        # dup-finding ops scale on the gram-disjoint 4x corpus (see
        # docs4u above) so the ratio measures the plan, not dup inflation
        big = (
            docs4u
            if name in ("substring_dedup", "containment_pairs")
            else docs4
        )
        t1x, t4x = best_of3(docs1), best_of3(big)
        timings[f"scale1x_{name}"] = round(t1x, 4)
        timings[f"scale4x_{name}"] = round(t4x, 4)
        scaling[name] = round(t4x / max(t1x, 1e-9), 2)

    # skew evidence (VERDICT r1 task 7): hot-key join — ~80% of lineitem
    # rows collapse onto ONE key. Broadcast is disabled (the salted op
    # targets build sides too big to broadcast); AQE off isolates the raw
    # shuffle behavior, AQE on records Spark's runtime skew-splitter on
    # the same plan. On a single 32-thread JVM the hot task's sort is
    # ~0.1s — under the scheduling floor — so wall-clock is flat HERE;
    # the scale-invariant evidence is skew_max_task_rows_*: the largest
    # per-task row count each plan ships, which is what determines the
    # straggler at cluster scale (salting divides it by salt_buckets).
    from dbt_databricks_metrics_spark.operators.salted import salted_join, with_salt

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    skew_fact = li.select(
        F.when(F.pmod(F.col("l_orderkey"), F.lit(1000)) < 800, F.lit(0))
        .otherwise(F.pmod(F.col("l_orderkey"), F.lit(1000)))
        .cast("long")
        .alias("skew_key"),
        "l_orderkey",
        "l_extendedprice",
    )
    skew_dim = spark.range(1000).select(
        F.col("id").alias("skew_key"), (F.col("id") * 7).alias("dim_val")
    )

    def _skew_agg(joined):
        return (
            joined.groupBy("skew_key")
            .agg(F.sum("l_extendedprice").alias("rev"), F.sum("dim_val").alias("dv"))
            .count()
        )

    def plain_skew():
        return _skew_agg(skew_fact.join(skew_dim, "skew_key"))

    def salted_skew():
        return _skew_agg(
            salted_join(
                skew_fact, skew_dim, on="skew_key", salt_buckets=32,
                how="inner", fact_id_cols=["l_orderkey"],
            )
        )

    _saved = {
        k: spark.conf.get(k)
        for k in ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        timed("ext_skew_join_plain_aqe", plain_skew, warm=True)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        timed("ext_skew_join_plain_noaqe", plain_skew, warm=True)
        timed("ext_skew_join_salted_noaqe", salted_skew, warm=True)
    finally:
        for k, v in _saved.items():
            spark.conf.set(k, v)

    # the largest single-task row count each join plan produces (exact:
    # rows per join key, resp. per (key, salt))
    skew_max_plain = (
        skew_fact.groupBy("skew_key").count().agg(F.max("count")).first()[0]
    )
    skew_max_salted = (
        with_salt(skew_fact, 32, ["l_orderkey"])
        .groupBy("skew_key", "_salt")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )

    # window-df hot-key evidence (r11): the gram/shingle family's
    # per-key count window cannot partial-aggregate, so every row of a
    # hot boilerplate gram serializes through ONE sort task (guide
    # §2.5). Synthetic hot-gram corpus: every doc shares one boilerplate
    # sentence (hot 5-grams, df == n_docs) beside a unique payload.
    # Wall-clock on local[32] sits near the scheduling floor — the
    # scale-invariant evidence is windowdf_max_group_rows_plain: the
    # largest window partition the operator sorts.
    from dbt_databricks_metrics_spark.ext.contamination import (
        _exploded_ngrams as _eng,
    )
    from dbt_databricks_metrics_spark.ext.contamination import (
        gram_novelty as _gn_guard,
    )

    n_guard_docs = int(3000 * (sf / 0.1)) or 300
    guard_corpus = spark.range(n_guard_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.sha2(F.col("id").cast("string"), 256),
            F.lit(" the same boilerplate footer appears in every single document "),
            F.sha2((F.col("id") + 7).cast("string"), 256),
        ).alias("text"),
    ).localCheckpoint()  # pin the corpus: the entry times the operator only

    timed(
        "ext_windowdf_guard_off",
        lambda: _gn_guard(guard_corpus, n=5, hash_ngrams=True)
        .agg(F.sum("n_dup_grams"))
        .collect(),
        warm=True,
    )
    _gcnt = (
        _eng(guard_corpus, "doc_id", "text", 5, "doc_id", True)
        .filter(F.col("_ngram").isNotNull())
        .groupBy("_ngram")
        .count()
    )
    windowdf_max_group_plain = _gcnt.agg(F.max("count")).first()[0]
    guard_corpus.unpersist()

    # bloom-pruning evidence: rows entering the semi-join shuffle with and
    # without the bitset pre-filter (broadcast disabled so the join IS a
    # shuffle join, the 100 TB case where the dim exceeds the broadcast
    # threshold). Wall-clock at sf0.1 is scheduling-bound; the
    # scale-invariant number is the shuffle-row ratio — a pruned fact
    # ships selectivity + fp_rate of its rows instead of all of them.
    from dbt_databricks_metrics_spark.operators import bloom as _bloom

    bl_dim = spark.read.parquet(os.path.join(sf_dir, "part.parquet")).filter(
        F.col("p_size") <= 5
    )
    bl_fact = li.select("l_partkey", "l_extendedprice")

    def plain_semi():
        return bl_fact.join(
            bl_dim.select(F.col("p_partkey").alias("l_partkey")).distinct(),
            "l_partkey",
            "left_semi",
        ).count()

    def bloom_semi():
        return _bloom.bloom_semi_join(
            bl_fact, "l_partkey", bl_dim, "p_partkey", m_bits=1 << 16, n_hashes=3
        ).count()

    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        timed("ext_semi_join_plain_noBroadcast", plain_semi, warm=True)
        timed("ext_semi_join_bloom_noBroadcast", bloom_semi, warm=True)
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold",
            _saved["spark.sql.autoBroadcastJoinThreshold"],
        )
    # evidence probe uses the SAME hash as the timed run (xxhash64)
    bloom_words = _bloom.bloom_build_local(
        bl_dim, "p_partkey", 1 << 16, 3, hash_fn="xxhash64"
    )
    bloom_rows_pruned = (
        _bloom.with_bloom_member(
            bl_fact, "l_partkey", bloom_words, 1 << 16, 3, hash_fn="xxhash64"
        )
        .filter(F.col("bloom_member"))
        .count()
    )
    bloom_rows_plain = bl_fact.count()

    # layout evidence: Z-order vs single-key sort — fraction of parquet
    # row groups a secondary-column point filter must read (min/max
    # pruning straight from the footers; scale-invariant — the fraction,
    # not the time, is what survives a 1000x scale-up)
    import tempfile as _tf

    from dbt_databricks_metrics_spark.operators.layout import (
        file_skipping_stats,
        zorder_layout,
    )

    li_lay = li.select("l_orderkey", "l_partkey", "l_extendedprice")
    lay_dir = _scratch_dir("bench_layout_")
    n_files = 16
    timed(
        "layout_linear_write",
        lambda: li_lay.repartitionByRange(n_files, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(lay_dir + "/linear"),
    )
    timed(
        "layout_zorder_write",
        lambda: zorder_layout(li_lay, ["l_orderkey", "l_partkey"], n_files)
        .write.mode("overwrite")
        .parquet(lay_dir + "/zorder"),
    )
    probe_pk = li_lay.first()["l_partkey"]
    linear_frac = file_skipping_stats(lay_dir + "/linear", "l_partkey", probe_pk)[
        "scan_frac"
    ]
    zorder_frac = file_skipping_stats(lay_dir + "/zorder", "l_partkey", probe_pk)[
        "scan_frac"
    ]

    # scale-invariant routing evidence: rows scanned by each plan (at sf0.1
    # both queries are scheduling-bound ~0.2s; the scan ratio is what
    # predicts the 10-100x at warehouse scale, README.md:424-429)
    state = eng.catalog.get("mv_order_metrics").state
    routed_rows = spark.read.parquet(state.rollups["revenue_by_segment"].path).count()
    live_rows = eng.ref("fct_orders").count()

    total = round(
        sum(v for k, v in timings.items() if not k.startswith("calib_")), 4
    )
    # the round-1 benchmark measured exactly this query set; its sum is the
    # like-for-like regression number (the full `value` has since grown by
    # covering more operators, which is coverage, not slowdown)
    R01_QUERY_SET = (
        "pipeline q_segment_routed q_segment_exact_cover q_segment_live "
        "q_monthly_routed q_trailing_7d q_trailing_7d_source_grain "
        "q_mixed_plain_window q_ytd q_customer_metrics "
        "q_lineitem_pricing_live q_pricing_routed q_star_nation "
        "ext_doc_stats ext_curation_funnel ext_session_stats "
        "ext_contamination ext_pack_bins ext_stratified_sample "
        "ext_topk_similar"
    ).split()
    r01_subset = round(sum(timings[q] for q in R01_QUERY_SET if q in timings), 4)
    # median form: per-query median-of-3 where measured, else the single
    # sample (pipeline) — the drift-attribution number (VERDICT r4 #7)
    r01_subset_median = round(
        sum(medians.get(q, timings[q]) for q in R01_QUERY_SET if q in timings), 4
    )
    # host-speed-normalized regression number: BENCH_r02 recorded
    # calib_range_sum=0.2288 alongside value_r01_query_subset=15.2732, so
    # dividing by (calib_now / 0.2288) makes cross-round comparison a
    # single number instead of manual normalization (VERDICT r2 #7).
    R02_CALIB_RANGE_SUM = 0.2288
    R02_CALIB_PARQUET_SCAN = 0.4484
    calib_ratio = timings["calib_range_sum"] / R02_CALIB_RANGE_SUM
    r01_subset_calibrated = round(r01_subset / max(calib_ratio, 1e-9), 4)
    # the I/O calibration ratio is reported separately: burst-throttled
    # virtual disks slow scan-bound queries 2-20x while the CPU calib
    # stays flat, so a run with calib_scan_ratio >> calib_ratio is
    # disk-state noise, not a code regression
    calib_scan_ratio = timings["calib_parquet_scan"] / R02_CALIB_PARQUET_SCAN
    max_row_age = _max_row_age_rounds()
    payload = {
        "metric": "pipeline_plus_headline_queries",
        "value": total,
        "unit": "sec",
        "value_r01_query_subset": r01_subset,
        "value_r01_query_subset_median": r01_subset_median,
        "value_r01_query_subset_calibrated": r01_subset_calibrated,
        "queries_median": medians,
        "calib_ratio_vs_r02": round(calib_ratio, 3),
        "calib_scan_ratio_vs_r02": round(calib_scan_ratio, 3),
        "max_row_age_rounds": max_row_age,
        "queries": timings,
        "sf": sf,
        "routed_speedup": round(
            timings["q_segment_live"] / max(timings["q_segment_routed"], 1e-9), 2
        ),
        "routed_speedup_sf1": round(
            timings["sf1_pricing_live"]
            / max(timings["sf1_pricing_routed"], 1e-9),
            2,
        ),
        "routed_rows_scanned": routed_rows,
        "live_rows_scanned": live_rows,
        "ivm_fold_speedup": round(
            timings["ivm_full_refresh"] / max(timings["ivm_cdc_fold"], 1e-9), 2
        ),
        "skew_salted_speedup_noaqe": round(
            timings["ext_skew_join_plain_noaqe"]
            / max(timings["ext_skew_join_salted_noaqe"], 1e-9),
            2,
        ),
        "skew_max_task_rows_plain": skew_max_plain,
        "skew_max_task_rows_salted": skew_max_salted,
        "skew_balance_factor": round(skew_max_plain / max(skew_max_salted, 1), 1),
        "windowdf_max_group_rows_plain": windowdf_max_group_plain,
        "scaling_4x_time_ratio": scaling,
        "layout_scan_frac_secondary_linear": linear_frac,
        "layout_scan_frac_secondary_zorder": zorder_frac,
        "bloom_shuffle_rows_plain": bloom_rows_plain,
        "bloom_shuffle_rows_pruned": bloom_rows_pruned,
        "bloom_shuffle_reduction": round(
            bloom_rows_plain / max(bloom_rows_pruned, 1), 1
        ),
    }
    # Full payload: one JSON line (historical format) + a copy on disk.
    # The driver records only a ~2 KB TAIL of stdout, which truncated the
    # FRONT of the single ~3 KB line in round 3 (BENCH_r03 parsed: null).
    # So the LAST line printed is a short scalar-only summary that always
    # fits the tail capture intact; the full per-query map lives in
    # BENCH_LOCAL.json and in the (possibly truncated) long line above it.
    print(json.dumps(payload))
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_LOCAL.json"), "w") as fh:
            json.dump(payload, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass
    short = {
        k: v for k, v in payload.items() if k not in ("queries", "queries_median")
    }
    print(json.dumps(short))


if __name__ == "__main__":
    main()
