"""Mirror of the driver's correctness gate: run every queries() entry and
its oracle_sql() on the same fixtures, compare rowcount+schema+values.

Usage: python scripts/check_entry.py [--strict|--paranoid] [sf_dir] [query ...]
(with query names, only those entries are checked and entry() is skipped)

--strict mirrors the driver's hash gate: values must be EXACTLY equal
(bit-identical floats after both sides' rounding), not merely within
1e-6 — this is what decides hash_match in CORRECTNESS_r{N}.json.

--paranoid re-runs each contract under adversarial execution layouts
(source repartition + shuffle-partition + session-timezone perturbation)
and fails if any value changes bit-wise vs the unperturbed run — the
layout-invariance property the driver's gate actually tests.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from dbt_databricks_metrics_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    """Sort key: coarse enough that float noise can't reorder rows."""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return 0.0
        return round(v, max(0, 5 - int(math.log10(abs(v)))))
    if hasattr(v, "isoformat"):
        return v.isoformat()[:19]
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return float(v)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def values_close(a, b, rel=1e-6) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(values_close(x, y, rel) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) == math.isnan(b)
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=1e-9)
    return a == b


def values_exact(a, b) -> bool:
    """Driver-hash equivalence: exact representation equality (NaN==NaN)."""
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(values_exact(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return float(a) == float(b)
    return a == b


# --paranoid: execution-layout invariance sweep (VERDICT r3 #4).
# The driver's hash gate effectively tests "same values under a DIFFERENT
# execution layout than my dev host" — twice in three rounds a contract
# passed the strict local mirror yet failed the driver hash. Each
# perturbation below re-runs the contract under an adversarial layout and
# requires every hashed value to be BIT-IDENTICAL to the baseline run:
#   layout3: repartition(7) on every source read + shuffle.partitions=3
#            + 1 MiB input splits (maxPartitionBytes — perturbs the scan
#            partitioning of every parquet a contract WRITES mid-flight;
#            fixture files hold one row group, so their reads are
#            unaffected by design)
#   layout200: repartition(3) on every source + shuffle.partitions=200
#              + a non-UTC session timezone + 256 MiB input splits
# Timestamp-typed output columns are compared only within the same session
# timezone (collected datetimes are rendered in session tz — a harness
# representation, not a computed value), and event-time contracts (whose
# instants are NTZ-derived via the documented UTC-pinned loader,
# fixtures.py::_load_events) skip the tz-perturbed variant entirely.
PERTURBATIONS = [
    # arrow_batch: maxRecordsPerBatch shrinks every mapInPandas /
    # pandas_udf Arrow batch to 7 rows — any kernel whose result depends
    # on batch SHAPE (cross-row state inside a batch, per-batch
    # accumulators, dtype inference from batch contents) diverges here
    {"name": "layout3", "shuffle": "3", "repartition": "7", "tz": None,
     "mpb": str(1024 * 1024), "arrow_batch": "7"},
    {"name": "layout200", "shuffle": "200", "repartition": "3",
     "tz": "America/New_York", "mpb": str(256 * 1024 * 1024),
     "arrow_batch": "100000"},
]


def _reset_entry_caches() -> None:
    entrymod._ENGINES.clear()
    entrymod._BUCKETED.clear()


def _collect_sorted(df):
    cols = sorted(df.columns)
    dtypes = dict(df.dtypes)
    rows = [tuple(r[c] for c in cols) for r in df.collect()]
    return cols, dtypes, sorted(rows, key=lambda t: tuple(str(v) for v in t))


def _is_event_time(fn) -> bool:
    """Event-time contracts read the events table, whose NTZ timestamps
    are interpreted in the session timezone by the documented UTC-pinned
    loader — their instants legitimately shift under the tz perturbation.
    Detection walks the IMPORTED code object's string constants (an
    earlier inspect.getsource version re-read the file from disk, which
    mis-attributed source text when the file was edited mid-sweep)."""

    def _consts(code):
        for c in code.co_consts:
            if isinstance(c, str):
                yield c
            elif hasattr(c, "co_consts"):
                yield from _consts(c)

    code = getattr(fn, "__code__", None)
    if code is None:
        return False
    return "events" in getattr(fn, "__name__", "") or any(
        "events" in s for s in _consts(code)
    )


def run_paranoid(spark, sf_dir: str, only: set[str]) -> int:
    qs = entrymod.queries()
    names = [n for n in qs if not only or n in only]
    base_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    base_tz = spark.conf.get("spark.sql.session.timeZone")
    base_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    base_arrow = spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
    )
    failures = []
    baseline: dict[str, tuple] = {}
    print(f"paranoid baseline ({len(names)} queries)")
    _reset_entry_caches()
    for n in names:
        try:
            baseline[n] = _collect_sorted(qs[n](spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            failures.append((n, f"baseline error: {e}"))
            print(f"FAIL {n}: baseline error: {e}")
    for pert in PERTURBATIONS:
        print(f"paranoid variant {pert['name']}")
        os.environ["SPARK_GRAFT_PERTURB_REPARTITION"] = pert["repartition"]
        spark.conf.set("spark.sql.shuffle.partitions", pert["shuffle"])
        spark.conf.set("spark.sql.files.maxPartitionBytes", pert["mpb"])
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            pert["arrow_batch"],
        )
        if pert["tz"]:
            spark.conf.set("spark.sql.session.timeZone", pert["tz"])
        _reset_entry_caches()
        try:
            for n in names:
                if n not in baseline:
                    continue
                # event-time contracts legitimately shift under the tz
                # perturbation, but the LAYOUT part of a tz-bundled
                # variant still applies — run them with the variant's
                # layout at the base tz instead of skipping the variant
                tz_detuned = bool(pert["tz"]) and _is_event_time(qs[n])
                if tz_detuned:
                    spark.conf.set("spark.sql.session.timeZone", base_tz)
                    _reset_entry_caches()
                    print(
                        f"note {n} [{pert['name']}]: event-time contract,"
                        " layout perturbed at base tz"
                    )
                try:
                    cols, dtypes, rows = _collect_sorted(qs[n](spark, sf_dir))
                except Exception as e:  # noqa: BLE001
                    failures.append((n, f"{pert['name']} error: {e}"))
                    print(f"FAIL {n} [{pert['name']}]: error: {e}")
                    continue
                finally:
                    if tz_detuned:
                        spark.conf.set(
                            "spark.sql.session.timeZone", pert["tz"]
                        )
                        _reset_entry_caches()
                bcols, bdtypes, brows = baseline[n]
                if cols != bcols:
                    failures.append((n, f"{pert['name']} schema drift"))
                    print(f"FAIL {n} [{pert['name']}]: schema {cols} vs {bcols}")
                    continue
                if len(rows) != len(brows):
                    failures.append((n, f"{pert['name']} rowcount {len(rows)} vs {len(brows)}"))
                    print(f"FAIL {n} [{pert['name']}]: rowcount {len(rows)} vs {len(brows)}")
                    continue
                skip_idx = {
                    i for i, c in enumerate(cols)
                    if pert["tz"] and not tz_detuned
                    and bdtypes.get(c, "").startswith("timestamp")
                }
                bad = None
                for a, b in zip(rows, brows):
                    for i, (x, y) in enumerate(zip(a, b)):
                        if i in skip_idx:
                            continue
                        if not values_exact(x, y):
                            bad = (cols[i], x, y)
                            break
                    if bad:
                        break
                if bad:
                    failures.append((n, f"{pert['name']} value drift in {bad[0]}"))
                    print(f"FAIL {n} [{pert['name']}]: {bad[0]}: {bad[1]!r} != baseline {bad[2]!r}")
                else:
                    print(f"ok   {n} [{pert['name']}]: {len(rows)} rows bit-identical")
        finally:
            os.environ.pop("SPARK_GRAFT_PERTURB_REPARTITION", None)
            spark.conf.set("spark.sql.shuffle.partitions", base_shuffle)
            spark.conf.set("spark.sql.session.timeZone", base_tz)
            spark.conf.set("spark.sql.files.maxPartitionBytes", base_mpb)
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", base_arrow
            )
    _reset_entry_caches()
    if failures:
        print(f"\n{len(failures)} PARANOID FAILURES")
        return 1
    print("\nall queries layout-invariant")
    return 0


def main() -> int:
    argv = sys.argv[1:]
    strict = "--strict" in argv
    if strict:
        argv = [a for a in argv if a != "--strict"]
    paranoid = "--paranoid" in argv
    if paranoid:
        argv = [a for a in argv if a != "--paranoid"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    compare = values_exact if strict else values_close
    spark = get_spark("check_entry", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query name(s): {sorted(unknown)}")
        return 2
    if paranoid:
        return run_paranoid(spark, sf_dir, only)
    failures = []
    # per contract: [Spark seconds (build + collect), DuckDB-oracle seconds]
    timings: dict[str, list[float]] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        spent = timings[name] = [0.0, 0.0]
        t0 = time.perf_counter()
        try:
            try:
                df = fn(spark, sf_dir)
                rows = [tuple(r) for r in df.collect()]
                cols = df.columns
                spent[0] = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001
                failures.append((name, f"spark error: {e}"))
                print(f"FAIL {name}: spark error: {e}")
                continue
            if name not in oracles:
                print(f"ok   {name}: rows-only ({len(rows)} rows)")
                continue
            t0 = time.perf_counter()
            try:
                if strict:
                    # VERDICT r5 #7: the driver fetches the oracle through a
                    # pandas/arrow path, where DuckDB HUGEINT/DECIMAL columns
                    # serialize differently from Spark int64/double and flip
                    # the value hash on IDENTICAL values (the entire r1-r5 red
                    # class). fetchall() hides this — Python ints compare fine
                    # — so the strict mirror must flag the TYPE, not the value.
                    rel = con.sql(oracles[name])
                    unstable = [
                        (c, str(t))
                        for c, t in zip(rel.columns, rel.types)
                        if any(u in str(t).upper() for u in ("HUGEINT", "DECIMAL"))
                    ]
                    if unstable:
                        failures.append((name, f"fetch-unstable oracle types: {unstable}"))
                        print(
                            f"FAIL {name}: oracle result types {unstable} are "
                            f"fetch-unstable (driver would hash-mismatch); wrap "
                            f"the aggregate in CAST(... AS BIGINT)"
                        )
                        continue
                res = con.execute(oracles[name])
                dcols = [d[0] for d in res.description]
                drows = [tuple(r) for r in res.fetchall()]
                if strict:
                    # ...and the VALUES through the arrow path must equal the
                    # fetchall() values (a representation divergence between
                    # the two fetch channels is exactly what a driver-side
                    # hash red looks like locally)
                    tbl = con.sql(oracles[name]).arrow()
                    arows = [
                        tuple(row[c] for c in dcols)
                        for row in tbl.to_pylist()
                    ]
                    if sorted(map(repr, arows)) != sorted(map(repr, drows)):
                        failures.append((name, "arrow/fetchall representation divergence"))
                        print(
                            f"FAIL {name}: oracle values differ between the "
                            f"arrow fetch and fetchall() — the driver's fetch "
                            f"path would hash-mismatch"
                        )
                        continue
                spent[1] = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001
                failures.append((name, f"duckdb error: {e}"))
                print(f"FAIL {name}: duckdb error: {e}")
                continue
            if sorted(cols) != sorted(dcols):
                failures.append((name, f"schema: {sorted(cols)} vs {sorted(dcols)}"))
                print(f"FAIL {name}: schema {sorted(cols)} vs {sorted(dcols)}")
                continue
            if len(rows) != len(drows):
                failures.append((name, f"rowcount {len(rows)} vs {len(drows)}"))
                print(f"FAIL {name}: rowcount {len(rows)} vs {len(drows)}")
                continue
            sidx = [cols.index(c) for c in sorted(cols)]
            didx = [dcols.index(c) for c in sorted(cols)]

            def _conv(v):
                if hasattr(v, "isoformat"):
                    return v.isoformat()[:19]
                if isinstance(v, list):
                    return tuple(v)
                from decimal import Decimal

                if isinstance(v, Decimal):
                    return float(v)
                return v

            def _key(t):
                return tuple(str(norm(x)) for x in t)

            s = sorted((tuple(_conv(r[i]) for i in sidx) for r in rows), key=_key)
            d = sorted((tuple(_conv(r[i]) for i in didx) for r in drows), key=_key)
            bad = [i for i, (a, b) in enumerate(zip(s, d)) if not compare(a, b)]
            if bad:
                i = bad[0]
                failures.append((name, f"{len(bad)} value mismatches"))
                print(f"FAIL {name}: {len(bad)} mismatched rows; first:\n  spark={s[i]}\n  duck ={d[i]}")
            else:
                print(f"ok   {name}: {len(rows)} rows match")
        finally:
            if not spent[0]:
                spent[0] = time.perf_counter() - t0
            print(f"time {name}: spark {spent[0]:.2f}s duckdb {spent[1]:.2f}s")

    slowest = sorted(timings.items(), key=lambda kv: -sum(kv[1]))[:5]
    print("\nslowest contracts (spark s, duckdb s):")
    for name, (sp, dk) in slowest:
        print(f"  {name}: {sp:.2f} {dk:.2f}")

    if not only:
        ent = entrymod.entry(spark)
        n = ent.count()
        print(f"entry(): {n} rows, schema={ent.columns}")
    if failures:
        print(f"\n{len(failures)} FAILURES")
        return 1
    print("\nall queries match oracle")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
