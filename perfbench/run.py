"""Benchmark entry point: one seeded workload, measured end to end.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Runs from the root of a source checkout. The run starts a Spark session
the way a user does, sets the workload up (timed as ``setup_s``), checks
every output it serves, and prints as its last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones from span tracing (see perfbench/README.md).

Input tables are the fixture parquet of TESTDATA.md, read from
``--data`` (default ``~/testdata/sf0.1``) and copied into the run's
temp root inside the checkout before any timer starts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4  # local[4], the same on every host, so runs compare across hosts
# A fixed heap (-Xms = -Xmx): with a growable one, peak RSS followed the
# collector's resizing history and varied by a third between runs.
DRIVER_MEMORY = "1g"
# The driver JVM compiles with C1 only. With C2, a run's latency level
# moved by a fifth from one run to the next and fell for the first
# seconds of every run, and C2's compile threads took cores from the
# engine during set-up (perfbench/README.md, "JIT").
JIT = "-XX:TieredStopAtLevel=1"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data", default=os.path.join("~", "testdata", "sf0.1"),
                   help="fixture directory (default: %(default)s)")
    return p.parse_args(argv)


def tail(xs):
    """The highest sample with at least ten samples beyond it (the upper
    median when there are fewer than 21 samples), and its percentile."""
    s = sorted(xs)
    n = len(s)
    idx = max(n - 11, n // 2)
    return s[idx], 100.0 * (idx + 1) / n


def _warm_page_cache(paths):
    """Read files once so the timed set-up starts with a warm OS page
    cache, as a repeat user's does."""
    for top in paths:
        for d, _, files in os.walk(top):
            for f in files:
                with open(os.path.join(d, f), "rb") as fh:
                    while fh.read(1 << 22):
                        pass


def _proc_children(pid):
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def _descendants(pid):
    todo, seen = _proc_children(pid), []
    while todo:
        c = todo.pop()
        seen.append(c)
        todo += _proc_children(c)
    return seen


def _hwm_kb(pid):
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Bench:
    """Run state shared by the runner and the workload."""

    def __init__(self, args, tmp, data_dir, tracer):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.tmp = tmp
        self.data_dir = data_dir
        self.tracer = tracer
        self.spark = None
        self.steps = {}
        self._untimed = 0.0

    @contextmanager
    def step(self, name):
        """A set-up step: timed always, traced as a span in trace mode."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.steps[name] = round(time.perf_counter() - t0, 4)

    @contextmanager
    def untimed(self):
        """Benchmark bookkeeping inside set-up, kept out of ``setup_s``."""
        t0 = time.perf_counter()
        yield
        self._untimed += time.perf_counter() - t0


def _probe(spark):
    """Fixed host-speed probes: a Spark range sum and a Python loop."""
    spark_ms, py_ms = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 4_000_000, 1, CPUS).selectExpr("sum(id)").collect()
        spark_ms.append((time.perf_counter() - t0) * 1e3)
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        py_ms.append((time.perf_counter() - t0) * 1e3)
    # the first round is a warm-up
    return statistics.median(spark_ms[1:]), statistics.median(py_ms[1:])


def _cpu_ticks():
    """(all, steal) clock ticks of the host's CPUs so far, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def _gc_ms(spark):
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def _measure(b, wl, seconds):
    """Closed loop: each client issues its next op when the last returns.
    In trace mode whole rounds alternate traced / untraced."""
    from perfbench.workloads import Mismatch

    lock = threading.Lock()
    samples = {True: [], False: []}
    counts = {"attempted": 0, "failed": 0}
    round_len = getattr(wl, "round_len", 1)
    deadline = time.perf_counter() + seconds

    def client(c):
        i = 0
        while time.perf_counter() < deadline:
            traced = b.trace and (i // round_len) % 2 == 0
            b.tracer.set_thread_tracing(traced)
            try:
                with b.tracer.span("op"):
                    ms = wl.op(b, c, i)
                ok = True
            except Mismatch as e:
                ok = False
                print(f"perfbench: mismatch: {e}", file=sys.stderr)
            except Exception:
                ok = False
                traceback.print_exc()
            with lock:
                counts["attempted"] += 1
                if ok:
                    samples[traced].append(ms)
                else:
                    counts["failed"] += 1
            i += 1

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client, args=(c,)) for c in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    b.tracer.set_thread_tracing(True)
    return samples, counts, wall


def _layer_metrics(b, wl, samples, gc_ms, probes):
    from perfbench.trace import Summary

    summ = Summary(b.tracer.spans)
    out = {}
    out.update(summ.layer(summ.select("session"), "session.start_ms", None))
    out.update(summ.layer(summ.select("MetricEngine.run", "setup"),
                          "models.run_ms", "models.jobs"))
    out.update(wl.layer_metrics(summ))
    out["jvm.gc_ms"] = gc_ms
    traced = statistics.median(samples[True] or [0])
    untraced = statistics.median(samples[False] or [0])
    out["op.traced_ms"] = traced
    out["op.untraced_ms"] = untraced
    out["trace.overhead_pct"] = 100.0 * (traced - untraced) / untraced if untraced else 0.0
    out["host.spark_probe_ms"] = statistics.median([probes[0][0], probes[1][0]])
    out["host.python_probe_ms"] = statistics.median([probes[0][1], probes[1][1]])
    return out


def _benchmark_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _stop_spark(spark):
    """Stop the session and the JVM it launched, and wait for both (and
    any Python workers under the JVM) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{k}") for k in kids):
        time.sleep(0.1)


def run(args) -> int:
    data_dir = os.path.expanduser(args.data)
    if not os.path.isdir(data_dir):
        print(f"perfbench: fixture directory {data_dir} not found", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import pyspark

        from dbt_databricks_metrics_spark import session
        from perfbench import trace
        from perfbench.workloads import WORKLOADS
        e2e_names, layer_names = _benchmark_names()
    except (ImportError, OSError) as e:
        print(f"perfbench: cannot load the engine or BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    marks = {}  # seconds since the run started, at each phase boundary
    start = time.perf_counter()

    def mark(name):
        marks[name] = round(time.perf_counter() - start, 2)

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    spark = None
    try:
        local = os.path.join(tmp, "data")
        shutil.copytree(data_dir, local)
        spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
        _warm_page_cache([local, os.path.join(spark_home, "jars")])
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        jtmp = os.path.join(tmp, "jvm-tmp")
        os.makedirs(jtmp)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')} "
            f"--driver-java-options '-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={jtmp} {JIT}' "
            f"pyspark-shell")

        tracer = trace.Tracer(enabled=bool(args.trace))
        if args.trace:
            trace.install(tracer)
        b = Bench(args, tmp, local, tracer)
        wl = WORKLOADS[args.workload]()

        mark("copied")
        t0 = time.perf_counter()
        with b.step("session"):
            spark = b.spark = session.get_spark("perfbench", cpus=CPUS)
            spark.range(1000).count()
            spark.read.parquet(os.path.join(local, "orders.parquet")).count()
        wl.setup(b)
        setup_s = time.perf_counter() - t0 - b._untimed
        mark("set_up")
        probes = [_probe(spark)]
        wl.prepare(b)
        gc0 = _gc_ms(spark)
        mark("prepared")
        tracer.phase = "timed"
        ticks0 = _cpu_ticks()
        samples, counts, wall = _measure(b, wl, args.seconds)
        ticks1 = _cpu_ticks()
        mark("measured")
        tracer.phase = "check"
        gc_ms = _gc_ms(spark) - gc0
        probes.append(_probe(spark))
        checks, checks_failed = wl.finish(b)
        mark("checked")
        counts["attempted"] += checks
        counts["failed"] += checks_failed
        py_rss_mb = _hwm_kb(os.getpid()) / 1024
        rss_mb = py_rss_mb + sum(_hwm_kb(p) for p in _descendants(os.getpid())) / 1024

        lat = samples[False] + samples[True]
        tail_ms, tail_pct = tail(lat) if lat else (0.0, 0.0)
        if args.trace:
            metrics = _layer_metrics(b, wl, samples, gc_ms, probes)
            names = layer_names
        else:
            metrics = {"setup_s": setup_s, "peak_rss_mb": rss_mb,
                       "ops_per_s": len(lat) / wall,
                       "op_p50_ms": statistics.median(lat) if lat else 0.0,
                       "op_tail_ms": tail_ms}
            names = e2e_names
        diag = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                "setup_steps_s": b.steps, "ops": len(lat), "wall_s": round(wall, 3),
                "tail_percentile": round(tail_pct, 1),
                "python_rss_mb": round(py_rss_mb, 1), "jvm_rss_mb": round(rss_mb - py_rss_mb, 1),
                "host_probe_before_ms": [round(x, 2) for x in probes[0]],
                "host_probe_after_ms": [round(x, 2) for x in probes[1]],
                "steal_pct": round(100.0 * (ticks1[1] - ticks0[1])
                                   / max(1, ticks1[0] - ticks0[0]), 2),
                **wl.diagnostics()}
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        mark("stopped")
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass

    diag["marks_s"] = marks
    print("perfbench: " + json.dumps(diag))
    failed = counts["failed"]
    result = {
        "correct": failed == 0,
        "attempted": counts["attempted"],
        "failed": failed,
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u}
                    for n, u in names.items()},
    }
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    return run(_parse(argv if argv is not None else sys.argv[1:]))


if __name__ == "__main__":
    sys.exit(main())
