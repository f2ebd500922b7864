"""Smoke test for the benchmark at the tiny fixture size.

    python3 perfbench/smoke_test.py [--data ~/testdata/sf0.001] [--seconds 2]

Runs every workload once untraced and once traced, and asserts that each
run exits 0, reports zero failed operations, and prints every metric
BENCHMARK.json names with its unit (end-to-end values non-zero).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402


def check(workload: str, trace: int, data: str, seconds: str, spec: dict) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", seconds, "--trace", str(trace), "--data", data]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, f"{workload}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0, (workload, result)
    assert result["attempted"] >= 1, (workload, result)
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}, (workload, sorted(got))
    for m in wanted:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], (workload, m["name"], v)
        assert isinstance(v["value"], float), (workload, m["name"], v)
        if not trace:
            assert v["value"] > 0, (workload, m["name"], v)
    print(f"ok {workload} trace={trace}: {result['attempted']} ops, 0 failed")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--data", default=os.path.join("~", "testdata", "sf0.001"))
    p.add_argument("--seconds", default="2")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for workload in WORKLOADS:
        for trace in (0, 1):
            check(workload, trace, args.data, args.seconds, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
