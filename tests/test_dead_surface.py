"""Regrowth guard: every package function or class is reached from a
contract, the benchmark or a script (scripts/dead_surface.py)."""

from __future__ import annotations

from pathlib import Path

_SCRIPTS = Path(__file__).resolve().parents[1] / "scripts"

# unreached definition -> why it stays
EXEMPT = {
    "dbt_databricks_metrics_spark.operators.bloom:bloom_release": (
        "caller-driven release of pinned cached bitsets; without it only "
        "the FIFO cap releases them"
    ),
}


def test_only_exempt_definitions_are_unreached(monkeypatch):
    monkeypatch.syspath_prepend(str(_SCRIPTS))
    from dead_surface import unreached

    hits = {f"{d.module}:{d.name}" for d in unreached()}
    assert hits == set(EXEMPT), (
        "delete these, reach them from a contract, bench.py, perfbench/ or "
        "scripts/, or exempt them with a reason: "
        + ", ".join(sorted(hits ^ set(EXEMPT)))
    )
