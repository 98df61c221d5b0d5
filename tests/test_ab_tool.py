"""tools/ab.py: pair order and the per-metric summary (no Spark)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "ab", Path(__file__).resolve().parent.parent / "tools" / "ab.py")
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def _rec(pair, side, **metrics):
    return {"pair": pair, "side": side, "workload": "w", "rc": 0,
            "result": {"correct": True, "metrics": {
                k: {"value": v, "unit": "x"} for k, v in metrics.items()}}}


def test_summary_counts_wins_by_direction():
    """Wins follow BENCHMARK.json's direction per metric: lower bytes and
    higher qps win; equal values are ties, not wins."""
    recs = []
    for p, (b0, b1, q0, q1) in enumerate(
            [(7.6, 5.7, 10, 12), (7.7, 5.6, 10, 9), (7.6, 7.6, 10, 11)]):
        recs += [_rec(p, "parent", store_bytes_per_posting=b0,
                      **{"serve.qps": q0}),
                 _rec(p, "change", store_bytes_per_posting=b1,
                      **{"serve.qps": q1})]
    lines = ab.summarize(recs)
    assert lines[0] == "w: 3 pairs, 0 failed or incorrect runs"
    bytes_line = next(l for l in lines if "store_bytes_per_posting" in l)
    assert "change wins 2/3 (ties 1)" in bytes_line
    assert "parent 7.6 [7.6, 7.65]" in bytes_line
    qps_line = next(l for l in lines if "serve.qps" in l)
    assert "change wins 2/3 (ties 0)" in qps_line


def test_summary_counts_failed_runs_and_skips_half_pairs():
    recs = [_rec(0, "parent", setup_s=0.1), _rec(0, "change", setup_s=0.2),
            _rec(1, "parent", setup_s=0.1),
            {"pair": 1, "side": "change", "workload": "w", "rc": 1,
             "result": None}]
    lines = ab.summarize(recs)
    assert lines[0] == "w: 2 pairs, 1 failed or incorrect runs"
    assert "change wins 0/1 (ties 0)" in lines[1]
