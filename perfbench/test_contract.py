"""BENCHMARK.json must name what the benchmark prints; span arithmetic.

Run from the repository root: ``python3 -m pytest perfbench/test_contract.py``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent / "src"), str(HERE)]

import run  # noqa: E402
import spans  # noqa: E402


def _bench() -> dict:
    return json.loads((HERE.parent / "BENCHMARK.json").read_text())


def test_benchmark_json_matches_the_code():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == list(
        spans.PER_LAYER
    )
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in b["end_to_end"])


def test_covered_merges_and_clips_intervals():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert spans._covered(iv, 0.0, 10.0) == 3.0 + 1.0 + 1.0
    assert spans._covered(iv, 2.5, 5.5) == 0.5 + 0.5
    assert spans._covered([], 0.0, 1.0) == 0.0


def test_self_time_subtracts_children():
    op = spans.Span("scan", "scan-1", "scan", "scan-1", None, 0.0, 10.0)
    a = spans.Span("extract", "scan-1/extract", "scan", "scan-1", "scan-1", 1.0, 4.0)
    b = spans.Span("lsh", "scan-1/lsh", "scan", "scan-1", "scan-1", 3.0, 6.0)
    selfs = spans.self_times([op, a, b])
    assert selfs == {"scan-1": 5.0, "scan-1/extract": 3.0, "scan-1/lsh": 3.0}
