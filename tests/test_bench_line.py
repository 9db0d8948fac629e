"""The canonical `bench.py` stdout line stays one valid JSON line under
its size budget."""

from __future__ import annotations

import json

import bench


def _record(n_queries: int) -> dict:
    return {
        "metric": "headline_queries_total_wall",
        "value": 1.0,
        "unit": "sec",
        "queries": {f"query_{i:04d}": 0.123 for i in range(n_queries)},
        "reps": 3,
        "sf": "/data/sf0.1",
    }


def test_small_line_keeps_its_medians():
    detail: dict = {}
    line = bench.canonical_line(_record(3), detail)
    assert json.loads(line) == _record(3)
    assert detail == {}


def test_oversized_line_moves_medians_to_detail():
    rec = _record(400)
    assert len(json.dumps(rec, separators=(",", ":"))) >= bench.LINE_BUDGET
    detail: dict = {}
    line = bench.canonical_line(rec, detail)
    assert len(line) < bench.LINE_BUDGET and "\n" not in line
    parsed = json.loads(line)
    assert "queries" not in parsed
    assert parsed["queries_in"] == bench.DETAIL_FILE
    assert parsed["value"] == rec["value"]
    assert detail["queries"] == rec["queries"]
