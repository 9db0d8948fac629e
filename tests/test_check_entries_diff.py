"""`tools/check_entries.py --diff`: every delta is printed, and the
entries known to vary on unchanged code get a line of their own."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

import check_entries  # noqa: E402


def _artifact(path, jobs):
    results = {n: {"status": "pass", "jobs": j, "aqe_stage_jobs": 0} for n, j in jobs.items()}
    with open(path, "w") as fh:
        json.dump({"results": results}, fh)
    return str(path)


def test_diff_sets_varying_entries_apart(tmp_path, capsys):
    before = _artifact(tmp_path / "a.json", {
        "ev_sessionize_bucketed": 5, "emb_knn_pagerank_conserving": 28, "tpch_q1": 2,
    })
    after = _artifact(tmp_path / "b.json", {
        "ev_sessionize_bucketed": 6, "emb_knn_pagerank_conserving": 30, "tpch_q1": 3,
    })
    check_entries.diff(before, after)
    out = capsys.readouterr().out
    for row in ("| ev_sessionize_bucketed | 5 | 6 | +1 |",
                "| emb_knn_pagerank_conserving | 28 | 30 | +2 |",
                "| tpch_q1 | 2 | 3 | +1 |"):
        assert row in out
    # 5 -> 6 stays inside its measured range; 30 leaves its range
    assert "2 entries rose: emb_knn_pagerank_conserving, tpch_q1" in out
    assert ("known to vary on unchanged code: emb_knn_pagerank_conserving 28 -> 30 "
            "(varies 28-29), ev_sessionize_bucketed 5 -> 6 (varies 5-6)") in out
