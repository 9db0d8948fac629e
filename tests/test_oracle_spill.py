"""The DuckDB oracle harness spills to a directory of its own per
connection: two `run_oracle` calls at once from one working directory
both succeed, neither spills under that directory, and each spill
directory is gone when its call returns."""

from __future__ import annotations

import multiprocessing
import os
from concurrent.futures import ProcessPoolExecutor

from metrics_service_spark.testing.oracle import run_oracle

# a DISTINCT over 4M hashes under a 48 MB memory limit: the aggregate
# outgrows memory, so DuckDB writes temp blocks
SPILLING = (
    "SET memory_limit='48MB'; SET threads=2; "
    "SELECT current_setting('temp_directory') AS spill, count(*) AS n "
    "FROM (SELECT DISTINCT hash(range) AS x FROM range(4000000))"
)


def test_concurrent_oracles_spill_apart(tmp_path, monkeypatch):
    # two processes, as two oracle sweeps are: when both spilled to
    # `./.tmp`, one read back temp blocks the other had removed
    monkeypatch.chdir(tmp_path)
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=2, mp_context=ctx) as pool:
        runs = [pool.submit(run_oracle, SPILLING, str(tmp_path)) for _ in range(2)]
        results = [r.result() for r in runs]
    spills = []
    for cols, rows in results:
        assert cols == ["spill", "n"]
        ((spill, n),) = rows
        assert n == 4_000_000
        spills.append(os.path.abspath(spill))
    assert spills[0] != spills[1]
    for spill in spills:
        assert not spill.startswith(str(tmp_path))
        assert not os.path.exists(spill)
    assert os.listdir(tmp_path) == []
