"""The one-task gate on window-derived graph inputs (`driver._one_task`):
it runs no job, coalesces a small scan of few files and nothing else,
the chain window above it then plans no exchange, and the three chain
entries return the same rows with the gate on and forced off."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from metrics_service_spark.operators import closure, driver
from metrics_service_spark.sources.tables import load_table

ENTRIES = ["order_components", "order_chains", "pid_family_closure"]


@pytest.fixture(scope="module")
def split_orders(sf_dir, tmp_path_factory):
    """sf_dir's orders as a table of 4 part files, rows interleaved
    across them."""
    out = tmp_path_factory.mktemp("split")
    table = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
    os.makedirs(out / "orders.parquet")
    for k in range(4):
        part = table.take(list(range(k, table.num_rows, 4)))
        pq.write_table(part, out / "orders.parquet" / f"part-{k}.parquet")
    return str(out)


def test_one_task_runs_no_job(spark, split_orders, monkeypatch, count_jobs):
    orders = load_table(spark, split_orders, "orders")
    out = {}
    assert count_jobs(lambda: out.update(df=driver._one_task(orders))) == 0
    assert out["df"].rdd.getNumPartitions() == 1
    # past the file bound, past the size bound, or of unknown size: as is
    monkeypatch.setattr(driver, "ONE_TASK_FILES", 3)
    assert driver._one_task(orders) is orders
    monkeypatch.undo()
    monkeypatch.setattr(driver, "ONE_TASK_BYTES", 0)
    assert driver._one_task(orders) is orders
    monkeypatch.undo()
    local = spark.createDataFrame([(1,)], "x long")
    assert driver._one_task(local) is local


def _chain_window_plan(spark, sf_dir, monkeypatch) -> str:
    """The executed plan of the frame order_chains hands to its bounded
    collect: the chain window over the orders scan."""
    from metrics_service_spark.catalog import all_queries

    seen = []
    real = driver._bounded_arrow

    def spy(df, limit):
        seen.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, limit)

    monkeypatch.setattr(driver, "_bounded_arrow", spy)
    all_queries()["order_chains"].fn(spark, sf_dir).collect()
    monkeypatch.setattr(driver, "_bounded_arrow", real)
    (plan,) = seen
    return plan


def test_chain_window_plans_no_exchange(spark, split_orders, monkeypatch):
    """Under the gate the window reads one partition and plans no
    exchange, nor does the collect's limit; past the file bound the
    window's hash exchange is back."""
    plan = _chain_window_plan(spark, split_orders, monkeypatch)
    assert "Window" in plan and "Exchange" not in plan
    monkeypatch.setattr(driver, "ONE_TASK_FILES", 3)
    plan = _chain_window_plan(spark, split_orders, monkeypatch)
    assert "Exchange hashpartitioning(o_custkey" in plan


@pytest.mark.parametrize("name", ENTRIES)
def test_gate_on_equals_off(spark, split_orders, monkeypatch, name):
    """The same rows with the gate on and forced off (size bound 0), on
    a 4-file orders table, through the driver finishes and through the
    distributed loops (their bounds at 0)."""
    from metrics_service_spark.catalog import all_queries

    fn = all_queries()[name].fn

    def both_gates() -> list:
        out = []
        for gate in (driver.ONE_TASK_BYTES, 0):
            monkeypatch.setattr(driver, "ONE_TASK_BYTES", gate)
            out.append(sorted(map(tuple, fn(spark, split_orders).collect())))
        monkeypatch.undo()
        return out

    got = both_gates()
    for bound in ("LOCAL_FINISH_EDGES", "CHAIN_LOCAL_ROWS", "BFS_LOCAL_ROWS"):
        monkeypatch.setattr(closure, bound, 0)
    got += both_gates()
    assert got[0] and all(rows == got[0] for rows in got)
