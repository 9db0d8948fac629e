"""r14 plan-quality guards: the scale-load-bearing plan properties of
the round's new operators, pinned so a refactor can't silently lose
them (the test_r10..r13_guards pattern)."""

from __future__ import annotations

import io
import contextlib

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dispatcher_pushes_scope_filters_to_scan(spark):
    """The end-to-end MetricsRequest plan must push the date-range and
    session predicates THROUGH the eventlog adapter aliases down to
    the parquet scan (P-class pushdown on the public API path)."""
    from metrics_service_spark.catalog.request import (
        q_metrics_request_daily_country,
    )

    plan = _formatted(q_metrics_request_daily_country(spark, SF))
    assert "GreaterThan(ts,2024-01-01" in plan  # strict-gt range start
    assert "LessThanOrEqual(ts,2024-02-01" in plan  # lte range end
    assert "Not(EqualTo(user_id,-1))" in plan  # sessionId != -1


def test_bpe_merge_scan_is_pure_projection(spark):
    """One greedy merge round is a codegen F.aggregate scan — NO
    exchange may appear between the vocab rows and the merged symbol
    arrays (the no-per-round-shuffle contract the FLAT 50x probe row
    rests on)."""
    from metrics_service_spark.operators.bpe import merge_pair_scan

    vocab = spark.createDataFrame(
        [(["a", "b"],), (["a", "a", "b"],)], "syms array<string>"
    )
    plan = _executed(
        vocab.select(merge_pair_scan(F.col("syms"), "a", "b").alias("m"))
    )
    assert "Exchange" not in plan


def test_auc_cumulative_window_is_bucket_partitioned(spark):
    """global_cumsum's in-bucket window must be PARTITIONED (by the
    coarse score bucket) — the only single-partition exchanges allowed
    in the AUC plan are the tiny per-bucket offset frame and the final
    one-row aggregate."""
    from metrics_service_spark.catalog.llm import q_doc_classifier_auc

    plan = _executed(q_doc_classifier_auc(spark, SF))
    assert "__bkt" in plan  # the bucketed window/join survived
    assert plan.count("Exchange SinglePartition") <= 2


@pytest.mark.parametrize("conserve_mass", [False, True])
def test_pagerank_no_driver_collect_in_plan_build(spark, count_jobs, conserve_mass):
    """pagerank_int holds no driver-side state: the only build-time
    jobs are the lazy-checkpoint materializations (edges, node set and
    — r18 — the degree/N re-attach frame: the under-AQE toRdd jobs),
    NEVER a data-sized collect.  Pinned as ROUND-INDEPENDENCE: the
    checkpoints are built once, so tripling `iters` must add ZERO
    build-time jobs (a per-round collect/probe would scale with
    iters); N — and with conserve_mass the dangling mass — enters as a
    broadcast one-row aggregate, unlike the Lloyd-loop's driver-held
    centroids.  Node 3 has no out-edges, so the dangling term is live."""
    from metrics_service_spark.operators.closure import pagerank_int

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3)], "src_id long, dst_id long"
    )

    def build(iters):  # build only, no action
        return pagerank_int(edges, iters=iters, conserve_mass=conserve_mass)

    n1 = count_jobs(lambda: build(1))
    assert count_jobs(lambda: build(3)) == n1
    # and the built plan never collects: no CollectLimit/toLocal nodes
    assert "CollectLimit" not in _executed(build(3))
