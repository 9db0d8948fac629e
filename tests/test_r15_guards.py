"""r15 plan-quality guards: the production BPE apply path must stay
training-free, and the driver-local-finish trainer's Spark-job count
must stay independent of n_merges (the test_r10..r14_guards pattern)."""

from __future__ import annotations

import io
import contextlib

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bpe_apply_launches_no_training_jobs(spark, count_jobs):
    """Applying a stored merge list is plan construction ONLY: zero
    Spark jobs (no per-round argmax collect, no checkpoint below the
    checkpoint_every boundary) — the contract that makes apply-many
    affordable at production merge counts."""
    from metrics_service_spark.operators.bpe import bpe_apply

    docs = spark.createDataFrame(
        [(1, "ab ab abc"), (2, "banana")], "doc_id int, text string"
    )
    merges = [("a", "b"), ("ab", "c")]
    assert count_jobs(lambda: bpe_apply(docs, merges=merges)) == 0
    out = bpe_apply(docs, merges=merges)
    # and the built plan is join+agg over the replayed vocab: no pair
    # counting, no argmax anywhere
    plan = _executed(out)
    assert "pair_count" not in plan
    assert "TakeOrdered" not in plan


def test_bpe_apply_plan_is_vocab_join_plus_agg(spark):
    """The corpus side of apply touches tokens exactly once: one join
    against the vocab-sized unit table, one per-doc aggregate — never
    a per-merge corpus scan.  Gate: the number of Exchanges must not
    grow with the merge count (merges are chained pure projections)."""
    from metrics_service_spark.operators.bpe import bpe_apply

    docs = spark.createDataFrame(
        [(1, "ab ab abc"), (2, "banana")], "doc_id int, text string"
    )
    plan2 = _executed(bpe_apply(docs, merges=[("a", "b"), ("a", "n")]))
    plan5 = _executed(
        bpe_apply(
            docs,
            merges=[("a", "b"), ("a", "n"), ("an", "an"), ("b", "anan"), ("ab", "c")],
        )
    )
    assert plan2.count("Exchange") == plan5.count("Exchange")


def test_bpe_local_finish_job_count_independent_of_merges(spark, count_jobs):
    """The driver-local finish runs the ONE corpus-sized aggregation
    and collects the vocab — total Spark jobs must be the same at 2
    and at 6 merges (a per-round Spark loop would add jobs per merge)."""
    from metrics_service_spark.operators.bpe import bpe_train_local_finish

    docs = spark.createDataFrame(
        [("ab ab ab abc",), ("banana bandana cabbage",), ("ba abab dada",)],
        "text string",
    )

    def jobs_for(n: int) -> int:
        return count_jobs(lambda: bpe_train_local_finish(docs, "text", n_merges=n))

    assert jobs_for(2) == jobs_for(6)


def test_bpe_apply_pushes_column_pruning_to_scan(spark, sf_dir):
    """Off the parquet documents table, BOTH scans of the apply plan
    (vocab build + token stream) must read only the columns they use —
    text for the vocab, doc_id+text for the counts; never the full
    documents row."""
    from metrics_service_spark.operators.bpe import bpe_apply
    from metrics_service_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = _formatted(bpe_apply(docs, merges=[("a", "b")]))
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "lang" not in line and "source" not in line, line
