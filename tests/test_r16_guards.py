"""r16 plan-quality guards: the grouped local finish's job-count
independence from budgets and the budget-retrain loop's bounded driver
transfers (the test_r10..r15_guards pattern)."""

from __future__ import annotations


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _lang_docs(spark):
    return spark.createDataFrame(
        [
            (1, "ab ab ab abc banana", "en"),
            (2, "ab bandana ba abab", "en"),
            (3, "cd cd cdcd dq", "fr"),
            (4, "cddq cd qq", "fr"),
        ],
        "doc_id int, text string, lang string",
    )


def test_grouped_local_finish_job_count_independent_of_budgets(spark, count_jobs):
    """The grouped local finish runs ONE bounded collect regardless of
    how many merges the budgets ask for — Spark job count at budget
    sums 3 and 12 must be equal (the doc_bpe_train_local contract,
    per language)."""
    from metrics_service_spark.operators.bpe import (
        bpe_train_grouped_local_finish,
    )

    docs = _lang_docs(spark)

    def jobs(budgets) -> int:
        return count_jobs(
            lambda: bpe_train_grouped_local_finish(docs, "text", budgets=budgets)
        )

    small = jobs({"en": 2, "fr": 1})
    large = jobs({"en": 8, "fr": 4})
    assert small == large


def test_budget_retrain_driver_transfers_are_bounded(spark):
    """The chained loop's only collects are the vocabularies (guarded),
    the current merge table and the |langs| budget rows — gate: total
    rows collected across the run stays in the hundreds on a corpus of
    any size (here: count the actual collects via a wrapped
    DataFrame.collect)."""
    from unittest import mock

    from metrics_service_spark.operators import bpe

    docs = _lang_docs(spark)
    # patch the CONCRETE class (pyspark 4 splits the public DataFrame
    # ABC from classic.DataFrame; instances override collect there)
    cls = type(docs)
    sizes: list[int] = []
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    with mock.patch.object(cls, "collect", spy):
        bpe.bpe_budget_retrain(
            docs, "text", n_merges_current=2, total_budget=5, min_per_group=1
        )
    # vocab (~unique words), merge table (2), budgets (2 langs),
    # grouped vocab (~unique words)
    assert sum(sizes) < 200
    assert max(sizes) < 100
