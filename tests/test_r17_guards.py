"""r17 plan-quality guards: the budget-retrain loop's O(1) jobs (job
count independent of total_budget) and the dead-group vocab-transfer
fix (the test_r10..r16_guards pattern)."""

from __future__ import annotations

import pytest


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


def test_budget_retrain_local_job_count_independent_of_budget(spark, count_jobs):
    """The WHOLE loop (current train -> fertility -> apportionment ->
    grouped retrain) must launch the same number of Spark jobs at
    total_budget 3 and 9 — the retrain stage is one bounded collect +
    driver heap trainer, never O(budget) sequential rounds (VERDICT
    r16 #3)."""
    from metrics_service_spark.operators.bpe import bpe_budget_retrain

    docs = _lang_docs(spark)

    def jobs(total_budget: int) -> int:
        return count_jobs(
            lambda: bpe_budget_retrain(
                docs,
                "text",
                n_merges_current=2,
                total_budget=total_budget,
                min_per_group=1,
            )
        )

    assert jobs(3) == jobs(9)


def test_dead_group_vocab_rows_do_not_consume_transfer_headroom(spark):
    """ADVICE r16: a budget<=0 group is skipped after training, so its
    vocab rows must not count against max_vocab_rows — en alone has 6
    distinct words here, fr 5; with fr dead, max_vocab_rows=6 must
    pass (pre-fix the 11 combined rows tripped the guard)."""
    from metrics_service_spark.operators.bpe import (
        bpe_train_grouped_local_finish,
    )

    docs = _lang_docs(spark)
    table = bpe_train_grouped_local_finish(
        docs, "text", budgets={"en": 2, "fr": 0}, max_vocab_rows=6
    )
    rows = table.collect()
    assert {r["lang"] for r in rows} == {"en"}
    assert len(rows) == 2


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_grouped_apply_deep_replay_roots_at_checkpoint(spark):
    """Past checkpoint_every=32 the grouped replay must root at the
    checkpointed VOCAB-sized RDD scan (lineage cut), never re-derive
    the corpus — the doc_bpe_apply_grouped_m40 plan shape, pinned on a
    synthetic 40-rank table (pair content is irrelevant to the plan)."""
    from metrics_service_spark.operators.bpe import bpe_apply_grouped

    docs = _lang_docs(spark)
    table = spark.createDataFrame(
        [("en", i, f"q{i}", f"x{i}", 1) for i in range(40)],
        "lang string, rank int, left_sym string, right_sym string, "
        "pair_count bigint",
    )
    plan = _executed(bpe_apply_grouped(docs, table))
    assert "Scan ExistingRDD" in plan


def test_paragraph_fold_single_exchange(spark):
    """The streaming paragraph-index fold unit must be chunk explode +
    md5 + ONE map-side-combined groupBy — exactly one hash exchange,
    so per-micro-batch cost is batch-linear with no second shuffle."""
    from metrics_service_spark.streaming.paragraph_index import (
        batch_paragraph_counts,
    )

    docs = _lang_docs(spark)
    plan = _executed(batch_paragraph_counts(docs, "doc_id", "text"))
    assert plan.count("Exchange hashpartitioning") == 1


@pytest.mark.slow
def test_word_freqs_shared_pass_bit_identical(spark):
    """The r17 shared word-frequency pass (one (w, freq) / (lang, w,
    freq) frame feeding train + export + replay + apply) must emit
    bit-identical results to the per-stage derivations it replaces —
    for the flat apply/export/encode ops and the grouped
    apply/export/encode ops alike."""
    from metrics_service_spark.operators.bpe import (
        _grouped_word_frequencies,
        bpe_apply,
        bpe_apply_grouped,
        bpe_apply_stats,
        bpe_encode_digest,
        bpe_encode_digest_grouped,
        bpe_train_grouped_local_finish,
        bpe_train_local_finish,
        bpe_vocab_export,
        bpe_vocab_export_grouped,
        word_frequencies,
    )

    docs = _lang_docs(spark)
    wf = word_frequencies(docs, "text").localCheckpoint(eager=False)
    gwf = _grouped_word_frequencies(docs, "text", "lang").localCheckpoint(
        eager=False
    )
    table = bpe_train_local_finish(docs, "text", n_merges=3)
    assert (
        bpe_train_local_finish(
            docs, "text", n_merges=3, word_freqs=wf
        ).collect()
        == table.collect()
    )
    gtable = bpe_train_grouped_local_finish(
        docs, "text", budgets={"en": 3, "fr": 2}
    )
    assert sorted(
        bpe_train_grouped_local_finish(
            docs, "text", budgets={"en": 3, "fr": 2}, word_freqs=gwf
        ).collect()
    ) == sorted(gtable.collect())
    for base, shared in (
        (bpe_apply(docs, table), bpe_apply(docs, table, word_freqs=wf)),
        (
            bpe_apply_stats(docs, table, group_cols=["lang"]),
            bpe_apply_stats(
                docs, table, group_cols=["lang"], word_freqs=wf
            ),
        ),
        (
            bpe_vocab_export(docs, table),
            bpe_vocab_export(docs, table, word_freqs=wf),
        ),
        (
            bpe_encode_digest(docs, table),
            bpe_encode_digest(docs, table, word_freqs=wf),
        ),
        (
            bpe_apply_grouped(docs, gtable),
            bpe_apply_grouped(docs, gtable, word_freqs=gwf),
        ),
        (
            bpe_vocab_export_grouped(docs, gtable),
            bpe_vocab_export_grouped(docs, gtable, word_freqs=gwf),
        ),
        (
            bpe_encode_digest_grouped(docs, gtable),
            bpe_encode_digest_grouped(docs, gtable, word_freqs=gwf),
        ),
    ):
        assert sorted(map(tuple, base.collect())) == sorted(
            map(tuple, shared.collect())
        )


def test_minhash_md5_shared_shingle_pass_bit_identical(spark):
    """The md5 MinHash family's shared-tokenize seam (r17): signatures
    built from a pre-tokenized `shingle_frame` (with and without a
    carried side tag) must be bit-identical to the inline derivation,
    and the incremental operator's one-pass tagged-union form must
    agree with per-side signature runs."""
    from pyspark.sql import functions as F

    from metrics_service_spark.operators.dedup import (
        incremental_near_duplicates_md5,
        minhash_signatures_md5,
        shingle_frame,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "a b c d e f h"),
            (3, "x y z w v u t"),
            (4, "x y z w v u t"),
            (5, "q r s"),
        ],
        "doc_id long, text string",
    )
    inline = minhash_signatures_md5(docs, "doc_id", "text", n=3, num_hashes=8)
    sh = shingle_frame(docs, "doc_id", "text", n=3).localCheckpoint(
        eager=False
    )
    shared = minhash_signatures_md5(
        docs, "doc_id", "text", num_hashes=8, shingles=sh
    )
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, shared.collect())
    )
    # carried side tag over id-disjoint halves: dropping the tag must
    # reproduce the plain signatures exactly
    tagged = sh.withColumn(
        "__side", (F.col("__id") >= 3).cast("int")
    )
    carried = minhash_signatures_md5(
        docs, "doc_id", "text", num_hashes=8,
        shingles=tagged, carry=("__side",),
    ).drop("__side")
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, carried.collect())
    )
    # incremental one-pass form agrees with a per-side reference:
    # signatures of each side alone equal the tagged-union slices
    new_docs = docs.filter(F.col("doc_id") >= 3)
    corpus = docs.filter(F.col("doc_id") < 3)
    got = incremental_near_duplicates_md5(
        new_docs, corpus, "doc_id", "text", n=3, num_hashes=8, bands=4,
        threshold=0.4,
    )
    side_new = minhash_signatures_md5(new_docs, "doc_id", "text", n=3, num_hashes=8)
    side_old = minhash_signatures_md5(corpus, "doc_id", "text", n=3, num_hashes=8)
    union_sides = minhash_signatures_md5(
        docs, "doc_id", "text", num_hashes=8,
        shingles=shingle_frame(docs, "doc_id", "text", n=3).withColumn(
            "__side", (F.col("__id") >= 3).cast("int")
        ),
        carry=("__side",),
    )
    ref_new = union_sides.filter(F.col("__side") == 1).drop("__side")
    ref_old = union_sides.filter(F.col("__side") == 0).drop("__side")
    assert sorted(map(tuple, side_new.collect())) == sorted(
        map(tuple, ref_new.collect())
    )
    assert sorted(map(tuple, side_old.collect())) == sorted(
        map(tuple, ref_old.collect())
    )
    # and the operator output itself is sane: only cross-side rows
    rows = got.collect()
    assert all(r["new_id"] >= 3 and r["corpus_id"] < 3 for r in rows)
