"""Incremental paragraph-hash index over the manifest table
(streaming/paragraph_index): counts accumulate across batches, the
admission scorer sees exactly the folded state, and a racing writer
triggers the retry path without double-counting."""

from __future__ import annotations

from metrics_service_spark.sources.merge_table import current_version, read_table
from metrics_service_spark.streaming.paragraph_index import (
    duplicate_paragraph_fraction,
    update_paragraph_index,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_counts_accumulate_across_batches(spark, tmp_path):
    tdir = str(tmp_path / "idx")
    # chunk_tokens=2: 'a b' appears once in batch1, twice in batch2
    b1 = _docs(spark, [(1, "a b c d")])
    b2 = _docs(spark, [(2, "a b a b"), (3, "x y")])
    v0 = update_paragraph_index(spark, tdir, b1, chunk_tokens=2)
    v1 = update_paragraph_index(spark, tdir, b2, chunk_tokens=2)
    assert v1 > v0
    got = {r["ph"]: r["n"] for r in read_table(spark, tdir).collect()}
    import hashlib

    h = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[h("a b")] == 3
    assert got[h("c d")] == 1
    assert got[h("x y")] == 1
    # idempotent-shape check: re-folding b2 adds again (the caller's
    # exactly-once comes from streaming checkpoint offsets, as in
    # gold_refresh), versions stay linear
    update_paragraph_index(spark, tdir, b2, chunk_tokens=2)
    got2 = {r["ph"]: r["n"] for r in read_table(spark, tdir).collect()}
    assert got2[h("a b")] == 5
    assert current_version(tdir) == v1 + 1


def test_admission_scorer_matches_index_state(spark, tmp_path):
    tdir = str(tmp_path / "idx")
    update_paragraph_index(
        spark, tdir, _docs(spark, [(1, "a b c d")]), chunk_tokens=2
    )
    incoming = _docs(spark, [(10, "a b q r"), (11, "fresh text only")])
    got = {
        r["doc_id"]: (r["n_paragraphs"], r["n_seen_paragraphs"], r["seen_fraction"])
        for r in duplicate_paragraph_fraction(
            spark, tdir, incoming, chunk_tokens=2
        ).collect()
    }
    assert got[10] == (2, 1, 0.5)   # 'a b' known, 'q r' new
    assert got[11] == (2, 0, 0.0)


def test_racing_writer_retries_without_lost_counts(spark, tmp_path, monkeypatch):
    from metrics_service_spark.sources import merge_table as mt

    tdir = str(tmp_path / "idx")
    update_paragraph_index(
        spark, tdir, _docs(spark, [(1, "a b c d")]), chunk_tokens=2
    )

    real_commit = mt._commit
    raced = {"done": False}

    def racing_commit(table_dir, files, version, **kw):
        if not raced["done"]:
            raced["done"] = True
            # a competing writer lands the contested version (no-op
            # merge carrying the prior files)
            real_commit(table_dir, mt._load_manifest(table_dir, version - 1), version)
        return real_commit(table_dir, files, version, **kw)

    monkeypatch.setattr(mt, "_commit", racing_commit)
    update_paragraph_index(
        spark, tdir, _docs(spark, [(2, "a b x y")]), chunk_tokens=2
    )
    assert raced["done"]
    import hashlib

    got = {r["ph"]: r["n"] for r in read_table(spark, tdir).collect()}
    assert got[hashlib.md5(b"a b").hexdigest()] == 2  # 1 + 1, not 1 + 2


def test_streaming_refresh_folds_batches_exactly_once(spark, tmp_path):
    """File-source stream -> index: two file drops fold as two commits;
    restarting the stream with the same checkpoint re-folds NOTHING
    (offsets committed), so counts stay exact."""
    import hashlib

    from metrics_service_spark.streaming.paragraph_index import (
        incremental_paragraph_index_refresh,
    )

    src = str(tmp_path / "docs")
    tdir = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    h = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731

    _docs(spark, [(1, "a b c d")]).write.mode("append").parquet(src)
    q = incremental_paragraph_index_refresh(
        spark, src, tdir, ckpt, chunk_tokens=2
    )
    q.awaitTermination(120)
    got = {r["ph"]: r["n"] for r in read_table(spark, tdir).collect()}
    assert got[h("a b")] == 1

    _docs(spark, [(2, "a b x y")]).write.mode("append").parquet(src)
    q = incremental_paragraph_index_refresh(
        spark, src, tdir, ckpt, chunk_tokens=2
    )
    q.awaitTermination(120)
    got = {r["ph"]: r["n"] for r in read_table(spark, tdir).collect()}
    assert got[h("a b")] == 2 and got[h("x y")] == 1

    # restart with nothing new: no re-fold, no new version
    v = current_version(tdir)
    q = incremental_paragraph_index_refresh(
        spark, src, tdir, ckpt, chunk_tokens=2
    )
    q.awaitTermination(120)
    assert current_version(tdir) == v
    got = {r["ph"]: r["n"] for r in read_table(spark, tdir).collect()}
    assert got[h("a b")] == 2


def test_fold_unit_has_one_exchange(spark, executed_plan):
    """The streaming paragraph-index fold unit must be chunk explode +
    md5 + ONE map-side-combined groupBy — exactly one hash exchange,
    so per-micro-batch cost is batch-linear with no second shuffle."""
    from metrics_service_spark.streaming.paragraph_index import (
        batch_paragraph_counts,
    )

    docs = _docs(
        spark,
        [
            (1, "ab ab ab abc banana"),
            (2, "ab bandana ba abab"),
            (3, "cd cd cdcd dq"),
            (4, "cddq cd qq"),
        ],
    )
    plan = executed_plan(batch_paragraph_counts(docs, "doc_id", "text"))
    assert plan.count("Exchange hashpartitioning") == 1
