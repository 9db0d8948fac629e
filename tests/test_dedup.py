"""Text dedup operators (operators/dedup.py) on inputs the fixtures
never contain: NULL text, out-of-range span-scrub ids, one hot block
for the sorted neighborhood, pre-tokenized MinHash shingles; and the
linkage plans' rank source and multi-pass union."""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from metrics_service_spark.catalog import all_queries
from metrics_service_spark.operators import dedup
from metrics_service_spark.operators.dedup import (
    duplicate_span_scrub,
    fuzzy_prefix_pairs,
    incremental_near_duplicates_md5,
    linkage_multipass_pairs,
    minhash_signatures_md5,
    shingle_frame,
    sorted_neighborhood_pairs,
)
from metrics_service_spark.sources.tables import load_table
from metrics_service_spark.testing.oracle import compare_query


def test_dedup_tiers_leaves_out_null_text_docs(spark, sf_dir, tmp_path):
    """NULL-text documents have no content hash: the tiered keep-list
    gives them no verdict, as its oracle's hash join drops them,
    instead of grouping them as mutual exact duplicates."""
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    null_ids = docs.column("doc_id").to_pylist()[:4]
    text = pc.if_else(
        pc.is_in(docs.column("doc_id"), value_set=pa.array(null_ids)),
        pa.scalar(None, pa.string()),
        docs.column("text"),
    )
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", text)
    pq.write_table(docs, os.path.join(tmp_path, "documents.parquet"))

    spec = all_queries()["doc_dedup_tiers"]
    got = spec.fn(spark, str(tmp_path))
    assert compare_query(got, spec.oracle, str(tmp_path), name="doc_dedup_tiers") == (
        docs.num_rows - len(null_ids)
    )
    assert got.filter(got.doc_id.isin(null_ids)).count() == 0


def test_span_scrub_rejects_out_of_range_doc_id(spark):
    """doc_id >= 2^43 would silently wrap the packed keeper key
    doc_id * 2^20 + pos on the Spark side (non-ANSI) while DuckDB's
    BIGINT raises — the guard converts that parity split into an
    error."""
    df = spark.createDataFrame(
        [(1 << 43, "a b c d e f g h i")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="doc id outside"):
        duplicate_span_scrub(df, "doc_id", "text").collect()
    neg = spark.createDataFrame(
        [(-1, "a b c d e f g h i")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="doc id outside"):
        duplicate_span_scrub(neg, "doc_id", "text").collect()
    # in-range ids still flow
    ok = spark.createDataFrame(
        [((1 << 43) - 1, "a b c")], "doc_id long, text string"
    )
    assert duplicate_span_scrub(ok, "doc_id", "text").count() == 1


# --- sorted neighborhood: the hot-block-safe rank source --------------------
# `sorted_neighborhood_pairs`' default block-keyed window sorts each
# block on one task, which is fatal when blocks are few and hot.  The
# `rank_bucket_chars` mode must return the bit-identical pair set (the
# neighborhood join consumes rank differences within a block, and the
# bucketed global numbering preserves them) and plan the rank as a
# window partitioned by the (block, prefix-chunk) bucket, never by the
# bare block columns.
def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


def test_global_rank_mode_matches_window_mode(spark, sf_dir, monkeypatch):
    # the multi-pass union runs its arms only past the driver finish's
    # bound: at 0 it takes both rank modes through the distributed SN arm
    monkeypatch.setattr(dedup, "LINKAGE_LOCAL_ROWS", 0)
    docs = load_table(spark, sf_dir, "documents")
    kw = dict(
        neighborhood=6, prefix_chars=80, max_dist=48, block_cols=["lang"]
    )
    window_mode = sorted_neighborhood_pairs(docs, "doc_id", "text", **kw)
    global_mode = sorted_neighborhood_pairs(
        docs, "doc_id", "text", rank_bucket_chars=2, **kw
    )
    w, g = _pairs(window_mode), _pairs(global_mode)
    assert w == g
    assert len(w) > 0  # the fixture contains near-dups; empty = vacuous
    multi_kw = dict(kw, block_chars=4, max_cell=64)
    assert _pairs(
        linkage_multipass_pairs(docs, "doc_id", "text", **multi_kw)
    ) == _pairs(
        linkage_multipass_pairs(
            docs, "doc_id", "text", rank_bucket_chars=2, **multi_kw
        )
    )


def test_global_rank_mode_survives_hot_single_block(spark, sf_dir):
    # the motivating scenario: EVERY row in one block — the window
    # mode would sort the whole corpus on one task; the bucketed mode
    # must still return the identical pair set
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "one_block", F.lit("all")
    )
    kw = dict(
        neighborhood=4, prefix_chars=60, max_dist=40,
        block_cols=["one_block"],
    )
    w = _pairs(sorted_neighborhood_pairs(docs, "doc_id", "text", **kw))
    g = _pairs(
        sorted_neighborhood_pairs(
            docs, "doc_id", "text", rank_bucket_chars=2, **kw
        )
    )
    assert w == g


def test_global_rank_plan_has_no_bare_block_sort(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    kw = dict(
        neighborhood=6, prefix_chars=80, max_dist=48, block_cols=["lang"]
    )
    # localCheckpoint hides the rank stage from the final frame's
    # explain, so gate the pre-checkpoint shape: rebuild exactly the
    # rank assignment both modes feed into the checkpoint
    from metrics_service_spark.operators.rank import global_row_number

    base = docs.select(
        F.col("lang"),
        F.col("doc_id").alias("__id"),
        F.substring(F.col("text"), 1, 80).alias("__pfx"),
    )
    ranked = global_row_number(
        base,
        bucket=F.struct(F.col("lang"), F.substring(F.col("__pfx"), 1, 2)),
        order=[F.col("__pfx").asc(), F.col("__id").asc()],
        out_col="__rk",
    )
    plan = ranked._jdf.queryExecution().toString()
    # the partitionBy spec of every row_number window in the plan
    specs = re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected a row_number window in the rank plan"
    # every row-level numbering window partitions by the composite
    # bucket (struct over lang + prefix chunk), never by bare lang
    for spec in specs:
        assert "__bkt" in spec or "struct" in spec, spec

    # and the result still joins up: run the full global-mode operator
    # once so the gated shape is the shipped shape
    out = sorted_neighborhood_pairs(
        docs, "doc_id", "text", rank_bucket_chars=2, **kw
    )
    assert out.columns == ["id_a", "id_b", "dist"]


def test_multipass_union_covers_both_arms(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    strict = fuzzy_prefix_pairs(
        docs, "doc_id", "text",
        prefix_chars=80, block_chars=4, max_dist=48,
        block_cols=["lang"], max_cell=64,
    )
    sn = sorted_neighborhood_pairs(
        docs, "doc_id", "text",
        neighborhood=6, prefix_chars=80, max_dist=48, block_cols=["lang"],
    )
    union = set(_pairs(strict.union(sn).distinct()))
    s, n = set(_pairs(strict)), set(_pairs(sn))
    assert union == s | n
    # the multi-pass rationale: each arm must contribute pairs the
    # other's blocking misses on the synthetic near-dup fixture —
    # otherwise the union entry gates nothing
    assert (s - n) or (n - s)


# --- MinHash over pre-tokenized shingles -------------------------------------
def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_minhash_md5_shared_shingle_pass_bit_identical(spark):
    """The md5 MinHash family's shared-tokenize seam: signatures built
    from a pre-tokenized `shingle_frame` (with and without a carried
    side tag) must be bit-identical to the inline derivation, and the
    incremental operator's one-pass tagged-union form must agree with
    per-side signature runs."""
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
    assert _rows(inline) == _rows(shared)
    # carried side tag over id-disjoint halves: dropping the tag must
    # reproduce the plain signatures exactly
    tagged = sh.withColumn(
        "__side", (F.col("__id") >= 3).cast("int")
    )
    carried = minhash_signatures_md5(
        docs, "doc_id", "text", num_hashes=8,
        shingles=tagged, carry=("__side",),
    ).drop("__side")
    assert _rows(inline) == _rows(carried)
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
    assert _rows(side_new) == _rows(ref_new)
    assert _rows(side_old) == _rows(ref_old)
    # and the operator output itself is sane: only cross-side rows
    rows = got.collect()
    assert all(r["new_id"] >= 3 and r["corpus_id"] < 3 for r in rows)


def test_minhash_md5_rejects_n_with_pretokenized_shingles(spark):
    # n is ignored on the pre-tokenized path — passing an explicit n
    # with `shingles` must fail loud, not silently produce signatures
    # tokenized at a different n
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "b c d e")], "doc_id long, text string"
    )
    sh = shingle_frame(df, "doc_id", "text", n=3)
    # even n=3, the inline path's default, is rejected when passed
    # explicitly: the frame may have been tokenized at another n
    for n in (3, 4):
        with pytest.raises(ValueError, match="ignored when `shingles`"):
            minhash_signatures_md5(df, "doc_id", "text", n=n, shingles=sh)
    # without `shingles`, n still defaults to 3
    default = minhash_signatures_md5(df, "doc_id", "text", num_hashes=4)
    shared = minhash_signatures_md5(df, "doc_id", "text", num_hashes=4, shingles=sh)
    assert _rows(default) == _rows(shared)
