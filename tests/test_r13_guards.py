"""r13 guards: the hot-block-safe sorted-neighborhood rank source and
the multi-pass linkage union.

The VERDICT r12 gap: `sorted_neighborhood_pairs`' default block-keyed
window serializes each block's sort on one task — fatal when blocks
are few and hot (one language = 60% of a 100 TB corpus).  The
`rank_bucket_chars` mode must (a) return the bit-identical pair set
(rank differences within a block are what the neighborhood join
consumes, and the bucketed global numbering preserves them), and
(b) plan the rank as a BUCKETED window — row_number partitioned by
the (block, prefix-chunk) bucket, never by the bare block columns.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from metrics_service_spark.operators import dedup
from metrics_service_spark.operators.dedup import (
    fuzzy_prefix_pairs,
    linkage_multipass_pairs,
    sorted_neighborhood_pairs,
)
from metrics_service_spark.sources.tables import load_table


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


def _row_number_partition_specs(plan: str) -> list[str]:
    """The partitionBy spec of every row_number window in the plan."""
    return [
        m.group(1)
        for m in re.finditer(
            r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan
        )
    ]


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
    specs = _row_number_partition_specs(plan)
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
