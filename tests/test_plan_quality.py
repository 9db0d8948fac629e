"""Physical-plan regression tests: the properties that make these
queries scale — broadcast joins for small dims, predicate pushdown into
the parquet scan, column pruning, no cartesian products — asserted on
the optimized plans so a refactor can't silently lose them."""

from __future__ import annotations

import pytest

from metrics_service_spark.catalog import all_queries

CATALOG = all_queries()


def _plan(spark, sf_dir, name: str) -> str:
    # cached relations from other tests would substitute into matching
    # subtrees and (correctly) bypass scan pruning — these tests assert
    # the UNCACHED plan shape
    spark.catalog.clearCache()
    df = CATALOG[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_tpch_q5_all_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q5")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # every dim fits the 64MB threshold
    assert "CartesianProduct" not in plan


def test_tpch_q5_scan_pruned(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tpch_q5")
    # region filter reached the scan; lineitem scan reads only the 4
    # needed columns
    assert "EqualTo(r_name,ASIA)" in plan
    assert (
        "struct<l_orderkey:bigint,l_suppkey:bigint,l_extendedprice:double,l_discount:double>"
        in plan
    )


def test_landing_page_pushdown_and_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "landing_page_daily")
    # events.ts is parquet TIMESTAMP(MICROS) — the date-range predicate
    # reaches the parquet reader (PushedFilters), so row groups outside
    # the window are skipped at scan time; the scale path additionally
    # uses the date-partitioned silver layout (tests/test_layout.py
    # asserts PartitionFilters there)
    assert "PushedFilters: [IsNotNull(ts)" in plan
    # column pruning: props is untouched by this query
    assert (
        "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,"
        "event_type:string,value:double>" in plan
    )
    # the day spine joins broadcast
    assert "BroadcastHashJoin" in plan


def test_counter_report_single_scan(spark, sf_dir):
    # the one-pass rewrite: exactly one parquet scan of events
    plan = _plan(spark, sf_dir, "counter_report")
    assert plan.count("Scan parquet") == 1
    assert "FullOuter" not in plan


def test_brute_force_topk_broadcasts_queries(spark, sf_dir):
    plan = _plan(spark, sf_dir, "emb_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "name", ["landing_page_daily", "ev_monthly_stats", "sushi_instances"]
)
def test_no_cartesian_products(spark, sf_dir, name):
    assert "CartesianProduct" not in _plan(spark, sf_dir, name)


def test_quality_filter_default_no_global_sort(spark, sf_dir):
    # the default gate computes the exact cutoff over the bounded-
    # cardinality score HISTOGRAM; the corpus itself is never globally
    # sorted through percent_rank (the single-task plan the oracle twin
    # doc_quality_filter_exact deliberately keeps)
    plan = _plan(spark, sf_dir, "doc_quality_filter")
    assert "percent_rank" not in plan
    exact_plan = _plan(spark, sf_dir, "doc_quality_filter_exact")
    assert "percent_rank" in exact_plan  # the twin really is the definition


def test_topk_compiles_to_take_ordered(spark, sf_dir):
    # orderBy().limit() must plan as TakeOrderedAndProject
    # (per-partition top-N + driver merge), never a global sort
    for name in ("tpch_q3", "tpch_q10", "doc_ngram_topk"):
        assert "TakeOrderedAndProject" in _plan(spark, sf_dir, name), name


def test_split_and_sample_no_shuffle(spark, sf_dir):
    # hash split is a pure projection; stratified sampling adds only a
    # broadcast join — neither may shuffle the corpus
    for name in ("doc_split", "doc_sample_stratified"):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange hashpartitioning" not in plan, name
        assert "Exchange rangepartitioning" not in plan, name


def test_search_pipeline_zero_shuffle(spark, sf_dir):
    # the whole logstash-equivalent parse is per-row codegen: no
    # key-based shuffle anywhere — the only exchange allowed is the
    # r17 raw-rows _spread (round-robin, fires solely when the scan
    # has fewer partitions than the cluster; a partitioned 100 TB log
    # scan passes through it untouched and the plan is exchange-free)
    plan = _plan(spark, sf_dir, "search_log_pipeline")
    assert "hashpartitioning" not in plan.lower()
    assert "rangepartitioning" not in plan.lower()
    assert plan.count("RoundRobinPartitioning") <= 1
    # ADVICE r17: an overall exchange budget, so a future global
    # agg/sort-limit (Exchange SinglePartition) or broadcast build
    # cannot slip past the keyed-partitioning checks above
    assert plan.count("Exchange") <= 1
    assert "Exchange SinglePartition" not in plan


def test_cosine_neardup_default_is_bucketed(spark, sf_dir):
    # the catalog/bench default must be the banded-LSH equi-join: a
    # distributed hash join on (table, bucket) — never a cross product,
    # a non-equi nested-loop join, or a driver-side collect (the plan
    # of a collect-based variant would show no join at all, just a
    # python map stage — assert a real join is present)
    plan = _plan(spark, sf_dir, "emb_cosine_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # the (table, bucket) self-join is in-plan
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan


def test_asof_orders_single_window_no_range_explosion(spark, sf_dir):
    # the as-of join compiles to union + ONE window pass over the merged
    # stream — never a range join (which would be a nested-loop over
    # every (event, order) pair in the time band) and never a cartesian
    plan = _plan(spark, sf_dir, "ev_asof_orders")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") == 1


def test_dau_stickiness_no_nested_loop(spark, sf_dir):
    # the exact trailing-28d MAU runs on the distinct user-day frame via
    # an equi-join against the day spine — the day-offset fan-out must
    # stay an explode + hash agg, not a time-band nested-loop join
    plan = _plan(spark, sf_dir, "ev_dau_stickiness")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pid_family_closure_lineage_truncated(spark, sf_dir):
    # the BFS closure localCheckpoints every MID-LOOP round (RDD-leaf
    # layers) but since r8 leaves the FINAL round lazy (single
    # consumer, the output union — its checkpoint was a pure extra
    # barrier job): the plan may contain exactly ONE round's worth of
    # joins (frontier x composed-edges + two anti-join dedups), all
    # over checkpointed leaves, and never a parquet replay of the
    # accumulated lineage
    plan = _plan(spark, sf_dir, "pid_family_closure")
    assert "Scan parquet" not in plan  # lineage cut at the checkpoints
    assert "Scan ExistingRDD" in plan
    n_joins = sum(1 for ln in plan.splitlines() if "Join" in ln)
    assert n_joins <= 3, f"more than one round's joins inlined: {n_joins}"


def test_minhash_verify_stage_is_candidate_pruned(spark, sf_dir):
    # the exact-Jaccard verify must tokenize only docs that appear in a
    # candidate pair: both shingle re-attach sides are semi-join-pruned
    # scans (2 parquet scans total), never a third corpus-wide
    # tokenization pass, and the banding ran pre-checkpoint
    plan = _plan(spark, sf_dir, "doc_minhash_dedup")
    assert plan.count("Scan parquet") == 2
    assert "LeftSemi" in plan
    assert "Scan ExistingRDD" in plan  # materialized candidate pairs


def test_interevent_gap_single_window(spark, sf_dir):
    # per-user gaps: one lag window, then a partial-aggregable groupBy
    # on the SAME key — the window's hash partitioning must be reused
    # (no second exchange between window and aggregate)
    plan = _plan(spark, sf_dir, "ev_interevent_gap")
    assert plan.count("Window") == 1
    assert plan.count("Exchange") == 1


def test_bench_headline_names_exist():
    # bench.py's HEADLINE list must track catalog renames; the round-5
    # surface must stay benched (VERDICT r5 #4)
    import bench

    for name in bench.HEADLINE:
        assert name in CATALOG, name
    for required in (
        "ev_interevent_gap",
        "order_components",
        "doc_tfidf_topk",          # VERDICT r6 #8
        "mm_image_meta_real_mixed",
    ):
        assert required in bench.HEADLINE, required
    assert "semantic_gate_admit" in bench.MICRO  # VERDICT r6 #8
    # micro-benches are non-catalog by definition (table mutations) —
    # a name collision would shadow a catalog query's timing
    assert "merge_table_upsert" in bench.MICRO
    for name in bench.MICRO:
        assert name not in CATALOG, name


def test_paragraph_dedup_materializes_once_no_cartesian(spark, sf_dir):
    # the paragraph rows feed the count AND the re-attach join from ONE
    # materialization (checkpoint), never a second corpus explode; the
    # count re-attach must be a hash join, not a cartesian
    plan = _plan(spark, sf_dir, "doc_paragraph_dedup")
    assert plan.count("Scan parquet") == 0  # both sides read the checkpoint
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_domain_filter_is_broadcast_anti(spark, sf_dir):
    # the blocklist broadcasts; the corpus side is one pass with no
    # shuffle for the anti-join
    plan = _plan(spark, sf_dir, "doc_domain_filter")
    assert "BroadcastHashJoin LeftAnti" in plan.replace("\n", " ") or (
        "LeftAnti" in plan and "BroadcastHashJoin" in plan
    )
    assert "SortMergeJoin" not in plan


def test_tfidf_single_window_partial_aggs(spark, sf_dir):
    # one per-doc ranking window; both aggregations run partial
    # (map-side combine) before their exchanges
    plan = _plan(spark, sf_dir, "doc_tfidf_topk")
    # count the operator lines ("Window ["), not the string "Window",
    # which also appears in projected window-expression references
    assert plan.count("Window [") == 1
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_within_cell_join_is_equi(spark, sf_dir):
    # SemDeDup's only allowed non-equi join is the bounded centroid
    # broadcast (n_cells rows); the within-cell pair stage must be a
    # real distributed equi-join on `cell`, never a corpus cross
    # product or a Python map stage
    for name in ("emb_semdedup_int", "emb_semdedup", "emb_semdedup_hier"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert (
            "SortMergeJoin [cell" in plan
            or "ShuffledHashJoin [cell" in plan
            or "BroadcastHashJoin [cell" in plan
        ), name
        assert "MapInPandas" not in plan, name


def test_kmeans_train_final_pass_is_projection(spark, sf_dir):
    # every assignment pass inlines the driver-held centroids as
    # literals: the final plan must contain NO per-vector window (the
    # cross-join+row_number argmax shape) and no cartesian or
    # nested-loop join — just scan -> project -> posexplode -> hash
    # aggregate; emb_kmeans_step is the same kernel at iters=1
    for name in ("emb_kmeans_train", "emb_kmeans_step"):
        plan = _plan(spark, sf_dir, name)
        assert "Window" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "NestedLoopJoin" not in plan, name
        assert "HashAggregate" in plan, name


#: The ONLY queries allowed a Pandas (Arrow) stage: the media-decode
#: seam (binary payloads need Python codecs) and the max_rows-guarded
#: numpy all-pairs baseline.  Everything else must stay JVM-side.
PANDAS_WHITELIST = {
    "mm_image_meta_real",
    "mm_image_meta_real_mixed",
    "mm_image_meta",
    "mm_frame_sample",
    "mm_scene_cuts",
    "mm_audio_meta",
    "mm_image_features",
    "mm_image_features_exact",
    "mm_phash",
    "mm_phash_neardup",
    "mm_dedup_clusters",
    "emb_cosine_neardup_allpairs",
}


@pytest.mark.slow
def test_every_catalog_plan_free_of_global_antipatterns(spark, sf_dir):
    """Repo-wide sweep: EVERY catalog query's physical plan — including
    entries added after this test — must be free of cartesian products
    and row-at-a-time Python UDFs, and may use Arrow/Pandas stages only
    on the whitelist.  Per-query gates above pin specific shapes; this
    is the default-deny backstop new entries inherit automatically.

    It also catches MULTI-REFERENCE RECOMPUTE blowups: a frame consumed
    by several downstream branches without a checkpoint re-expands its
    whole subtree per reference (the pre-r7 cosine_near_duplicates plan
    computed the LSH signature pipeline FOUR times).  Detected as the
    same Generate (explode) expression appearing more than once, or the
    same parquet file scanned more than twice, after normalizing
    expression ids."""
    import re
    from collections import Counter

    offenders = {}
    for name, spec in CATALOG.items():
        spark.catalog.clearCache()
        plan = spec.fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        flags = []
        if "CartesianProduct" in plan:
            flags.append("cartesian")
        if "BatchEvalPython" in plan:
            flags.append("python-udf")
        if (
            "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan
        ) and name not in PANDAS_WHITELIST:
            flags.append("pandas-stage")
        gens = Counter(
            re.sub(r"#\d+", "#", ln.strip()[:120])
            for ln in plan.splitlines()
            if "Generate " in ln
        )
        if any(c > 1 for c in gens.values()):
            flags.append("duplicate-generate-subtree")
        scans = Counter(
            re.sub(r"#\d+", "#", ln.strip()[:120])
            for ln in plan.splitlines()
            if "FileScan parquet" in ln
        )
        if any(c > 2 for c in scans.values()):
            flags.append("triple-scan-same-file")
        if flags:
            offenders[name] = flags
    assert not offenders, offenders


def _plans_incl_checkpoints(spark, sf_dir, name, monkeypatch, collects=False):
    """Capture the physical plan of EVERY lazily-checkpointed subframe
    plus the final frame: lazy localCheckpoints truncate lineage at
    call time, so the interesting subplans (assignment, pair
    generation, cap filters) are LogicalRDD leaves in the final plan
    and invisible to a plain executedPlan() gate.  With `collects`,
    also the plan of every Arrow collect made while the frame is
    built (the driver finishes), whose result comes back as a local
    relation with no scan of its own."""
    # patch the RUNTIME class (pyspark.sql.classic.dataframe.DataFrame
    # overrides the pyspark.sql.DataFrame base's method in PySpark 4)
    from pyspark.sql.classic.dataframe import DataFrame

    captured: list[str] = []
    orig = DataFrame.localCheckpoint

    def patched(self, eager=True):
        captured.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self, eager=eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", patched)
    if collects:
        to_arrow = DataFrame.toArrow

        def collected(self):
            captured.append(self._jdf.queryExecution().executedPlan().toString())
            return to_arrow(self)

        monkeypatch.setattr(DataFrame, "toArrow", collected)
    spark.catalog.clearCache()
    df = CATALOG[name].fn(spark, sf_dir)
    captured.append(df._jdf.queryExecution().executedPlan().toString())
    return captured


def test_split_leakage_safe_bounded_scans_and_cap_filter(
    spark, sf_dir, monkeypatch
):
    """PLANS.md 'leakage-safe split' keeps: across the whole pipeline
    (checkpointed subplans and driver collects included) the documents
    parquet is scanned at most twice — once for the shingle/pair
    derivation, once for the doc ids the clusters label (in the star
    CC finish's collect with the pair graph; past its bounds, in the
    final per-doc join) — and the max_cell linearity guard
    (the r7 probe-caught quadratic's fix) is present as a real filter
    on the cell-population frame."""
    import re

    plans = _plans_incl_checkpoints(
        spark, sf_dir, "doc_split_leakage_safe", monkeypatch, collects=True
    )
    n_doc_scans = sum(p.count("documents.parquet") for p in plans)
    assert n_doc_scans <= 2, n_doc_scans
    joined = "\n".join(plans)
    assert re.search(r"__cell_n#\d+L? <= 1000\b", joined), "max_cell filter lost"
    assert "CartesianProduct" not in joined


def test_emb_contamination_fused_assignment_cell_keyed(
    spark, sf_dir, monkeypatch
):
    """PLANS.md 'semantic decontamination' keeps: BOTH sides (corpus +
    benchmark) are assigned in ONE fused pass — the literal-matrix
    argmax projection appears in exactly one subplan — and the only
    data-mass join keys on `cell` (the verdict joins move only the
    tiny dropped-id set); no shuffle is ever keyed on a raw vector
    column, and there is no cartesian."""
    import re

    plans = _plans_incl_checkpoints(spark, sf_dir, "emb_contamination", monkeypatch)
    joined = "\n".join(plans)
    # ONE fused assignment: the literal-matrix argmax (array_position
    # over the inlined centroid dots — a pure projection, no Generate)
    # appears in exactly one subplan, covering BOTH the corpus and the
    # benchmark side via the tagged union
    n_assign = sum(1 for p in plans if "array_position" in p)
    assert n_assign == 1, f"expected ONE fused assignment pass, got {n_assign}"
    # both sides read the embeddings parquet once each — the fused
    # pass is the only consumer
    assert joined.count("embeddings.parquet") <= 2
    assert "CartesianProduct" not in joined
    # the within-cell pair stage is a genuine equi-join on cell
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[cell", joined
    ), "cell equi-join lost"
    # no exchange keyed on the quantized vector itself
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", joined):
        assert "__v#" not in m.group(1), m.group(0)


def test_ccnet_bucket_no_global_sort(spark, sf_dir, monkeypatch):
    """PLANS.md 'doc_ccnet_bucket' keeps: the corpus is never globally
    sorted — any unpartitioned window (row_number over an empty
    partition spec) runs only over the bounded score HISTOGRAM, never
    over per-doc rows; cutoffs reach the corpus via broadcast joins;
    no cartesian blow-up (the cutoff cross join is a broadcast of a
    <=|fracs|-row frame)."""
    import re

    plans = _plans_incl_checkpoints(spark, sf_dir, "doc_ccnet_bucket", monkeypatch)
    joined = "\n".join(plans)
    assert "CartesianProduct" not in joined
    # GLOBAL sorts (SortExec global=true — rendered "Sort [...], true,")
    # may only appear in the histogram/cutoff subplans, which aggregate
    # BEFORE sorting: every global Sort must sit above a HashAggregate
    # (or a checkpointed histogram leaf) in the same subplan.  Local
    # window-partition sorts ("..., false,") over the boundary groups
    # are the design.
    for p in plans:
        lines = p.splitlines()
        for i, ln in enumerate(lines):
            if re.search(r"Sort \[.*\], true,", ln):
                below = "\n".join(lines[i:])
                assert "HashAggregate" in below or "Scan ExistingRDD" in below, (
                    "global sort over raw corpus rows:\n" + ln
                )


def test_sq8_reads_codes_from_shared_checkpoint(spark, sf_dir, monkeypatch):
    """PLANS.md 'emb_sq8_topk_int' keeps: range stats + encode + search
    all consume ONE checkpointed quantized frame (the embeddings
    parquet is scanned at most twice total — corpus once, query side
    once), the query side reaches the corpus through a broadcast, and
    there is no cartesian product."""
    plans = _plans_incl_checkpoints(spark, sf_dir, "emb_sq8_topk_int", monkeypatch)
    joined = "\n".join(plans)
    assert joined.count("embeddings.parquet") <= 2, joined.count(
        "embeddings.parquet"
    )
    assert "CartesianProduct" not in joined
    assert "BroadcastNestedLoopJoin" in joined or "BroadcastHashJoin" in joined


def test_hash_classifier_partial_agg_single_exchange(spark, sf_dir):
    # the token explosion must collapse map-side: partial count+sum
    # BEFORE the one doc_id exchange, everything codegen (no
    # interpreted per-token lambda, no window, no join)
    plan = _plan(spark, sf_dir, "doc_hash_classifier")
    assert "partial_count" in plan and "partial_sum" in plan
    assert plan.count("Exchange") == 1
    assert "Window" not in plan and "Join" not in plan


def test_hard_negatives_label_prune_inside_cell_join(spark, sf_dir):
    # corpus x corpus: must be a real equi-join on cell (never a
    # broadcast of the corpus, never cartesian), with the label
    # inequality evaluated as the join's non-equi condition — i.e. no
    # separate Filter ABOVE the join re-scanning pair mass
    plan = _plan(spark, sf_dir, "emb_hard_negatives")
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin [cell" in plan
        or "ShuffledHashJoin [cell" in plan
        or "BroadcastHashJoin [cell" in plan
    )
    assert "NOT (src_label" in plan or "NOT (__lbl" in plan


def test_dsir_vote_scoring_join_broadcasts(spark, sf_dir):
    # the vote table (<= 2^16 rows by construction) must broadcast;
    # the exploded corpus never shuffles by token/bucket for the join
    plan = _plan(spark, sf_dir, "doc_dsir_vote")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan
