"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line (guaranteed last on stdout — the driver
captures the stdout tail, and r16's capture clipped mid-dict when a
fat detail line shared stdout; VERDICT r17 #2):
  {"metric": "headline_queries_total_wall", "value": <total sec>,
   "unit": "sec", "queries": {name: sec, ...}, "sf": "..."}
Per-rep min/max detail goes to BENCH_DETAIL.json (+ history) only.  If
the line would reach LINE_BUDGET (4 KB), the per-query medians move to
BENCH_DETAIL.json too and the line carries "queries_in" instead.

Each query is executed to completion (collect) so the number is true
end-to-end wall clock including the scan; the session is warmed with a
trivial job first so JVM startup isn't attributed to the first query.

ARTIFACT SEMANTICS (VERDICT r14 #3): every run OVERWRITES
BENCH_DETAIL.json in place — so after the round driver's own bench,
the committed copy and the working tree diverge silently.  Since
min-of-reps (queries_min) is the adjudication series SCALE.md adopted
in r14, every run ALSO appends its detail (with a wall-clock stamp)
to BENCH_DETAIL_HISTORY.jsonl, so no session's min-of-reps record can
be lost to the overwrite; diff the committed BENCH_DETAIL.json via
`git show HEAD:BENCH_DETAIL.json`, never the working tree after a
run.  Round close should additionally snapshot the close sweep as
BENCH_DETAIL_r{N}.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metrics_service_spark.catalog import all_queries  # noqa: E402
from metrics_service_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "landing_page_daily",
    "ev_sessionize",
    "counter_report",
    "sushi_instances",
    "ev_monthly_stats",
    "matview_landingpage",
    "order_chains",
    "pid_family_closure",
    "doc_exact_dedup",
    "doc_minhash_dedup",
    "doc_bpe_tokens",
    "emb_topk_bruteforce",
    "emb_cosine_neardup",
    "mm_image_meta",
    # round-5 surface (VERDICT r5 #4): regressions in the newest
    # operators must show up in BENCH_r*.json
    "ev_interevent_gap",
    "order_components",
    # round-6: the corpus-wide paragraph hash-join pipeline
    "doc_paragraph_dedup",
    # round-6: SemDeDup (production float form; the int-exact twin is
    # oracle-checked, this one is the deployment shape)
    "emb_semdedup",
    # round-6: Bloom-pruned semi-join, iterative Lloyd loop, and the
    # batch-vs-index incremental SemDeDup admission
    "bloom_semi_lineitem",
    "emb_kmeans_train",
    "emb_semdedup_incr",
    # round-7: TF-IDF (oracle-checked since r6 but never benched) and
    # the mixed-format real-image roundtrip
    "doc_tfidf_topk",
    "mm_image_meta_real_mixed",
    "emb_contamination",
    # round-8: product-quantization ANN (train + encode + ADC search)
    # and the IVF-PQ combo (coarse cells + residual PQ)
    "emb_pq_topk_int",
    "emb_ivfpq_topk_int",
    # round-8: scalar-quantization ANN, cluster-balanced curation
    # sampling, and the no-global-sort CCNet percentile bucketing
    "emb_sq8_topk_int",
    "emb_cluster_sample",
    "doc_ccnet_bucket",
    "doc_dup_spans",
    "emb_knn_graph",
    # doc_curation_pipeline composes the quality gate with the
    # per-source quota, so a doc_source_quota regression shows up here
    # (quota is its second stage); bigram has no such proxy and gets
    # its own row (VERDICT r8 #5)
    "doc_curation_pipeline",
    "doc_bigram_coherence",
    # round-9: two-stage PQ refine, prototypicality pruning signal,
    # Gopher rule battery, shuffle+shard manifest
    "emb_pq_rerank",
    "emb_semdedup_hier",
    "emb_prototypicality",
    "doc_gopher_rules",
    "doc_shuffle_shard",
    "emb_hard_negatives",
    "doc_hash_classifier",
    "mm_phash_neardup",
    "mm_dedup_clusters",
    "doc_dsir_vote",
    "emb_curation_pipeline",
    "emb_proto_prune",
    "emb_knn_hubness",
    "doc_corpus_datasheet",
    # round-10: duplicate-span REMOVAL (the cleaned-corpus deliverable
    # doc_dup_spans only measures)
    "doc_span_scrub",
    # round-11: ANN recall self-evaluation (both arms in one plan),
    # the temperature-flattened source-mixing pass, and the
    # duplicate-run statistics (islands + coverage union)
    "emb_ann_recall",
    "doc_temperature_mix",
    "doc_dup_span_runs",
    # round-11 capstone: the tiered production keep-list (exact tier
    # feeding the jaccard+CC near tier over survivors only)
    "doc_dedup_tiers",
    # round-12: UniMax epoch-capped mixing (closed-form integer
    # waterfill); the bucketed star join is benched as the
    # star_join_bucketed/star_join_pathbased micro pair below
    "doc_epoch_cap_mix",
    # round-12: CMS heavy-hitter calibration, overlapping chunker,
    # classifier-vs-rules eval
    "doc_cms_ngram_error",
    "doc_chunk_overlap",
    "doc_classifier_eval",
    "doc_fuzzy_prefix_pairs",
    "doc_winnow_pairs",
    "doc_canonical_dedup",
    "doc_sorted_neighborhood",
    # round-13: the hot-block-safe rank twin (prices the bucketed
    # global numbering vs the one-task block window above) and the
    # multi-pass linkage union; the bucketed metrics star is benched
    # as the metrics_refresh_bucketed/metrics_refresh_pathbased micro
    # pair (named apart from the metrics_star_bucketed CATALOG entry —
    # bench micro names must not shadow catalog timings)
    "doc_sorted_neighborhood_global",
    "doc_linkage_multipass",
    "doc_linkage_recall",
    "doc_linkage_clusters",
    # round-14: quality-aware canonical selection, exact per-lang
    # length percentiles (histogram rank — FLAT at the 50× probe),
    # cross-source 5-gram overlap matrix, and video scene cuts; the
    # bucketed linkage layout is benched as the linkage_pairs_bucketed
    # micro (layout write outside the timed region) against the
    # doc_fuzzy_prefix_pairs path twin above
    "doc_cluster_best",
    "doc_length_quantiles",
    "doc_source_overlap",
    "mm_scene_cuts",
    "ev_session_quantiles",
    "doc_linkage_incremental",
    # round-14: the end-to-end MetricsRequest dispatcher entries — the
    # reference's public API path (family expansion -> COUNTER filter
    # -> agg -> citations merge -> spine), previously pytest-only
    "metrics_request_landing",
    "metrics_request_daily_country",
    "metrics_request_user",
    "metrics_request_repository",
    # round-14: tokenizer induction (train + vocab-join apply), the
    # bigram-LM CCNet signal (exact fclass + float ppl twin), and
    # k-NN-graph PageRank centrality
    "doc_bpe_train",
    "doc_bpe_apply",
    "doc_lm_fclass",
    "doc_lm_perplexity",
    "emb_knn_pagerank",
    # round-14: threshold-free classifier eval (exact-integer AUC)
    # and quality-weighted priority sampling
    "doc_classifier_auc",
    "doc_priority_sample",
    # round-15: the production BPE paths (train-once driver-local
    # finish; apply from the STORED merge table with zero training
    # jobs — the form a user runs at scale; doc_bpe_train /
    # doc_bpe_apply above now run these same kernels) and the
    # portal/group/package dispatcher routes
    "doc_bpe_train_local",
    "doc_bpe_apply_stored",
    "metrics_request_portal",
    "metrics_request_group",
    "metrics_request_package",
    # round-15: mass-conserving PageRank twin (per-round dangling
    # anti-join aggregate on top of the plain twin's shape) and the
    # per-language tokenizer fertility/OOV report over the stored
    # merge table
    "emb_knn_pagerank_conserving",
    "doc_bpe_fertility",
    # round-15: the browse-page catalog summary branch end-to-end
    # (per-seed family expansion + unique counts + citations)
    "metrics_request_catalog_summary",
    # round-16: the deep-replay stored apply (train+apply at 48
    # merges, crossing the checkpoint boundary; the
    # bpe_apply_stored_m48 micro below still prices apply-only) and
    # the fertility report's vocab-budget consumer
    "doc_bpe_apply_m48",
    "doc_vocab_budget",
    # round-16: per-language training under per-language budgets —
    # two names for the one O(1)-jobs driver-local grouped trainer
    "doc_bpe_train_grouped",
    "doc_bpe_train_grouped_local",
    # round-16 capstone: fertility -> budget apportionment ->
    # per-language grouped retrain, one entry
    "doc_bpe_budget_retrain",
    # round-16: classifier reliability table (third eval leg next to
    # the confusion matrix + AUC; same score-histogram collapse)
    "doc_classifier_calibration",
    # round-16: per-language tokenization from the grouped table
    "doc_bpe_apply_grouped",
    # round-17: the grouped apply at checkpoint-crossing depth (40
    # ranks for one language), a second name for the retrain loop
    # (same kernel as doc_bpe_budget_retrain), the streaming
    # paragraph-index fold's batch twin, and the tokenizer vocabulary
    # export
    "doc_bpe_apply_grouped_m40",
    "doc_bpe_budget_retrain_local",
    "paragraph_index_batch_twin",
    "doc_bpe_vocab_export",
    "doc_bpe_vocab_export_grouped",
    # round-17: the full-catalog sweep's one out-of-family finding —
    # quadratic modal-gram scan fixed to a sorted linear pass
    # (99.6 -> 1.1 s); benched so it can never silently regress again
    "doc_repetition",
    # round-17: the model-input encoding (ordered unit-id sequences,
    # hash-compact per doc), flat + per-language
    "doc_bpe_encode_digest",
    "doc_bpe_encode_grouped",
    # round-17: the multi-n Gopher repetition battery (one corpus pass)
    "doc_repetition_multi",
]


def _micro_merge_upsert(spark, sf_dir):
    """Manifest-table MERGE+read micro-bench: upsert one language's
    documents into a lang-partitioned manifest table, then read the new
    snapshot.  Setup (initial overwrite) runs OUTSIDE the timed region;
    each rep re-merges the same batch (same rewrite work, idempotent
    convergence).  Returns (run, cleanup)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from metrics_service_spark.sources.merge_table import (
        merge_table,
        overwrite_table,
        read_table,
    )
    from metrics_service_spark.sources.tables import load_table

    tdir = tempfile.mkdtemp(prefix="bench_merge_")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    overwrite_table(docs, tdir, partition_cols=["lang"])
    updates = docs.filter(F.col("lang") == "en").withColumn(
        "n_chars", F.col("n_chars") + F.lit(1)
    )

    def run() -> None:
        merge_table(
            spark,
            tdir,
            updates,
            key_cols=["doc_id"],
            partition_cols=["lang"],
            partition_from_key=True,
        )
        read_table(spark, tdir).count()

    return run, lambda: shutil.rmtree(tdir, ignore_errors=True)


def _micro_paragraph_index(spark, sf_dir):
    """Incremental paragraph-index fold: bootstrap the index from the
    corpus once (outside the timed region), then time folding a
    re-derived batch in + scoring it against the index."""
    import shutil
    import tempfile

    from metrics_service_spark.sources.tables import load_table
    from metrics_service_spark.streaming.paragraph_index import (
        duplicate_paragraph_fraction,
        update_paragraph_index,
    )

    tdir = tempfile.mkdtemp(prefix="bench_pindex_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    update_paragraph_index(spark, tdir, docs)
    batch = docs.limit(500)

    def run() -> None:
        update_paragraph_index(spark, tdir, batch)
        duplicate_paragraph_fraction(spark, tdir, batch).count()

    return run, lambda: shutil.rmtree(tdir, ignore_errors=True)


def _micro_semantic_admit(spark, sf_dir):
    """Streaming semantic gate: admit one batch against a WARM
    persistent cell index.  Bootstrap (90% of the embeddings table)
    runs outside the timed region; each rep re-admits the same 10%
    batch — replay-idempotent key merges, so every rep does the same
    assignment + touched-cell read + commit work."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from metrics_service_spark.sources.tables import load_table
    from metrics_service_spark.streaming.semantic_gate import admit_batch

    tdir = tempfile.mkdtemp(prefix="bench_semgate_")
    emb = load_table(spark, sf_dir, "embeddings")
    admit_batch(spark, tdir, emb.filter(F.col("vec_id") % 10 != 0), n_cells=16)
    batch = emb.filter(F.col("vec_id") % 10 == 0)

    def run() -> None:
        admit_batch(spark, tdir, batch, n_cells=16).collect()

    return run, lambda: shutil.rmtree(tdir, ignore_errors=True)


def _micro_star_join_bucketed(spark, sf_dir):
    """Co-located bucketed fact⋈fact star rollup (r12): the layout
    write runs OUTSIDE the timed region — bucketing's contract is that
    the layout shuffle is paid once at write time — so each rep prices
    exactly what a query pays against the standing tables: zipped
    per-bucket merge join + the final rollup shuffle.  Compare against
    star_join_pathbased, the identical plan minus the layout (its SMJ
    must shuffle both facts every run)."""
    from metrics_service_spark.catalog.gold import q_gold_star_bucketed
    from metrics_service_spark.sources.bucketed import ensure_bucketed_pair

    ensure_bucketed_pair(spark, sf_dir)

    def run() -> None:
        q_gold_star_bucketed(spark, sf_dir).collect()

    return run, lambda: None


def _micro_star_join_pathbased(spark, sf_dir):
    """The path-based twin of star_join_bucketed: same merge-hinted
    join + rollup over the raw parquet scans, paying the two fact
    exchanges the bucketed layout elides."""
    from metrics_service_spark.catalog.gold import q_gold_star_pathbased

    def run() -> None:
        q_gold_star_pathbased(spark, sf_dir).collect()

    return run, lambda: None


def _micro_metrics_star_bucketed(spark, sf_dir):
    """The PRODUCT refresh on the bucketed layout (r13): metrics star
    over the pid-bucketed eventlog — zero exchanges, the grain groupBy
    is scan-local.  Layout write runs OUTSIDE the timed region (paid
    once, amortized over every refresh); compare against
    metrics_refresh_pathbased, the identical star paying the full
    eventlog shuffle each run."""
    from metrics_service_spark.catalog.gold import q_metrics_star_bucketed
    from metrics_service_spark.sources.bucketed import ensure_bucketed_eventlog

    ensure_bucketed_eventlog(spark, sf_dir)

    def run() -> None:
        q_metrics_star_bucketed(spark, sf_dir).collect()

    return run, lambda: None


def _micro_metrics_star_pathbased(spark, sf_dir):
    """The path-based twin of metrics_refresh_bucketed: same star
    aggregation over the adapter view on the raw parquet, paying the
    full-eventlog grain shuffle the bucketed layout elides."""
    from metrics_service_spark.catalog.gold import q_metrics_star

    def run() -> None:
        q_metrics_star(spark, sf_dir).collect()

    return run, lambda: None


def _micro_metrics_star_silver(spark, sf_dir):
    """The decomposition arm: the star over a MATERIALIZED-but-
    UNBUCKETED silver copy of the adapted eventlog (written outside
    the timed region).  The bucketed arm's win over path-based mixes
    two effects — the pre-paid adapter expressions and the elided
    grain exchange; this arm pre-pays the adapter but still shuffles,
    so (silver − bucketed) isolates the exchange and
    (pathbased − silver) isolates the adapter cost."""
    import shutil
    import tempfile

    from metrics_service_spark.plans.gold import metrics_star
    from metrics_service_spark.sources.bucketed import (
        materialize_silver_eventlog,
    )

    tdir = tempfile.mkdtemp(prefix="bench_silver_")
    silver = materialize_silver_eventlog(spark, sf_dir, tdir)

    def run() -> None:
        metrics_star(silver).collect()

    return run, lambda: shutil.rmtree(tdir, ignore_errors=True)


def _micro_linkage_pairs_bucketed(spark, sf_dir):
    """The LINKAGE family on the bucketed documents layout (r14):
    fuzzy_prefix_pairs' cell count + block self-join planned scan-local
    from the (lang, bk)-bucketed linkage-silver table.  Layout write
    runs OUTSIDE the timed region (paid once, amortized over every
    linkage pass); the path-based twin is the HEADLINE
    doc_fuzzy_prefix_pairs entry, which re-derives and re-shuffles the
    corpus per run."""
    from metrics_service_spark.catalog.llm import q_doc_fuzzy_prefix_bucketed
    from metrics_service_spark.sources.bucketed import (
        ensure_bucketed_documents,
    )

    ensure_bucketed_documents(spark, sf_dir)

    def run() -> None:
        q_doc_fuzzy_prefix_bucketed(spark, sf_dir).collect()

    return run, lambda: None


def _micro_bpe_apply_stored_m48(spark, sf_dir):
    """Stored-table BPE apply at a production-ish merge count (r15):
    train ONCE (driver-local finish, outside the timed region), then
    each rep applies the 48-merge table — pricing the replay chain +
    vocab join + corpus agg a train-once/apply-many pipeline pays per
    apply.  The catalog's doc_bpe_apply_stored entry prices the
    n_merges=6 oracle geometry; this micro prices the merge-count
    axis (checkpoint cadence A/B in operators/bpe.py replay_merges)."""
    from metrics_service_spark.operators.bpe import (
        bpe_apply,
        bpe_train_local_finish,
    )
    from metrics_service_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    table = bpe_train_local_finish(docs, "text", n_merges=48)
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in table.orderBy("rank").collect()
    ]

    def run() -> None:
        bpe_apply(docs, merges=merges).collect()

    return run, lambda: None


def _micro_linkage_gate_admit(spark, sf_dir):
    """Streaming linkage gate (r14): admit one document batch against
    a WARM persistent block index.  Bootstrap (90% of documents) runs
    outside the timed region; each rep re-admits the same 10% batch —
    replay-idempotent key merges, so every rep does the same blocking
    + touched-bucket read + levenshtein verdicts + commit work (the
    linkage sibling of semantic_gate_admit)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from metrics_service_spark.sources.tables import load_table
    from metrics_service_spark.streaming.linkage_gate import (
        admit_batch_linkage,
    )

    tdir = tempfile.mkdtemp(prefix="bench_linkgate_")
    docs = load_table(spark, sf_dir, "documents")
    admit_batch_linkage(
        spark, tdir, docs.filter(F.col("doc_id") % 10 != 0),
        block_cols=["lang"],
    )
    batch = docs.filter(F.col("doc_id") % 10 == 0)

    def run() -> None:
        admit_batch_linkage(
            spark, tdir, batch, block_cols=["lang"]
        ).collect()

    return run, lambda: shutil.rmtree(tdir, ignore_errors=True)


#: Micro-benches: operators with no catalog entry (table mutations).
#: Each value is a factory (spark, sf_dir) -> (run, cleanup).
MICRO = {
    "merge_table_upsert": _micro_merge_upsert,
    "paragraph_index_fold": _micro_paragraph_index,
    "semantic_gate_admit": _micro_semantic_admit,
    "star_join_bucketed": _micro_star_join_bucketed,
    "star_join_pathbased": _micro_star_join_pathbased,
    "metrics_refresh_bucketed": _micro_metrics_star_bucketed,
    "metrics_refresh_pathbased": _micro_metrics_star_pathbased,
    "metrics_refresh_silver": _micro_metrics_star_silver,
    "linkage_pairs_bucketed": _micro_linkage_pairs_bucketed,
    "linkage_gate_admit": _micro_linkage_gate_admit,
    "bpe_apply_stored_m48": _micro_bpe_apply_stored_m48,
}


def _warm(spark) -> None:
    """Warm the JVM (codegen, shuffle machinery) AND the Python/Arrow
    worker pool so neither cold-start is attributed to the first timed
    query (the r2 bench showed mm_image_meta absorbing a +218% artifact
    from Arrow worker spin-up)."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    import pandas as pd

    def _ident(it):
        for batch in it:
            yield batch

    (
        spark.range(32)
        .repartition(32)
        .mapInPandas(_ident, "id long")
        .selectExpr("count(*)")
        .collect()
    )
    _ = pd  # imported on workers via mapInPandas closure


#: Size budget of the canonical stdout line, in bytes: the driver keeps
#: only the tail of stdout, so a longer line may lose its head.
LINE_BUDGET = 4096
DETAIL_FILE = "BENCH_DETAIL.json"


def canonical_line(record: dict, detail: dict) -> str:
    """`record` as one compact JSON line.  Past LINE_BUDGET bytes its
    per-query medians move into `detail` (written to DETAIL_FILE) and
    the line names that file instead, so a valid line is always
    printed."""
    line = json.dumps(record, separators=(",", ":"))
    if len(line) < LINE_BUDGET:
        return line
    detail["queries"] = record["queries"]
    slim = {k: v for k, v in record.items() if k != "queries"}
    slim["queries_in"] = DETAIL_FILE
    return json.dumps(slim, separators=(",", ":"))


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Median-of-3 per query (VERDICT r7 #1): a single sample on this
    # box swings up to 2.3x run-to-run (the recorded r7 tpch_q1/q3
    # outliers) which makes the 2x contract un-auditable.  The median
    # is the number of record; min/max are kept so the spread itself
    # is auditable from the artifact.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    spark = get_spark("msspark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark)

    # GC stranded bucketed layouts (each driver round's fixture
    # regeneration orphans the previous round's fingerprint-keyed
    # dbs); keep every layout any CURRENT fixture dir would serve
    from metrics_service_spark.sources.bucketed import prune_stale_bucketed

    prune_stale_bucketed(
        spark,
        [sf_dir]
        + [f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")],
    )

    catalog = all_queries()
    timings: dict[str, float] = {}
    lo: dict[str, float] = {}
    hi: dict[str, float] = {}

    def _time(name: str, run) -> None:
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            run()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(_median(samples), 3)
        lo[name] = round(min(samples), 3)
        hi[name] = round(max(samples), 3)

    for name in HEADLINE:
        _time(name, lambda: catalog[name].fn(spark, sf_dir).collect())

    for name, factory in MICRO.items():
        run, cleanup = factory(spark, sf_dir)
        try:
            _time(name, run)
        finally:
            cleanup()

    total = round(sum(timings.values()), 3)
    # The driver records the TAIL of stdout: BENCH_r08.json came back
    # `parsed: null` because the one fat JSON line (3 x 39-entry dicts)
    # outgrew the captured window and lost its head.  So: per-rep
    # min/max detail goes to a FILE (and an earlier stdout line for
    # humans), and the LAST line is the compact machine-readable
    # record — total + per-query medians only (VERDICT r8 #2).
    detail = {
        "metric": "headline_queries_detail",
        "queries_min": lo,
        "queries_max": hi,
        "reps": reps,
        "sf": sf_dir,
    }
    # The canonical machine-readable record is the ONLY stdout line and
    # is guaranteed LAST + compact: r16's driver capture clipped the
    # stdout tail mid-dict because the fat detail line above was ALSO
    # printed to stdout (VERDICT r17 #2).  Detail now goes to the files
    # only; the canonical line is compact-serialized and kept under
    # LINE_BUDGET by `canonical_line`.
    line = canonical_line(
        {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "reps": reps,
            "sf": sf_dir,
        },
        detail,
    )
    repo = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(repo, DETAIL_FILE)
    with open(detail_path, "w") as f:
        json.dump(detail, f)
    # append-only history so the overwrite above can never lose a
    # session's min-of-reps record (the r14 close/driver divergence)
    with open(os.path.join(repo, "BENCH_DETAIL_HISTORY.jsonl"), "a") as f:
        f.write(json.dumps({"at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()), **detail}) + "\n")
    print(line)


if __name__ == "__main__":
    main()
