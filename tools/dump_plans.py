"""Regenerate PLANS.md: formatted physical plans of the headline
queries with the scale-relevant properties called out.

    python tools/dump_plans.py [sf_dir [name ...]]

Run after changing any operator so the committed plans stay honest.
With entry names, only those sections are regenerated: the rest of
PLANS.md is kept as it is, and every section stays in COMMENTARY
order.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: query -> what to look for in its plan (rendered as commentary)
COMMENTARY = {
    "tpch_q1": "single scan; pruned ReadSchema; partial agg before the one shuffle; decimal sums for oracle bit-exactness",
    "tpch_q5": "every dim broadcast (no SortMergeJoin); region filter pushed to scan",
    "landing_page_daily": "events scanned once; family semi-join + day spine broadcast; one groupBy shuffle",
    "counter_report": "ONE scan of events; conditional-agg cascade (no multi-distinct Expand)",
    "ev_sessionize": "one shuffle (partitionBy user) + per-key window sort",
    "doc_minhash_dedup": "shuffle-free signature projection; band equi-join; semi-join-pruned verify (2 corpus scans total); candidates checkpointed once",
    "emb_cosine_neardup": "banded integer LSH: codegen signature aggs, band equi-join on (table, bucket), bare-id dedup, zip_with-fold dots — no cartesian, no Python stage, no driver collect",
    "doc_quality_filter": "histogram cutoff: corpus is filtered, never globally sorted (no percent_rank)",
    "doc_jaccard_pairs": "equi-join on (lang, log2-length bucket) + ratio prune before set intersection",
    "search_log_pipeline": "pure per-row codegen: regexp + kv + md5; the only exchange is the raw-rows _spread (round-robin, local one-row-group fixture only — a partitioned log scan passes through untouched); no key-based shuffle",
    "ev_sessionize_global": "rank over SESSIONS: per-day histogram window + broadcast offsets; corpus never globally sorted",
    "matview_routed_repo": "summary served from the routed rollup view's subtotal rows",
    "ev_rolling_7d": "range-frame window over the bounded DAILY frame; corpus work is one map-side-combined groupBy",
    "ev_asof_orders": "union-window as-of join: ONE shuffle on the key, no per-key range scan",
    "doc_unigram_freq": "vocabulary groupBy + big-vocab shuffle join back to tokens",
    "ev_retention": "cohort derives from the materialized distinct (user, week) frame; planner-chosen join",
    "ev_dau_stickiness": "contribution explode -> equi-groupBy; the exact rolling-distinct shape",
    "doc_pack": "distributed prefix sum: bucket sums + tiny offset frame + in-bucket window; no global sort",
    "doc_contamination": "benchmark shingles broadcast; corpus shingles exploded once, hash-joined",
    "doc_paragraph_dedup": "paragraph rows checkpointed once; count groupBy + hash re-attach join; no cartesian",
    "doc_tfidf_topk": "two partial-combined aggs + 1-row broadcast corpus count + one per-doc ranking window",
    "doc_domain_filter": "blocklist broadcast anti-join; corpus side one pass, no shuffle",
    "doc_pii_scrub": "pure per-row codegen regex projection; zero exchanges",
    "emb_semdedup_int": "assignment is a pure projection (inlined centroid literals, array_position argmax); within-cell pairs via ONE equi-join on cell; keep-list left join off the checkpointed assignment",
    "emb_kmeans_train": "final Lloyd pass: scan -> projection argmax -> posexplode -> one map-side-combined hash agg; no window, no cross join",
    "bloom_semi_lineitem": "bloom probe (literal word array, variable shiftleft) filters the fact scan BELOW the semi-join; build side is a bit_or word agg with a fixed-size collect",
    "emb_semdedup_incr": "ONE fused assignment pass (side tag) lazily checkpointed; batch x index equi-join on cell only; index never self-paired",
    "mm_image_meta_real_mixed": "mapInPandas encode -> sniff -> header decode; repartition by media id for encode parallelism; join back to the fmt tag is a broadcast hash join",
    "doc_jaccard_pairs": "shingles computed ABOVE the repartition exchange (all cores) and checkpointed once for both self-join sides; BHJ on (lang, length-bucket); cheap prunes short-circuit the single array_intersect in the residual condition",
    "doc_dedup_clusters": "jaccard pair shape as above; the pair graph and the doc ids (together under LOCAL_FINISH_EDGES) cross to the driver in one collect, union-find labels the docs there, and the whole result is ONE LocalTableScan — no join back to the corpus; past the bound the edge-only finish or alternating-star contraction (O(log n) rounds, one window + one canonical distinct + a duplicate-retaining mirror per round) feeds a left join back to the doc ids",
    "doc_split_leakage_safe": "documents parquet scanned at most TWICE across the whole pipeline (shingle derivation + the clusters' per-doc labels, which the CC finish collects with the pair graph; checkpointed subplans included) and the max_cell<=1000 cell-population cap-filter is present — the r7 probe-caught quadratic's linearity guard, mirrored in the oracle CTE; gated by test_split_leakage_safe_bounded_scans_and_cap_filter",
    "emb_contamination": "ONE fused assignment pass for corpus+benchmark (the literal-matrix argmax projection appears in exactly one subplan via the tagged union); the only data-mass join keys on cell; verdict joins move only the tiny dropped-id set; no shuffle on a raw vector column; gated by test_emb_contamination_fused_assignment_cell_keyed",
    "emb_pq_topk_int": "train is iters fused corpus passes with bounded m*k*d_sub collects; encode is a pure projection over two literals (flat code matrix + norms); search broadcasts the per-query integer LUT and scores each corpus row with m element_at lookups — no dim-wide multiply on the corpus side, no cartesian (query join is broadcast), one top-k window",
    "emb_ivfpq_topk_int": "coarse argmax assignment + residuals checkpointed ONCE (train + encode both consume it); candidates from a broadcast equi-join on cell (nprobe cells per query); ADC score = per-cell centroid dot + m LUT lookups; bit-exact lossless-limit test pins the decomposition",
    "emb_sq8_topk_int": "range stats via posexplode + groupBy(pos) (map-side combine to dim rows — never a wide flat aggregate); byte-code projection over two 1-D literals off the shared checkpointed quant frame; per-query (qbase, qspan) broadcast; score is one zip_with fold per pair — at 100 TB the search scan reads the 8x-smaller code column",
    "emb_cluster_sample": "bounded seed collect; assignment is the TWO-LEVEL zero-exchange projection (coarse argmax + per-row slice of the group-contiguous cell matrix — corpus^1.5, not the flat rows x cells quadratic); the ONLY shuffle keys on cell and the per-cell quota is a WindowGroupLimit-pushed top-k",
    "doc_bigram_coherence": "bigram derivation is a pure projection+explode (no window for adjacency); vocabulary groupBy + big-vocab shuffle join back — same shape as doc_unigram_freq with AQE handling stop-bigram skew",
    "doc_ccnet_bucket": "corpus is NEVER globally sorted: bounded-cardinality score histogram -> per-frac (cut, quota) rows -> broadcast cutoff join; tie-rank windows run only on rows tied AT a cutoff value; bit-identical to the row_number window twin",
    "doc_dup_spans": "window build + md5 ABOVE the doc-keyed exchange (all cores off a one-row-group scan); span rows carry (id, hash) only; one map-side-combined count groupBy + one re-attach join — no window over the hash key, so a 10^6-copy span never lands on one task",
    "doc_span_scrub": "dup_spans' span frame checkpointed once (count agg + flag join both consume it); keeper = min packed (doc,pos) key inside the SAME count agg (no second pass, no window over the hash key); removal is an equi-anti-join on (doc, token pos) — linear token mass, never a per-token scan of the flagged list; per-doc reassembly is one array_sort over kept tokens",
    "doc_source_quota": "one source-keyed exchange; the per-group quota is a WindowGroupLimit-pushed top-k (map-side partial limit before the shuffle)",
    "emb_knn_graph": "TWO-LEVEL hier assignment (zero-exchange projection, corpus^1.5 — the flat argmax was the quadratic term at derived geometry); ONE checkpointed assignment frame feeds both self-join sides; the join is a cell equi-join (corpus x corpus — never broadcast); per-src top-k is WindowGroupLimit-pushed; candidate mass bounded per cell by the n_cells geometry",
    "doc_curation_pipeline": "gate + quota compose in ONE plan: histogram-cutoff keep-list (corpus filtered, never globally sorted) joins back broadcast, then the per-source quota window over survivors only — the checkpointed (id, score) projection is the only materialization",
    "emb_semdedup_hier": "two-level assignment as ONE zero-exchange projection: coarse argmax over g literal seed dots, then F.slice carves the row's group-contiguous cell block out of a single literal matrix for the fine argmax — assignment cost corpus^1.5, not corpus^2/CELL_TARGET; the pair/verdict tail is semantic_dedup_int's audited shape",
    "emb_pq_rerank": "refine stage only: the candidate fetch is an IN-filter of collected shortlist ids PUSHED TO THE PARQUET SCAN (row-group pruning at scale), both the shortlist and the query vectors join broadcast, and the exact-dot re-rank window runs on |Q| x k_short rows — the compressed ADC shortlist pass is pq_topk_int's audited plan",
    "emb_prototypicality": "bounded seed collect; assignment is the shared literal-matrix argmax projection; proto score is one element_at dot off the assignment; the ONLY shuffle keys on cell and per-cell rank window mass is bounded by the footer-derived geometry",
    "doc_gopher_rules": "pure whole-stage-codegen projection (token/char counts, cross-multiplied integer thresholds) — zero exchanges, zero windows, scan-to-output",
    "doc_shuffle_shard": "per-row md5 + ascii-arithmetic shard assignment (pure projection); the ONE exchange keys on shard and the within-shard window mass is held at ~SHARD_TARGET rows by the footer-derived shard count",
    "emb_hard_negatives": "hier-assigned knn-graph discipline with the label-inequality predicate pushed INTO the cell equi-join (candidates pruned before the dot arithmetic); one checkpointed assignment frame feeds both sides; per-src top-k is WindowGroupLimit-pushed",
    "doc_hash_classifier": "split -> explode -> hash-agg, all whole-stage codegen (no interpreted per-token lambda); the ONE exchange moves one partial-agg row per doc — token mass collapses map-side",
    "mm_phash_neardup": "ONE Arrow signature pass (the media seam), checkpointed for both join sides; candidates from the (band, slice) pigeonhole equi-join — never all-pairs — verified with per-slice bit_count(xor)",
    "doc_dsir_vote": "the corpus tokenizes+hashes exactly ONCE into a checkpointed (doc, bucket) count frame that feeds the bucket table, the totals, and the scoring join; the <= 2^16-row vote table broadcasts at any corpus size and the join probes a plain int key — no md5 in any join expression, no corpus shuffle by token",
    "doc_corpus_datasheet": "ONE Expand + partial-aggregable hash aggregate for all three grouping sets (per-(source,lang), per-source, grand total) — a single corpus pass, no per-set re-scan",
    "emb_knn_hubness": "the audited knn-graph plan feeds a dst-keyed degree aggregate (map-side partial) and one left join back to the id column — nothing beyond the graph cost",
    "emb_proto_prune": "the per-cell count window shares the prototypicality rank window cell partitioning (ONE exchange); the keep rule is a pure integer cross-multiply projection",
    "emb_curation_pipeline": "ONE checkpointed two-level assignment frame feeds the SemDeDup pair join, the keep-list join AND the balanced-quota window — dedup and sampling share the assignment pass; quota is WindowGroupLimit-pushed",
    "mm_dedup_clusters": "phash pair discovery (the audited banded shape) feeds connected components that label the media ids: pairs plus ids under LOCAL_FINISH_EDGES cross to the driver in one collect and the result is ONE LocalTableScan (no join back); past the bound alternating-star contraction (checkpointed rounds, 3 edge-set exchanges per round) feeds a left join back to the corpus id column",
    "doc_dup_span_runs": "dup_spans' audited span frame (checkpointed once) feeds the corpus count AND the flag join; the islands window runs over ONLY the flagged subset (doc-keyed); coverage is an exploded (doc,pos) distinct — the flagged set itself is deliberately NOT checkpointed (materializing the whole duplicated-window mass OOM'd the 50x probe); zero-filled final join",
    "doc_temperature_mix": "count agg collapses to ~n_sources rows map-side; the exact-isqrt weight + round_frac_bigint quota is a pure projection over that tiny frame; quotas broadcast back; ONE source-keyed exchange for the rank window (variable quota, so the limit can't push — still a single streaming pass per partition)",
    "emb_ann_recall": "both arms in one plan: the exact arm broadcasts the 8-query frame over one corpus scan, the IVF arm reuses its audited assign/probe shape; the intersection join moves k-bounded rows per query; recall arithmetic is a plain-BIGINT projection — |queries| is the knob that bounds the whole eval",
    "doc_minhash_estimate": "the md5 near-dup entry's audited banded skeleton (ONE checkpointed shingle_frame feeds signature build and exact arm; signatures checkpointed once; hot-bucket guard); the calibration adds two joins back on the k-bounded candidate set; estimate/exact/err are integer projections",
    "gold_star_bucketed": "bucketed catalog scans on both fact sides: SortMergeJoin with ZERO Exchange below it (the layout pre-pays the shuffle and the sortBy pre-pays the sort); the whole query's only exchange is the final two-key rollup",
    "doc_epoch_cap_mix": "count agg collapses the corpus to m rows; the waterfill (prefix-sum saturation) is two windows + one agg over that tiny frame (the SinglePartition exchanges move m rows); quotas broadcast back; ONE source-keyed exchange for the rank window + a per-row epoch explode",
    "doc_cms_ngram_error": "ONE corpus-mass shuffle (the exact ngram count agg, _spread above it so the interpreted shingle transform fills all cores, checkpointed for its two consumers); the WEIGHTED sketch build and the top-25 both run over distinct-ngram mass; estimation is a broadcast join of <=4096 cells onto 25 probes",
    "doc_chunk_overlap": "pure per-row codegen: split + closed-form chunk count + sequence explode + slice hashing; ZERO exchanges",
    "doc_classifier_eval": "two per-doc projections over a _spread scan (rule battery is pure column arithmetic, classifier is explode + map-side-combined hash agg) joined on the id; the confusion matrix is a 4-row aggregate and the basis-point fractions a plain-BIGINT projection over it",
    "doc_fuzzy_prefix_pairs": "strict-block equi-join (lang, first-4-chars) over a _spread checkpointed prefix frame; per-candidate codegen levenshtein; max_cell broadcast prune drops overfull cells before the join",
    "doc_winnow_pairs": "positional grams EXPLODE to rows so md5/hex8 runs in codegen; sliding-window MIN is a row-frame window over (doc,pos) — one doc-keyed exchange of gram mass; hot-fingerprint broadcast prune, then the fp equi-join moves df-bounded candidate pairs",
    "doc_canonical_dedup": "map-side: translate char-map + split/filter/join canonical form + two md5s (no java-regex scan — measured 14x slower); ONE map-side-combined hash agg; countDistinct adds the standard two-level agg over collapsed groups",
    "doc_sorted_neighborhood": "block-keyed rank window over the _spread checkpointed prefix frame; offset explode caps candidates at N*(w-1); (block, rank) equi-join + per-candidate codegen levenshtein — the strict-block complement, unioned by multi-pass linkage",
    "doc_sorted_neighborhood_global": "identical candidates/join/pairs, but the rank is the BUCKETED global numbering: per-(block, 2-char-prefix-chunk) row_number windows + one tiny broadcast offset frame — no row_number window partitioned by the bare block cols anywhere in the plan (a hot block fans across ~charset^2 sort tasks); 50x measured 1.9x vs the window form's 16.7x",
    "doc_linkage_multipass": "driver finish at catalog scale: one bounded Arrow collect of the (lang, id, 80-char prefix) projection, both arms' candidates paired on the driver, so the plan is only the levenshtein filter over the checkpointed candidate frame (Scan ExistingRDD) — no exchange; past LINKAGE_LOCAL_ROWS / LINKAGE_LOCAL_PAIRS the union of the two linear passes and ONE distinct shuffle run instead, the SN arm hot-block-safe",
    "doc_linkage_clusters": "two driver finishes and no final join: the linkage pairs from one bounded collect of the corpus projection, then star CC brings the pair graph and the doc ids across in one collect and labels the docs by union-find — the result is ONE LocalTableScan, whose collect runs no job (2 jobs in all at sf0.01)",
    "doc_linkage_recall": "the all-pairs truth runs ONLY over the guarded md5 sample (limit-probe raises past max_sample; BNLJ streams the _spread side); both blocking arms run on the same checkpointed sample; per-method counts are 1-row aggs crossJoined against the broadcast truth row",
    "metrics_star_bucketed": "pid-bucketed catalog scan -> filter -> project -> partial+final HashAggregate with ZERO exchanges: HashPartitioning(pid) is a subset of the 9 grain keys and alias propagation carries pid->dataset_id through the projection — the refresh aggregation is scan-local at any scale",
    "doc_fuzzy_prefix_bucketed": "the linkage-silver bucketed scan: cell count AND block self-join both plan scan-local (SortMergeJoin, zero shuffle exchanges under auto-broadcast off — plan-gated); the (lang, bk) derivation is pre-paid at write time",
    "doc_dedup_tiers": "one corpus scan: the content-hash window computes each row's exact canon in the grouping's own exchange, one lazy checkpoint feeds every consumer; the keepers' near-dup labels come from star CC's driver finish (pairs plus keeper ids in one collect, a LocalTableScan), joined once to the tagged corpus for the verdict",
    "doc_cluster_best": "the audited jaccard+CC cluster shape feeds one quality projection and a cluster-keyed argmax window — cluster sizes bounded by the cell caps, so window mass is cluster-local",
    "doc_length_quantiles": "exact per-lang percentiles over the (lang, n_chars) HISTOGRAM: one combiner-friendly groupBy is the only corpus shuffle; windows run over distinct values per lang, not rows — FLAT at the 50x probe",
    "doc_source_overlap": "explode -> (source, gram) distinct -> self-join whose per-gram fan-out is bounded by source cardinality; grand-total gram count reuses the distinct frame",
    "mm_scene_cuts": "ONE Arrow pass through the media seam emits frame-signature rows; the cut test is a per-media lag window over FRAME rows (frame mass ~ media count x sample rate, never pixel mass)",
    "ev_session_quantiles": "the audited sessionizer output collapses to a (day, seconds) histogram; per-day quantile windows run over distinct durations — the ev_sessionize shuffle is the only corpus-mass exchange",
    "doc_linkage_incremental": "batch-vs-corpus block equi-join (never a corpus self-join); the corpus-cell max_cell broadcast prune fires BEFORE the join; per-candidate codegen levenshtein",
    "metrics_request_landing": "the dispatcher end-to-end: identifier family resolved by one bounded driver collect into a pid IN-list (the reference's `terms` filter) pushed to the scan with the COUNTER filter; inputs within ONE_PARTITION_BYTES, so the scoped events enter one partition through the plan's ONLY exchange (SinglePartition) and the citations through a narrow Coalesce 1; the two-level exact-count agg (no Expand), the citation dedup (a per-row `exists` over the family literal, no join), the full-outer merge and the final sort add no exchange — 3 jobs with the family collect",
    "metrics_request_daily_country": "adds the date-range scope (strict-gt/lte pushed through the adapter aliases to PushedFilters — plan-gated), day x country agg, end-exclusive spine exploded from one bucket array per country (no cross join, no broadcast), bucket-only citations join; the countries branch prunes its own scan, so two SinglePartition exchanges and no other",
    "metrics_request_user": "the user dispatch path: family from userID membership AND isPublic (one driver collect of the matched identifier rows), then the landing shape — the scope that must EXCLUDE private datasets",
    "metrics_request_repository": "repository scope is a pure scan predicate on the adapter's nodeId (no identifier family — the citations side is the UNSCOPED relation, mirroring gatherCitations without a target set); YEAR buckets with the 4-char citation key; the spine join stays in the one partition (Coalesce 1 above the first full-outer merge), so no exchange besides the events' SinglePartition one",
    "doc_bpe_train": "the returned frame is the k-row merge table (local scan BY DESIGN); the training work is ONE corpus-sized word-frequency shuffle + a bounded vocab collect — the merge loop runs driver-local (incremental pair counts + lazy heap), so total Spark jobs are O(1) regardless of n_merges (job-count-gated in tests/test_r15_guards.py)",
    "doc_bpe_apply": "train via the driver-local finish, then apply the STORED table: one shared (checkpointed) word-frequency pass feeds the train collect and the replay vocab; the merges replay as chained codegen flat-string projections (no exchange per merge), then one vocab-sized unit join + one per-doc agg — out-of-vocab tokens take the coalesce fallback",
    "doc_lm_fclass": "TWO occurrence-mass shuffles by design (bigram count build + train/probe join, the doc_bigram_coherence class twice); _spread above the explode; frequency class is integer binary-length, computed after the join on count rows",
    "emb_knn_pagerank": "the audited knn-graph plan feeds 3 FIXED integer power rounds: per round one src-keyed join + one dst-keyed map-side-combined agg; N enters as a broadcast one-row aggregate; no collect, no convergence tail",
    "doc_classifier_auc": "rules + classifier projections collapse to a SCORE histogram; the cumulative is global_cumsum (per-bucket sums + broadcast offsets — the only SinglePartition exchanges move the tiny offset frame and the final row); AUC arithmetic is a one-row integer projection",
    "doc_priority_sample": "pure projection (md5 hex arithmetic + exact long priority) + ONE group-keyed exchange with a WindowGroupLimit-pushed top-k — the doc_source_quota class; output bounded by k x strata",
    "doc_bpe_train_local": "doc_bpe_train's kernel (same function): the returned frame is the k-row merge table (local scan BY DESIGN); ONE corpus-sized word-frequency shuffle + a bounded vocab collect, merge loop driver-local — O(1) Spark jobs regardless of n_merges",
    "doc_bpe_apply_stored": "ZERO training jobs: the stored merge table replays as chained pure-projection scans over the distinct-word vocab (no exchange per merge — gated), then one vocab-sized unit join + one per-doc agg; corpus tokens are touched exactly once",
    "metrics_request_portal": "portal scope is an arrays_overlap predicate on the adapter's portalIdentifier (no identifier family -> unscoped citations, like repository); month spine + full-outer merge — the dispatcher's audited J6/A12 tail",
    "metrics_request_group": "group-subject membership + isPublic drive the family (one driver collect, the user-path shape); family IN-list + month spine + citations matched against the family literal",
    "metrics_request_package": "two-seed PID/SID/family expansion resolved on the driver into one sorted IN-list — the SID match arm end-to-end; no date filter so no spine, buckets full-outer the citation months",
    "emb_knn_pagerank_conserving": "emb_knn_pagerank's audited shape (per round one src-keyed join + one dst-keyed map-side-combined agg) plus ONE per-round dangling sum — a filter on the carried out-degree (__deg IS NULL) collapsed to a single broadcast row, no anti-join; no collect, no convergence tail",
    "doc_bpe_fertility": "bpe_apply_stored's zero-training-jobs skeleton with the group columns riding the token stream: one vocab replay, one token join, ONE language-keyed aggregation — output is |langs| rows, integer basis-point fertility",
    "metrics_request_catalog_summary": "per-seed families resolved by one bounded driver collect into a literal (seed, pid) array that tags events (after a pid IN-list) and citations with their seeds — no join — + ONE seed-keyed two-level unique-count aggregation over the one-partition events; the requested ids explode from a literal on one split and merge-join both aggregates without a broadcast; one zero-filled row per requested id",
    "doc_bpe_apply_m48": "doc_bpe_apply_stored's zero-training-jobs skeleton at 48 merges: the replay chain crosses its localCheckpoint(every=32) boundary, so the plan roots at a checkpointed VOCAB-sized RDD scan (never the corpus) with the post-checkpoint merge projections above it; corpus tokens still touched exactly once by the unit join + per-doc agg",
    "doc_vocab_budget": "the fertility report's consumer: the corpus-mass work is bpe_apply_stats' audited one-pass shape collapsing to |langs| rows; the Hamilton apportionment is two SinglePartition windows + integer projections over that tiny frame — exact budget sum at zero corpus cost",
    "search_stream_batch_twin": "the streaming ingest's transform graph on a batch frame: pure per-row codegen (regexp + kv + md5 + hour format); only the batch seam's raw-rows _spread exchange, no key-based shuffle — identical per-micro-batch transform under readStream",
    "doc_bpe_train_grouped": "the returned frame is the sum(budgets)-row merge table (local scan BY DESIGN); the work is ONE corpus-sized grouped word-frequency shuffle + a bounded vocab collect, then per-language heap trainers on the driver — O(1) Spark jobs at any budget",
    "doc_bpe_train_grouped_local": "doc_bpe_train_grouped's kernel (same function): ONE corpus-sized grouped word-frequency shuffle + a bounded vocab collect; the per-language heap trainers run on the driver — O(1) Spark jobs at any budget (the returned frame is the merge table, local scan by design)",
    "doc_bpe_budget_retrain": "the full loop chains the audited shapes over ONE checkpointed grouped word-frequency pass: local-finish train (vocab collect) -> fertility stats (one corpus pass, |langs| rows) -> Hamilton apportionment (tiny-frame windows) -> grouped local-finish retrain (grouped vocab collect, driver heap trainers); O(1) Spark jobs at any total_budget; the only driver transfers are the vocabularies (guarded), the merge table, and the |langs| budget rows",
    "doc_classifier_calibration": "the doc_classifier_auc collapse: two per-doc projections -> one value-domain-bounded score histogram; the observed range is a broadcast one-row aggregate and the bin rollup runs on histogram rows — no corpus window, no driver collect",
    "doc_bpe_apply_grouped": "zero training jobs: each language's stored merges replay as a literal codegen flat-string chain over its slice of the checkpointed distinct (lang, word) vocab (languages without a table pass through char-segmented; no join, no broadcast), then ONE (lang, word)-keyed unit join + per-doc agg — corpus tokens touched once",
    "doc_bpe_apply_grouped_m40": "doc_bpe_apply_grouped's skeleton at 40 ranks for one language: that language's replay chain crosses its localCheckpoint(every=32) boundary, so its branch roots at a checkpointed VOCAB-sized RDD scan (never the corpus) with the post-checkpoint flat-string projections above it; corpus tokens still touched exactly once by the (lang, word) unit join + per-doc agg",
    "doc_bpe_budget_retrain_local": "doc_bpe_budget_retrain's kernel (same function): one grouped word-frequency pass, vocab collects under the guard, driver heap trainers — O(1) Spark jobs at any total_budget; the returned frame is the merge table (local scan by design)",
    "paragraph_index_batch_twin": "the streaming fold unit on a batch frame: closed-form chunk explode + md5 + ONE map-side-combined count groupBy — paragraph mass collapses before the only exchange; identical per-micro-batch plan under foreachBatch",
    "doc_bpe_vocab_export": "base chars from the one corpus tokenize pass collapsed map-side to the <=|charset| distinct set, unioned with the merge-table frame; the dedup groupBy and dense-id window run on the vocab-bounded (chars + n_merges)-row frame — the |langs|-row singleton-window class, zero corpus term beyond the tokenize scan",
    "doc_bpe_vocab_export_grouped": "per-language export: the grouped tokenize pass collapses map-side to |langs| x |charset| distinct chars, filtered by a broadcast semi-join on the sum-of-budgets merge table (never a collect); dedup + per-language dense-id window run on the vocab-bounded union",
    "doc_bpe_encode_digest": "vocab replay + unit-id join both vocab-bounded; the corpus token stream joins the per-word id arrays and ONE doc-keyed aggregation reassembles each sequence by (pos, sympos) — the only corpus-mass exchange, carried as ints; digest is a pure projection over the assembled array",
    "doc_bpe_encode_grouped": "the shared grouped replay + (group, unit) id join against the grouped export, both vocab-bounded; token stream joins per-(group, word) id arrays and the same single doc-keyed reassembly shuffle; no-tokenizer languages take the all-or-nothing -1 arm (their units never match the export, so no partial sequences exist)",
    "doc_repetition_multi": "three n-gram orders in ONE zero-exchange projection: the token split is shared, each order's distinct+modal counts come from one array_sort + one linear F.aggregate run scan (the r17 quadratic fix's shape) — scan-to-output, no window, no join",
}


def _sections(text: str) -> dict[str, list[str]]:
    """PLANS.md's sections by entry name, each as its lines."""
    out: dict[str, list[str]] = {}
    name = None
    for line in text.split("\n"):
        if line.startswith("## "):
            name = line[3:]
            out[name] = []
        if name is not None:
            out[name].append(line)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(COMMENTARY)
    from metrics_service_spark.catalog import all_queries
    from metrics_service_spark.session import get_spark

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    sections: dict[str, list[str]] = {}
    if sys.argv[2:]:
        with open(path, encoding="utf-8") as fh:
            sections = _sections(fh.read())
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    cat = all_queries()
    for name in names:
        spark.catalog.clearCache()
        df = cat[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        sections[name] = [
            f"## {name}",
            "",
            f"**Keep:** {COMMENTARY[name]}",
            "",
            "```",
            plan.rstrip(),
            "```",
            "",
        ]
    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`; regenerate after",
        "operator changes.  Each section lists the scale property the plan",
        "must keep (asserted where possible in tests/test_plan_quality.py),",
        "then the `explain('formatted')` output.",
        "",
    ]
    for name in COMMENTARY:
        out.extend(sections.get(name, []))
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path} ({len(names)} of {len(COMMENTARY)} plans regenerated)")


if __name__ == "__main__":
    main()
