"""Training-data pipeline queries: dedup, similarity search, text
analysis over the `documents` / `embeddings` tables.

Every entry is oracle-compared except five xxhash64/float heads:
MinHash-LSH (`doc_minhash_dedup`), the SimHash signature and its
near-dup pairs (`doc_simhash`, `doc_simhash_neardup`), production
SemDeDup (`emb_semdedup`) and bigram perplexity (`doc_lm_perplexity`).
Their hash or float pipelines have no DuckDB equivalent, so each names
an oracle-checked `exact_twin` (md5 / integer arithmetic) that runs the
same algorithm; MinHash and SimHash candidate quality is also
property-tested in tests/test_similarity.py.  The ANN heads
(`emb_ann_ivf`, `emb_ann_lsh`) run their integer kernels directly and
carry those kernels' oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metrics_service_spark.catalog import QuerySpec
from metrics_service_spark.functions.stable import (
    round_frac,
    sql_round_frac,
    sql_round_frac_bigint,
    sql_round_frac_int,
)
from metrics_service_spark.operators.dedup import (
    exact_dedup,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_duplicates,
)
from metrics_service_spark.operators.similarity import (
    brute_force_topk,
    cosine_near_duplicates,
    kmeans_step,
)
from metrics_service_spark.operators.text import (
    LANG_MARKERS,
    fingerprint,
    lang_id,
    quality_score,
    token_stats,
)
from metrics_service_spark.sources.tables import load_table

#: target within-cell population for every cell-blocked corpus index
#: (k-NN graph, IVF-PQ coarse cells, the SemDeDup family, k-means
#: training, cluster-balanced sampling).  Within-cell pair mass is the
#: quadratic term, so the CELL COUNT must scale with the corpus — a
#: pinned n_cells grows candidate pairs as corpus^2/n_cells.  Derived
#: JOBLESS from the parquet footer row count; at the driver scales
#: (<= 2000 vectors) the derivation yields the same 16 cells the
#: entries used before, so results are unchanged there.
CELL_TARGET = 125
CELL_FLOOR = 16


def _derived_cells(
    sf_dir: str, table: str = "embeddings", target: int = CELL_TARGET
) -> int:
    """max(CELL_FLOOR, ceil(rows / CELL_TARGET)) from the parquet
    footer — no Spark job.  Entries that index a SLICE of the table
    (incremental SemDeDup, contamination) still derive from the TABLE
    row count: it is the one statistic both engines mirror exactly
    (`_sql_cells` is the oracle twin), and the slice is a constant
    fraction of it."""
    import math

    from metrics_service_spark.sources.tables import rowcount_bound

    return max(
        CELL_FLOOR, math.ceil(rowcount_bound(sf_dir, table) / target)
    )


def _sql_cells(src: str = "q", target: int = CELL_TARGET) -> str:
    """Scalar-subquery mirror of `_derived_cells` over the CTE that
    reads the whole table."""
    return (
        f"(SELECT greatest({CELL_FLOOR}, "
        f"CAST(ceil(count(*) / {target}.0) AS BIGINT)) FROM {src})"
    )



# --- exact dedup ---------------------------------------------------------
def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"), "doc_id", "text")


ORACLE_EXACT_DEDUP = """
SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""


# --- token stats ---------------------------------------------------------
def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(load_table(spark, sf_dir, "documents"), "doc_id", "text")


ORACLE_TOKEN_STATS = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_tokens
FROM documents
"""


# --- BPE-ish token counting ----------------------------------------------
def q_doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metrics_service_spark.operators.text import bpe_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


ORACLE_BPE_TOKENS = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
            AS BIGINT) AS n_bpe_tokens
FROM documents
"""


# --- quality scoring -----------------------------------------------------
def _occ_sql(word: str) -> str:
    # token-array filter count — the verbatim DuckDB mirror of
    # operators.text.occurrences (counts adjacent repeats correctly)
    return (
        f"CAST(len(list_filter(string_split(text, ' '), "
        f"t -> t = '{word}')) AS BIGINT)"
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(load_table(spark, sf_dir, "documents"), "doc_id", "text")


ORACLE_QUALITY = f"""
WITH t AS (
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
         {_occ_sql('the')} + {_occ_sql('a')} + {_occ_sql('of')} AS stop_hits
  FROM documents
)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       {sql_round_frac("n_chars - (n_tokens - 1)", "n_tokens", 4)} AS mean_token_len,
       {sql_round_frac("stop_hits", "n_tokens", 4)} AS stopword_ratio,
       {sql_round_frac("n_distinct", "n_tokens", 4)} AS type_token_ratio
FROM t
"""


# --- language id heuristic ----------------------------------------------
def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def _oracle_lang_id() -> str:
    langs = list(LANG_MARKERS)
    score_exprs = {
        lang: " + ".join(_occ_sql(w) for w in words)
        for lang, words in LANG_MARKERS.items()
    }
    score_cols = ",\n       ".join(
        f"({score_exprs[lang]}) AS score_{lang}" for lang in langs
    )
    g = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN score_{lang} = {g} THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH s AS (
  SELECT doc_id,
       {score_cols}
  FROM documents
)
SELECT doc_id, {pred} AS pred_lang,
       {", ".join(f"score_{lang}" for lang in langs)}
FROM s
"""


# --- fingerprinting ------------------------------------------------------
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load_table(spark, sf_dir, "documents"), "doc_id", "text")


ORACLE_FINGERPRINT = """
WITH t AS (SELECT doc_id, text, substr(text, 1, 200) AS head FROM documents)
SELECT doc_id,
       md5(text) AS content_hash,
       md5(head) AS head_hash,
       list_min([md5(substr(head, i, 16))
                 FOR i IN range(1, greatest(length(head) - 15, 1) + 1)]) AS min_window_hash
FROM t
"""


# --- blocked n-gram Jaccard pairs ----------------------------------------
JACCARD_THRESHOLD = 0.5
# worst-cell cap: docs in a (lang, log2-length) cell bigger than this are
# excluded (deterministic, mirrored in the oracle below).  20k drops
# nothing at any driver scale while bounding the within-cell all-pairs
# tail to max_cell^2 — overfull cells belong to the MinHash path.
JACCARD_MAX_CELL = 20_000


def q_doc_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        block_cols=["lang"],
        threshold=JACCARD_THRESHOLD,
        max_cell=JACCARD_MAX_CELL,
    )


# the oracle mirrors the max_cell drop rule: the cell is the doc's own
# (lang, length(bin(shingle count))) and cells over the cap are excluded
# before pairing — same deterministic rule as the Spark side
ORACLE_JACCARD = f"""
WITH sh0 AS (
  SELECT doc_id, lang,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS s
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
), cells AS (
  SELECT lang, length(bin(len(s))) AS bkt, count(*) AS cell_n
  FROM sh0 GROUP BY 1, 2
), sh AS (
  SELECT sh0.* FROM sh0
  JOIN cells ON cells.lang = sh0.lang AND cells.bkt = length(bin(len(sh0.s)))
  WHERE cells.cell_n <= {JACCARD_MAX_CELL}
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
)
WHERE jaccard >= {JACCARD_THRESHOLD}
"""


# --- end-to-end dedup clustering ------------------------------------------
def q_doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup flow a training pipeline runs: exact near-dup
    pairs (blocked n-gram Jaccard) -> connected components
    (alternating-star contraction, operators/closure.py) -> one row per doc
    with its cluster id and whether it is the cluster's canonical
    (minimum-id) representative.  Filtering is_canonical gives the
    keep-list."""
    from metrics_service_spark.operators.closure import (
        connected_components_star,
    )

    docs = load_table(spark, sf_dir, "documents")
    # max_cell bounds the exact-Jaccard candidate set: within-cell
    # all-pairs is quadratic in the (lang x length-bucket) cell
    # population, and the r7 10x replication probe measured the
    # uncapped form at 39.8x wall growth (cells grow with the corpus).
    # The cap is the operator's documented linearity guard (docs in
    # overfull cells become singletons — at THAT density the exact
    # baseline defers to MinHash-LSH clustering anyway).  The oracle
    # CTE mirrors the SAME deterministic drop rule (r7 ADVICE: a
    # Spark-only cap would silently diverge from the oracle at any
    # scale where a cell exceeds the cap), so both sides stay exact
    # at every scale, including replicated probe runs.
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, block_cols=["lang"],
        threshold=JACCARD_THRESHOLD, max_cell=CLUSTERS_MAX_CELL,
    ).select("id_a", "id_b")
    # r17: star CC (O(log n) rounds) replaces min-label propagation
    # (O(diameter) rounds) — identical min-id labeling, same loud
    # non-convergence raise; long-chain families can no longer exhaust
    # a diameter-bounded max_iters (the mm_dedup_clusters upgrade)
    cc = connected_components_star(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        max_iters=12,
        nodes=docs.select("doc_id"),
    )
    return cc.select(
        "doc_id", F.col("component").alias("cluster")
    ).withColumn("is_canonical", F.col("doc_id") == F.col("cluster"))


# recursive CTE with UNION (not UNION ALL) dedups rows globally, so the
# walk terminates on cycles; component = min reachable id incl. self.
# The sh0->cells->sh prologue mirrors the Spark side's max_cell
# linearity guard (same deterministic drop rule as ORACLE_JACCARD, at
# the clustering entries' own cap) so Spark and oracle stay identical
# at EVERY scale, including replicated probe runs where the cap fires.
CLUSTERS_MAX_CELL = 1_000

_CLUSTERS_CTE = f"""
WITH RECURSIVE sh0 AS (
  SELECT doc_id, lang,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS s
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
), cells AS (
  SELECT lang, length(bin(len(s))) AS bkt, count(*) AS cell_n
  FROM sh0 GROUP BY 1, 2
), sh AS (
  SELECT sh0.* FROM sh0
  JOIN cells ON cells.lang = sh0.lang AND cells.bkt = length(bin(len(sh0.s)))
  WHERE cells.cell_n <= {CLUSTERS_MAX_CELL}
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)
               AS jaccard
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
  ) WHERE jaccard >= {JACCARD_THRESHOLD}
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), walk AS (
  SELECT a AS node, b AS reach FROM edges
  UNION
  SELECT w.node, e.b FROM walk w JOIN edges e ON e.a = w.reach
), comp AS (
  SELECT node, least(node, min(reach)) AS cluster FROM walk GROUP BY node
), assigned AS (
  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)"""

ORACLE_DEDUP_CLUSTERS = (
    _CLUSTERS_CTE
    + """
SELECT doc_id, cluster, doc_id = cluster AS is_canonical FROM assigned
"""
)

ORACLE_SPLIT_LEAKAGE_SAFE = (
    _CLUSTERS_CTE
    + """
SELECT doc_id, cluster,
       CASE WHEN substr(md5('split:' || CAST(cluster AS VARCHAR)), 1, 2) < 'cc'
              THEN 'train'
            WHEN substr(md5('split:' || CAST(cluster AS VARCHAR)), 1, 2) < 'e6'
              THEN 'val'
            ELSE 'test' END AS split
FROM assigned
"""
)


# --- tiered dedup keep-list (exact tier -> near tier) ------------------------


def q_doc_cluster_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection — the keep-list upgrade every
    production dedup eventually wants: instead of keeping each near-dup
    cluster's MINIMUM-id member (doc_dedup_clusters' arbitrary-but-
    deterministic rule), keep its highest-QUALITY member.  Clusters
    come from the same blocked-Jaccard + CC edge set; quality is the
    exact quality_score features, ranked type_token_ratio desc (richest
    vocabulary wins), then n_tokens desc, then doc_id asc — every key
    integer- or decimal-typed, so the argmax is bit-deterministic in
    both engines.  Output one row per cluster: (cluster, keep_id,
    n_members, type_token_ratio of the winner).

    Scale: the ranking is one row_number window partitioned by cluster
    — cluster cardinality is ~corpus size with tiny groups, so the
    window's hash exchange is the same mass as the dedup groupBy it
    follows; no skew (a cluster's size is bounded by the near-dup
    family's cell caps).  NEW r14 surface."""
    from metrics_service_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    clusters = q_doc_dedup_clusters(spark, sf_dir).select("doc_id", "cluster")
    q = quality_score(docs, "doc_id", "text")
    w = Window.partitionBy("cluster").orderBy(
        F.col("type_token_ratio").desc(),
        F.col("n_tokens").desc(),
        F.col("doc_id").asc(),
    )
    wc = Window.partitionBy("cluster")
    return (
        clusters.join(q, "doc_id")
        .select(
            "cluster",
            F.col("doc_id").alias("keep_id"),
            "n_tokens",
            "type_token_ratio",
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1)).over(wc).alias("n_members"),
        )
        .filter(F.col("__rn") == 1)
        .select("cluster", "keep_id", "n_members", "type_token_ratio")
    )


ORACLE_CLUSTER_BEST = """
, q AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
  FROM documents
), ranked AS (
  SELECT a.cluster, a.doc_id,
         q.n_tokens,
         {ttr} AS type_token_ratio,
         row_number() OVER (
           PARTITION BY a.cluster
           ORDER BY {ttr} DESC, q.n_tokens DESC, a.doc_id ASC
         ) AS rn,
         count(*) OVER (PARTITION BY a.cluster) AS n_members
  FROM assigned a JOIN q ON q.doc_id = a.doc_id
)
SELECT cluster, doc_id AS keep_id,
       CAST(n_members AS BIGINT) AS n_members,
       type_token_ratio
FROM ranked WHERE rn = 1
""".format(ttr=sql_round_frac("q.n_distinct", "q.n_tokens", 4))


def q_doc_dedup_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tiered keep-list a production run ships (NEW r11): exact
    content-hash dedup first (removes the bulk of duplicate mass with
    one hash-groupBy), then blocked-Jaccard + connected-components
    near-dup among the survivors only.  Output (doc_id, status,
    canonical_id) with status in {kept, exact_dup, near_dup}."""
    from metrics_service_spark.operators.dedup import tiered_dedup

    docs = load_table(spark, sf_dir, "documents")
    return tiered_dedup(
        docs,
        "doc_id",
        "text",
        n=3,
        block_cols=["lang"],
        threshold=JACCARD_THRESHOLD,
        max_cell=CLUSTERS_MAX_CELL,
    )


# the near tier's CTE chain is _CLUSTERS_CTE re-sourced from the
# exact-tier keepers (the cap filter deliberately recomputes cell
# populations over KEEPERS, mirroring the Spark pipeline's staging)
ORACLE_DEDUP_TIERS = f"""
WITH RECURSIVE ex AS (
  SELECT doc_id, lang, text, md5(text) AS h FROM documents
), k1 AS (
  SELECT h, min(doc_id) AS canon FROM ex GROUP BY 1
), keep AS (
  SELECT ex.doc_id, ex.lang, ex.text FROM ex JOIN k1 USING (h)
  WHERE ex.doc_id = k1.canon
), sh0 AS (
  SELECT doc_id, lang,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS s
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM keep)
), cells AS (
  SELECT lang, length(bin(len(s))) AS bkt, count(*) AS cell_n
  FROM sh0 GROUP BY 1, 2
), sh AS (
  SELECT sh0.* FROM sh0
  JOIN cells ON cells.lang = sh0.lang AND cells.bkt = length(bin(len(sh0.s)))
  WHERE cells.cell_n <= {CLUSTERS_MAX_CELL}
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
           CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)
               AS jaccard
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
  ) WHERE jaccard >= {JACCARD_THRESHOLD}
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), walk AS (
  SELECT a AS node, b AS reach FROM edges
  UNION
  SELECT w.node, e.b FROM walk w JOIN edges e ON e.a = w.reach
), comp AS (
  SELECT node, least(node, min(reach)) AS cluster FROM walk GROUP BY node
), near AS (
  SELECT k.doc_id, coalesce(c.cluster, k.doc_id) AS cluster
  FROM keep k LEFT JOIN comp c ON c.node = k.doc_id
)
SELECT d.doc_id,
       CASE WHEN d.doc_id <> k1.canon THEN 'exact_dup'
            WHEN n.cluster <> d.doc_id THEN 'near_dup'
            ELSE 'kept' END AS status,
       CAST(CASE WHEN d.doc_id <> k1.canon THEN k1.canon
                 ELSE coalesce(n.cluster, d.doc_id) END AS BIGINT)
           AS canonical_id
FROM ex d
JOIN k1 USING (h)
LEFT JOIN near n ON n.doc_id = d.doc_id
"""


# --- multi-signal near-dup agreement ---------------------------------------
def q_doc_multi_signal_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup practice: merge the LEXICAL signal (exact
    n-gram Jaccard) with the SEMANTIC signal (banded-LSH embedding
    cosine) into one candidate ledger — a full outer join of the two
    pair sets on (id_a, id_b) with per-signal scores and an agreement
    count (doc_id and vec_id share the id space).  Each input is its
    own catalog query with its own oracle; the composite just joins
    them (both sides tiny relative to the corpus)."""
    jac = q_doc_jaccard_pairs(spark, sf_dir)
    cos = q_emb_cosine_neardup(spark, sf_dir).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "dot_q",
    )
    return jac.join(cos, ["id_a", "id_b"], "full_outer").select(
        "id_a",
        "id_b",
        "jaccard",
        "dot_q",
        (
            F.col("jaccard").isNotNull().cast("int")
            + F.col("dot_q").isNotNull().cast("int")
        ).alias("n_signals"),
    )


def _oracle_multi_signal() -> str:
    # wrap each full oracle as a derived table so their WITH scopes
    # don't collide
    return f"""
SELECT coalesce(j.id_a, c.id_a) AS id_a,
       coalesce(j.id_b, c.id_b) AS id_b,
       j.jaccard, c.dot_q,
       CAST((j.jaccard IS NOT NULL) AS INT) +
       CAST((c.dot_q IS NOT NULL) AS INT) AS n_signals
FROM ({ORACLE_JACCARD}) j
FULL OUTER JOIN ({_oracle_cosine_neardup_lsh()}) c
  ON j.id_a = c.id_a AND j.id_b = c.id_b
"""


# --- corpus top-k n-grams ---------------------------------------------------
def q_doc_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus analysis: top-25 trigrams by DOCUMENT frequency (distinct
    per doc, so boilerplate repeated inside one doc counts once — the
    signal used for boilerplate/template detection).  One shingle
    explode + count; the top-k compiles to TakeOrderedAndProject
    (per-partition top-N + driver merge, no global sort)."""
    from metrics_service_spark.operators.dedup import shingle_array
    from metrics_service_spark.operators.similarity import _spread

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # r17 (guide §2.3 raw-rows-first): spread the raw rows so the
    # interpreted shingle transform runs on all cores, not inside the
    # one-row-group scan task
    sh = _spread(docs.select("text")).select(
        F.explode(shingle_array(toks, 3)).alias("ngram")
    )
    return (
        sh.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("ngram").asc())
        .limit(25)
    )


ORACLE_NGRAM_TOPK = """
WITH sh AS (
  SELECT unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)])) AS ngram
  FROM (SELECT string_split(text, ' ') AS toks FROM documents)
)
SELECT ngram, count(*) AS doc_freq
FROM sh GROUP BY 1
ORDER BY doc_freq DESC, ngram ASC
LIMIT 25
"""


# --- count-min sketch calibration ------------------------------------------
CMS_WIDTH = 1024
CMS_DEPTH = 4


def q_doc_cms_ngram_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch calibration (the sketch sibling of
    doc_minhash_estimate, extending the r11 self-evaluation layer):
    fold the corpus trigram stream into a 4x1024 CMS
    (operators/sketch.py), point-query it for the exact top-25
    trigrams, and report estimate vs truth per key — overcount is the
    collision mass you accept before replacing the exact heavy-hitter
    pass with the broadcastable sketch at corpus scale.  CMS
    guarantees cms_est >= doc_freq (collisions only add); the shingle
    frame is checkpointed once for its two consumers (exact counts,
    sketch build).  NEW r12 surface."""
    from metrics_service_spark.operators.dedup import shingle_array
    from metrics_service_spark.operators.sketch import cms_build, cms_estimate

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # ONE corpus-mass shuffle: aggregate exact per-ngram counts first
    # (the calibration needs them anyway), then both the top-25 truth
    # and the WEIGHTED sketch build run over distinct-ngram mass —
    # identical arithmetic to sketching raw occurrences (a bucket's
    # count is the sum of its keys' counts), measured 30.8x -> the
    # occurrence-stream form's depth-amplified shuffle was the 50x
    # probe's whole overage.  The counts frame is the checkpointed
    # two-consumer seam.
    from metrics_service_spark.operators.similarity import _spread

    # _spread: the interpreted per-token shingle transform must run on
    # all cores, not the scan's few row-group partitions (the 50x
    # probe's 71 s was a straggler on a 9-partition scan)
    counts = (
        _spread(docs.select("text"))
        .select(F.explode(shingle_array(toks, 3)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .localCheckpoint(eager=False)
    )
    exact = counts.orderBy(
        F.col("doc_freq").desc(), F.col("ngram").asc()
    ).limit(25)
    sketch = cms_build(
        counts, "ngram", weight_col="doc_freq",
        width=CMS_WIDTH, depth=CMS_DEPTH,
    )
    est = cms_estimate(
        sketch, exact.select("ngram"), "ngram", width=CMS_WIDTH, depth=CMS_DEPTH
    )
    return (
        exact.join(F.broadcast(est), "ngram")
        .select(
            "ngram",
            "doc_freq",
            "cms_est",
            (F.col("cms_est") - F.col("doc_freq")).alias("overcount"),
        )
    )


def _oracle_cms_ngram_error() -> str:
    from metrics_service_spark.operators.sketch import sql_cms_arms

    arms = sql_cms_arms(
        "ngram", width=CMS_WIDTH, depth=CMS_DEPTH, salt="cms"
    )
    return f"""
WITH sh AS (
  SELECT unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)])) AS ngram
  FROM (SELECT string_split(text, ' ') AS toks FROM documents)
), counts AS (
  SELECT ngram, CAST(count(*) AS BIGINT) AS doc_freq FROM sh GROUP BY 1
), exact AS (
  SELECT ngram, doc_freq FROM counts
  ORDER BY doc_freq DESC, ngram ASC LIMIT 25
), arms AS (
  SELECT doc_freq, {arms} AS a FROM counts
), cells AS (
  SELECT a.j AS j, a.bucket AS bucket,
         CAST(sum(doc_freq) AS BIGINT) AS cnt
  FROM arms GROUP BY 1, 2
), probes AS (
  SELECT ngram, {arms} AS a FROM exact
), est AS (
  SELECT p.ngram, min(coalesce(c.cnt, 0)) AS cms_est
  FROM probes p LEFT JOIN cells c ON c.j = p.a.j AND c.bucket = p.a.bucket
  GROUP BY 1
)
SELECT e.ngram, e.doc_freq,
       CAST(s.cms_est AS BIGINT) AS cms_est,
       CAST(s.cms_est - e.doc_freq AS BIGINT) AS overcount
FROM exact e JOIN est s USING (ngram)
"""


ORACLE_CMS_NGRAM_ERROR = _oracle_cms_ngram_error()


# --- overlapping chunking ---------------------------------------------------
CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8
_CHUNK_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


def q_doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window/RAG chunking: 32-token chunks with 8-token
    overlap (stride 24), closed-form chunk count, final chunk clipped
    to the document end, md5 content hash per chunk.  Pure per-row
    codegen — the zero-shuffle corpus pass that feeds embedding and
    paragraph-dedup stages.  NEW r12 surface."""
    from metrics_service_spark.operators.text import chunk_overlap

    docs = load_table(spark, sf_dir, "documents")
    return chunk_overlap(
        docs, "doc_id", "text",
        chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP,
    )


def chunk_overlap_oracle(chunk_tokens: int, overlap: int) -> str:
    stride = chunk_tokens - overlap
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
), c AS (
  SELECT doc_id, toks, n,
         CASE WHEN n <= {chunk_tokens} THEN 1
              ELSE 1 + (n - {chunk_tokens} + {stride} - 1)
                       // {stride}
         END AS nc
  FROM t
), e AS (
  SELECT doc_id, toks, n, unnest(range(0, nc)) AS i FROM c
)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       CAST(1 + i * {stride} AS INT) AS start_tok,
       CAST(least(i * {stride} + {chunk_tokens}, n) AS INT) AS end_tok,
       CAST(least(i * {stride} + {chunk_tokens}, n)
            - i * {stride} AS INT) AS n_tok,
       md5(array_to_string(
           list_slice(toks, 1 + i * {stride},
                      least(i * {stride} + {chunk_tokens}, n)),
           ' ')) AS chunk_md5
FROM e
"""


ORACLE_CHUNK_OVERLAP = chunk_overlap_oracle(CHUNK_TOKENS, CHUNK_OVERLAP)


# --- corpus unigram-frequency scoring --------------------------------------
def q_doc_unigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality signal: mean corpus frequency of a
    document's tokens (low mean = rare-token-heavy text — the cheap
    perplexity proxy; exact integer counts + one final division keep it
    oracle-safe, unlike float log-prob sums).  The vocabulary is built
    with one token groupBy and re-joined to the exploded tokens — the
    big-vocab shuffle-join pattern; stopword skew is AQE's skew-join
    case at corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        toks.join(counts, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            round_frac(F.sum("cnt"), F.count(F.lit(1)), 4).alias(
                "mean_tok_freq"
            ),
        )
    )


ORACLE_UNIGRAM_FREQ = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), counts AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY 1
)
SELECT doc_id, count(*) AS n_tokens,
       {sql_round_frac("sum(cnt)", "count(*)", 4)} AS mean_tok_freq
FROM toks JOIN counts USING (tok)
GROUP BY 1
"""


# --- incremental dedup (new batch vs existing corpus) ----------------------
INCR_SPLIT_ID = 400


def q_doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production ingest flow: which NEW docs (doc_id >= 400) near-dup
    the EXISTING corpus (doc_id < 400)?  New-batch md5-MinHash bands
    join the corpus signature index; exact-Jaccard verify — cost scales
    with the new batch, never the corpus cross product."""
    from metrics_service_spark.operators.dedup import (
        incremental_near_duplicates_md5,
    )

    docs = load_table(spark, sf_dir, "documents")
    return incremental_near_duplicates_md5(
        docs.filter(F.col("doc_id") >= INCR_SPLIT_ID),
        docs.filter(F.col("doc_id") < INCR_SPLIT_ID),
        "doc_id",
        "text",
        n=3,
        num_hashes=16,
        bands=8,  # mirrors the near-dup default geometry
        threshold=0.5,
    )


def _oracle_incremental_md5(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.5, max_bucket: int = 1000
) -> str:
    sig_cols, band_cases, band_values = _md5_band_sql(num_hashes, bands)
    return f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
), ex AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM ex GROUP BY doc_id
), bandsx AS (
  SELECT doc_id, band, CASE band {band_cases} END AS bh
  FROM sig, (VALUES {band_values}) b(band)
), corpus_bands AS (
  SELECT doc_id AS corpus_id, band, bh FROM bandsx WHERE doc_id < {INCR_SPLIT_ID}
), counts AS (
  SELECT band, bh, count(*) AS c FROM corpus_bands GROUP BY 1, 2
), pruned AS (
  SELECT corpus_bands.* FROM corpus_bands
  JOIN counts USING (band, bh) WHERE c <= {max_bucket}
), cand AS (
  SELECT DISTINCT n.doc_id AS new_id, p.corpus_id
  FROM bandsx n JOIN pruned p ON n.band = p.band AND n.bh = p.bh
  WHERE n.doc_id >= {INCR_SPLIT_ID}
)
SELECT new_id, corpus_id,
       CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE)
           AS jaccard
FROM cand JOIN sh sa ON sa.doc_id = cand.new_id
          JOIN sh sb ON sb.doc_id = cand.corpus_id
WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
      CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE)
      >= {threshold}
"""


# --- integer-exact random projection ---------------------------------------
PROJ_DIM_OUT = 8


def q_emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL-style dimensionality reduction to 8 components, integer-exact
    (random_project_int); long-format (vec_id, out_pos, proj_q)."""
    from metrics_service_spark.operators.similarity import random_project_int

    return random_project_int(
        load_table(spark, sf_dir, "embeddings"), dim_out=PROJ_DIM_OUT
    )


def _oracle_random_projection(dim_out: int = PROJ_DIM_OUT) -> str:
    from metrics_service_spark.operators.similarity import int_planes

    values = ", ".join(
        f"({j}, [{', '.join(str(x) for x in w)}])"
        for j, w in enumerate(int_planes(dim_out, 64, table=7))
    )
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT)) AS v
  FROM embeddings
), w(j, wv) AS (VALUES {values})
SELECT vec_id, CAST(j AS INT) AS out_pos,
       CAST(list_sum(list_transform(range(1, 65), i -> v[i] * wv[i]))
            AS BIGINT) AS proj_q
FROM q CROSS JOIN w
"""


# --- sequence packing ------------------------------------------------------
PACK_CAPACITY = 1024


def q_doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: stream documents in doc_id order into
    fixed token-capacity packs — pack_id = floor(stream position
    before the doc / capacity), the deterministic contiguous-fill
    packing (a doc spanning a boundary belongs to the pack it starts
    in).  The running position is a DISTRIBUTED prefix sum
    (operators/rank.global_cumsum): per-bucket sums + tiny offset
    frame + in-bucket window — never one global sort/partition."""
    from metrics_service_spark.operators.rank import global_cumsum

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    packed = global_cumsum(
        docs,
        F.col("n_tokens"),
        bucket=F.floor(F.col("doc_id") / 100),
        order=[F.col("doc_id")],
        out_col="cum",
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        F.floor((F.col("cum") - F.col("n_tokens")) / PACK_CAPACITY)
        .cast("long")
        .alias("pack_id"),
    )


ORACLE_DOC_PACK = f"""
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(floor((cum - n_tokens) / {PACK_CAPACITY}.0) AS BIGINT) AS pack_id
FROM c
"""


# --- benchmark contamination ----------------------------------------------
CONTAM_BENCH_DOCS = 5
CONTAM_N = 5


def q_doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: flag corpus documents sharing any
    5-gram (CONTAM_N) with the benchmark set (here: the first
    CONTAM_BENCH_DOCS docs stand in for an eval suite).  Benchmark
    shingles are tiny and broadcast; the corpus explodes shingles once
    and hash-joins — the shape that survives a 100 TB corpus."""
    from metrics_service_spark.operators.dedup import shingle_array
    from metrics_service_spark.operators.similarity import _spread

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # r17 (guide §2.3 raw-rows-first): spread raw rows ahead of the
    # shingle explode (the doc_id filters still push below the spread's
    # exchange, so each arm only explodes its slice — but on all cores)
    sh = _spread(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(shingle_array(toks, CONTAM_N)).alias("sh")
    )
    bench = (
        sh.filter(F.col("doc_id") < CONTAM_BENCH_DOCS).select("sh").distinct()
    )
    return (
        sh.filter(F.col("doc_id") >= CONTAM_BENCH_DOCS)
        .join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.countDistinct("sh").alias("n_shared"))
    )


ORACLE_CONTAMINATION = f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(toks[i:i+{CONTAM_N - 1}], ' ')
                FOR i IN range(1, greatest(len(toks) - {CONTAM_N - 1}, 1) + 1)])) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
), bench AS (
  SELECT DISTINCT sh FROM sh WHERE doc_id < {CONTAM_BENCH_DOCS}
)
SELECT s.doc_id, count(DISTINCT s.sh) AS n_shared
FROM sh s JOIN bench USING (sh)
WHERE s.doc_id >= {CONTAM_BENCH_DOCS}
GROUP BY 1
"""


def q_doc_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source overlap forensics — the corpus-provenance matrix a
    mixture decision reads before weighting sources: for every source
    pair, the number of DISTINCT 5-grams (CONTAM_N, the contamination
    entry's unit) both sources contain.  High overlap between two
    crawls means their mixture weights double-count the same text.

    Scale: the only corpus-mass op is one explode + distinct to the
    (source, gram) level; the self-join's per-gram fan-out is bounded
    by SOURCE CARDINALITY (a gram appears at most once per source
    after the distinct, so even a boilerplate gram in every source
    yields C(n_sources, 2) pairs, not corpus² candidates) — the
    opposite failure mode profile from document self-joins, needing
    no cell cap.  NEW r14 surface."""
    from metrics_service_spark.operators.dedup import shingle_array
    from metrics_service_spark.operators.similarity import _spread

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # r17 (guide §2.3 raw-rows-first, the batch-9 discipline): spread
    # the RAW (source, text) rows so the shingle explode runs above the
    # exchange on all cores instead of inside the one-row-group scan
    # task, and the exchange moves raw text, not the n-fold gram set
    sh = (
        _spread(docs.select("source", "text"))
        .select(
            "source", F.explode(shingle_array(toks, CONTAM_N)).alias("g")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    other = sh.select(F.col("source").alias("source_b"), "g")
    return (
        sh.join(other, "g")
        .filter(F.col("source") < F.col("source_b"))
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


ORACLE_SOURCE_OVERLAP = f"""
WITH sh AS (
  SELECT DISTINCT source,
         unnest(list_distinct([array_to_string(toks[i:i+{CONTAM_N - 1}], ' ')
                FOR i IN range(1, greatest(len(toks) - {CONTAM_N - 1}, 1) + 1)])) AS g
  FROM (SELECT source, string_split(text, ' ') AS toks FROM documents)
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
GROUP BY 1, 2
"""


# --- deterministic split / stratified sampling ----------------------------
SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.75}


def q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metrics_service_spark.operators.sampling import hash_split

    return hash_split(
        load_table(spark, sf_dir, "documents").select("doc_id"), "doc_id"
    )


ORACLE_DOC_SPLIT = """
SELECT doc_id,
       CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
              THEN 'train'
            WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
              THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q_doc_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: assignment keys on the
    near-dup CLUSTER id (doc_dedup_clusters' connected components),
    so every member of a near-duplicate cluster lands in the SAME
    split — a plain per-doc hash split (doc_split) can leak a test
    document's near-copy into train.  Singletons key on their own id,
    making this a strict refinement of the per-doc split."""
    from metrics_service_spark.operators.sampling import hash_split

    cc = q_doc_dedup_clusters(spark, sf_dir)
    return hash_split(cc.select("doc_id", "cluster"), "cluster")


def q_doc_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metrics_service_spark.operators.sampling import stratified_sample

    return stratified_sample(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang"),
        "doc_id",
        "lang",
        SAMPLE_RATES,
        default_rate=0.125,
    )


def _oracle_sample_stratified() -> str:
    def cut(rate: float) -> str:
        n = max(0, min(256, round(rate * 256)))
        return "zz" if n >= 256 else f"{n:02x}"

    whens = " ".join(
        f"WHEN lang = '{k}' THEN '{cut(v)}'" for k, v in sorted(SAMPLE_RATES.items())
    )
    return f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         CASE {whens} ELSE '{cut(0.125)}' END AS cut
  FROM documents
) WHERE substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 2) < cut
"""


# --- MinHash-LSH / SimHash (rows-only driver check) ----------------------
def q_doc_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_duplicates(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        num_hashes=16,
        bands=8,  # s-curve midpoint 0.35 < threshold (see operator doc)
        threshold=0.5,
    )


def q_doc_minhash_dedup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-replicable MinHash twin: md5 hash family (exists in
    DuckDB verbatim), so the FULL pipeline — shingle, 16 min-hashes,
    8-band hashing, hot-bucket guard, candidate equi-join, exact
    Jaccard verify — is replayed bit-for-bit by the oracle.  The
    xxhash64 variant stays the bench default (cheaper hash); same
    banding statistics."""
    from metrics_service_spark.operators.dedup import minhash_near_duplicates_md5

    return minhash_near_duplicates_md5(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        num_hashes=16,
        bands=8,  # mirrors the xxhash default geometry
        threshold=0.5,
    )


def _md5_band_sql(num_hashes: int, bands: int) -> tuple[str, str, str]:
    """The SQL mirror of operators.dedup.md5_band_rows /
    minhash_signatures_md5 — ONE definition shared by every md5-family
    oracle (batch + incremental): (sig_cols, band_cases, band_values)."""
    rows_per_band = num_hashes // bands
    sig_cols = ",\n         ".join(
        f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(num_hashes)
    )
    band_cases = " ".join(
        "WHEN {b} THEN md5({expr})".format(
            b=bi,
            expr=" || '|' || ".join(
                f"h{bi * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    band_values = ", ".join(f"({bi})" for bi in range(bands))
    return sig_cols, band_cases, band_values


def q_doc_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration (NEW r11 — the dedup-stack twin
    of emb_ann_recall's index self-eval): per md5-LSH candidate pair,
    the signature-agreement Jaccard estimate vs the exact shingle
    Jaccard, both as scaled BIGINTs, plus the absolute error."""
    from metrics_service_spark.operators.dedup import minhash_estimate_error

    return minhash_estimate_error(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        num_hashes=16,
        bands=8,
    )


def _oracle_minhash_estimate(
    num_hashes: int = 16, bands: int = 8, max_bucket: int = 1000
) -> str:
    sig_cols, band_cases, band_values = _md5_band_sql(num_hashes, bands)
    agree = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    est = sql_round_frac_bigint("agree", str(num_hashes), 4)
    exact = sql_round_frac_bigint("inter", "uni", 4)
    return f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
), ex AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM ex GROUP BY doc_id
), bandsx AS (
  SELECT doc_id, band, CASE band {band_cases} END AS bh
  FROM sig, (VALUES {band_values}) b(band)
), counts AS (
  SELECT band, bh, count(*) AS c FROM bandsx GROUP BY 1, 2
), pruned AS (
  SELECT bandsx.doc_id, bandsx.band, bandsx.bh
  FROM bandsx JOIN counts USING (band, bh) WHERE c <= {max_bucket}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pruned a JOIN pruned b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), ag AS (
  SELECT id_a, id_b, ({agree}) AS agree
  FROM cand JOIN sig a ON a.doc_id = cand.id_a
            JOIN sig b ON b.doc_id = cand.id_b
), pairs AS (
  SELECT id_a, id_b, agree,
         CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS inter,
         CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))
              AS BIGINT) AS uni
  FROM ag JOIN sh sa ON sa.doc_id = ag.id_a
          JOIN sh sb ON sb.doc_id = ag.id_b
)
SELECT id_a, id_b,
       {est} AS est_scaled,
       {exact} AS exact_scaled,
       abs({est} - {exact}) AS err_scaled
FROM pairs
"""


def _oracle_minhash_md5(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.5, max_bucket: int = 1000
) -> str:
    sig_cols, band_cases, band_values = _md5_band_sql(num_hashes, bands)
    return f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
), ex AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh
), sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM ex GROUP BY doc_id
), bandsx AS (
  SELECT doc_id, band, CASE band {band_cases} END AS bh
  FROM sig, (VALUES {band_values}) b(band)
), counts AS (
  SELECT band, bh, count(*) AS c FROM bandsx GROUP BY 1, 2
), pruned AS (
  SELECT bandsx.doc_id, bandsx.band, bandsx.bh
  FROM bandsx JOIN counts USING (band, bh) WHERE c <= {max_bucket}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pruned a JOIN pruned b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), verified AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
         CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE)
             AS jaccard
  FROM cand JOIN sh sa ON sa.doc_id = cand.id_a
            JOIN sh sb ON sb.doc_id = cand.id_b
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {threshold}
"""


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def q_doc_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-hamming simhash dedup; rows-only (xxhash64 has no DuckDB
    equivalent) — recall/precision property-tested in
    tests/test_similarity.py."""
    return simhash_near_duplicates(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
    )


def _quality_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    ).withColumn("q", F.col("stopword_ratio") + F.col("type_token_ratio"))


SIMHASH_BANDS = 4
SIMHASH_WIDTH = 16
SIMHASH_MAX_HAMMING = 3


def q_doc_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-replicable SimHash signature (independent md5 vote per
    bit, banded into four 16-bit slices) — see simhash_md5_slices."""
    from metrics_service_spark.operators.dedup import simhash_md5_slices

    return simhash_md5_slices(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        bands=SIMHASH_BANDS,
        width=SIMHASH_WIDTH,
    )


def q_doc_simhash_neardup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metrics_service_spark.operators.dedup import simhash_near_duplicates_md5

    return simhash_near_duplicates_md5(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        max_hamming=SIMHASH_MAX_HAMMING,
        bands=SIMHASH_BANDS,
        width=SIMHASH_WIDTH,
    )


def _simhash_md5_slice_sql() -> str:
    nbits = SIMHASH_BANDS * SIMHASH_WIDTH
    vote_cols = ",\n         ".join(
        f"sum(CASE WHEN substr(md5('{b}:' || tok), 1, 1) >= '8' "
        f"THEN 1 ELSE -1 END) AS b{b}"
        for b in range(nbits)
    )
    slice_exprs = ", ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN b{s * SIMHASH_WIDTH + j} >= 0 THEN {1 << j} ELSE 0 END)"
            for j in range(SIMHASH_WIDTH)
        )
        + f" AS BIGINT) AS slice{s}"
        for s in range(SIMHASH_BANDS)
    )
    return f"""
WITH ex AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), votes AS (
  SELECT doc_id,
         {vote_cols}
  FROM ex GROUP BY doc_id
)
SELECT doc_id, {slice_exprs} FROM votes
"""


ORACLE_SIMHASH_MD5 = _simhash_md5_slice_sql()

ORACLE_SIMHASH_NEARDUP_MD5 = f"""
WITH sig AS ({ORACLE_SIMHASH_MD5}),
melted AS (
  SELECT doc_id, slice0, slice1, slice2, slice3, band,
         CASE band WHEN 0 THEN slice0 WHEN 1 THEN slice1
                   WHEN 2 THEN slice2 ELSE slice3 END AS sl
  FROM sig, (VALUES (0), (1), (2), (3)) b(band)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.slice0, b.slice0)) + bit_count(xor(a.slice1, b.slice1)) +
         bit_count(xor(a.slice2, b.slice2)) + bit_count(xor(a.slice3, b.slice3))
             AS hamming
  FROM melted a JOIN melted b
    ON a.band = b.band AND a.sl = b.sl AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM cand WHERE hamming <= {SIMHASH_MAX_HAMMING}
"""


def q_doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline quality gate, scale default: keep the top half
    of documents by quality score via `top_fraction` — an EXACT
    distributed selection (the 4-decimal score has bounded cardinality,
    so the cutoff search runs over a tiny value histogram, never a
    global corpus sort).  Bit-identical to the percent_rank oracle
    variant, so both share the same DuckDB oracle."""
    from metrics_service_spark.operators.gate import top_fraction

    return top_fraction(
        _quality_scored(spark, sf_dir), score_col="q", id_col="doc_id", frac=0.5
    )


def q_doc_quality_filter_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle twin: global percent_rank with doc_id tiebreak — a
    single-partition sort, kept as the semantics definition and
    differential check for `top_fraction`; not the path you run at
    10^9 docs."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col("q").desc(), F.col("doc_id").asc())
    return (
        _quality_scored(spark, sf_dir)
        .withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") <= 0.5)
        .select("doc_id")
    )


ORACLE_QUALITY_FILTER = f"""
WITH q AS ({{quality}})
SELECT doc_id FROM (
  SELECT doc_id,
         percent_rank() OVER (
             ORDER BY (stopword_ratio + type_token_ratio) DESC, doc_id ASC
         ) AS pr
  FROM q
) WHERE pr <= 0.5
"""


# --- similarity search ---------------------------------------------------
N_QUERY_VECS = 8
TOPK = 5


def q_emb_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return brute_force_topk(emb, queries, k=TOPK)


ORACLE_TOPK = f"""
WITH q AS (
  SELECT vec_id AS query_id,
         [CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT) FOR x IN embedding] AS qv
  FROM embeddings WHERE vec_id < {N_QUERY_VECS}
), c AS (
  SELECT vec_id AS neighbor_id,
         [CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT) FOR x IN embedding] AS cv
  FROM embeddings
), s AS (
  SELECT query_id, neighbor_id,
         CAST(list_sum([qv[i] * cv[i] FOR i IN range(1, 65)]) AS BIGINT) AS dot_q
  FROM q, c WHERE query_id != neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dot_q FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY dot_q DESC, neighbor_id) AS rank
  FROM s
) WHERE rank <= {TOPK}
"""


def q_emb_ann_lsh_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH top-k: integer signatures + integer-dot ranking
    (ann_topk_int) — index and search replayed bit-for-bit by DuckDB.
    Also the `emb_ann_lsh` entry."""
    from metrics_service_spark.operators.similarity import ann_topk_int

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return ann_topk_int(emb, queries, k=TOPK, planes=4, tables=4)


def _oracle_ann_lsh_int(planes: int = 4, tables: int = 4) -> str:
    from metrics_service_spark.operators.similarity import int_planes

    values = ", ".join(
        f"({t}, {p}, [{', '.join(str(x) for x in w)}], {1 << p})"
        for t in range(tables)
        for p, w in enumerate(int_planes(planes, 64, table=t))
    )
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT)) AS v
  FROM embeddings
), w(t, p, wv, bitval) AS (VALUES {values}),
b AS (
  SELECT vec_id, t,
         CAST(sum(CASE WHEN
              CAST(list_sum(list_transform(range(1, 65), i -> v[i] * wv[i]))
                   AS BIGINT) >= 0
              THEN bitval ELSE 0 END) AS BIGINT) AS bkt
  FROM q CROSS JOIN w GROUP BY vec_id, t
), cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM b qb JOIN b cb ON qb.t = cb.t AND qb.bkt = cb.bkt
  WHERE qb.vec_id < {N_QUERY_VECS} AND cb.vec_id != qb.vec_id
), dots AS (
  SELECT query_id, neighbor_id,
         CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * c.v[i]))
              AS BIGINT) AS dot_q
  FROM cand JOIN q a ON a.vec_id = cand.query_id
            JOIN q c ON c.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dot_q FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY dot_q DESC, neighbor_id) AS rank
  FROM dots
) WHERE rank <= {TOPK}
"""


def q_emb_ann_ivf_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k: md5 seed order + integer-dot assignment, probing and
    ranking (ivf_topk_int) — the full index build AND search replayed
    bit-for-bit by DuckDB.  Also the `emb_ann_ivf` entry."""
    from metrics_service_spark.operators.similarity import ivf_topk_int

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return ivf_topk_int(emb, queries, k=TOPK, n_cells=16, nprobe=4)


ORACLE_ANN_IVF_INT = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT)) AS v
  FROM embeddings
), seeds AS (
  SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
  FROM q
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
), ascored AS (
  SELECT q.vec_id, q.v, s.cell,
         CAST(list_sum(list_transform(range(1, 65), i -> q.v[i] * s.v[i]))
              AS BIGINT) AS dot
  FROM q CROSS JOIN seeds s
), assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cell ASC) AS rk
    FROM ascored
  ) WHERE rk = 1
), qs AS (
  SELECT vec_id AS query_id, v AS qv FROM q WHERE vec_id < {N_QUERY_VECS}
), pscored AS (
  SELECT query_id, qv, s.cell,
         CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * s.v[i]))
              AS BIGINT) AS dot
  FROM qs CROSS JOIN seeds s
), probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dot DESC, cell ASC) AS rk
    FROM pscored
  ) WHERE rk <= 4
), cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, 65), i -> p.qv[i] * a.v[i]))
              AS BIGINT) AS dot_q
  FROM probes p JOIN assigned a ON a.cell = p.cell
  WHERE a.vec_id != p.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, dot_q FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY dot_q DESC, neighbor_id) AS rank
  FROM cand
) WHERE rank <= {TOPK}
"""


def q_emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k self-evaluation of the IVF index vs the exact
    brute-force top-k (the FAISS eval loop) — both arms integer-exact,
    so the oracle replays index build + exact search + the recall
    arithmetic bit-for-bit.  NEW r11 surface."""
    from metrics_service_spark.operators.similarity import ann_recall_at_k

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return ann_recall_at_k(
        emb, queries, k=TOPK, n_cells=16, nprobe=4
    )


# the approximate arm's EXISTING oracle text is composed verbatim as a
# derived table (DuckDB allows WITH inside a subquery) — the eval
# entry can never drift from the entry it evaluates.  The shared
# composition lives in _recall_oracle (defined with the recall-matrix
# entries below) and serves all five index families.


def q_emb_ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH arm of the recall self-evaluation — same composition as
    emb_ann_recall with ann_topk_int (4 planes x 4 tables) as the
    approximate index, so the two entries together compare the two
    index families' recall on identical queries."""
    from metrics_service_spark.operators.similarity import ann_recall_at_k

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return ann_recall_at_k(emb, queries, k=TOPK, method="lsh")




# --- recall matrix across the remaining index families ----------------------
# Each entry passes its family's own top-k frame through
# ann_recall_at_k(approx=...) and composes that family's EXISTING
# oracle with ORACLE_TOPK — recall is measured for every index the
# catalog ships (ivf, lsh, pq, sq8, ivfpq), FAISS-eval style, and the
# eval can never drift from the entry it evaluates.


def _recall_oracle(arm_sql: str) -> str:
    return f"""
WITH approx AS (
  SELECT query_id, neighbor_id FROM ({arm_sql})
), bf AS (
  SELECT query_id, neighbor_id FROM ({ORACLE_TOPK})
), hits AS (
  SELECT bf.query_id, count(*) AS n_hit
  FROM bf JOIN approx USING (query_id, neighbor_id)
  GROUP BY 1
), qs AS (
  SELECT vec_id AS query_id FROM embeddings WHERE vec_id < {N_QUERY_VECS}
)
SELECT q.query_id,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS hits,
       {sql_round_frac_bigint("coalesce(h.n_hit, 0)", str(TOPK), 4)}
           AS recall_scaled
FROM qs q LEFT JOIN hits h USING (query_id)
"""


def q_emb_ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metrics_service_spark.operators.similarity import (
        ann_recall_at_k,
        pq_topk_int,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return ann_recall_at_k(
        emb,
        queries,
        k=TOPK,
        approx=pq_topk_int(emb, queries, m=8, k_codes=16, iters=2, k=TOPK),
    )


def q_emb_ann_recall_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metrics_service_spark.operators.similarity import (
        ann_recall_at_k,
        sq8_topk_int,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return ann_recall_at_k(
        emb, queries, k=TOPK, approx=sq8_topk_int(emb, queries, k=TOPK)
    )


def q_emb_ann_recall_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from metrics_service_spark.operators.similarity import (
        ann_recall_at_k,
        ivfpq_topk_int,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return ann_recall_at_k(
        emb,
        queries,
        k=TOPK,
        approx=ivfpq_topk_int(
            emb,
            queries,
            n_cells=_derived_cells(sf_dir),
            nprobe=4,
            m=8,
            k_codes=16,
            iters=2,
            k=TOPK,
        ),
    )


def q_emb_pq_topk_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011, the FAISS IVF-PQ
    family), integer-exact end to end: per-subspace codebooks trained
    with a fused 2-iteration Lloyd (md5 seeding, argmax(2x.c-|c|^2)
    assignment == argmin L2, floor-div updates), the corpus encoded to
    m=8 small codes per vector (32x smaller than the float column),
    and ADC search — per query ONE m*k integer LUT, each corpus row
    scored by m lookups + adds, never a 64-wide multiply.  The oracle
    replays train -> encode -> search bit-for-bit."""
    from metrics_service_spark.operators.similarity import pq_topk_int

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    # codebooks=None -> train/encode/search share ONE quantized-corpus
    # checkpoint instead of re-scanning the parquet per phase
    return pq_topk_int(emb, queries, m=8, k_codes=16, iters=2, k=TOPK)


# the full PQ pipeline in SQL: seed codebooks (md5 order, per-subspace
# slices), one Lloyd update (assign per (vector, subspace) by
# 2*dot-|c|^2, floor-div re-center, empty codes carry their seed),
# final encode, then ADC scoring — sum over subspaces of the
# (query-subvector . codebook-vector) dots of each neighbor's codes.
# shared CTE chain for the PQ family: train -> encode -> ADC scoring
# (ends at `scored`); ORACLE_PQ_TOPK_INT ranks it directly,
# ORACLE_PQ_RERANK widens to a k_short shortlist and exact-re-ranks.
_PQ_CTES = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT)) AS v
  FROM embeddings
), seeds AS (
  SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
  FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
), s1 AS (
  SELECT q.vec_id, q.v, t.j, s.code,
         2 * CAST(list_sum(list_transform(range(1, 9),
                 p -> q.v[t.j*8+p] * s.v[t.j*8+p])) AS BIGINT)
           - CAST(list_sum(list_transform(range(1, 9),
                 p -> s.v[t.j*8+p] * s.v[t.j*8+p])) AS BIGINT) AS score
  FROM q CROSS JOIN seeds s CROSS JOIN range(0, 8) t(j)
), a1 AS (
  SELECT vec_id, v, j, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                 ORDER BY score DESC, code ASC) AS rk
    FROM s1
  ) WHERE rk = 1
), m1 AS (
  SELECT j, code, p, CAST(sum(v[j*8+p]) AS BIGINT) AS sum_q, count(*) AS n
  FROM a1, range(1, 9) t(p)
  GROUP BY 1, 2, 3
), c1v AS (
  SELECT j, code,
         list(CAST((sum_q - ((sum_q % n + n) % n)) / n AS BIGINT)
              ORDER BY p) AS cv
  FROM m1 GROUP BY 1, 2
), c1 AS (
  SELECT jj.j, s.code, coalesce(c.cv, s.v[jj.j*8+1 : jj.j*8+8]) AS cv
  FROM seeds s CROSS JOIN range(0, 8) jj(j)
  LEFT JOIN c1v c ON c.j = jj.j AND c.code = s.code
), s2 AS (
  SELECT q.vec_id, c.j, c.code,
         2 * CAST(list_sum(list_transform(range(1, 9),
                 p -> q.v[c.j*8+p] * c.cv[p])) AS BIGINT)
           - CAST(list_sum(list_transform(range(1, 9),
                 p -> c.cv[p] * c.cv[p])) AS BIGINT) AS score
  FROM q CROSS JOIN c1 c
), a2 AS (
  SELECT vec_id, j, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                 ORDER BY score DESC, code ASC) AS rk
    FROM s2
  ) WHERE rk = 1
), qs AS (
  SELECT vec_id AS query_id, v AS qv FROM q WHERE vec_id < {N_QUERY_VECS}
), scored AS (
  SELECT qs.query_id, a.vec_id AS neighbor_id,
         CAST(sum(CAST(list_sum(list_transform(range(1, 9),
                 p -> qs.qv[c.j*8+p] * c.cv[p])) AS BIGINT)) AS BIGINT)
             AS score_q
  FROM qs CROSS JOIN a2 a
  JOIN c1 c ON c.j = a.j AND c.code = a.code
  WHERE a.vec_id != qs.query_id
  GROUP BY 1, 2
)"""

ORACLE_PQ_TOPK_INT = f"""{_PQ_CTES}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score_q FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score_q DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {TOPK}
"""


PQ_K_SHORT = 25


def q_emb_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (the FAISS IndexRefine shape): the PQ/ADC
    compressed scan keeps a deliberately wide k_short=25 shortlist per
    query, then ONLY those candidates are re-ranked by the exact
    integer dot against the original vectors — the production recipe
    for exact-quality results off a 32x-compressed index.  The refine
    fetch is a collected-id IN-filter (config-bounded |Q| x k_short
    ids), so at 100 TB the second scan row-group-prunes to the
    candidates instead of re-reading the corpus.  Oracle replays
    train -> encode -> ADC shortlist -> exact re-rank bit-for-bit."""
    from metrics_service_spark.operators.similarity import pq_rerank_topk_int

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return pq_rerank_topk_int(
        emb, queries, m=8, k_codes=16, iters=2, k_short=PQ_K_SHORT, k=TOPK
    )


ORACLE_PQ_RERANK = f"""{_PQ_CTES}, short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY score_q DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {PQ_K_SHORT}
), rr AS (
  SELECT s.query_id, s.neighbor_id,
         CAST(list_sum(list_transform(range(1, 65),
                 p -> qs.qv[p] * nv.v[p])) AS BIGINT) AS score_x
  FROM short s
  JOIN qs ON qs.query_id = s.query_id
  JOIN q nv ON nv.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score_x FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score_x DESC, neighbor_id) AS rank
  FROM rr
) WHERE rank <= {TOPK}
"""


def q_emb_ivfpq_topk_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full FAISS IVF-PQ shape: coarse md5-seeded cells prune the
    search to nprobe=4 of 16 cells per query; within them,
    Lloyd-trained product-quantization codebooks over the RESIDUAL
    vectors give each candidate an m=8-lookup ADC score
    (q.centroid + sum_j q_sub.code) — at 100 TB the scan reads a
    (cell, 8 codes) index ~32x smaller than the float column and only
    nprobe/n_cells of it per query.  Integer-exact end to end; the
    oracle replays coarse-assign -> residual-PQ-train -> encode ->
    probe -> ADC bit-for-bit."""
    from metrics_service_spark.operators.similarity import ivfpq_topk_int

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return ivfpq_topk_int(
        emb,
        queries,
        n_cells=_derived_cells(sf_dir),
        nprobe=4,
        m=8,
        k_codes=16,
        iters=2,
        k=TOPK,
    )


def _oracle_ivfpq() -> str:
    # the coarse-quantizer CTEs mirror ORACLE_ANN_IVF_INT; the PQ-train
    # CTEs mirror ORACLE_PQ_TOPK_INT but run over the RESIDUALS
    # (v - cell centroid); scoring adds the per-cell q.centroid dot to
    # the m LUT lookups of each candidate's codes.
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT)) AS v
  FROM embeddings
), cseeds AS (
  SELECT v, rn - 1 AS cell FROM (
    SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM q
  ) WHERE rn <= {_sql_cells("q")}
), ascored AS (
  SELECT q.vec_id, q.v, s.cell,
         CAST(list_sum(list_transform(range(1, 65), i -> q.v[i] * s.v[i]))
              AS BIGINT) AS dot
  FROM q CROSS JOIN cseeds s
), assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cell ASC) AS rk
    FROM ascored
  ) WHERE rk = 1
), res AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, 65), i -> a.v[i] - s.v[i]) AS r
  FROM assigned a JOIN cseeds s ON s.cell = a.cell
), pseeds AS (
  SELECT r, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
  FROM res ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
), s1 AS (
  SELECT e.vec_id, e.r, t.j, s.code,
         2 * CAST(list_sum(list_transform(range(1, 9),
                 p -> e.r[t.j*8+p] * s.r[t.j*8+p])) AS BIGINT)
           - CAST(list_sum(list_transform(range(1, 9),
                 p -> s.r[t.j*8+p] * s.r[t.j*8+p])) AS BIGINT) AS score
  FROM res e CROSS JOIN pseeds s CROSS JOIN range(0, 8) t(j)
), a1 AS (
  SELECT vec_id, r, j, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                 ORDER BY score DESC, code ASC) AS rk
    FROM s1
  ) WHERE rk = 1
), m1 AS (
  SELECT j, code, p, CAST(sum(r[j*8+p]) AS BIGINT) AS sum_q, count(*) AS n
  FROM a1, range(1, 9) t(p)
  GROUP BY 1, 2, 3
), c1v AS (
  SELECT j, code,
         list(CAST((sum_q - ((sum_q % n + n) % n)) / n AS BIGINT)
              ORDER BY p) AS cv
  FROM m1 GROUP BY 1, 2
), c1 AS (
  SELECT jj.j, s.code, coalesce(c.cv, s.r[jj.j*8+1 : jj.j*8+8]) AS cv
  FROM pseeds s CROSS JOIN range(0, 8) jj(j)
  LEFT JOIN c1v c ON c.j = jj.j AND c.code = s.code
), s2 AS (
  SELECT e.vec_id, c.j, c.code,
         2 * CAST(list_sum(list_transform(range(1, 9),
                 p -> e.r[c.j*8+p] * c.cv[p])) AS BIGINT)
           - CAST(list_sum(list_transform(range(1, 9),
                 p -> c.cv[p] * c.cv[p])) AS BIGINT) AS score
  FROM res e CROSS JOIN c1 c
), a2 AS (
  SELECT vec_id, j, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                 ORDER BY score DESC, code ASC) AS rk
    FROM s2
  ) WHERE rk = 1
), qs AS (
  SELECT vec_id AS query_id, v AS qv FROM q WHERE vec_id < {N_QUERY_VECS}
), pscored AS (
  SELECT query_id, qv, s.cell,
         CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * s.v[i]))
              AS BIGINT) AS cdot
  FROM qs CROSS JOIN cseeds s
), probes AS (
  SELECT query_id, qv, cell, cdot FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cdot DESC, cell ASC) AS rk
    FROM pscored
  ) WHERE rk <= 4
), scored AS (
  SELECT p.query_id, av.vec_id AS neighbor_id,
         p.cdot + CAST(sum(CAST(list_sum(list_transform(range(1, 9),
                 pp -> p.qv[c.j*8+pp] * c.cv[pp])) AS BIGINT)) AS BIGINT)
             AS score_q
  FROM probes p
  JOIN assigned av ON av.cell = p.cell AND av.vec_id != p.query_id
  JOIN a2 a ON a.vec_id = av.vec_id
  JOIN c1 c ON c.j = a.j AND c.code = a.code
  GROUP BY p.query_id, av.vec_id, p.cdot
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score_q FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score_q DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {TOPK}
"""


NEARDUP_PLANES = 4
NEARDUP_TABLES = 4


def q_emb_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, banded-LSH-prefiltered — the
    100 TB default: integer-exact hyperplane signatures
    (`lsh_buckets_int_batch`, 4 planes x 4 independent tables) turn the
    all-pairs non-equi join into an equi-join on (table, bucket), so
    the plan is an ordinary distributed hash join (no driver collect,
    no cross product; asserted in tests/test_plan_quality.py).  Recall
    <1 by design (a pair must collide in at least one table) and the
    oracle replays the identical integer bucketing, so the blocked
    result is still bit-for-bit comparable."""
    from metrics_service_spark.sources.tables import rowcount_bound

    return cosine_near_duplicates(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.4,
        quant=1000,
        prefilter_planes=NEARDUP_PLANES,
        prefilter_tables=NEARDUP_TABLES,
        # jobless footer bound: when the corpus can't overfill a
        # bucket, the hot-bucket guard is provably inert and its
        # aggregate+join drop out of the plan
        corpus_rows_bound=rowcount_bound(sf_dir, "embeddings"),
    )


def _oracle_cosine_neardup_lsh(
    planes: int = NEARDUP_PLANES,
    tables: int = NEARDUP_TABLES,
    max_bucket: int = 100_000,
) -> str:
    """DuckDB replay of the banded-LSH-prefiltered near-dup: same
    quantization, same int64 hyperplane weights (inlined as VALUES),
    same sign-bit buckets per table, same hot-bucket guard, candidate
    iff colliding in ANY table, same rationalized threshold — every
    step integer-exact."""
    from metrics_service_spark.operators.similarity import int_planes

    values = ", ".join(
        f"({t}, {p}, [{', '.join(str(x) for x in w)}])"
        for t in range(tables)
        for p, w in enumerate(int_planes(planes, 64, table=t))
    )
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS v
  FROM embeddings
), w(t, p, wv) AS (VALUES {values}),
b0 AS (
  SELECT vec_id, t,
         CAST(sum(CASE WHEN
              CAST(list_sum(list_transform(range(1, 65), i -> v[i] * wv[i]))
                   AS BIGINT) >= 0
              THEN (1 << p) ELSE 0 END) AS BIGINT) AS bkt
  FROM q CROSS JOIN w GROUP BY vec_id, t
), counts AS (
  SELECT t, bkt, count(*) AS c FROM b0 GROUP BY 1, 2
), b AS (
  SELECT b0.vec_id, b0.t, b0.bkt
  FROM b0 JOIN counts USING (t, bkt) WHERE c <= {max_bucket}
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
  FROM b a JOIN b c ON a.t = c.t AND a.bkt = c.bkt AND a.vec_id < c.vec_id
), s AS (
  SELECT vec_id, v,
         CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2
  FROM q
), pairs AS (
  SELECT cand.id_a, cand.id_b,
         CAST(list_sum(list_transform(range(1, 65), i -> sa.v[i] * sb.v[i]))
              AS BIGINT) AS dot_q,
         sa.n2 AS na, sb.n2 AS nb
  FROM cand
  JOIN s sa ON sa.vec_id = cand.id_a
  JOIN s sb ON sb.vec_id = cand.id_b
)
SELECT id_a, id_b, dot_q
FROM pairs
WHERE dot_q > 0 AND 25 * dot_q * dot_q >= 4 * na * nb
"""


def q_emb_cosine_neardup_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs baseline (BLAS matmul over a collected corpus) —
    guarded small-N path; the prefiltered `emb_cosine_neardup` is the
    scale default."""
    from metrics_service_spark.operators.similarity import (
        cosine_near_duplicates_np,
    )

    return cosine_near_duplicates_np(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, quant=1000
    )


# threshold 0.4 -> Fraction(0.4) = 2/5, squared = 4/25
ORACLE_COSINE_NEARDUP = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, v,
         CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n2
  FROM q
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
              AS BIGINT) AS dot_q,
         a.n2 AS na, b.n2 AS nb
  FROM s a JOIN s b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, dot_q
FROM pairs
WHERE dot_q > 0 AND 25 * dot_q * dot_q >= 4 * na * nb
"""


def q_emb_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_step(load_table(spark, sf_dir, "embeddings"), n_cells=16)


ORACLE_KMEANS_STEP = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT)) AS v
  FROM embeddings
), seeds AS (
  SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
  FROM q
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT 16
), scored AS (
  SELECT q.vec_id, q.v, s.cell,
         CAST(list_sum(list_transform(range(1, 65), i -> q.v[i] * s.v[i]))
              AS BIGINT) AS dot
  FROM q CROSS JOIN seeds s
), assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cell ASC) AS rk
    FROM scored
  ) WHERE rk = 1
)
SELECT cell, CAST(i AS BIGINT) AS pos,
       CAST(sum(v[i]) AS BIGINT) AS sum_q,
       count(*) AS n,
       {sql_round_frac("sum(v[i])", "count(*)", 4)} AS mean_q
FROM assigned, range(1, 65) t(i)
GROUP BY 1, 2
"""


# --- per-label centroid (vector aggregate) -------------------------------
def q_emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    quant = emb.select(
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 10000, 0).cast("long"),
            )
        ).alias("pos0", "q"),
    )
    return (
        quant.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.sum("q").alias("sum_q"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            F.col("pos").cast("long").alias("pos"),
            "sum_q",
            "n",
            round_frac(F.col("sum_q"), F.col("n"), 4).alias("mean_q"),
        )
    )


ORACLE_CENTROIDS = f"""
SELECT label, i AS pos, CAST(sum(q) AS BIGINT) AS sum_q, count(*) AS n,
       {sql_round_frac("sum(q)", "count(*)", 4)} AS mean_q
FROM (SELECT label, i,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
      FROM embeddings, range(1, 65) t(i))
GROUP BY 1, 2
"""


# --- iterative k-means training ------------------------------------------
def q_emb_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full Lloyd iterations (assign -> integer floor-div centroid
    update -> re-assign) — the iterative loop of
    operators/similarity.py kmeans_train, whole run replayed by the
    SQL oracle including the centroid update between passes."""
    from metrics_service_spark.operators.similarity import kmeans_train

    return kmeans_train(
        load_table(spark, sf_dir, "embeddings"),
        n_cells=_derived_cells(sf_dir),
        iters=2,
    )


ORACLE_KMEANS_TRAIN = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT)) AS v
  FROM embeddings
), seeds AS (
  SELECT v, rn - 1 AS cell FROM (
    SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM q
  ) WHERE rn <= {_sql_cells("q")}
), s1 AS (
  SELECT q.vec_id, q.v, s.cell,
         CAST(list_sum(list_transform(range(1, 65), i -> q.v[i] * s.v[i]))
              AS BIGINT) AS dot
  FROM q CROSS JOIN seeds s
), a1 AS (
  SELECT vec_id, v, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cell ASC) AS rk
    FROM s1
  ) WHERE rk = 1
), m1 AS (
  SELECT cell, i AS pos, CAST(sum(v[i]) AS BIGINT) AS sum_q, count(*) AS n
  FROM a1, range(1, 65) t(i)
  GROUP BY 1, 2
), c1v AS (
  -- integer floor-division mean; %-then-divide matches Spark exactly
  -- (both engines' % truncates toward zero; numerator divisible by n)
  SELECT cell,
         list(CAST((sum_q - ((sum_q % n + n) % n)) / n AS BIGINT)
              ORDER BY pos) AS v
  FROM m1 GROUP BY cell
), c1 AS (
  -- carry the seed centroid forward for any empty cell
  SELECT s.cell, coalesce(c.v, s.v) AS v
  FROM seeds s LEFT JOIN c1v c ON s.cell = c.cell
), s2 AS (
  SELECT q.vec_id, q.v, c.cell,
         CAST(list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
              AS BIGINT) AS dot
  FROM q CROSS JOIN c1 c
), a2 AS (
  SELECT vec_id, v, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cell ASC) AS rk
    FROM s2
  ) WHERE rk = 1
)
SELECT cell, CAST(i AS BIGINT) AS pos,
       CAST(sum(v[i]) AS BIGINT) AS sum_q,
       count(*) AS n,
       {sql_round_frac("sum(v[i])", "count(*)", 4)} AS mean_q
FROM a2, range(1, 65) t(i)
GROUP BY 1, 2
"""


# --- semantic dedup (SemDeDup) -------------------------------------------
def q_emb_semdedup_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop decision for every corpus vector, exact
    integer arithmetic end to end (operators/similarity.py
    semantic_dedup_int): md5-seeded cells, argmax quantized-dot
    assignment, within-cell pair threshold cos >= 3/10 as a pure
    int64 inequality, drop the larger id of each qualifying pair."""
    from metrics_service_spark.operators.similarity import semantic_dedup_int

    return semantic_dedup_int(
        load_table(spark, sf_dir, "embeddings"),
        n_cells=_derived_cells(sf_dir),
        tau_num=3,
        tau_den=10,
    )


def q_emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production SemDeDup (float cosine, xxhash64-seeded cells) —
    rows-only; exact twin emb_semdedup_int hard-verifies the same
    cluster/pair/drop pipeline."""
    from metrics_service_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        load_table(spark, sf_dir, "embeddings"),
        n_cells=_derived_cells(sf_dir),
        tau=0.3,
    )


def q_emb_semdedup_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup: the vec_id % 10 == 0 slice arrives as a
    new batch against the index of the remaining corpus — batch rows
    are admitted/dropped by within-cell integer cosine vs the INDEX
    only (operators/similarity.py semantic_dedup_incremental_int);
    cost scales with the batch, not the corpus pair count."""
    from metrics_service_spark.operators.similarity import (
        semantic_dedup_incremental_int,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    index = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    return semantic_dedup_incremental_int(
        index, batch, n_cells=_derived_cells(sf_dir), tau_num=3, tau_den=10
    )


def q_emb_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination scan: the vec_id % 7 == 0 slice plays
    the benchmark/test set; every remaining corpus vector is flagged
    iff a benchmark vector in its cell passes the integer cosine
    threshold (operators/similarity.py semantic_contamination_int) —
    the embedding-space complement of doc_contamination's n-gram scan,
    catching paraphrased leakage that surface n-grams miss."""
    from metrics_service_spark.operators.similarity import (
        semantic_contamination_int,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    benchmark = emb.filter(F.col("vec_id") % 7 == 0)
    corpus = emb.filter(F.col("vec_id") % 7 != 0)
    return semantic_contamination_int(
        corpus, benchmark, n_cells=_derived_cells(sf_dir), tau_num=3, tau_den=10
    )


ORACLE_EMB_CONTAMINATION = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS v
  FROM embeddings
), idx AS (
  SELECT * FROM q WHERE vec_id % 7 = 0
), bat AS (
  SELECT * FROM q WHERE vec_id % 7 <> 0
), seeds AS (
  SELECT v, rn - 1 AS cell FROM (
    SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM idx
  ) WHERE rn <= {_sql_cells("q")}
), iscored AS (
  SELECT i.vec_id, i.v, s.cell,
         CAST(list_sum(list_transform(range(1, 65), j -> i.v[j] * s.v[j]))
              AS BIGINT) AS dot
  FROM idx i CROSS JOIN seeds s
), iassigned AS (
  SELECT vec_id, v, cell,
         CAST(list_sum(list_transform(range(1, 65), j -> v[j] * v[j]))
              AS BIGINT) AS n2
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cell ASC) AS rk
    FROM iscored
  ) WHERE rk = 1
), bscored AS (
  SELECT b.vec_id, b.v, s.cell,
         CAST(list_sum(list_transform(range(1, 65), j -> b.v[j] * s.v[j]))
              AS BIGINT) AS dot
  FROM bat b CROSS JOIN seeds s
), bassigned AS (
  SELECT vec_id, v, cell,
         CAST(list_sum(list_transform(range(1, 65), j -> v[j] * v[j]))
              AS BIGINT) AS n2
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cell ASC) AS rk
    FROM bscored
  ) WHERE rk = 1
), pr AS (
  SELECT b.vec_id AS id_b,
         CAST(list_sum(list_transform(range(1, 65), j -> b.v[j] * i.v[j]))
              AS BIGINT) AS d,
         b.n2 AS nb2, i.n2 AS ni2
  FROM bassigned b JOIN iassigned i ON b.cell = i.cell
), hit AS (
  SELECT DISTINCT id_b FROM pr
  WHERE d >= 0 AND 100 * d * d >= 9 * nb2 * ni2
)
SELECT b.vec_id, CAST(b.cell AS INT) AS cell, p.id_b IS NOT NULL AS contaminated
FROM bassigned b LEFT JOIN hit p ON b.vec_id = p.id_b
"""


ORACLE_SEMDEDUP_INCR = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS v
  FROM embeddings
), idx AS (
  SELECT * FROM q WHERE vec_id % 10 <> 0
), bat AS (
  SELECT * FROM q WHERE vec_id % 10 = 0
), seeds AS (
  SELECT v, rn - 1 AS cell FROM (
    SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM idx
  ) WHERE rn <= {_sql_cells("q")}
), iscored AS (
  SELECT i.vec_id, i.v, s.cell,
         CAST(list_sum(list_transform(range(1, 65), j -> i.v[j] * s.v[j]))
              AS BIGINT) AS dot
  FROM idx i CROSS JOIN seeds s
), iassigned AS (
  SELECT vec_id, v, cell,
         CAST(list_sum(list_transform(range(1, 65), j -> v[j] * v[j]))
              AS BIGINT) AS n2
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cell ASC) AS rk
    FROM iscored
  ) WHERE rk = 1
), bscored AS (
  SELECT b.vec_id, b.v, s.cell,
         CAST(list_sum(list_transform(range(1, 65), j -> b.v[j] * s.v[j]))
              AS BIGINT) AS dot
  FROM bat b CROSS JOIN seeds s
), bassigned AS (
  SELECT vec_id, v, cell,
         CAST(list_sum(list_transform(range(1, 65), j -> v[j] * v[j]))
              AS BIGINT) AS n2
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cell ASC) AS rk
    FROM bscored
  ) WHERE rk = 1
), pr AS (
  SELECT b.vec_id AS id_b,
         CAST(list_sum(list_transform(range(1, 65), j -> b.v[j] * i.v[j]))
              AS BIGINT) AS d,
         b.n2 AS nb2, i.n2 AS ni2
  FROM bassigned b JOIN iassigned i ON b.cell = i.cell
), dropped AS (
  SELECT DISTINCT id_b FROM pr
  WHERE d >= 0 AND 100 * d * d >= 9 * nb2 * ni2
)
SELECT b.vec_id, CAST(b.cell AS INT) AS cell, p.id_b IS NULL AS kept
FROM bassigned b LEFT JOIN dropped p ON b.vec_id = p.id_b
"""


ORACLE_SEMDEDUP = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS v
  FROM embeddings
), seeds AS (
  SELECT v, rn - 1 AS cell FROM (
    SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM q
  ) WHERE rn <= {_sql_cells("q")}
), scored AS (
  SELECT q.vec_id, q.v, s.cell,
         CAST(list_sum(list_transform(range(1, 65), i -> q.v[i] * s.v[i]))
              AS BIGINT) AS dot
  FROM q CROSS JOIN seeds s
), assigned AS (
  SELECT vec_id, v, cell,
         CAST(list_sum(list_transform(range(1, 65), i -> v[i] * v[i]))
              AS BIGINT) AS n2
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cell ASC) AS rk
    FROM scored
  ) WHERE rk = 1
), pr AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
              AS BIGINT) AS d,
         a.n2 AS na2, b.n2 AS nb2
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
), dropped AS (
  SELECT DISTINCT id_b FROM pr
  WHERE d >= 0 AND 100 * d * d >= 9 * na2 * nb2
)
SELECT a.vec_id, CAST(a.cell AS INT) AS cell, p.id_b IS NULL AS kept
FROM assigned a LEFT JOIN dropped p ON a.vec_id = p.id_b
"""




# --- corpus length histogram ----------------------------------------------
def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus shape profile: doc counts and char mass per (lang,
    log2-length bucket) — the first chart every training-data run
    draws, and the same bucketing the exact-Jaccard blocker keys on
    (operators/dedup.py), so this histogram directly predicts dedup
    cell sizes.  floor(log2(n)) is exact in double for n < 2^53, and
    both engines evaluate the identical expression."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.floor(F.log2(F.greatest(F.col("n_chars"), F.lit(1)))).cast("int")
    return (
        docs.groupBy(F.col("lang"), bucket.alias("len_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


ORACLE_DOC_LENHIST = """
SELECT lang,
       CAST(floor(log2(greatest(n_chars, 1))) AS INT) AS len_bucket,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""

# --- repetition filter + PII scrub ----------------------------------------
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition metrics over 2-grams: the
    dup-fraction and modal-gram-share filters every production corpus
    run applies before training."""
    from metrics_service_spark.operators.similarity import _spread
    from metrics_service_spark.operators.text import repetition_stats

    # _spread: the per-row gram sort/scan is CPU-heavy and the fixture
    # parquet is one row group — without the repartition the whole
    # projection serializes on one task (the r9 trap, re-caught by the
    # r17 full-catalog sweep)
    return repetition_stats(
        _spread(load_table(spark, sf_dir, "documents")), "doc_id", "text", n=2
    )


ORACLE_DOC_REPETITION = f"""
WITH g AS (
  SELECT doc_id,
         [array_to_string(toks[i:i+1], ' ')
          FOR i IN range(1, greatest(len(toks) - 1, 1) + 1)] AS grams
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
), s AS (
  SELECT doc_id,
         CAST(len(grams) AS BIGINT) AS n_grams,
         CAST(len(grams) - len(list_distinct(grams)) AS BIGINT) AS n_dup_grams,
         CAST(list_max([len(list_filter(grams, x -> x = g))
                        FOR g IN list_distinct(grams)]) AS BIGINT) AS top_n
  FROM g
)
SELECT doc_id, n_grams, n_dup_grams,
       {sql_round_frac("n_dup_grams", "n_grams", 4)} AS dup_gram_fraction,
       {sql_round_frac("top_n", "n_grams", 4)} AS top_gram_fraction
FROM s
"""


def q_doc_repetition_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's repetition battery at n=2,3,4 in one corpus pass: per
    document, duplicate-gram fraction and modal-gram share for every
    order — the multi-n form Rae et al. actually filter on (a doc can
    pass the 2-gram gate and fail the 4-gram one)."""
    from metrics_service_spark.operators.similarity import _spread
    from metrics_service_spark.operators.text import repetition_stats_multi

    return repetition_stats_multi(
        _spread(load_table(spark, sf_dir, "documents")), "doc_id", "text"
    )


def _oracle_repetition_multi(ns: tuple[int, ...] = (2, 3, 4)) -> str:
    gram_cols = ",\n         ".join(
        f"[array_to_string(toks[i:i+{n - 1}], ' ')\n"
        f"          FOR i IN range(1, greatest(len(toks) - {n - 1}, 1) + 1)]"
        f" AS g{n}"
        for n in ns
    )
    sel = []
    for n in ns:
        dup = f"len(g{n}) - len(list_distinct(g{n}))"
        top = (
            f"list_max([len(list_filter(g{n}, x -> x = d))"
            f" FOR d IN list_distinct(g{n})])"
        )
        sel.append(f"CAST(len(g{n}) AS BIGINT) AS n_grams_{n}")
        sel.append(
            f"{sql_round_frac(dup, f'len(g{n})', 4)} AS dup_gram_fraction_{n}"
        )
        sel.append(
            f"{sql_round_frac(top, f'len(g{n})', 4)} AS top_gram_fraction_{n}"
        )
    sels = ",\n       ".join(sel)
    return f"""WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id,
         {gram_cols}
  FROM t
)
SELECT doc_id,
       {sels}
FROM g"""


def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub driven over synthetic-but-real matches: every doc gets
    a deterministic doc_id-derived email + IPv4 appended (both engines
    build the identical string), so the driver row verifies detection
    counts AND the redacted-text hash, not just zeros."""
    from metrics_service_spark.operators.text import pii_scrub

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact"),
            F.col("doc_id"),
            F.lit("@example.com from 10.0.0."),
            F.pmod("doc_id", F.lit(256)),
        ).alias("text"),
    )
    return pii_scrub(docs, "doc_id", "text")


ORACLE_DOC_PII = """
WITH d AS (
  SELECT doc_id,
         text || ' contact' || doc_id || '@example.com from 10.0.0.'
              || (doc_id % 256) AS text
  FROM documents
), r AS (
  SELECT doc_id, text,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g') AS no_email
  FROM d
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
           AS n_emails,
       CAST(len(regexp_extract_all(no_email,
            '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT)
           AS n_ips,
       md5(regexp_replace(no_email,
            '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
            '<IP>', 'g')) AS redacted_hash
FROM r
"""


def q_doc_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-level dedup stats (RefinedWeb/Dolma):
    20-token chunks hashed and counted across ALL documents; per-doc
    duplicated-paragraph fraction."""
    from metrics_service_spark.operators.dedup import paragraph_dedup_stats

    return paragraph_dedup_stats(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", chunk_tokens=20
    )


ORACLE_DOC_PARAGRAPH = f"""
WITH c AS (
  SELECT doc_id,
         [md5(array_to_string(toks[i*20+1:i*20+20], ' '))
          FOR i IN range(0, greatest(CAST(ceil(len(toks) / 20.0) AS INT), 1))]
             AS phs
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
), p AS (
  SELECT doc_id, unnest(phs) AS ph FROM c
), cnt AS (
  SELECT ph, count(*) AS n FROM p GROUP BY 1
)
SELECT p.doc_id,
       CAST(count(*) AS BIGINT) AS n_paragraphs,
       CAST(sum(CASE WHEN cnt.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_paragraphs,
       {sql_round_frac("sum(CASE WHEN cnt.n > 1 THEN 1 ELSE 0 END)", "count(*)", 4)}
           AS dup_paragraph_fraction
FROM p JOIN cnt USING (ph)
GROUP BY 1
"""


def q_paragraph_index_batch_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Value-level oracle twin of the streaming paragraph-index FOLD
    (VERDICT r16 optional: the one streaming path whose per-batch
    values relied on pytest mechanics only): the EXACT function
    `incremental_paragraph_index_refresh` folds per micro-batch —
    `streaming/paragraph_index.batch_paragraph_counts` — run over the
    documents table as one batch and hash-verified against the same
    relational chunk/hash/count pipeline doc_paragraph_dedup's oracle
    uses.  The `bucket` column (xxhash64 partition routing, no DuckDB
    equivalent) is projected out: it routes WHERE a row is stored,
    never WHAT is counted, and is pinned by
    tests/test_paragraph_index.py."""
    from metrics_service_spark.operators.similarity import _spread
    from metrics_service_spark.streaming.paragraph_index import (
        batch_paragraph_counts,
    )

    # _spread only here, not in the streaming operator: micro-batches
    # arrive pre-partitioned by the source, while this batch twin reads
    # a one-row-group parquet whose explode would serialize on one task
    docs = _spread(load_table(spark, sf_dir, "documents"))
    return batch_paragraph_counts(docs, "doc_id", "text", chunk_tokens=20)\
        .select("ph", "n")


ORACLE_PARAGRAPH_INDEX_TWIN = """
WITH c AS (
  SELECT doc_id,
         [md5(array_to_string(toks[i*20+1:i*20+20], ' '))
          FOR i IN range(0, greatest(CAST(ceil(len(toks) / 20.0) AS INT), 1))]
             AS phs
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)
SELECT ph, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(phs) AS ph FROM c)
GROUP BY 1
"""

LENGTH_QUANTILE_PERCENTS = [25, 50, 75, 90, 99]


def q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length percentiles (p25/p50/p75/p90/p99 of
    n_chars) — the corpus-calibration numbers every length-based
    quality rule (gopher, ccnet buckets) is tuned against.  Computed
    by operators/rank.py `exact_group_quantiles`: histogram +
    cumulative-count, so the only full-data shuffle is one
    combiner-friendly (lang, n_chars) groupBy and the per-lang window
    runs over DISTINCT lengths (thousands) rather than rows — the
    hot-language corpus (one lang = 60% of 100 TB) costs its value
    cardinality, not a one-task row sort.  Exact and integer-only,
    unlike percentile_approx; the oracle replays the same histogram
    arithmetic.  NEW r14 surface."""
    from metrics_service_spark.operators.rank import exact_group_quantiles

    docs = load_table(spark, sf_dir, "documents")
    q = exact_group_quantiles(
        docs, ["lang"], "n_chars", percents=LENGTH_QUANTILE_PERCENTS
    )
    return q.select(
        "lang",
        *[
            F.col(f"p{p}").cast("long").alias(f"p{p}")
            for p in LENGTH_QUANTILE_PERCENTS
        ],
    )


ORACLE_LENGTH_QUANTILES = f"""
WITH h AS (
  SELECT lang, n_chars AS v, count(*) AS cnt FROM documents GROUP BY 1, 2
), c AS (
  SELECT lang, v, sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum FROM h
), n AS (
  SELECT lang, sum(cnt) AS n FROM h GROUP BY 1
), t AS (
  SELECT lang, p, CAST(floor((n * p + 99) / 100.0) AS BIGINT) AS tgt
  FROM n CROSS JOIN (SELECT unnest({LENGTH_QUANTILE_PERCENTS}) AS p)
), q AS (
  SELECT t.lang, t.p, min(c.v) AS qv
  FROM t JOIN c ON c.lang = t.lang AND c.cum >= t.tgt
  GROUP BY 1, 2
)
SELECT lang,
{",".join(f"       CAST(max(CASE WHEN p = {p} THEN qv END) AS BIGINT) AS p{p}" for p in LENGTH_QUANTILE_PERCENTS)}
FROM q GROUP BY lang
"""


def q_doc_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style domain blocklist filter over deterministically
    synthesized URLs (host = cdn.<source>.org, some with ports, so
    the host regex and last-two-label domain heuristic are both
    exercised); the broadcast anti-join drops blocklisted domains."""
    from metrics_service_spark.operators.text import (
        domain_filter,
        registered_domain,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://cdn."),
            F.col("source"),
            F.lit(".org"),
            F.when(F.pmod("doc_id", F.lit(3)) == 0, F.lit(":8080")).otherwise(
                F.lit("")
            ),
            F.lit("/doc/"),
            F.col("doc_id"),
        ).alias("url"),
    )
    block = spark.createDataFrame(
        [("src0.org",), ("src7.org",), ("src13.org",)], "domain string"
    )
    return domain_filter(docs, "url", block).select(
        "doc_id", registered_domain(F.col("url")).alias("domain")
    )


ORACLE_DOC_DOMAIN = """
SELECT doc_id, source || '.org' AS domain
FROM documents
WHERE source NOT IN ('src0', 'src7', 'src13')
"""


def q_doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 characteristic terms by TF-IDF — the
    index-building / topic-labeling primitive.  The IDF uses the exact
    rational tf * N / df instead of a float log (monotone in the
    ranking, and a single int64 division compares bit-for-bit against
    the oracle).  Shape: term-frequency groupBy, document-frequency
    groupBy on its output, broadcast of the 1-row corpus count, then a
    per-doc row_number window with deterministic ties (score desc,
    term asc)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("dfreq"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            "tf",
            "dfreq",
            round_frac(F.col("tf") * F.col("n_docs"), F.col("dfreq"), 4).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "tf", "dfreq", "score", "rk")
    )


ORACLE_DOC_TFIDF = f"""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2
), dfq AS (
  SELECT tok, count(*) AS dfreq FROM tf GROUP BY 1
), n AS (
  SELECT count(*) AS n_docs FROM documents
), s AS (
  SELECT tf.doc_id, tf.tok, tf.tf, dfq.dfreq,
         {sql_round_frac("tf.tf * n.n_docs", "dfq.dfreq", 4)} AS score
  FROM tf JOIN dfq USING (tok) CROSS JOIN n
)
SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, CAST(dfreq AS BIGINT) AS dfreq,
       score, CAST(rk AS INT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, tok ASC) AS rk
  FROM s
)
WHERE rk <= 3
"""


#: domain-mixture targets (permille) for the reweighting query
MIXTURE_TARGETS_PM = {"src0": 400, "src1": 300, "src2": 200, "src3": 100}
MIXTURE_BUDGET = 20


def q_doc_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi/Pile-style domain reweighting: per-source deterministic
    sampling thresholds toward a target mixture, plus the kept counts
    the thresholds actually produce — the audit table a mixture run
    ships with.  All integer arithmetic + the repo's md5-prefix keep
    rule, so the whole resample replays in SQL."""
    from metrics_service_spark.operators.sampling import (
        mixture_rates,
        mixture_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    rates = mixture_rates(
        docs, "source", targets_pm=MIXTURE_TARGETS_PM, budget=MIXTURE_BUDGET
    )
    kept = mixture_sample(
        docs, "doc_id", "source",
        targets_pm=MIXTURE_TARGETS_PM, budget=MIXTURE_BUDGET,
    )
    kc = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    return rates.join(kc, "source", "left").select(
        "source",
        "n_docs",
        "thr",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
    )


ORACLE_DOC_MIXTURE = """
WITH t(source, w) AS (
  VALUES ('src0', 400), ('src1', 300), ('src2', 200), ('src3', 100)
), c AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
), r AS (
  SELECT c.source, c.n_docs,
         CAST(least(256, (t.w * 20 * 256) // (1000 * c.n_docs)) AS INT) AS thr
  FROM c JOIN t USING (source)
), k AS (
  SELECT d.source, count(*) AS n_kept
  FROM documents d JOIN r USING (source)
  WHERE r.thr >= 256
     OR substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 2)
        < printf('%02x', r.thr)
  GROUP BY 1
)
SELECT r.source, CAST(r.n_docs AS BIGINT) AS n_docs, r.thr,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
FROM r LEFT JOIN k USING (source)
"""


# --- scalar-quantization ANN (SQ8) -----------------------------------------
def q_emb_sq8_topk_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-SQ8-shaped ANN: per-dimension corpus [min,max] ranges
    (one 2*dim-cell aggregate) map every component to a byte code;
    search ranks by the 255-scaled reconstruction dot — at 100 TB the
    scan reads an 8x-smaller byte column (SQ's win is I/O, not
    FLOPs).  Completes the index family: flat / LSH / IVF / PQ /
    IVF-PQ / SQ8.  Integer-exact; the oracle replays range-stats ->
    encode -> score bit-for-bit."""
    from metrics_service_spark.operators.similarity import sq8_topk_int

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return sq8_topk_int(emb, queries, k=TOPK)


ORACLE_SQ8_TOPK_INT = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT)) AS v
  FROM embeddings
), dims AS (
  SELECT unnest(range(1, 65)) AS i
), stats AS (
  SELECT i, min(v[i]) AS mn, greatest(max(v[i]) - min(v[i]), 1) AS sp
  FROM q CROSS JOIN dims GROUP BY i
), rng AS (
  SELECT list(mn ORDER BY i) AS mins, list(sp ORDER BY i) AS spans FROM stats
), coded AS (
  SELECT vec_id AS neighbor_id,
         list_transform(range(1, 65),
             i -> CAST(floor(CAST((v[i] - mins[i]) * 255 AS DOUBLE) / spans[i])
                       AS BIGINT)) AS codes
  FROM q CROSS JOIN rng
), qs AS (
  SELECT vec_id AS query_id,
         255 * CAST(list_sum(list_transform(range(1, 65), i -> v[i] * mins[i]))
                    AS BIGINT) AS qbase,
         list_transform(range(1, 65), i -> v[i] * spans[i]) AS qspan
  FROM q CROSS JOIN rng WHERE vec_id < {N_QUERY_VECS}
), cand AS (
  SELECT query_id, neighbor_id,
         qbase + CAST(list_sum(list_transform(range(1, 65),
                     i -> codes[i] * qspan[i])) AS BIGINT) AS score_q
  FROM coded CROSS JOIN qs WHERE query_id != neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, score_q FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score_q DESC, neighbor_id) AS rank
  FROM cand
) WHERE rank <= {TOPK}
"""


# --- cluster-balanced curation sampling ------------------------------------
SAMPLE_PER_CELL = 8


def q_emb_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling (the DataComp-style curation draw):
    TWO-LEVEL coarse->fine cell assignment (the hier front — with
    footer-derived geometry the flat argmax measured 33.6x wall at
    the 50x probe; the two-level rule holds assignment at
    corpus^1.5), then a fixed per-cell quota chosen by md5(id) —
    semantic spread preserved instead of dense clusters dominating.
    Cell-keyed shuffle only; the per-cell top-k is
    WindowGroupLimit-pushed map-side."""
    from metrics_service_spark.operators.similarity import (
        cluster_balanced_sample_hier,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_balanced_sample_hier(
        emb, n_cells=_derived_cells(sf_dir), per_cell=SAMPLE_PER_CELL
    )


# ORACLE_CLUSTER_SAMPLE is defined after SQL_HIER_ASSIGN_CTES (it
# shares the two-level assignment CTE chain verbatim).


# --- corpus bigram-coherence scoring ----------------------------------------
def q_doc_bigram_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order corpus-statistics quality signal: mean corpus
    frequency of a document's BIGRAMS.  A doc whose unigrams are
    common but whose bigrams are rare has unusual token ORDER — the
    fluency complement of `doc_unigram_freq` (shuffled or
    word-salad text scores low here while passing unigram checks).
    Exact integer counts + one final rounded division keep it
    oracle-safe; the vocabulary join is the same big-vocab
    shuffle-join pattern.  _spread: the interpreted bigram transform
    runs TWICE (counts build + probe side) and serialized on the
    few-partition scan — re-probed 36.4x at 50x before the spread
    (r12; the straggler class SCALE.md documents)."""
    from metrics_service_spark.operators.similarity import _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    bgs = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size("t") - 1, F.lit(1))
                ),
                lambda i: F.array_join(
                    F.slice("t", i, 2), " "
                ),
            )
        ).alias("bg"),
    )
    counts = bgs.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        bgs.join(counts, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            round_frac(F.sum("cnt"), F.count(F.lit(1)), 4).alias(
                "mean_bg_freq"
            ),
        )
    )


ORACLE_BIGRAM_COHERENCE = f"""
WITH bgs AS (
  SELECT doc_id,
         unnest([array_to_string(toks[i:i+1], ' ')
                 FOR i IN range(1, greatest(len(toks) - 1, 1) + 1)]) AS bg
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
), counts AS (
  SELECT bg, count(*) AS cnt FROM bgs GROUP BY 1
)
SELECT doc_id, count(*) AS n_bigrams,
       {sql_round_frac("sum(cnt)", "count(*)", 4)} AS mean_bg_freq
FROM bgs JOIN counts USING (bg)
GROUP BY 1
"""


# --- CCNet-style percentile quality bucketing -------------------------------
def q_doc_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet head/middle/tail split: every document labeled by
    which global percentile band of the corpus-frequency quality
    score it falls in (top third = head, next third = middle, rest =
    tail).  NO global sort at any scale: `percentile_buckets` derives
    the band cutoffs from the bounded-cardinality score histogram and
    joins the corpus against the broadcast cutoffs; only rows tied AT
    a cutoff value enter a (bounded) tie-rank window.  Bit-identical
    to the `row_number() <= floor((n-1)*frac)+1` window twin the
    oracle runs."""
    from metrics_service_spark.operators.gate import percentile_buckets

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    scored = (
        toks.join(counts, "tok")
        .groupBy("doc_id")
        .agg(
            round_frac(F.sum("cnt"), F.count(F.lit(1)), 4).alias("score")
        )
    )
    return percentile_buckets(
        scored, score_col="score", id_col="doc_id", fracs=(1 / 3, 2 / 3)
    )


ORACLE_CCNET_BUCKET = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), counts AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY 1
), scored AS (
  SELECT doc_id, {sql_round_frac("sum(cnt)", "count(*)", 4)} AS score
  FROM toks JOIN counts USING (tok)
  GROUP BY 1
), ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC NULLS LAST, doc_id ASC) AS r,
         count(*) OVER () AS n
  FROM scored
)
SELECT doc_id, score,
       CASE WHEN r <= floor((n - 1) * (1.0 / 3.0)) + 1 THEN 'head'
            WHEN r <= floor((n - 1) * (2.0 / 3.0)) + 1 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked
"""


# --- exact duplicate-span fraction ------------------------------------------
SPAN_WINDOW = 8


def q_doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplication signal (Lee et al. 2021):
    fraction of each doc's OVERLAPPING 8-token windows that occur
    more than once corpus-wide (emitted as the exact scaled integer
    `dup_frac_scaled` = round_half_up(1e4 * dup/total) — no float in
    the hash surface) — catches copied spans at any alignment, where
    the non-overlapping paragraph chunks only catch aligned
    boilerplate.  Span rows carry (id, hash) only; hot spans collapse
    map-side before the count shuffle."""
    from metrics_service_spark.operators.dedup import duplicate_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_span_stats(
        docs, "doc_id", "text", window_tokens=SPAN_WINDOW
    )


# r10 rewrite (the two-round driver-red row): (a) window positions
# come from unnest(range(...)) + list_slice — plain constructs every
# green oracle uses — instead of a list-comprehension over a variable
# bracket-slice (md5 inside a comprehension + `toks[i:i+7]` was unique
# to this oracle; boundary semantics were the prime divergence
# suspect); (b) the slice end is an explicit least(i + W - 1, len) so
# no engine-specific clamp rule is relied on; (c) NO float remains in
# the hash surface — the fraction ships as the exact scaled integer on
# both sides (sql_round_frac_int twin of round_frac_int).
ORACLE_DUP_SPANS = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), pos AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - {SPAN_WINDOW} + 1, 1) + 1)) AS i
  FROM t
), spans AS (
  SELECT doc_id,
         md5(array_to_string(
             list_slice(toks, i, least(i + {SPAN_WINDOW} - 1, len(toks))),
             ' ')) AS wh
  FROM pos
), counts AS (
  SELECT wh, count(*) AS n FROM spans GROUP BY 1
)
SELECT doc_id, count(*) AS n_windows,
       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows,
       {sql_round_frac_int("sum(CASE WHEN n > 1 THEN 1 ELSE 0 END)", "count(*)", 4)}
           AS dup_frac_scaled
FROM spans JOIN counts USING (wh)
GROUP BY 1
"""
# r12: dup_windows is CAST AS BIGINT — the three-round red is the
# HUGEINT→pandas-float64 materialization asymmetry (DuckDB sum(<int>)
# returns HUGEINT, exact under fetchall but float64 under a
# pandas-materializing comparator: '7.0' vs Spark's '7').  Mechanism
# pinned by tools/pandas_parity.py + tests/test_oracle_materialization
# and proven by both r11 bisect arms (_counts/_frac, identical Spark
# plan, CAST'd oracles) coming back green while v1 stayed red.


# --- r11 column bisect of the three-round driver-red doc_dup_spans ----------
# VERDICT r10 #1: the v2 twin killed the caching theory and the green
# doc_span_scrub sibling exonerated every shared construct
# (tokenization, window formation, duplicate detection, bare counts in
# a CAST final projection) — what remains un-exonerated is the output
# surface itself.  Split it per column:
#   * _counts: ONLY (doc_id, n_windows, dup_windows), every oracle
#     column explicitly CAST AS BIGINT.  NOTE a concrete mechanism this
#     arm tests: DuckDB's sum(<integer>) returns HUGEINT, which
#     materializes as float64 under pandas (.df()) — verified locally
#     on 1.0.0, see tools/pandas_parity.py — so v1's bare dup_windows
#     is the catalog's ONLY final-projection integer sum at risk under
#     a pandas-materializing comparator; the CAST removes it.
#   * _frac: ONLY (doc_id, dup_frac_scaled), computed in PLAIN BIGINT
#     on both sides (round_frac_bigint / sql_round_frac_bigint — no
#     DECIMAL(38,0), no HUGEINT), testing the rounding machinery arm.
# Decision table (VERDICT r10): counts-red -> driver env disagrees on
# bare counts despite scrub-green; frac-red-only -> round_frac_int's
# HUGEINT/DECIMAL path diverges in the driver build; both green +
# v1 red -> the offender is in v1's remaining unique surface (the
# un-CAST HUGEINT sum / the DECIMAL38 rounding), promote the green
# forms.  v1 stays registered unchanged as the control.


def q_doc_dup_spans_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts-only arm of the dup-span bisect: same plan as
    doc_dup_spans (Catalyst prunes the unused rounding column), hash
    surface = bare window counts only."""
    from metrics_service_spark.operators.dedup import duplicate_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_span_stats(
        docs, "doc_id", "text", window_tokens=SPAN_WINDOW
    ).select("doc_id", "n_windows", "dup_windows")


ORACLE_DUP_SPANS_COUNTS = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), pos AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - {SPAN_WINDOW} + 1, 1) + 1)) AS i
  FROM t
), spans AS (
  SELECT doc_id,
         md5(array_to_string(
             list_slice(toks, i, least(i + {SPAN_WINDOW} - 1, len(toks))),
             ' ')) AS wh
  FROM pos
), counts AS (
  SELECT wh, count(*) AS n FROM spans GROUP BY 1
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows
FROM spans JOIN counts USING (wh)
GROUP BY 1
"""


def q_doc_dup_spans_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction-only arm of the dup-span bisect: dup_frac_scaled in
    plain-BIGINT arithmetic end-to-end (round_frac_bigint)."""
    from metrics_service_spark.operators.dedup import duplicate_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_span_stats(
        docs,
        "doc_id",
        "text",
        window_tokens=SPAN_WINDOW,
        frac_rounding="bigint",
    ).select("doc_id", "dup_frac_scaled")


ORACLE_DUP_SPANS_FRAC = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), pos AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - {SPAN_WINDOW} + 1, 1) + 1)) AS i
  FROM t
), spans AS (
  SELECT doc_id,
         md5(array_to_string(
             list_slice(toks, i, least(i + {SPAN_WINDOW} - 1, len(toks))),
             ' ')) AS wh
  FROM pos
), counts AS (
  SELECT wh, count(*) AS n FROM spans GROUP BY 1
)
SELECT doc_id,
       {sql_round_frac_bigint(
           "CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)",
           "CAST(count(*) AS BIGINT)",
           4,
       )} AS dup_frac_scaled
FROM spans JOIN counts USING (wh)
GROUP BY 1
"""


# --- exact duplicate-span REMOVAL -------------------------------------------


def q_doc_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other half of doc_dup_spans — actually CUT the duplicated
    spans (Lee et al. 2021's deliverable is the cleaned corpus, not
    the fraction): every overlapping 8-token window occurring >1
    times corpus-wide is removed from all occurrences but the
    globally-first (min (doc, pos)), and the doc re-joins its
    surviving tokens.  Linear token-mass plan: flagged windows
    explode to covered (doc, pos) keys, tokens anti-join, one
    per-doc reassembly — no per-token membership scan over the
    flagged list (quadratic for boilerplate docs)."""
    from metrics_service_spark.operators.dedup import duplicate_span_scrub

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_span_scrub(
        docs, "doc_id", "text", window_tokens=SPAN_WINDOW
    )


#: keeper key = doc_id * 2^20 + window pos (operators/dedup.py
#: _SCRUB_MAX_POS — asserted Spark-side, mirrored here)
_SCRUB_KEY = 1 << 20

ORACLE_SPAN_SCRUB = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), pos AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - {SPAN_WINDOW} + 1, 1) + 1)) AS i
  FROM t
), spans AS (
  SELECT doc_id, i,
         md5(array_to_string(
             list_slice(toks, i, least(i + {SPAN_WINDOW} - 1, len(toks))),
             ' ')) AS wh
  FROM pos
), counts AS (
  SELECT wh, count(*) AS n,
         min(doc_id * {_SCRUB_KEY} + i) AS first_key
  FROM spans GROUP BY 1
), removed AS (
  SELECT DISTINCT doc_id, j FROM (
    SELECT s.doc_id, unnest(range(s.i, s.i + {SPAN_WINDOW})) AS j
    FROM spans s JOIN counts c USING (wh)
    WHERE c.n > 1 AND s.doc_id * {_SCRUB_KEY} + s.i <> c.first_key
  )
), tok AS (
  SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS j FROM t
), kept AS (
  SELECT tok.doc_id, count(*) AS n_kept,
         string_agg(tok.toks[tok.j], ' ' ORDER BY tok.j) AS clean
  FROM tok
  LEFT JOIN removed r ON r.doc_id = tok.doc_id AND r.j = tok.j
  WHERE r.doc_id IS NULL
  GROUP BY 1
)
SELECT t.doc_id, CAST(len(t.toks) AS INT) AS n_tokens,
       CAST(len(t.toks) - coalesce(k.n_kept, 0) AS INT) AS n_removed,
       coalesce(k.clean, '') AS clean_text
FROM t LEFT JOIN kept k USING (doc_id)
"""


# --- duplicate-run statistics (islands over flagged window positions) -------


def q_doc_dup_span_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-duplicated-run statistics (the other signal Lee et al.
    2021 report): consecutive duplicated window positions merge into
    maximal runs, duplicated token coverage is the exact union of the
    flagged windows' spans.  NEW r11 surface — same span skeleton as
    doc_dup_spans/doc_span_scrub, every final column a bare-cast
    BIGINT (materialization-safe per ORACLE_COMPAT rule 1)."""
    from metrics_service_spark.operators.dedup import duplicate_span_runs

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_span_runs(
        docs, "doc_id", "text", window_tokens=SPAN_WINDOW
    )


ORACLE_DUP_SPAN_RUNS = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), pos AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks) - {SPAN_WINDOW} + 1, 1) + 1)) AS i
  FROM t
), spans AS (
  SELECT doc_id, i,
         md5(array_to_string(
             list_slice(toks, i, least(i + {SPAN_WINDOW} - 1, len(toks))),
             ' ')) AS wh
  FROM pos
), counts AS (
  SELECT wh, count(*) AS n FROM spans GROUP BY 1
), flagged AS (
  SELECT doc_id, i FROM spans JOIN counts USING (wh) WHERE n > 1
), lens AS (
  SELECT doc_id, len(toks) AS l FROM t
), grp AS (
  SELECT doc_id, i,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g
  FROM flagged
), runs0 AS (
  SELECT doc_id, g, min(i) AS p0, max(i) AS p1 FROM grp GROUP BY 1, 2
), runs AS (
  SELECT r.doc_id, count(*) AS n_runs,
         max(least(p1 + {SPAN_WINDOW} - 1, l) - p0 + 1) AS max_run_tokens
  FROM runs0 r JOIN lens USING (doc_id)
  GROUP BY 1
), cov AS (
  SELECT doc_id, count(*) AS covered_tokens FROM (
    SELECT DISTINCT doc_id, j FROM (
      SELECT f.doc_id,
             unnest(range(f.i, least(f.i + {SPAN_WINDOW} - 1, l.l) + 1)) AS j
      FROM flagged f JOIN lens l USING (doc_id)
    )
  ) GROUP BY 1
)
SELECT t.doc_id,
       CAST(coalesce(r.n_runs, 0) AS BIGINT) AS n_runs,
       CAST(coalesce(r.max_run_tokens, 0) AS BIGINT) AS max_run_tokens,
       CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens
FROM t
LEFT JOIN runs r USING (doc_id)
LEFT JOIN cov c USING (doc_id)
"""


# --- per-source quota capping -----------------------------------------------
SOURCE_QUOTA = 10


def q_doc_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-balancing pass (the Common-Crawl per-domain cap): keep
    at most 10 docs per source by the deterministic md5(id) draw, so
    no source dominates the training mix regardless of raw mass.  One
    source-keyed shuffle; per-group top-k pushed map-side by
    WindowGroupLimit."""
    from metrics_service_spark.operators.sampling import per_group_quota

    docs = load_table(spark, sf_dir, "documents")
    return per_group_quota(docs, "source", "doc_id", quota=SOURCE_QUOTA)


ORACLE_SOURCE_QUOTA = f"""
SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
) WHERE rk <= {SOURCE_QUOTA}
"""


# --- temperature-flattened source mixing (alpha = 0.5) -----------------------
TEMP_KEEP_TOTAL = 100


def q_doc_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/Pile-style domain rebalancing: per-source quotas
    proportional to sqrt(n_s) (temperature alpha = 0.5) instead of the
    hard per-source cap of doc_source_quota — head domains flatten,
    the long tail keeps presence.  Integer-exact end to end: the
    engine-portable one-step-corrected isqrt + round_frac_bigint
    apportionment + the md5 draw.  NEW r11 surface."""
    from metrics_service_spark.operators.sampling import (
        temperature_source_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return temperature_source_sample(
        docs, "source", "doc_id", keep_total=TEMP_KEEP_TOTAL
    )


# the isqrt correction is the additive one-step form (y0 within +-1 of
# the true root for n < 2^52 because double(n) is exact and sqrt is
# correctly rounded): y = y0 + [ (y0+1)^2 <= n ] - [ y0^2 > n ]
ORACLE_TEMPERATURE_MIX = f"""
WITH c AS (
  SELECT source, count(*) AS n FROM documents GROUP BY 1
), y AS (
  SELECT source, n,
         CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS y0
  FROM c
), iq AS (
  SELECT source,
         y0 + (CASE WHEN (y0+1)*(y0+1) <= n THEN 1 ELSE 0 END)
            - (CASE WHEN y0*y0 > n THEN 1 ELSE 0 END) AS w
  FROM y
), tot AS (
  SELECT CAST(sum(w) AS BIGINT) AS tw FROM iq
), quota AS (
  SELECT source,
         {sql_round_frac_bigint(f"w * {TEMP_KEEP_TOTAL}", "tw", 0)} AS q
  FROM iq, tot
), r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT doc_id, source, CAST(rk AS INT) AS rk
FROM r JOIN quota USING (source)
WHERE rk <= q
"""


EPOCH_CAP_BUDGET = 1000
EPOCH_CAP_K = 3


def q_doc_epoch_cap_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax-style epoch-capped mixing (the sibling of
    doc_temperature_mix): spread a 1000-example budget as uniformly as
    possible over the language groups, no language repeated beyond 3
    epochs — closed-form integer waterfilling (prefix-sum saturation
    over capacity-sorted groups, even split of the remainder) and a
    per-document epoch explode off the deterministic md5 rank.  Groups
    on `lang` (the skewed column: en dominates) so saturation actually
    discriminates at the checked SFs.  NEW r12 surface."""
    from metrics_service_spark.operators.sampling import (
        epoch_cap_source_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return epoch_cap_source_sample(
        docs, "lang", "doc_id", budget=EPOCH_CAP_BUDGET, max_epochs=EPOCH_CAP_K
    )


# the waterfill level: for capacities sorted ascending, source i takes
# its full capacity iff c_i * (#sources from i on) fits in the budget
# left after the smaller prefix — the saturated set is a prefix, so
# the whole sequential waterfill is one window pass.  All arithmetic
# BIGINT; every aggregate in reach of the final projection is CAST
# (the dup_spans HUGEINT lesson, ORACLE_COMPAT.md).  Parameterized so
# the hypothesis fuzz can sweep budget/k regimes the fixed catalog
# constants never reach (tests/test_mix_family_fuzz.py).
def epoch_cap_oracle(budget: int, k: int, group_col: str = "lang") -> str:
    return f"""
WITH c AS (
  SELECT {group_col}, count(*) AS n FROM documents GROUP BY 1
), caps AS (
  SELECT {group_col}, n, CAST(n * {k} AS BIGINT) AS cap FROM c
), pref AS (
  SELECT {group_col}, n, cap,
         row_number() OVER (ORDER BY cap, {group_col}) AS i,
         CAST(sum(cap) OVER (ORDER BY cap, {group_col}
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS P,
         count(*) OVER () AS m
  FROM caps
), sat AS (
  SELECT *, cap * (m - i + 1) <= {budget} - (P - cap) AS is_sat
  FROM pref
), lvl AS (
  SELECT CAST(coalesce(max(CASE WHEN is_sat THEN i END), 0) AS BIGINT) AS S,
         CAST(coalesce(max(CASE WHEN is_sat THEN P END), 0) AS BIGINT) AS PS
  FROM sat
), quota AS (
  SELECT {group_col}, n,
         CAST(CASE WHEN i <= S THEN cap
              ELSE ({budget} - PS) // greatest(m - S, 1)
                   + CASE WHEN (i - S) <= ({budget} - PS)
                                          % greatest(m - S, 1)
                          THEN 1 ELSE 0 END
              END AS BIGINT) AS q
  FROM sat, lvl
), r AS (
  SELECT doc_id, {group_col},
         row_number() OVER (PARTITION BY {group_col}
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
), ex AS (
  SELECT r.doc_id, r.{group_col},
         CAST(q.q // q.n
              + CASE WHEN r.rk <= q.q % q.n THEN 1 ELSE 0 END AS INT) AS n_ep
  FROM r JOIN quota q USING ({group_col})
)
SELECT doc_id, {group_col}, CAST(unnest(range(1, n_ep + 1)) AS INT) AS epoch
FROM ex WHERE n_ep > 0
"""


ORACLE_EPOCH_CAP_MIX = epoch_cap_oracle(EPOCH_CAP_BUDGET, EPOCH_CAP_K)


# --- corpus k-NN graph ------------------------------------------------------
KNN_K = 3
#: the knn entry pioneered the footer-derived geometry (r8); it now
#: shares CELL_TARGET with every other cell-blocked entry above.
KNN_CELL_TARGET = CELL_TARGET


def q_emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus k-NN graph: every vector's top-3 within-cell neighbors
    by exact integer dot — the input structure for graph-based
    curation (cluster pruning, CC semantic dedup, diversity scores).
    Corpus x corpus, so the join is a cell equi-join (never a
    broadcast), and the cell COUNT is derived from the corpus row
    count (jobless, from the parquet footer via `rowcount_bound`) so
    within-cell pair mass stays ~KNN_CELL_TARGET^2 per cell at any
    scale — the same geometry-scales-with-data contract as the
    semantic gate.  The oracle mirrors the derivation with a scalar
    subquery."""
    from metrics_service_spark.operators.similarity import knn_graph_int

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_graph_int(emb, n_cells=_derived_cells(sf_dir), k=KNN_K)


# ORACLE_KNN_GRAPH is defined after SQL_HIER_ASSIGN_CTES below: since
# r10 the corpus-graph family assigns on the two-level hier front (the
# flat rows x cells argmax was measured quadratic at derived geometry
# — 25.3x/35.3x at the 50x probe) and the oracle replays that chain.


# --- composed curation pipeline ---------------------------------------------
def q_doc_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation flow composed from the gate + balancing
    operators in ONE plan: quality-score every doc, keep the top half
    (histogram-cutoff `top_fraction` — no global sort), then cap each
    source at its quota over the SURVIVORS (domain balancing after
    filtering, the order real pipelines use).  Demonstrates that the
    operators compose as DataFrame transforms — one job, no
    intermediate materialization beyond the gate's checkpoint."""
    from metrics_service_spark.operators.gate import top_fraction
    from metrics_service_spark.operators.sampling import per_group_quota

    docs = load_table(spark, sf_dir, "documents")
    kept = top_fraction(
        _quality_scored(spark, sf_dir),
        score_col="q",
        id_col="doc_id",
        frac=0.5,
    )
    survivors = docs.join(kept, "doc_id").select("doc_id", "source")
    return per_group_quota(survivors, "source", "doc_id", quota=SOURCE_QUOTA)


ORACLE_CURATION_PIPELINE = f"""
WITH q AS ({{quality}}),
kept AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           percent_rank() OVER (
               ORDER BY (stopword_ratio + type_token_ratio) DESC, doc_id ASC
           ) AS pr
    FROM q
  ) WHERE pr <= 0.5
),
survivors AS (
  SELECT d.doc_id, d.source FROM documents d JOIN kept USING (doc_id)
)
SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM survivors
) WHERE rk <= {SOURCE_QUOTA}
"""


# --- hierarchical-assignment SemDeDup ------------------------------------
def _sql_coarse(src: str = "q") -> str:
    """Scalar-subquery mirror of ceil(sqrt(_derived_cells)) — the
    coarse-level group count of the two-level assignment."""
    return (
        f"(SELECT CAST(ceil(sqrt(greatest({CELL_FLOOR}, "
        f"ceil(count(*) / {CELL_TARGET}.0)))) AS BIGINT) FROM {src})"
    )


def q_emb_semdedup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with TWO-LEVEL cell assignment (coarse -> fine, the
    FAISS IVF-of-IVF shape): with footer-derived n_cells the flat
    argmax is rows x cells = corpus^2/CELL_TARGET — the r9 50x probe
    shows that term surfacing — while the sqrt-grouped coarse level
    cuts it to corpus^1.5.  Assignment is approximate in the accepted
    IVF sense but every argmax is deterministic integer arithmetic,
    so the oracle replays the full two-level rule bit-for-bit."""
    from metrics_service_spark.operators.similarity import (
        semantic_dedup_hier_int,
    )

    return semantic_dedup_hier_int(
        load_table(spark, sf_dir, "embeddings"),
        n_cells=_derived_cells(sf_dir),
        tau_num=3,
        tau_den=10,
    )


# The two-level (coarse -> fine) assignment CTE chain, shared VERBATIM
# by every hier-assigned oracle (SemDeDup keep-list, cluster-balanced
# sampling): ends at `assigned(vec_id, v, cell, n2)`.
SQL_HIER_ASSIGN_CTES = f"""q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS v
  FROM embeddings
), seeds AS (
  SELECT v, rn - 1 AS cell FROM (
    SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM q
  ) WHERE rn <= {_sql_cells("q")}
), coarse0 AS (
  SELECT v, cell AS grp FROM seeds WHERE cell < {_sql_coarse("q")}
), cg AS (
  SELECT cell, grp FROM (
    SELECT s.cell, c.grp,
           row_number() OVER (PARTITION BY s.cell ORDER BY
             CAST(list_sum(list_transform(range(1, 65),
                   i -> s.v[i] * c.v[i])) AS BIGINT) DESC,
             c.grp ASC) AS rk
    FROM seeds s CROSS JOIN coarse0 c
  ) WHERE rk = 1
), coarse AS (
  SELECT c.* FROM coarse0 c
  WHERE EXISTS (SELECT 1 FROM cg WHERE cg.grp = c.grp)
), rg AS (
  SELECT vec_id, v, grp FROM (
    SELECT q.vec_id, q.v, c.grp,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             CAST(list_sum(list_transform(range(1, 65),
                   i -> q.v[i] * c.v[i])) AS BIGINT) DESC,
             c.grp ASC) AS rk
    FROM q CROSS JOIN coarse c
  ) WHERE rk = 1
), ascored AS (
  SELECT r.vec_id, r.v, s.cell,
         CAST(list_sum(list_transform(range(1, 65), i -> r.v[i] * s.v[i]))
              AS BIGINT) AS dot
  FROM rg r JOIN cg ON cg.grp = r.grp JOIN seeds s ON s.cell = cg.cell
), assigned AS (
  SELECT vec_id, v, cell,
         CAST(list_sum(list_transform(range(1, 65), i -> v[i] * v[i]))
              AS BIGINT) AS n2
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cell ASC) AS rk
    FROM ascored
  ) WHERE rk = 1
)"""


ORACLE_KNN_GRAPH = f"""
WITH {SQL_HIER_ASSIGN_CTES}, pairs AS (
  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
              AS BIGINT) AS dot_q
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id != b.vec_id
)
SELECT src_id, dst_id, CAST(rank AS INT) AS rank, dot_q FROM (
  SELECT *, row_number() OVER (PARTITION BY src_id
            ORDER BY dot_q DESC, dst_id) AS rank
  FROM pairs
) WHERE rank <= {KNN_K}
"""


ORACLE_SEMDEDUP_HIER = f"""
WITH {SQL_HIER_ASSIGN_CTES}, pr AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
              AS BIGINT) AS d,
         a.n2 AS na2, b.n2 AS nb2
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
), dropped AS (
  SELECT DISTINCT id_b FROM pr
  WHERE d >= 0 AND 100 * d * d >= 9 * na2 * nb2
)
SELECT a.vec_id, CAST(a.cell AS INT) AS cell, p.id_b IS NULL AS kept
FROM assigned a LEFT JOIN dropped p ON a.vec_id = p.id_b
"""


def q_emb_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed embedding curation in ONE plan: hier assignment ->
    SemDeDup keep-list -> per-cell balanced quota over survivors.
    One checkpointed assignment frame feeds dedup AND balancing (the
    embedding twin of doc_curation_pipeline)."""
    from metrics_service_spark.operators.similarity import (
        embedding_curation_pipeline,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_curation_pipeline(
        emb,
        n_cells=_derived_cells(sf_dir),
        tau_num=3,
        tau_den=10,
        per_cell=SAMPLE_PER_CELL,
    )


ORACLE_EMB_CURATION = f"""
WITH {SQL_HIER_ASSIGN_CTES}, pr AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
              AS BIGINT) AS d,
         a.n2 AS na2, b.n2 AS nb2
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
), dropped AS (
  SELECT DISTINCT id_b FROM pr
  WHERE d >= 0 AND 100 * d * d >= 9 * na2 * nb2
), kept AS (
  SELECT a.vec_id, a.cell FROM assigned a
  LEFT JOIN dropped p ON a.vec_id = p.id_b
  WHERE p.id_b IS NULL
)
SELECT vec_id, CAST(cell AS INT) AS cell, CAST(rk AS INT) AS rk FROM (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY cell
                            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
  FROM kept
) WHERE rk <= {SAMPLE_PER_CELL}
"""


ORACLE_CLUSTER_SAMPLE = f"""
WITH {SQL_HIER_ASSIGN_CTES}
SELECT vec_id, CAST(cell AS INT) AS cell, CAST(rk AS INT) AS rk FROM (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY cell
                            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
  FROM assigned
) WHERE rk <= {SAMPLE_PER_CELL}
"""


# --- prototypicality (SSL-prototypes / SemDeDup curation signal) ---------
def q_emb_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector prototypicality: the exact integer dot to the
    vector's own md5-seeded cell seed, ranked within the cell — the
    Sorscher et al. 2022 / Abbas et al. 2023 keep/drop knob (drop the
    most-prototypical tail for redundancy pruning, the least for
    outlier scrubbing).  Footer-derived cell geometry bounds the
    per-cell window mass at any corpus size."""
    from metrics_service_spark.operators.similarity import prototypicality_int

    emb = load_table(spark, sf_dir, "embeddings")
    return prototypicality_int(emb, n_cells=_derived_cells(sf_dir))


ORACLE_PROTOTYPICALITY = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT)) AS v
  FROM embeddings
), seeds AS (
  SELECT v, rn - 1 AS cell FROM (
    SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM q
  ) WHERE rn <= {_sql_cells("q")}
), ascored AS (
  SELECT q.vec_id, s.cell,
         CAST(list_sum(list_transform(range(1, 65), i -> q.v[i] * s.v[i]))
              AS BIGINT) AS dot
  FROM q CROSS JOIN seeds s
), assigned AS (
  SELECT vec_id, cell, dot FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cell ASC) AS rk
    FROM ascored
  ) WHERE rk = 1
)
SELECT vec_id, CAST(cell AS INT) AS cell, dot AS proto_q,
       CAST(row_number() OVER (PARTITION BY cell
                               ORDER BY dot DESC, vec_id ASC) AS INT)
           AS cell_rank
FROM assigned
"""


# --- Gopher quality-rule battery -----------------------------------------
def q_doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher/MassiveText quality-rule battery (Rae et al. 2021
    §A1.1) with every ratio threshold cross-multiplied into integer
    compares — zero rounded doubles in the comparison surface.  Pure
    codegen projection, zero shuffles."""
    from metrics_service_spark.operators.text import gopher_rules

    return gopher_rules(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


ORACLE_GOPHER_RULES = """
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks,
         CAST(length(text) AS BIGINT) AS lc
  FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         lc - (CAST(len(toks) AS BIGINT) - 1) AS sum_chars,
         lc - CAST(length(replace(text, '#', '')) AS BIGINT) AS n_hash,
         CAST(floor((lc - length(replace(text, '...', ''))) / 3) AS BIGINT)
             AS n_ellipsis,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
              AS BIGINT) AS n_alpha,
         CAST((CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(toks, 'a') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END)
              AS BIGINT) AS distinct_stopwords
  FROM t
)
SELECT doc_id, n_words, n_alpha AS n_alpha_words,
       n_hash + n_ellipsis AS n_symbols, distinct_stopwords,
       (n_words >= 50 AND n_words <= 100000) AS flag_words,
       (sum_chars >= 3 * n_words AND sum_chars <= 10 * n_words)
           AS flag_word_len,
       (10 * (n_hash + n_ellipsis) <= n_words) AS flag_symbol,
       (5 * n_alpha >= 4 * n_words) AS flag_alpha,
       (distinct_stopwords >= 2) AS flag_stop,
       ((n_words >= 50 AND n_words <= 100000)
        AND (sum_chars >= 3 * n_words AND sum_chars <= 10 * n_words)
        AND (10 * (n_hash + n_ellipsis) <= n_words)
        AND (5 * n_alpha >= 4 * n_words)
        AND (distinct_stopwords >= 2)) AS keep
FROM s
"""


# --- hashing-trick quality classifier ------------------------------------
def q_doc_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashing-trick linear quality classifier (the
    CCNet/RedPajama quality-model step): token -> 16-bit md5 bucket ->
    integer weight (deterministic placeholder for trained weights),
    exact integer document score, kept = score > 0.  Split ->
    explode -> hash-agg; the one exchange moves one combined row per
    doc (map-side partial agg)."""
    from metrics_service_spark.operators.text import hash_classifier

    return hash_classifier(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


def _oracle_hash_classifier() -> str:
    from metrics_service_spark.operators.sampling import sql_hex4_int

    hexpr = "md5('hw:' || tok)"
    w = f"({sql_hex4_int(hexpr)} % 17 - 8)"
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), s AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum({w}) AS BIGINT) AS score
  FROM toks GROUP BY 1
)
SELECT doc_id, n_tokens, score, score > 0 AS kept FROM s
"""


ORACLE_HASH_CLASSIFIER = _oracle_hash_classifier()


def q_doc_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier self-evaluation (r12, extending the r11
    eval layer to the text side): confusion matrix of the hash-trick
    classifier's verdicts against the Gopher rule battery as the
    reference labels — the agreement measurement you run before
    letting the cheap classifier replace the rule battery at corpus
    scale.  One broadcast-free join of two per-doc projections, a
    4-cell aggregate, and exact basis-point cell fractions
    (round_frac_bigint — no float in the hash surface).  The oracle
    composes ORACLE_GOPHER_RULES and ORACLE_HASH_CLASSIFIER verbatim,
    so the eval can never drift from the entries it grades."""
    from metrics_service_spark.functions.stable import round_frac_bigint
    from metrics_service_spark.operators.similarity import _spread
    from metrics_service_spark.operators.text import (
        gopher_rules,
        hash_classifier,
    )

    # _spread: the rule battery's interpreted token filter must not
    # serialize on a few scan partitions (50x straggler class)
    docs = _spread(load_table(spark, sf_dir, "documents"))
    rules = gopher_rules(docs, "doc_id", "text").select(
        "doc_id", F.col("keep").alias("rule_keep")
    )
    clf = hash_classifier(docs, "doc_id", "text").select(
        "doc_id", F.col("kept").alias("clf_keep")
    )
    cells = (
        rules.join(clf, "doc_id")
        .groupBy("rule_keep", "clf_keep")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return cells.withColumn(
        "__t", F.sum("n_docs").over(Window.partitionBy())
    ).select(
        "rule_keep",
        "clf_keep",
        "n_docs",
        round_frac_bigint(F.col("n_docs"), F.col("__t"), 4).alias(
            "cell_frac_scaled"
        ),
    )


def _oracle_classifier_eval() -> str:
    from metrics_service_spark.functions.stable import sql_round_frac_bigint

    return f"""
WITH rules AS (
  SELECT doc_id, keep AS rule_keep FROM ({ORACLE_GOPHER_RULES}) g
), clf AS (
  SELECT doc_id, kept AS clf_keep FROM ({ORACLE_HASH_CLASSIFIER}) c
), cells AS (
  SELECT rule_keep, clf_keep, CAST(count(*) AS BIGINT) AS n_docs
  FROM rules JOIN clf USING (doc_id) GROUP BY 1, 2
), t AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS tot FROM cells
)
SELECT rule_keep, clf_keep, n_docs,
       {sql_round_frac_bigint("n_docs", "tot", 4)} AS cell_frac_scaled
FROM cells, t
"""


ORACLE_CLASSIFIER_EVAL = _oracle_classifier_eval()


# --- blocked edit-distance pairs --------------------------------------------
FUZZY_PREFIX_CHARS = 80
FUZZY_BLOCK_CHARS = 4
FUZZY_MAX_DIST = 48
FUZZY_MAX_CELL = 64


def q_doc_fuzzy_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage fuzzy matching: levenshtein over 80-char
    prefixes, candidates blocked on (lang, first 4 chars), overfull
    cells dropped by the deterministic max_cell rule — the classic
    standard-blocking entity-resolution shape, scored entirely with
    the JVM builtin (both engines implement the same textbook edit
    distance, so the oracle replays it bit-for-bit).  The corpus's
    distance distribution is bimodal (exact/near dups <= ~48, random
    mass >= ~51), so the threshold cleanly captures the near band.
    NEW r12 surface."""
    from metrics_service_spark.operators.dedup import fuzzy_prefix_pairs

    docs = load_table(spark, sf_dir, "documents")
    return fuzzy_prefix_pairs(
        docs, "doc_id", "text",
        prefix_chars=FUZZY_PREFIX_CHARS,
        block_chars=FUZZY_BLOCK_CHARS,
        max_dist=FUZZY_MAX_DIST,
        block_cols=["lang"],
        max_cell=FUZZY_MAX_CELL,
    )


def q_doc_fuzzy_prefix_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_fuzzy_prefix_pairs planned from the bucketed linkage-silver
    documents layout (sources/bucketed.py `ensure_bucketed_documents`)
    — the third application of the build-once co-located layout, after
    the orders/lineitem pair and the eventlog star.  The path-based
    form hash-partitions the corpus TWICE per linkage pass (the cell
    count and the block self-join, both keyed on (lang, bk)); the
    silver table is stored hash-bucketed on exactly that composite
    key with the prefix derivation pre-paid, so both wide ops plan
    scan-local — zero exchanges until the pair emission itself
    (plan-gated in tests/test_bucketed_join.py).  Same rows as
    doc_fuzzy_prefix_pairs; the oracle reads the raw parquet, so the
    layout is result-invisible by construction.  NEW r14 surface."""
    from metrics_service_spark.operators.dedup import (
        fuzzy_prefix_pairs_blocked,
    )
    from metrics_service_spark.sources.bucketed import (
        ensure_bucketed_documents,
    )

    silver = ensure_bucketed_documents(
        spark, sf_dir,
        prefix_chars=FUZZY_PREFIX_CHARS,
        block_chars=FUZZY_BLOCK_CHARS,
    )
    base = silver.select(
        "lang",
        F.col("doc_id").alias("__id"),
        F.col("pfx").alias("__pfx"),
        F.col("bk").alias("__bk"),
    )
    return fuzzy_prefix_pairs_blocked(
        base,
        max_dist=FUZZY_MAX_DIST,
        block_cols=["lang"],
        max_cell=FUZZY_MAX_CELL,
        materialize=False,
    )


def q_doc_linkage_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental linkage admission: which NEW docs (doc_id >=
    INCR_SPLIT_ID, the same ingest split doc_incremental_dedup uses)
    fuzzy-match the EXISTING corpus under the standard blocking and
    prefix-levenshtein?  Batch-vs-corpus block join, never a corpus
    self-join — the daily ingest path of the linkage family.  NEW r14
    surface."""
    from metrics_service_spark.operators.dedup import fuzzy_prefix_admit

    docs = load_table(spark, sf_dir, "documents")
    return fuzzy_prefix_admit(
        docs.filter(F.col("doc_id") >= INCR_SPLIT_ID),
        docs.filter(F.col("doc_id") < INCR_SPLIT_ID),
        "doc_id", "text",
        prefix_chars=FUZZY_PREFIX_CHARS,
        block_chars=FUZZY_BLOCK_CHARS,
        max_dist=FUZZY_MAX_DIST,
        block_cols=["lang"],
        max_cell=FUZZY_MAX_CELL,
    )


ORACLE_LINKAGE_INCREMENTAL = f"""
WITH b AS (
  SELECT doc_id, lang,
         substr(text, 1, {FUZZY_PREFIX_CHARS}) AS pfx,
         substr(text, 1, {FUZZY_BLOCK_CHARS}) AS bk
  FROM documents
), cells AS (
  SELECT lang, bk, count(*) AS cn FROM b
  WHERE doc_id < {INCR_SPLIT_ID} GROUP BY 1, 2
), corpus AS (
  SELECT b.* FROM b JOIN cells USING (lang, bk)
  WHERE b.doc_id < {INCR_SPLIT_ID} AND cells.cn <= {FUZZY_MAX_CELL}
)
SELECT n.doc_id AS new_id, c.doc_id AS old_id,
       CAST(levenshtein(n.pfx, c.pfx) AS INT) AS dist
FROM b n JOIN corpus c ON n.lang = c.lang AND n.bk = c.bk
WHERE n.doc_id >= {INCR_SPLIT_ID}
  AND levenshtein(n.pfx, c.pfx) <= {FUZZY_MAX_DIST}
"""


def q_doc_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize-then-dedup (the CCNet/RefinedWeb pre-pass): exact
    groups over the canonical form (lowercase, punctuation to spaces,
    whitespace collapsed), with n_variants counting the distinct RAW
    contents each canonical group merged — exactly what plain content
    hashing (doc_exact_dedup) misses.  NEW r12 surface."""
    from metrics_service_spark.operators.dedup import canonical_dedup

    docs = load_table(spark, sf_dir, "documents")
    return canonical_dedup(docs, "doc_id", "text")


def _oracle_canonical_dedup() -> str:
    from metrics_service_spark.operators.dedup import sql_canonical_text

    return f"""
WITH c AS (
  SELECT doc_id,
         md5({sql_canonical_text("text")}) AS canonical_hash,
         md5(text) AS raw_hash
  FROM documents
)
SELECT canonical_hash,
       min(doc_id) AS canonical_id,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT raw_hash) AS BIGINT) AS n_variants
FROM c GROUP BY 1
"""


ORACLE_CANONICAL_DEDUP = _oracle_canonical_dedup()


SN_NEIGHBORHOOD = 6


def q_doc_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernández-Stolfo), the
    complement of doc_fuzzy_prefix_pairs' strict blocking: rank within
    each lang by the 80-char prefix, compare each doc against its next
    5 rank-neighbors, keep pairs within levenshtein 48.  A near-dup
    whose edit touches the first 4 characters escapes the strict
    block but still sorts adjacent — the standard multi-pass linkage
    runs both passes and unions.  Candidate mass exactly
    N*(neighborhood-1).  NEW r12 surface."""
    from metrics_service_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(
        docs, "doc_id", "text",
        neighborhood=SN_NEIGHBORHOOD,
        prefix_chars=FUZZY_PREFIX_CHARS,
        max_dist=FUZZY_MAX_DIST,
        block_cols=["lang"],
    )


def sorted_neighborhood_oracle(
    neighborhood: int = SN_NEIGHBORHOOD,
    prefix_chars: int = FUZZY_PREFIX_CHARS,
    max_dist: int = FUZZY_MAX_DIST,
    source: str = "documents",
) -> str:
    return f"""
WITH b AS (
  SELECT doc_id, lang, substr(text, 1, {prefix_chars}) AS pfx,
         row_number() OVER (PARTITION BY lang
                            ORDER BY substr(text, 1, {prefix_chars}),
                                     doc_id) AS rk
  FROM {source}
)
SELECT least(a.doc_id, c.doc_id) AS id_a,
       greatest(a.doc_id, c.doc_id) AS id_b,
       CAST(levenshtein(a.pfx, c.pfx) AS INT) AS dist
FROM b a JOIN b c
  ON a.lang = c.lang
 AND c.rk BETWEEN a.rk + 1 AND a.rk + {neighborhood - 1}
WHERE levenshtein(a.pfx, c.pfx) <= {max_dist}
"""


ORACLE_SORTED_NEIGHBORHOOD = sorted_neighborhood_oracle()


SN_RANK_BUCKET_CHARS = 2


def q_doc_sorted_neighborhood_global(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The hot-block-safe twin of doc_sorted_neighborhood: identical
    linkage semantics, but ranks come from operators/rank.py's
    bucketed global-monotone numbering (the ev_sessionize_global
    pattern) instead of a block-keyed window.  With `lang` blocks a
    100 TB corpus has FEW hot blocks — one language can be 60% of the
    data, and partitionBy(lang) serializes that block's sort on one
    task; bucketing the rank by (lang, first 2 prefix chars) fans the
    same total order across ~|charset|^2 parallel sorts plus a tiny
    broadcast offset frame.  Within a block rank DIFFERENCES are
    unchanged, so the pair set is bit-identical — same oracle as the
    window form, and tests/test_dedup.py gates both the pair
    equality and the no-single-block-sort plan shape.  NEW r13
    surface."""
    from metrics_service_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(
        docs, "doc_id", "text",
        neighborhood=SN_NEIGHBORHOOD,
        prefix_chars=FUZZY_PREFIX_CHARS,
        max_dist=FUZZY_MAX_DIST,
        block_cols=["lang"],
        rank_bucket_chars=SN_RANK_BUCKET_CHARS,
    )


def q_doc_linkage_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard multi-pass record linkage both arm docstrings
    promise (Hernández & Stolfo: several cheap blocking passes whose
    UNION approximates expensive wide blocking): strict-prefix blocked
    pairs ∪ sorted-neighborhood pairs, distinct on the (pair, dist)
    row.  Both arms score the same 80-char-prefix levenshtein, so a
    pair caught twice collapses to one row; each arm catches what the
    other's blocking misses (an edit inside the first 4 chars escapes
    the strict block but sorts nearby; an edit that moves the sort far
    escapes the neighborhood but keeps the block key).  One distinct
    shuffle over the union of two linear candidate sets — multi-pass
    costs the sum of its passes, never corpus².  The SN arm runs in
    its hot-block-safe global-rank form: `lang` blocks are few and
    hot by construction, and the 50× probe prices the difference at
    16.7× (window) vs 1.9× (global) — the composed entry ships the
    production shape (the pair set is bit-identical either way, so
    the oracle is unchanged).  NEW r13 surface.  r17: both arms share
    ONE corpus scan via `linkage_multipass_pairs` (guide §8)."""
    from metrics_service_spark.operators.dedup import linkage_multipass_pairs

    docs = load_table(spark, sf_dir, "documents")
    return linkage_multipass_pairs(
        docs, "doc_id", "text",
        neighborhood=SN_NEIGHBORHOOD,
        prefix_chars=FUZZY_PREFIX_CHARS,
        block_chars=FUZZY_BLOCK_CHARS,
        max_dist=FUZZY_MAX_DIST,
        block_cols=["lang"],
        max_cell=FUZZY_MAX_CELL,
        rank_bucket_chars=SN_RANK_BUCKET_CHARS,
    )


# --- winnowing fingerprints -------------------------------------------------
WINNOW_K = 3
WINNOW_WINDOW = 4
WINNOW_MAX_DF = 32
WINNOW_MIN_SHARED = 2


def q_doc_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing copy-detection pairs (Schleimer et al. 2003, MOSS):
    positional 3-gram hashes -> windowed minima (window 4) -> distinct
    per-doc fingerprints -> hot-fingerprint guard (df <= 32) ->
    fingerprint equi-join, pairs sharing >= 2 fingerprints.  Any
    shared run of >= k+window-1 = 6 tokens is guaranteed a common
    fingerprint, at ~2/(window+1) the gram density — the alignment-
    robust middle ground between exact span hashing (doc_dup_spans)
    and MinHash sketching.  NEW r12 surface."""
    from metrics_service_spark.operators.dedup import winnow_pairs

    docs = load_table(spark, sf_dir, "documents")
    return winnow_pairs(
        docs, "doc_id", "text",
        k=WINNOW_K, window=WINNOW_WINDOW,
        max_df=WINNOW_MAX_DF, min_shared=WINNOW_MIN_SHARED,
    )


def winnow_oracle(
    k: int = WINNOW_K,
    window: int = WINNOW_WINDOW,
    max_df: int = WINNOW_MAX_DF,
    min_shared: int = WINNOW_MIN_SHARED,
) -> str:
    from metrics_service_spark.operators.sampling import sql_hex4_int

    h8 = (
        f"(CAST({sql_hex4_int('md5(x)')} AS BIGINT) * 65536"
        f" + {sql_hex4_int('substr(md5(x), 5, 4)')})"
    )
    return f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), grams AS (
  SELECT doc_id,
         [array_to_string(toks[i:i+{k - 1}], ' ')
          FOR i IN range(1, greatest(len(toks) - {k - 1}, 1) + 1)] AS gs
  FROM t
), hashes AS (
  SELECT doc_id, [{h8} FOR x IN gs] AS hs FROM grams
), sel AS (
  SELECT doc_id,
         list_distinct([list_min(hs[p:p+{window - 1}])
          FOR p IN range(1, greatest(len(hs) - {window} + 1, 1) + 1)])
             AS fps
  FROM hashes
), fp AS (
  SELECT doc_id, unnest(fps) AS fp FROM sel
), hot AS (
  SELECT fp, count(*) AS df FROM fp GROUP BY 1
), kept AS (
  SELECT fp.* FROM fp JOIN hot USING (fp) WHERE hot.df <= {max_df}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {min_shared}
"""


ORACLE_WINNOW_PAIRS = winnow_oracle()


def fuzzy_prefix_oracle(
    prefix_chars: int = FUZZY_PREFIX_CHARS,
    block_chars: int = FUZZY_BLOCK_CHARS,
    max_dist: int = FUZZY_MAX_DIST,
    max_cell: int = FUZZY_MAX_CELL,
    source: str = "documents",
) -> str:
    return f"""
WITH b AS (
  SELECT doc_id, lang,
         substr(text, 1, {prefix_chars}) AS pfx,
         substr(text, 1, {block_chars}) AS bk
  FROM {source}
), cells AS (
  SELECT lang, bk, count(*) AS cn FROM b GROUP BY 1, 2
), kept AS (
  SELECT b.* FROM b JOIN cells USING (lang, bk)
  WHERE cells.cn <= {max_cell}
)
SELECT a.doc_id AS id_a, c.doc_id AS id_b,
       CAST(levenshtein(a.pfx, c.pfx) AS INT) AS dist
FROM kept a JOIN kept c
  ON a.lang = c.lang AND a.bk = c.bk AND a.doc_id < c.doc_id
WHERE levenshtein(a.pfx, c.pfx) <= {max_dist}
"""


ORACLE_FUZZY_PREFIX_PAIRS = fuzzy_prefix_oracle()

def linkage_multipass_oracle(
    neighborhood: int = SN_NEIGHBORHOOD,
    prefix_chars: int = FUZZY_PREFIX_CHARS,
    block_chars: int = FUZZY_BLOCK_CHARS,
    max_dist: int = FUZZY_MAX_DIST,
    max_cell: int = FUZZY_MAX_CELL,
    source: str = "documents",
) -> str:
    return f"""
WITH strict_pass AS ({fuzzy_prefix_oracle(prefix_chars, block_chars, max_dist, max_cell, source)}),
     sn_pass AS ({sorted_neighborhood_oracle(neighborhood, prefix_chars, max_dist, source)})
SELECT id_a, id_b, dist FROM strict_pass
UNION
SELECT id_a, id_b, dist FROM sn_pass
"""


ORACLE_LINKAGE_MULTIPASS = linkage_multipass_oracle()


def q_doc_linkage_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-list stage for the record-linkage family — the
    linkage sibling of doc_dedup_clusters: multi-pass linkage pairs
    (strict-prefix ∪ sorted-neighborhood, the doc_linkage_multipass
    edge set) -> connected components -> one row per doc with its
    cluster id and whether it is the cluster's canonical (minimum-id)
    representative.  Completes pairs -> clusters -> keep-list for the
    linkage passes exactly as the Jaccard family has it; the SN arm
    runs hot-block-safe (global rank).

    CC variant choice is LOAD-BEARING here: sorted-neighborhood edges
    are rank-adjacency, so near-dup runs form PATH-shaped components
    whose diameter grows with the duplicate-run length — min-label
    propagation (fine for the Jaccard family's clique-ish graphs)
    needs diameter rounds and the 50x probe blew its round budget;
    the alternating large/small-star form (Kiveris et al.) converges
    in O(log n) rounds regardless of diameter.  NEW r13 surface.
    r17: both pass arms share ONE corpus scan
    (`linkage_multipass_pairs`, guide §8), and the pre-CC distinct is
    dropped — `connected_components_star` filters self-loops itself
    and tolerates duplicate and mirrored pairs, so it was a pure
    extra shuffle.  Both stages finish on the driver: the linkage
    pairs come from one bounded Arrow collect of the corpus
    projection, and the pair graph (a few hundred edges, 2,935 at
    sf0.1) is labeled by the star kernel's union-find from a second,
    which brings the doc ids across with the edges and labels them
    there (`nodes=`), so there is no final join: the result is a local
    relation whose collect runs no job.  2 jobs for the whole entry at
    sf0.01, the two collects, where the join-back made it 4, the
    checkpointed linkage passes 14 and the star rounds 37."""
    from metrics_service_spark.operators.closure import (
        connected_components_star,
    )
    from metrics_service_spark.operators.dedup import linkage_multipass_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = linkage_multipass_pairs(
        docs, "doc_id", "text",
        neighborhood=SN_NEIGHBORHOOD,
        prefix_chars=FUZZY_PREFIX_CHARS,
        block_chars=FUZZY_BLOCK_CHARS,
        max_dist=FUZZY_MAX_DIST,
        block_cols=["lang"],
        max_cell=FUZZY_MAX_CELL,
        rank_bucket_chars=SN_RANK_BUCKET_CHARS,
        deduplicate=False,
    ).select("id_a", "id_b")
    cc = connected_components_star(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        nodes=docs.select("doc_id"),
    )
    return cc.select(
        "doc_id", F.col("component").alias("cluster")
    ).withColumn("is_canonical", F.col("doc_id") == F.col("cluster"))


def linkage_clusters_oracle(
    neighborhood: int = SN_NEIGHBORHOOD,
    prefix_chars: int = FUZZY_PREFIX_CHARS,
    block_chars: int = FUZZY_BLOCK_CHARS,
    max_dist: int = FUZZY_MAX_DIST,
    max_cell: int = FUZZY_MAX_CELL,
) -> str:
    # same recursive-CTE component walk as ORACLE_DEDUP_CLUSTERS, over
    # the multi-pass linkage edge set (UNION dedups globally, so the
    # walk terminates on cycles; component = min reachable id incl.
    # self)
    return f"""
WITH RECURSIVE strict_pass AS ({fuzzy_prefix_oracle(prefix_chars, block_chars, max_dist, max_cell)}),
sn_pass AS ({sorted_neighborhood_oracle(neighborhood, prefix_chars, max_dist)}),
pairs AS (
  SELECT id_a, id_b FROM strict_pass
  UNION
  SELECT id_a, id_b FROM sn_pass
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
), walk AS (
  SELECT a AS node, b AS reach FROM edges
  UNION
  SELECT w.node, e.b FROM walk w JOIN edges e ON e.a = w.reach
), comp AS (
  SELECT node, least(node, min(reach)) AS cluster FROM walk GROUP BY node
), assigned AS (
  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT doc_id, cluster, doc_id = cluster AS is_canonical FROM assigned
"""


LINKAGE_RECALL_SAMPLE_MOD = 4
LINKAGE_RECALL_SALT = "lrs"


def q_doc_linkage_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked-linkage recall calibration (the linkage sibling of
    doc_minhash_estimate's error matrix): a deterministic md5 sample
    of the corpus, the exact GUARDED all-pairs truth (every pair
    within levenshtein 48 on the 80-char prefix — no blocking, so
    cross-block misses count), and per-strategy recall for the strict
    prefix pass, the sorted-neighborhood pass, and their multi-pass
    union.  Completes the self-evaluation layer over the r12 linkage
    family: the pipeline that RUNS the blocking also measures what the
    blocking loses.  NEW r13 surface."""
    from metrics_service_spark.operators.dedup import linkage_recall_matrix

    docs = load_table(spark, sf_dir, "documents")
    return linkage_recall_matrix(
        docs, "doc_id", "text",
        sample_mod=LINKAGE_RECALL_SAMPLE_MOD,
        prefix_chars=FUZZY_PREFIX_CHARS,
        max_dist=FUZZY_MAX_DIST,
        block_chars=FUZZY_BLOCK_CHARS,
        max_cell=FUZZY_MAX_CELL,
        neighborhood=SN_NEIGHBORHOOD,
        block_cols=["lang"],
        salt=LINKAGE_RECALL_SALT,
    )


def linkage_recall_oracle(
    sample_mod: int = LINKAGE_RECALL_SAMPLE_MOD,
    prefix_chars: int = FUZZY_PREFIX_CHARS,
    max_dist: int = FUZZY_MAX_DIST,
    block_chars: int = FUZZY_BLOCK_CHARS,
    max_cell: int = FUZZY_MAX_CELL,
    neighborhood: int = SN_NEIGHBORHOOD,
    salt: str = LINKAGE_RECALL_SALT,
) -> str:
    from metrics_service_spark.operators.sampling import sql_hex4_int

    pick = sql_hex4_int(f"md5('{salt}' || CAST(doc_id AS VARCHAR))")
    return f"""
WITH s AS (
  SELECT * FROM documents
  WHERE ({pick}) % {sample_mod} = 0
), p AS (
  SELECT doc_id, substr(text, 1, {prefix_chars}) AS pfx FROM s
), truth AS (
  SELECT count(*) AS true_pairs FROM p a JOIN p b
    ON a.doc_id < b.doc_id
   AND levenshtein(a.pfx, b.pfx) <= {max_dist}
), strict_arm AS ({fuzzy_prefix_oracle(prefix_chars, block_chars, max_dist, max_cell, "s")}),
   sn_arm AS ({sorted_neighborhood_oracle(neighborhood, prefix_chars, max_dist, "s")}),
   mp_arm AS (
     SELECT id_a, id_b, dist FROM strict_arm
     UNION
     SELECT id_a, id_b, dist FROM sn_arm
), counts AS (
  SELECT 'strict_prefix' AS method,
         (SELECT count(*) FROM strict_arm) AS found_pairs
  UNION ALL
  SELECT 'sorted_neighborhood', (SELECT count(*) FROM sn_arm)
  UNION ALL
  SELECT 'multipass', (SELECT count(*) FROM mp_arm)
)
SELECT method,
       CAST(true_pairs AS BIGINT) AS true_pairs,
       CAST(found_pairs AS BIGINT) AS found_pairs,
       CASE WHEN true_pairs > 0
            THEN CAST(found_pairs AS DOUBLE) / true_pairs
       END AS recall
FROM counts, truth
"""


ORACLE_LINKAGE_RECALL = linkage_recall_oracle()


# --- prototypicality-based data pruning -----------------------------------
def q_emb_proto_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data pruning by prototypicality (Sorscher et al. 2022: beyond
    neural scaling laws): drop the most-prototypical 10% of every
    cell — the redundant core examples — keeping the informative
    tail.  keep iff 10*cell_rank > n_cell, an exact integer
    cross-multiplication; the per-cell count window shares the rank
    window's partitioning (one cell exchange total)."""
    from pyspark.sql import Window as W

    from metrics_service_spark.operators.similarity import prototypicality_int

    emb = load_table(spark, sf_dir, "embeddings")
    p = prototypicality_int(emb, n_cells=_derived_cells(sf_dir))
    n_cell = F.count(F.lit(1)).over(W.partitionBy("cell"))
    return p.select(
        "vec_id",
        "cell",
        "cell_rank",
        (10 * F.col("cell_rank") > n_cell).alias("kept"),
    )


ORACLE_PROTO_PRUNE = f"""
WITH base AS ({ORACLE_PROTOTYPICALITY})
SELECT vec_id, cell, cell_rank,
       10 * cell_rank > count(*) OVER (PARTITION BY cell) AS kept
FROM base
"""


# --- corpus datasheet (data card report) ----------------------------------
def q_doc_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus DATASHEET every curation run publishes (data-card
    reporting, Gebru et al. 2021): doc counts, token totals, and mean
    doc length per (source, lang) with ROLLUP subtotals and a grand
    total — one partial-aggregable pass over the corpus; Catalyst
    expands the rollup as a single Expand + hash aggregate (no
    re-scans per grouping set).  Mean length is the
    comparison-stable round_frac (exact integer division rule on
    both engines)."""
    from metrics_service_spark.functions.stable import round_frac

    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("__t"),
    )
    return docs.rollup("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__t").alias("n_tokens"),
        round_frac(F.sum("__t"), F.count(F.lit(1)), 4).alias("mean_tokens"),
    )


def _oracle_datasheet() -> str:
    from metrics_service_spark.functions.stable import sql_round_frac

    mean = sql_round_frac("sum(t)", "count(*)", 4)
    return f"""
WITH d AS (
  SELECT source, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS t
  FROM documents
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(t) AS BIGINT) AS n_tokens,
       {mean} AS mean_tokens
FROM d GROUP BY ROLLUP(source, lang)
"""


ORACLE_CORPUS_DATASHEET = _oracle_datasheet()


# --- k-NN-graph hubness diagnostics ---------------------------------------
def q_emb_knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness diagnostics over the corpus k-NN graph: per vector,
    its IN-degree (how many vectors count it among their top-k) and a
    hub flag at in_degree >= 2k.  Hubness is the classic
    high-dimensional embedding pathology (Radovanovic et al. 2010) —
    hub vectors dominate retrieval and skew dedup/diversity passes,
    so pipelines flag them before k-NN-based curation.  Pure
    composition: the audited knn-graph plan -> groupBy(dst) ->
    left join back to the corpus (zero-degree vectors kept)."""
    from metrics_service_spark.operators.similarity import knn_graph_int

    emb = load_table(spark, sf_dir, "embeddings")
    g = knn_graph_int(emb, n_cells=_derived_cells(sf_dir), k=KNN_K)
    deg = g.groupBy(F.col("dst_id").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        emb.select("vec_id")
        .join(deg, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            (F.coalesce("in_degree", F.lit(0)) >= 2 * KNN_K).alias(
                "is_hub"
            ),
        )
    )


ORACLE_KNN_HUBNESS = f"""
WITH g AS ({ORACLE_KNN_GRAPH}),
deg AS (
  SELECT dst_id AS vec_id, CAST(count(*) AS BIGINT) AS in_degree
  FROM g GROUP BY 1
)
SELECT e.vec_id, coalesce(d.in_degree, 0) AS in_degree,
       coalesce(d.in_degree, 0) >= {2 * KNN_K} AS is_hub
FROM embeddings e LEFT JOIN deg d ON d.vec_id = e.vec_id
"""


# --- DSIR-style target-affinity selection ---------------------------------
def q_doc_dsir_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection with exact integer votes: hashed
    unigram buckets, target slice = lang='en' documents, bucket vote
    = sign of the exact cross-multiplied frequency comparison, doc
    score = sum of its tokens' votes.  The vote table is <= 2^16 rows
    BY CONSTRUCTION (hashing trick), so it broadcasts at any corpus
    size; the scoring pass is explode -> broadcast join -> map-side
    partial sum."""
    from metrics_service_spark.operators.text import dsir_vote

    docs = load_table(spark, sf_dir, "documents")
    return dsir_vote(docs, "doc_id", "text", F.col("lang") == "en")


def _oracle_dsir_vote() -> str:
    from metrics_service_spark.operators.sampling import sql_hex4_int

    hexpr = "md5('hw:' || tok)"
    b = f"({sql_hex4_int(hexpr)} % 65536)"
    return f"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS is_t, {b} AS b
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM documents)
), counts AS (
  SELECT b, CAST(count(*) AS BIGINT) AS c_all,
         CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS c_t
  FROM toks GROUP BY 1
), totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all,
         CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_t
  FROM toks
), votes AS (
  SELECT b,
         CASE WHEN CAST(c_t AS HUGEINT) * n_all > CAST(c_all AS HUGEINT) * n_t
                THEN 1
              WHEN CAST(c_t AS HUGEINT) * n_all < CAST(c_all AS HUGEINT) * n_t
                THEN -1
              ELSE 0 END AS w
  FROM counts CROSS JOIN totals
), s AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(w) AS BIGINT) AS score
  FROM toks JOIN votes USING (b) GROUP BY 1
)
SELECT doc_id, n_tokens, score, score > 0 AS selected FROM s
"""


ORACLE_DSIR_VOTE = _oracle_dsir_vote()


# --- contrastive hard-negative mining ------------------------------------
def q_emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: per vector, the top-3
    most-similar vectors with a DIFFERENT label (the pair-construction
    step for contrastive/embedding training).  knn-graph discipline:
    footer-derived cell geometry bounds candidate mass, the corpus x
    corpus join keys on `cell` (never broadcast), the label-inequality
    predicate prunes inside the join, exact integer dots, WindowGroup-
    Limit top-k."""
    from metrics_service_spark.operators.similarity import (
        hard_negatives_int,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives_int(emb, n_cells=_derived_cells(sf_dir), k=KNN_K)


# r10: assignment replays the shared two-level hier chain (the flat
# argmax was the quadratic term at derived geometry — see
# _corpus_cell_assigned); labels re-attach from the base table by id.
ORACLE_HARD_NEGATIVES = f"""
WITH {SQL_HIER_ASSIGN_CTES}, lab AS (
  SELECT a.vec_id, a.v, a.cell, e.label
  FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
), pairs AS (
  SELECT a.vec_id AS src_id, b.vec_id AS neg_id,
         a.label AS src_label, b.label AS neg_label,
         CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
              AS BIGINT) AS dot_q
  FROM lab a JOIN lab b
    ON a.cell = b.cell AND a.label != b.label
)
SELECT src_id, neg_id, src_label, neg_label,
       CAST(rank AS INT) AS rank, dot_q FROM (
  SELECT *, row_number() OVER (PARTITION BY src_id
            ORDER BY dot_q DESC, neg_id) AS rank
  FROM pairs
) WHERE rank <= {KNN_K}
"""


# --- deterministic shuffle + shard manifest -------------------------------
#: target docs per training shard: n_shards derives from the corpus
#: row count (footer stats) so shard SIZE stays fixed as the corpus
#: grows — the same geometry contract as the embedding cell family.
SHARD_TARGET = 64


def q_doc_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard manifest (the final step
    of a curation run): salted-md5 shuffle key, hex4(key) % n_shards
    shard assignment, reproducible within-shard order.  The per-shard
    window is the only shuffle and its partition mass is held at
    ~SHARD_TARGET rows by the footer-derived shard count."""
    from metrics_service_spark.operators.sampling import shuffle_shard

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n_shards = _derived_cells(sf_dir, "documents", target=SHARD_TARGET)
    return shuffle_shard(docs, "doc_id", n_shards=n_shards)


def _oracle_shuffle_shard() -> str:
    from metrics_service_spark.operators.sampling import sql_hex4_int

    h4 = sql_hex4_int("key")
    return f"""
WITH d AS (
  SELECT doc_id,
         md5('shard:' || CAST(doc_id AS VARCHAR)) AS key
  FROM documents
), s AS (
  SELECT doc_id, key,
         CAST({h4} % {_sql_cells("d", SHARD_TARGET)} AS INT) AS shard
  FROM d
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard
                               ORDER BY key, doc_id) AS INT) AS pos
FROM s
"""


QUERIES: dict[str, QuerySpec] = {
    "doc_mixture": QuerySpec(
        q_doc_mixture,
        ORACLE_DOC_MIXTURE,
        "domain-mixture reweighting: thresholds + kept counts",
        ("llm",),
    ),
    "doc_tfidf_topk": QuerySpec(
        q_doc_tfidf_topk,
        ORACLE_DOC_TFIDF,
        "per-doc top-3 TF-IDF terms, exact-rational IDF",
        ("llm",),
    ),
    "doc_domain_filter": QuerySpec(
        q_doc_domain_filter,
        ORACLE_DOC_DOMAIN,
        "domain-blocklist anti-join over synthesized URLs",
        ("llm",),
    ),
    "doc_paragraph_dedup": QuerySpec(
        q_doc_paragraph_dedup,
        ORACLE_DOC_PARAGRAPH,
        "corpus-wide paragraph (token-chunk) dedup fractions",
        ("llm",),
    ),
    "doc_repetition": QuerySpec(
        q_doc_repetition,
        ORACLE_DOC_REPETITION,
        "Gopher-style dup-2-gram + modal-gram repetition filter",
        ("llm",),
    ),
    "doc_pii_scrub": QuerySpec(
        q_doc_pii_scrub,
        ORACLE_DOC_PII,
        "PII detect+redact (email/IPv4), synthetic injected matches",
        ("llm",),
    ),
    "doc_exact_dedup": QuerySpec(
        q_doc_exact_dedup, ORACLE_EXACT_DEDUP, "exact dedup hash-groupBy", ("llm",)
    ),
    "doc_bpe_tokens": QuerySpec(
        q_doc_bpe_tokens, ORACLE_BPE_TOKENS, "BPE-ish token estimate", ("llm",)
    ),
    "doc_token_stats": QuerySpec(
        q_doc_token_stats, ORACLE_TOKEN_STATS, "token counting", ("llm",)
    ),
    "doc_quality": QuerySpec(
        q_doc_quality, ORACLE_QUALITY, "quality scoring", ("llm",)
    ),
    "doc_lang_id": QuerySpec(
        q_doc_lang_id, _oracle_lang_id(), "marker-word language id", ("llm",)
    ),
    "doc_fingerprint": QuerySpec(
        q_doc_fingerprint, ORACLE_FINGERPRINT, "document fingerprinting", ("llm",)
    ),
    "doc_length_histogram": QuerySpec(
        q_doc_length_histogram,
        ORACLE_DOC_LENHIST,
        "corpus profile: (lang, log2-length) doc counts + char mass",
        ("llm",),
    ),
    "doc_length_quantiles": QuerySpec(
        q_doc_length_quantiles,
        ORACLE_LENGTH_QUANTILES,
        "exact per-lang length percentiles via histogram+cumulative "
        "rank (no per-row sort; hot-lang safe)",
        ("llm",),
    ),
    "doc_jaccard_pairs": QuerySpec(
        q_doc_jaccard_pairs, ORACLE_JACCARD, "blocked n-gram Jaccard", ("llm",)
    ),
    "doc_dedup_clusters": QuerySpec(
        q_doc_dedup_clusters,
        ORACLE_DEDUP_CLUSTERS,
        "near-dup pairs -> connected components -> canonical keep-list",
        ("llm",),
    ),
    "doc_cluster_best": QuerySpec(
        q_doc_cluster_best,
        _CLUSTERS_CTE + ORACLE_CLUSTER_BEST,
        "quality-aware canonical selection: per near-dup cluster keep "
        "the richest-vocabulary member (ttr/tokens/id argmax)",
        ("llm",),
    ),
    "doc_split_leakage_safe": QuerySpec(
        q_doc_split_leakage_safe,
        ORACLE_SPLIT_LEAKAGE_SAFE,
        "train/val/test split keyed on near-dup cluster (no cross-split leakage)",
        ("llm",),
    ),
    "emb_contamination": QuerySpec(
        q_emb_contamination,
        ORACLE_EMB_CONTAMINATION,
        "semantic decontamination vs benchmark embeddings (cell-blocked int cosine)",
        ("llm",),
    ),
    "doc_split": QuerySpec(
        q_doc_split,
        ORACLE_DOC_SPLIT,
        "deterministic train/val/test hash split",
        ("llm",),
    ),
    "doc_pack": QuerySpec(
        q_doc_pack,
        ORACLE_DOC_PACK,
        "context-window packing via distributed prefix sum",
        ("llm",),
    ),
    "doc_contamination": QuerySpec(
        q_doc_contamination,
        ORACLE_CONTAMINATION,
        "benchmark-contamination n-gram scan",
        ("llm",),
    ),
    "doc_source_overlap": QuerySpec(
        q_doc_source_overlap,
        ORACLE_SOURCE_OVERLAP,
        "cross-source provenance matrix: distinct shared 5-grams per "
        "source pair (fan-out bounded by source cardinality)",
        ("llm",),
    ),
    "doc_sample_stratified": QuerySpec(
        q_doc_sample_stratified,
        _oracle_sample_stratified(),
        "deterministic per-language stratified sample",
        ("llm",),
    ),
    "doc_minhash_dedup": QuerySpec(
        q_doc_minhash_dedup, None, "MinHash+LSH near-dup (verified)", ("llm",),
        exact_twin="doc_minhash_dedup_md5",
    ),
    "doc_dedup_tiers": QuerySpec(
        q_doc_dedup_tiers,
        ORACLE_DEDUP_TIERS,
        "tiered production keep-list: exact content-hash tier, then "
        "blocked-Jaccard + CC near-dup among survivors only — "
        "(doc_id, status, canonical_id)",
        ("llm",),
    ),
    "doc_minhash_estimate": QuerySpec(
        q_doc_minhash_estimate,
        _oracle_minhash_estimate(),
        "MinHash estimator calibration: per candidate pair, the "
        "signature-agreement estimate vs exact shingle Jaccard "
        "(scaled BIGINTs) + absolute error",
        ("llm",),
    ),
    "doc_minhash_dedup_md5": QuerySpec(
        q_doc_minhash_dedup_md5,
        _oracle_minhash_md5(bands=8),
        "MinHash+LSH near-dup, md5 family — full pipeline oracle",
        ("llm",),
    ),
    "doc_incremental_dedup": QuerySpec(
        q_doc_incremental_dedup,
        _oracle_incremental_md5(bands=8),
        "incremental near-dup: new batch vs existing corpus index",
        ("llm",),
    ),
    "doc_unigram_freq": QuerySpec(
        q_doc_unigram_freq,
        ORACLE_UNIGRAM_FREQ,
        "mean corpus token frequency per doc (perplexity proxy)",
        ("llm",),
    ),
    "doc_ngram_topk": QuerySpec(
        q_doc_ngram_topk,
        ORACLE_NGRAM_TOPK,
        "corpus top-25 trigrams by document frequency",
        ("llm",),
    ),
    "doc_multi_signal_pairs": QuerySpec(
        q_doc_multi_signal_pairs,
        _oracle_multi_signal(),
        "lexical AND semantic near-dup agreement (join of pair sets)",
        ("llm",),
    ),
    "emb_random_projection": QuerySpec(
        q_emb_random_projection,
        _oracle_random_projection(),
        "integer-exact JL random projection to 8 components",
        ("llm",),
    ),
    "doc_simhash": QuerySpec(
        q_doc_simhash, None, "64-bit SimHash", ("llm",),
        exact_twin="doc_simhash_md5",
    ),
    "doc_simhash_neardup": QuerySpec(
        q_doc_simhash_neardup,
        None,
        "banded-hamming SimHash near-dup pairs",
        ("llm",),
        exact_twin="doc_simhash_neardup_md5",
    ),
    "doc_simhash_md5": QuerySpec(
        q_doc_simhash_md5,
        ORACLE_SIMHASH_MD5,
        "SimHash signature, md5 vote family — oracle-replicable",
        ("llm",),
    ),
    "doc_simhash_neardup_md5": QuerySpec(
        q_doc_simhash_neardup_md5,
        ORACLE_SIMHASH_NEARDUP_MD5,
        "banded-hamming SimHash near-dup, md5 family — full oracle",
        ("llm",),
    ),
    "doc_quality_filter": QuerySpec(
        q_doc_quality_filter,
        ORACLE_QUALITY_FILTER.format(quality=ORACLE_QUALITY),
        "quality percentile gate, distributed exact selection (default)",
        ("llm",),
    ),
    "doc_quality_filter_exact": QuerySpec(
        q_doc_quality_filter_exact,
        ORACLE_QUALITY_FILTER.format(quality=ORACLE_QUALITY),
        "quality percentile gate, global percent_rank (oracle twin)",
        ("llm",),
    ),
    "emb_topk_bruteforce": QuerySpec(
        q_emb_topk_bruteforce, ORACLE_TOPK, "brute-force k-NN", ("llm",)
    ),
    "emb_cosine_neardup": QuerySpec(
        q_emb_cosine_neardup,
        _oracle_cosine_neardup_lsh(),
        "cosine near-dup pairs, integer-exact LSH-blocked (scale default)",
        ("llm",),
    ),
    "emb_cosine_neardup_allpairs": QuerySpec(
        q_emb_cosine_neardup_allpairs,
        ORACLE_COSINE_NEARDUP,
        "cosine near-dup pairs, exact all-pairs baseline (small-N)",
        ("llm",),
    ),
    "emb_ann_ivf": QuerySpec(
        q_emb_ann_ivf_int,
        ORACLE_ANN_IVF_INT,
        "IVF cell-probed approximate top-k, integer-exact index+search "
        "— full pipeline oracle",
        ("llm",),
    ),
    "emb_ann_recall": QuerySpec(
        q_emb_ann_recall,
        _recall_oracle(ORACLE_ANN_IVF_INT),
        "recall@k of the IVF index vs exact brute-force top-k (FAISS "
        "eval loop), integer-exact on both arms, plain-BIGINT recall",
        ("llm",),
    ),
    "emb_ann_recall_lsh": QuerySpec(
        q_emb_ann_recall_lsh,
        _recall_oracle(_oracle_ann_lsh_int()),
        "recall@k of the multi-table LSH index vs exact top-k — the "
        "IVF entry's twin, same queries, comparable across families",
        ("llm",),
    ),
    "emb_ann_recall_pq": QuerySpec(
        q_emb_ann_recall_pq,
        _recall_oracle(ORACLE_PQ_TOPK_INT),
        "recall@k of the PQ/ADC index vs exact top-k (train + encode "
        "+ search replayed inside the eval)",
        ("llm",),
    ),
    "emb_ann_recall_sq8": QuerySpec(
        q_emb_ann_recall_sq8,
        _recall_oracle(ORACLE_SQ8_TOPK_INT),
        "recall@k of the SQ8 byte-code index vs exact top-k",
        ("llm",),
    ),
    "emb_ann_recall_ivfpq": QuerySpec(
        q_emb_ann_recall_ivfpq,
        _recall_oracle(_oracle_ivfpq()),
        "recall@k of the IVF-PQ index (coarse cells + residual PQ) vs "
        "exact top-k — completes the recall matrix over every index "
        "family the catalog ships",
        ("llm",),
    ),
    "emb_pq_topk_int": QuerySpec(
        q_emb_pq_topk_int,
        ORACLE_PQ_TOPK_INT,
        "product-quantization ANN: Lloyd-trained codebooks, m-byte "
        "codes, integer LUT/ADC search — full pipeline oracle",
        ("llm",),
    ),
    "emb_semdedup_hier": QuerySpec(
        q_emb_semdedup_hier,
        ORACLE_SEMDEDUP_HIER,
        "SemDeDup with two-level coarse->fine assignment (FAISS "
        "IVF-of-IVF): corpus^1.5 assignment instead of the flat "
        "quadratic — the 100 TB configuration, full two-level oracle",
        ("llm",),
    ),
    "emb_pq_rerank": QuerySpec(
        q_emb_pq_rerank,
        ORACLE_PQ_RERANK,
        "two-stage retrieval: PQ/ADC shortlist (k_short=25) -> exact "
        "integer re-rank of candidates only — the FAISS IndexRefine "
        "shape, full pipeline oracle",
        ("llm",),
    ),
    "emb_prototypicality": QuerySpec(
        q_emb_prototypicality,
        ORACLE_PROTOTYPICALITY,
        "per-vector prototypicality (dot to own cell seed) + "
        "within-cell rank — the SSL-prototypes/SemDeDup pruning "
        "signal, footer-derived cells",
        ("llm",),
    ),
    "doc_gopher_rules": QuerySpec(
        q_doc_gopher_rules,
        ORACLE_GOPHER_RULES,
        "Gopher/MassiveText quality-rule battery, integer-only "
        "thresholds (cross-multiplied ratios), per-rule flags + keep",
        ("llm",),
    ),
    "doc_shuffle_shard": QuerySpec(
        q_doc_shuffle_shard,
        _oracle_shuffle_shard(),
        "deterministic global shuffle + shard manifest: md5 shuffle "
        "key, hex4 %% footer-derived shard count, within-shard order",
        ("llm",),
    ),
    "emb_ivfpq_topk_int": QuerySpec(
        q_emb_ivfpq_topk_int,
        _oracle_ivfpq(),
        "IVF-PQ: coarse cell pruning + residual product quantization "
        "+ ADC — the FAISS billion-vector shape, full pipeline oracle",
        ("llm",),
    ),
    "emb_ann_lsh": QuerySpec(
        q_emb_ann_lsh_int,
        _oracle_ann_lsh_int(),
        "multi-table LSH-bucketed approximate k-NN, integer-exact — "
        "full pipeline oracle",
        ("llm",),
    ),
    "emb_kmeans_step": QuerySpec(
        q_emb_kmeans_step,
        ORACLE_KMEANS_STEP,
        "one exact Lloyd iteration (assign + re-center)",
        ("llm",),
    ),
    "emb_centroids": QuerySpec(
        q_emb_centroids, ORACLE_CENTROIDS, "per-label centroid", ("llm",)
    ),
    "emb_kmeans_train": QuerySpec(
        q_emb_kmeans_train,
        ORACLE_KMEANS_TRAIN,
        "two Lloyd iterations incl. the centroid update — full oracle",
        ("llm",),
    ),
    "emb_semdedup_int": QuerySpec(
        q_emb_semdedup_int,
        ORACLE_SEMDEDUP,
        "SemDeDup keep/drop, integer-exact — full pipeline oracle",
        ("llm",),
    ),
    "emb_semdedup": QuerySpec(
        q_emb_semdedup,
        None,
        "SemDeDup production form (float cosine, norm-scaled argmax cells)",
        ("llm",),
        exact_twin="emb_semdedup_int",
    ),
    "emb_semdedup_incr": QuerySpec(
        q_emb_semdedup_incr,
        ORACLE_SEMDEDUP_INCR,
        "incremental SemDeDup: batch admitted vs corpus cell index",
        ("llm",),
    ),
    "emb_sq8_topk_int": QuerySpec(
        q_emb_sq8_topk_int,
        ORACLE_SQ8_TOPK_INT,
        "scalar-quantization (SQ8) ANN: per-dim byte codes, "
        "255-scaled reconstruction ranking — full pipeline oracle",
        ("llm",),
    ),
    "emb_cluster_sample": QuerySpec(
        q_emb_cluster_sample,
        ORACLE_CLUSTER_SAMPLE,
        "cluster-balanced curation sampling: md5-seeded cells, "
        "per-cell md5 quota draw — full pipeline oracle",
        ("llm",),
    ),
    "doc_bigram_coherence": QuerySpec(
        q_doc_bigram_coherence,
        ORACLE_BIGRAM_COHERENCE,
        "mean corpus bigram frequency per doc — token-order fluency "
        "complement of doc_unigram_freq",
        ("llm",),
    ),
    "doc_ccnet_bucket": QuerySpec(
        q_doc_ccnet_bucket,
        ORACLE_CCNET_BUCKET,
        "CCNet head/middle/tail percentile bucketing with no global "
        "sort (histogram cutoffs + broadcast join)",
        ("llm",),
    ),
    "doc_dup_spans": QuerySpec(
        q_doc_dup_spans,
        ORACLE_DUP_SPANS,
        "overlapping-window exact duplicate-span fraction per doc "
        "(Lee et al. 2021 substring dedup signal)",
        ("llm",),
    ),
    # the r10 v2 caching-discriminator twin concluded (both red ->
    # NOT driver caching) and was retired; r11 replaces it with the
    # column bisect VERDICT r10 #1 ordered:
    "doc_dup_spans_counts": QuerySpec(
        q_doc_dup_spans_counts,
        ORACLE_DUP_SPANS_COUNTS,
        "dup-span bisect, counts arm: (n_windows, dup_windows) only, "
        "every oracle column CAST AS BIGINT (no HUGEINT in the hash "
        "surface)",
        ("llm",),
    ),
    "doc_dup_spans_frac": QuerySpec(
        q_doc_dup_spans_frac,
        ORACLE_DUP_SPANS_FRAC,
        "dup-span bisect, fraction arm: dup_frac_scaled in plain "
        "BIGINT arithmetic on both engines (no DECIMAL38/HUGEINT)",
        ("llm",),
    ),
    "doc_dup_span_runs": QuerySpec(
        q_doc_dup_span_runs,
        ORACLE_DUP_SPAN_RUNS,
        "duplicated-run statistics per doc: maximal islands of "
        "flagged window positions (count, longest run in tokens) + "
        "exact duplicated-token coverage union",
        ("llm",),
    ),
    "doc_span_scrub": QuerySpec(
        q_doc_span_scrub,
        ORACLE_SPAN_SCRUB,
        "exact duplicate-span REMOVAL: cut every >1-occurrence "
        "8-token window except the globally-first copy, emit the "
        "cleaned text (Lee et al. 2021 deliverable)",
        ("llm",),
    ),
    "doc_source_quota": QuerySpec(
        q_doc_source_quota,
        ORACLE_SOURCE_QUOTA,
        "per-source quota capping (domain balancing) by deterministic "
        "md5 draw",
        ("llm",),
    ),
    "doc_temperature_mix": QuerySpec(
        q_doc_temperature_mix,
        ORACLE_TEMPERATURE_MIX,
        "temperature-flattened source mixing (alpha=0.5, Gopher/Pile "
        "domain rebalancing): sqrt-proportional quotas via exact isqrt "
        "+ plain-BIGINT apportionment + md5 draw",
        ("llm",),
    ),
    "doc_epoch_cap_mix": QuerySpec(
        q_doc_epoch_cap_mix,
        ORACLE_EPOCH_CAP_MIX,
        "UniMax epoch-capped mixing: closed-form integer waterfill "
        "(prefix-sum saturation), per-document epoch explode",
        ("llm",),
    ),
    "doc_cms_ngram_error": QuerySpec(
        q_doc_cms_ngram_error,
        ORACLE_CMS_NGRAM_ERROR,
        "count-min sketch calibration: 4x1024 CMS over the trigram "
        "stream, estimate-vs-exact for the true top-25",
        ("llm",),
    ),
    "doc_chunk_overlap": QuerySpec(
        q_doc_chunk_overlap,
        ORACLE_CHUNK_OVERLAP,
        "overlapping context-window chunking (32 tok / 8 overlap), "
        "closed-form chunk count + per-chunk md5",
        ("llm",),
    ),
    "doc_classifier_eval": QuerySpec(
        q_doc_classifier_eval,
        ORACLE_CLASSIFIER_EVAL,
        "classifier-vs-rules confusion matrix with exact basis-point "
        "cell fractions (eval layer, text side)",
        ("llm",),
    ),
    "doc_fuzzy_prefix_pairs": QuerySpec(
        q_doc_fuzzy_prefix_pairs,
        ORACLE_FUZZY_PREFIX_PAIRS,
        "blocked levenshtein record linkage over 80-char prefixes "
        "(standard blocking + deterministic max_cell drop)",
        ("llm",),
    ),
    "doc_fuzzy_prefix_bucketed": QuerySpec(
        q_doc_fuzzy_prefix_bucketed,
        ORACLE_FUZZY_PREFIX_PAIRS,
        "the same blocked-levenshtein linkage from the bucketed "
        "linkage-silver layout: cell count + block self-join both "
        "scan-local, zero exchanges (oracle reads raw parquet)",
        ("llm",),
    ),
    "doc_linkage_incremental": QuerySpec(
        q_doc_linkage_incremental,
        ORACLE_LINKAGE_INCREMENTAL,
        "incremental linkage admission: new batch vs existing corpus "
        "block join + prefix levenshtein (never a corpus self-join)",
        ("llm",),
    ),
    "doc_winnow_pairs": QuerySpec(
        q_doc_winnow_pairs,
        ORACLE_WINNOW_PAIRS,
        "winnowing (MOSS) copy-detection pairs: windowed-min "
        "fingerprints + hot-fp guard + fingerprint equi-join",
        ("llm",),
    ),
    "doc_canonical_dedup": QuerySpec(
        q_doc_canonical_dedup,
        ORACLE_CANONICAL_DEDUP,
        "normalize-then-dedup: canonical-form hash groups with "
        "raw-variant counts (the exact-dedup blind spot)",
        ("llm",),
    ),
    "doc_sorted_neighborhood": QuerySpec(
        q_doc_sorted_neighborhood,
        ORACLE_SORTED_NEIGHBORHOOD,
        "sorted-neighborhood linkage: block-keyed rank window, "
        "next-5-neighbor levenshtein (the strict-block complement)",
        ("llm",),
    ),
    "doc_sorted_neighborhood_global": QuerySpec(
        q_doc_sorted_neighborhood_global,
        ORACLE_SORTED_NEIGHBORHOOD,
        "hot-block-safe sorted neighborhood: same linkage via the "
        "bucketed global-monotone rank (no one-task block sort)",
        ("llm",),
    ),
    "doc_linkage_multipass": QuerySpec(
        q_doc_linkage_multipass,
        ORACLE_LINKAGE_MULTIPASS,
        "multi-pass linkage: strict-prefix pairs ∪ sorted-neighborhood "
        "pairs, distinct — each pass covers the other's blocking gap",
        ("llm",),
    ),
    "doc_linkage_recall": QuerySpec(
        q_doc_linkage_recall,
        ORACLE_LINKAGE_RECALL,
        "linkage recall calibration: guarded all-pairs truth on a hash "
        "sample, per-strategy recall (strict/sorted-nbhd/multipass)",
        ("llm",),
    ),
    "doc_linkage_clusters": QuerySpec(
        q_doc_linkage_clusters,
        linkage_clusters_oracle(),
        "linkage keep-list: multi-pass pairs -> connected components "
        "-> per-doc cluster + canonical flag (the dedup_clusters "
        "sibling on the linkage edge set)",
        ("llm",),
    ),
    "emb_knn_graph": QuerySpec(
        q_emb_knn_graph,
        ORACLE_KNN_GRAPH,
        "corpus k-NN graph: within-cell top-k neighbors by exact "
        "integer dot — graph-curation input, full pipeline oracle",
        ("llm",),
    ),
    "emb_curation_pipeline": QuerySpec(
        q_emb_curation_pipeline,
        ORACLE_EMB_CURATION,
        "composed embedding curation: hier assignment -> SemDeDup "
        "keep-list -> per-cell balanced quota, one shared assignment",
        ("llm",),
    ),
    "emb_hard_negatives": QuerySpec(
        q_emb_hard_negatives,
        ORACLE_HARD_NEGATIVES,
        "contrastive hard-negative mining: per-vector top-k nearest "
        "with a DIFFERENT label, cell-blocked — full pipeline oracle",
        ("llm",),
    ),
    "doc_corpus_datasheet": QuerySpec(
        q_doc_corpus_datasheet,
        ORACLE_CORPUS_DATASHEET,
        "corpus datasheet: doc/token counts + mean length per "
        "(source, lang) with ROLLUP subtotals — the data-card report",
        ("llm",),
    ),
    "emb_knn_hubness": QuerySpec(
        q_emb_knn_hubness,
        ORACLE_KNN_HUBNESS,
        "hubness diagnostics: per-vector in-degree over the k-NN "
        "graph + hub flag (the high-dim retrieval pathology signal)",
        ("llm",),
    ),
    "emb_proto_prune": QuerySpec(
        q_emb_proto_prune,
        ORACLE_PROTO_PRUNE,
        "prototypicality pruning: drop the most-prototypical 10% per "
        "cell (exact integer rank rule) — Sorscher-style data pruning",
        ("llm",),
    ),
    "doc_dsir_vote": QuerySpec(
        q_doc_dsir_vote,
        ORACLE_DSIR_VOTE,
        "DSIR-style selection: hashed-unigram target-vs-corpus sign "
        "votes (exact cross-multiplication), broadcast vote table",
        ("llm",),
    ),
    "doc_hash_classifier": QuerySpec(
        q_doc_hash_classifier,
        ORACLE_HASH_CLASSIFIER,
        "hashing-trick linear quality classifier (fastText shape): "
        "md5-bucket weights, exact integer doc score, kept = score>0",
        ("llm",),
    ),
    "doc_curation_pipeline": QuerySpec(
        q_doc_curation_pipeline,
        ORACLE_CURATION_PIPELINE.format(quality=ORACLE_QUALITY),
        "composed curation flow: quality gate (histogram cutoff) -> "
        "per-source quota over survivors, one plan",
        ("llm",),
    ),
}


# --- BPE tokenizer training (r14) -----------------------------------------
# Merge-count choice: 6 rounds keeps the unrolled oracle tractable
# while exercising multi-character merges (round 5+ merges pairs
# containing round 0-4 outputs on this corpus).
BPE_MERGES = 6


def _bpe_oracles() -> tuple[str, str]:
    from metrics_service_spark.operators.bpe import (
        sql_bpe_apply_counts,
        sql_bpe_merge_table,
    )

    return sql_bpe_merge_table(BPE_MERGES), sql_bpe_apply_counts(BPE_MERGES)


_ORACLE_BPE_TRAIN, _ORACLE_BPE_APPLY = _bpe_oracles()


def q_doc_bpe_train_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training (operators/bpe.py bpe_train_local_finish): ONE
    corpus-sized word-frequency shuffle, then the language-bounded
    vocab is collected under a loud row guard and the merge loop runs
    on the driver with incremental pair counts — O(1) Spark jobs
    regardless of n_merges.  Output: the learned merge table."""
    from metrics_service_spark.operators.bpe import bpe_train_local_finish

    return bpe_train_local_finish(
        load_table(spark, sf_dir, "documents"), "text", n_merges=BPE_MERGES
    )


def q_doc_bpe_apply_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production train-once/apply-many path: train via the
    driver-local finish, then apply the STORED merge table with
    bpe_apply — the apply plan contains zero training jobs (no pair
    counting, no argmax; plan-gated in tests/test_bpe.py).  Green
    proves the stored-table replay reproduces training's segmentation
    bit-for-bit."""
    from metrics_service_spark.operators.bpe import (
        bpe_apply,
        bpe_train_local_finish,
        word_frequencies,
    )

    docs = load_table(spark, sf_dir, "documents")
    # r17 (guide §2.4): ONE word-frequency pass feeds both the train
    # collect and the apply's replay vocabulary
    wf = word_frequencies(docs, "text").localCheckpoint(eager=False)
    table = bpe_train_local_finish(
        docs, "text", n_merges=BPE_MERGES, word_freqs=wf
    )
    return bpe_apply(
        docs, table, id_col="doc_id", text_col="text", word_freqs=wf
    )


# doc_bpe_train_local and doc_bpe_apply_stored are second names of
# these two entries (catalog.ALIASES).
QUERIES["doc_bpe_train"] = QuerySpec(
    q_doc_bpe_train_local,
    _ORACLE_BPE_TRAIN,
    "BPE tokenizer training: 6 merge rounds over the word-frequency "
    "vocab, exact-integer argmax with (count, left, right) tie-break, "
    "driver-local finish, O(1) Spark jobs",
    ("llm",),
)
QUERIES["doc_bpe_apply"] = QuerySpec(
    q_doc_bpe_apply_stored,
    _ORACLE_BPE_APPLY,
    "apply a persisted BPE merge table without retraining: rank-order "
    "replay over the distinct-word vocab, per-doc whitespace vs BPE "
    "unit counts via a vocabulary join",
    ("llm",),
)


def q_doc_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility/OOV evaluation per language over the stored
    merge table (bpe_apply_stats): the post-training report that
    decides per-language vocab rebalancing — docs, whitespace tokens,
    BPE units, OOV tokens, fertility in exact basis points.  Output is
    language-bounded; the corpus is touched once."""
    from metrics_service_spark.operators.bpe import (
        bpe_apply_stats,
        bpe_train_local_finish,
        word_frequencies,
    )

    docs = load_table(spark, sf_dir, "documents")
    wf = word_frequencies(docs, "text").localCheckpoint(eager=False)
    table = bpe_train_local_finish(
        docs, "text", n_merges=BPE_MERGES, word_freqs=wf
    )
    return bpe_apply_stats(docs, table, group_cols=["lang"], word_freqs=wf)


def _oracle_bpe_fertility() -> str:
    from metrics_service_spark.operators.bpe import sql_bpe_apply_stats

    return sql_bpe_apply_stats(BPE_MERGES, group_cols=["lang"])


QUERIES["doc_bpe_fertility"] = QuerySpec(
    q_doc_bpe_fertility,
    _oracle_bpe_fertility(),
    "per-language tokenizer fertility + OOV report over the stored "
    "merge table: exact basis-point units-per-token",
    ("llm",),
)


# Deep-replay geometry (VERDICT r15 #4): 48 merges crosses
# replay_merges' checkpoint_every=32 boundary, so the lazy
# localCheckpoint path inside the rank-order replay chain — exercised
# only by bench micros and toy pytest invariance before r16 — is
# oracle-replayed bit-for-bit at depth.  The 48-round relational
# oracle needs AS MATERIALIZED vocab states (each r{n} is referenced
# twice; DuckDB inlines per reference — ~2^48 re-evaluation without
# the pin, measured as fd exhaustion at round-16 close).
BPE_MERGES_DEEP = 48


def q_doc_bpe_apply_m48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-table apply at a production-ish merge count: train once
    via the driver-local finish (O(1) Spark jobs at any merge count),
    then apply the 48-rank table — the replay chain checkpoints at
    rank 32, so a green row proves the checkpointed replay reproduces
    training's segmentation bit-for-bit past the lineage cut."""
    from metrics_service_spark.operators.bpe import (
        bpe_apply,
        bpe_train_local_finish,
        word_frequencies,
    )

    docs = load_table(spark, sf_dir, "documents")
    wf = word_frequencies(docs, "text").localCheckpoint(eager=False)
    table = bpe_train_local_finish(
        docs, "text", n_merges=BPE_MERGES_DEEP, word_freqs=wf
    )
    return bpe_apply(
        docs, table, id_col="doc_id", text_col="text", word_freqs=wf
    )


def _oracle_bpe_apply_m48() -> str:
    from metrics_service_spark.operators.bpe import sql_bpe_apply_counts

    return sql_bpe_apply_counts(BPE_MERGES_DEEP, materialize=True)


QUERIES["doc_bpe_apply_m48"] = QuerySpec(
    q_doc_bpe_apply_m48,
    _oracle_bpe_apply_m48(),
    "stored BPE apply at 48 merges: the replay chain crosses its "
    "localCheckpoint boundary, oracle-replayed at depth",
    ("llm",),
)


# Vocab-budget rebalancing constants: a production-ish next-vocab
# budget with a floor so every language keeps a minimum presence.
VOCAB_BUDGET_TOTAL = 1000
VOCAB_BUDGET_MIN = 16


def q_doc_vocab_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fertility report's consumer (VERDICT r15 #3): per-language
    merge budgets for the NEXT vocabulary, apportioned by each
    language's excess unit mass under the current tokenizer
    (largest-remainder integer apportionment with a per-language
    floor — sums to the budget exactly).  Corpus touched once, by the
    stats pass; the apportionment windows run on the |langs|-row
    report."""
    from metrics_service_spark.operators.bpe import (
        bpe_apply_stats,
        bpe_train_local_finish,
        vocab_budget_rebalance,
        word_frequencies,
    )

    docs = load_table(spark, sf_dir, "documents")
    wf = word_frequencies(docs, "text").localCheckpoint(eager=False)
    table = bpe_train_local_finish(
        docs, "text", n_merges=BPE_MERGES, word_freqs=wf
    )
    stats = bpe_apply_stats(docs, table, group_cols=["lang"], word_freqs=wf)
    return vocab_budget_rebalance(
        stats,
        "lang",
        total_budget=VOCAB_BUDGET_TOTAL,
        min_per_group=VOCAB_BUDGET_MIN,
    )


def _oracle_vocab_budget() -> str:
    from metrics_service_spark.operators.bpe import sql_vocab_budget

    return sql_vocab_budget(
        BPE_MERGES,
        total_budget=VOCAB_BUDGET_TOTAL,
        min_per_group=VOCAB_BUDGET_MIN,
    )


QUERIES["doc_vocab_budget"] = QuerySpec(
    q_doc_vocab_budget,
    _oracle_vocab_budget(),
    "per-language merge-budget rebalancing from the fertility report: "
    "exact Hamilton apportionment of the next vocab's merge slots",
    ("llm",),
)


# Grouped-training budgets: the per-language merge budgets a
# vocab_budget_rebalance round would hand the trainer.  Driver-side
# constants here (like n_merges everywhere else) so the fixed-round
# relational oracle can replay the run; in production they'd be read
# off the persisted budget table the same way bpe_apply reads the
# merge table.
BPE_GROUP_BUDGETS = {"de": 4, "en": 8, "es": 3, "fr": 5, "zh": 2}


def q_doc_bpe_train_grouped_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge table PER LANGUAGE (operators/bpe.py
    bpe_train_grouped_local_finish): ONE corpus shuffle (the grouped
    word-frequency agg), bounded vocab collect, per-language heap
    trainer on the driver — O(1) Spark jobs at any budget."""
    from metrics_service_spark.operators.bpe import (
        bpe_train_grouped_local_finish,
    )

    return bpe_train_grouped_local_finish(
        load_table(spark, sf_dir, "documents"),
        "text",
        budgets=BPE_GROUP_BUDGETS,
    )


def _oracle_bpe_grouped() -> str:
    from metrics_service_spark.operators.bpe import sql_bpe_grouped_merge_table

    return sql_bpe_grouped_merge_table(BPE_GROUP_BUDGETS)


_ORACLE_BPE_GROUPED = _oracle_bpe_grouped()

QUERIES["doc_bpe_train_grouped"] = QuerySpec(
    q_doc_bpe_train_grouped_local,
    _ORACLE_BPE_GROUPED,
    "per-language BPE training under per-language merge budgets: one "
    "grouped word-frequency shuffle + per-language heap trainer, "
    "O(1) Spark jobs",
    ("llm",),
)


def q_doc_bpe_apply_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize every document with ITS language's stored merge table
    — the apply side of grouped training (a multilingual pipeline
    segments each document with its own tokenizer).  Zero training
    jobs in the apply plan: each language's stored merges replay as a
    literal codegen flat-string chain over its slice of the distinct
    (lang, word) vocabulary, then one (lang, word)-keyed unit join +
    per-doc aggregate; the corpus is touched once."""
    from metrics_service_spark.operators.bpe import (
        _grouped_word_frequencies,
        bpe_apply_grouped,
        bpe_train_grouped_local_finish,
    )

    docs = load_table(spark, sf_dir, "documents")
    # r17 (guide §2.4): ONE grouped word-frequency pass feeds both the
    # train collect and the apply's replay vocabulary
    gwf = _grouped_word_frequencies(docs, "text", "lang").localCheckpoint(
        eager=False
    )
    table = bpe_train_grouped_local_finish(
        docs, "text", budgets=BPE_GROUP_BUDGETS, word_freqs=gwf
    )
    return bpe_apply_grouped(docs, table, word_freqs=gwf)


def _oracle_bpe_apply_grouped() -> str:
    from metrics_service_spark.operators.bpe import (
        sql_bpe_apply_grouped_counts,
    )

    return sql_bpe_apply_grouped_counts(BPE_GROUP_BUDGETS)


QUERIES["doc_bpe_apply_grouped"] = QuerySpec(
    q_doc_bpe_apply_grouped,
    _oracle_bpe_apply_grouped(),
    "per-language tokenization from the grouped merge table: each "
    "document segmented by its own language's tokenizer, one corpus "
    "pass",
    ("llm",),
)


# Capstone loop constants: a small next-vocab budget so the grouped
# rounds (unrolled to total_budget in the oracle) stay tractable.
RETRAIN_BUDGET_TOTAL = 12
RETRAIN_BUDGET_MIN = 1


def q_doc_bpe_budget_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole tokenizer loop in one entry (closes the r15 'report
    with no consumer' chain end to end): current tokenizer ->
    per-language fertility -> Hamilton budget apportionment ->
    per-language grouped retrain under the DATA-DEPENDENT budgets,
    O(1) Spark jobs at any total_budget.  The oracle nests the same
    stats/apportionment as a budget CTE and gates each unrolled
    grouped round on it."""
    from metrics_service_spark.operators.bpe import bpe_budget_retrain

    return bpe_budget_retrain(
        load_table(spark, sf_dir, "documents"),
        "text",
        n_merges_current=BPE_MERGES,
        total_budget=RETRAIN_BUDGET_TOTAL,
        min_per_group=RETRAIN_BUDGET_MIN,
    )


def _oracle_bpe_budget_retrain() -> str:
    from metrics_service_spark.operators.bpe import sql_bpe_budget_retrain

    return sql_bpe_budget_retrain(
        BPE_MERGES,
        total_budget=RETRAIN_BUDGET_TOTAL,
        min_per_group=RETRAIN_BUDGET_MIN,
    )


_ORACLE_BPE_BUDGET_RETRAIN = _oracle_bpe_budget_retrain()

QUERIES["doc_bpe_budget_retrain"] = QuerySpec(
    q_doc_bpe_budget_retrain,
    _ORACLE_BPE_BUDGET_RETRAIN,
    "the full tokenizer loop: fertility eval -> merge-budget "
    "apportionment -> per-language grouped retrain, one entry; job "
    "count independent of the merge budget",
    ("llm",),
)


# Deep grouped-apply geometry (VERDICT r16 #2): one group's budget
# crosses bpe_apply_grouped's checkpoint_every=32 boundary, so the
# lazy localCheckpoint arm of the GROUPED rank-level replay — covered
# only by toy pytest invariance before r17 — is oracle-replayed
# bit-for-bit at depth, mirroring what doc_bpe_apply_m48 proved for
# the ungrouped path.  Two live groups keep the 40-round relational
# oracle tractable; every other language rides through the vocab
# states character-segmented on both engines (sql_bpe_grouped_ctes
# carries ALL corpus groups regardless of the budget list).
BPE_GROUP_BUDGETS_DEEP = {"en": 40, "fr": 5}


def q_doc_bpe_apply_grouped_m40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenization where one language's stored table is
    40 ranks deep: the grouped replay checkpoints at rank 32, so a
    green row proves the checkpointed grouped replay reproduces each
    language's training segmentation bit-for-bit past the lineage
    cut."""
    from metrics_service_spark.operators.bpe import (
        _grouped_word_frequencies,
        bpe_apply_grouped,
        bpe_train_grouped_local_finish,
    )

    docs = load_table(spark, sf_dir, "documents")
    gwf = _grouped_word_frequencies(docs, "text", "lang").localCheckpoint(
        eager=False
    )
    table = bpe_train_grouped_local_finish(
        docs, "text", budgets=BPE_GROUP_BUDGETS_DEEP, word_freqs=gwf
    )
    return bpe_apply_grouped(docs, table, word_freqs=gwf)


def _oracle_bpe_apply_grouped_m40() -> str:
    from metrics_service_spark.operators.bpe import (
        sql_bpe_apply_grouped_counts,
    )

    return sql_bpe_apply_grouped_counts(BPE_GROUP_BUDGETS_DEEP)


QUERIES["doc_bpe_apply_grouped_m40"] = QuerySpec(
    q_doc_bpe_apply_grouped_m40,
    _oracle_bpe_apply_grouped_m40(),
    "grouped BPE apply at 40 merges for one language: the grouped "
    "replay chain crosses its localCheckpoint boundary, "
    "oracle-replayed at depth",
    ("llm",),
)

QUERIES["paragraph_index_batch_twin"] = QuerySpec(
    q_paragraph_index_batch_twin,
    ORACLE_PARAGRAPH_INDEX_TWIN,
    "the streaming paragraph-index fold unit hash-verified as a batch "
    "frame: per-paragraph-hash counts over one batch",
    ("llm", "streaming"),
)


def q_doc_bpe_vocab_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer artifact a runtime consumes (the vocab file next
    to the merges file): base characters + merge-output units with
    their introducing rank and a deterministic dense unit id.  The
    missing third leg of the train/apply/export lifecycle — a user of
    the stored merge table needs stable unit ids to emit token-id
    sequences."""
    from metrics_service_spark.operators.bpe import (
        bpe_train_local_finish,
        bpe_vocab_export,
        word_frequencies,
    )

    docs = load_table(spark, sf_dir, "documents")
    wf = word_frequencies(docs, "text").localCheckpoint(eager=False)
    table = bpe_train_local_finish(
        docs, "text", n_merges=BPE_MERGES, word_freqs=wf
    )
    return bpe_vocab_export(docs, table, word_freqs=wf)


def _oracle_bpe_vocab_export() -> str:
    from metrics_service_spark.operators.bpe import sql_bpe_vocab_export

    return sql_bpe_vocab_export(BPE_MERGES)


QUERIES["doc_bpe_vocab_export"] = QuerySpec(
    q_doc_bpe_vocab_export,
    _oracle_bpe_vocab_export(),
    "tokenizer vocabulary export: base chars + merge-output units "
    "with introducing rank and deterministic dense unit ids",
    ("llm",),
)


def q_doc_bpe_vocab_export_grouped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language vocabulary export from the grouped merge table —
    one unit file per language, ids dense per language; languages
    without merge rows export nothing (broadcast semi-join filter,
    never a collect)."""
    from metrics_service_spark.operators.bpe import (
        _grouped_word_frequencies,
        bpe_train_grouped_local_finish,
        bpe_vocab_export_grouped,
    )

    docs = load_table(spark, sf_dir, "documents")
    gwf = _grouped_word_frequencies(docs, "text", "lang").localCheckpoint(
        eager=False
    )
    table = bpe_train_grouped_local_finish(
        docs, "text", budgets=BPE_GROUP_BUDGETS, word_freqs=gwf
    )
    return bpe_vocab_export_grouped(docs, table, word_freqs=gwf)


def _oracle_bpe_vocab_export_grouped() -> str:
    from metrics_service_spark.operators.bpe import (
        sql_bpe_vocab_export_grouped,
    )

    return sql_bpe_vocab_export_grouped(BPE_GROUP_BUDGETS)


QUERIES["doc_bpe_vocab_export_grouped"] = QuerySpec(
    q_doc_bpe_vocab_export_grouped,
    _oracle_bpe_vocab_export_grouped(),
    "per-language tokenizer vocabulary export from the grouped merge "
    "table: each language's base chars + merge units, ids dense per "
    "language",
    ("llm",),
)


def q_doc_bpe_encode_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model-input ENCODING, value-verified: each document's
    ordered unit-ID sequence (export ids; OOV -> -1) reduced to
    (n_units, md5-of-comma-joined-ids) so the comparator hash-checks
    the full sequence without shipping token arrays.  Completes the
    lifecycle: train -> export ids -> encode to ids — what a training
    pipeline actually emits."""
    from metrics_service_spark.operators.bpe import (
        bpe_encode_digest,
        bpe_train_local_finish,
        word_frequencies,
    )

    docs = load_table(spark, sf_dir, "documents")
    # r17 (guide §2.4): ONE word-frequency pass feeds the train
    # collect, the export's char set, and the replay vocabulary (the
    # old shape tokenized the corpus four times: train, export, words,
    # and the unavoidable positional token stream)
    wf = word_frequencies(docs, "text").localCheckpoint(eager=False)
    table = bpe_train_local_finish(
        docs, "text", n_merges=BPE_MERGES, word_freqs=wf
    )
    return bpe_encode_digest(docs, table, word_freqs=wf)


def _oracle_bpe_encode_digest() -> str:
    from metrics_service_spark.operators.bpe import sql_bpe_encode_digest

    return sql_bpe_encode_digest(BPE_MERGES)


QUERIES["doc_bpe_encode_digest"] = QuerySpec(
    q_doc_bpe_encode_digest,
    _oracle_bpe_encode_digest(),
    "tokenize to ordered unit-id sequences (OOV -> -1), hash-compact "
    "per doc: the model-input encoding value-verified end to end",
    ("llm",),
)


def q_doc_bpe_encode_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language model-input encoding: each document's ordered
    unit-id sequence under ITS language's table and the grouped
    export's per-language ids (OOV and no-tokenizer tokens -> -1),
    hash-compact per doc.  The multilingual counterpart of
    doc_bpe_encode_digest."""
    from metrics_service_spark.operators.bpe import (
        _grouped_word_frequencies,
        bpe_encode_digest_grouped,
        bpe_train_grouped_local_finish,
    )

    docs = load_table(spark, sf_dir, "documents")
    gwf = _grouped_word_frequencies(docs, "text", "lang").localCheckpoint(
        eager=False
    )
    table = bpe_train_grouped_local_finish(
        docs, "text", budgets=BPE_GROUP_BUDGETS, word_freqs=gwf
    )
    return bpe_encode_digest_grouped(docs, table, word_freqs=gwf)


def _oracle_bpe_encode_grouped() -> str:
    from metrics_service_spark.operators.bpe import (
        sql_bpe_encode_digest_grouped,
    )

    return sql_bpe_encode_digest_grouped(BPE_GROUP_BUDGETS)


QUERIES["doc_bpe_encode_grouped"] = QuerySpec(
    q_doc_bpe_encode_grouped,
    _oracle_bpe_encode_grouped(),
    "per-language tokenization to ordered unit-id sequences from the "
    "grouped table, hash-compact per doc",
    ("llm",),
)

QUERIES["doc_repetition_multi"] = QuerySpec(
    q_doc_repetition_multi,
    _oracle_repetition_multi(),
    "Gopher repetition battery at n=2,3,4 in one pass: per-doc "
    "dup-gram fraction + modal-gram share per order",
    ("llm",),
)


# --- bigram-LM perplexity scoring (r14) -------------------------------------
def q_doc_lm_fclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer frequency-class LM score (operators/lm.py) — the
    CCNet perplexity signal in the form both engines compute
    bit-identically (binary-length classes, stable-rounded mean)."""
    from metrics_service_spark.operators.lm import bigram_frequency_class

    return bigram_frequency_class(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


def q_doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Float production form: conditional bigram perplexity over the
    same self-trained counts; rows-only, exactness delegated to the
    _fclass twin sharing every upstream stage."""
    from metrics_service_spark.operators.lm import bigram_perplexity

    return bigram_perplexity(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


def _lm_oracle() -> str:
    from metrics_service_spark.operators.lm import sql_bigram_fclass

    return sql_bigram_fclass()


QUERIES["doc_lm_fclass"] = QuerySpec(
    q_doc_lm_fclass,
    _lm_oracle(),
    "self-trained bigram-LM frequency-class score (exact-integer "
    "CCNet perplexity proxy): corpus bigram counts -> per-doc mean "
    "log2-count class",
    ("llm",),
)
QUERIES["doc_lm_perplexity"] = QuerySpec(
    q_doc_lm_perplexity,
    None,
    "conditional bigram perplexity exp(-mean ln(c_lr/c_l)), the float "
    "production CCNet signal",
    ("llm",),
    exact_twin="doc_lm_fclass",
)


# --- k-NN graph PageRank (r14) ----------------------------------------------
PR_ITERS = 3
PR_SCALE = 10**12


def q_emb_knn_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-analysis centrality over the corpus k-NN graph: 3 rounds
    of exact integer fixed-point power iteration (pagerank_int,
    operators/closure.py) — the web-graph quality prior, here scoring
    embedding-space hub-ness.  Fully lazy: one plan, no driver-held
    state; N enters as a broadcast one-row aggregate."""
    from metrics_service_spark.operators.closure import pagerank_int
    from metrics_service_spark.operators.similarity import knn_graph_int

    emb = load_table(spark, sf_dir, "embeddings")
    g = knn_graph_int(emb, n_cells=_derived_cells(sf_dir), k=KNN_K)
    return pagerank_int(g, iters=PR_ITERS, scale=PR_SCALE).select(
        F.col("node").alias("vec_id"), "pr_q"
    )


def _oracle_knn_pagerank() -> str:
    base_num = 3 * PR_SCALE  # (den-num)*scale at 0.85 damping
    rounds = []
    for i in range(1, PR_ITERS + 1):
        rounds.append(
            f"""c{i} AS (
  SELECT e.dst_id AS node, sum(p.p // d.deg) AS s
  FROM knn e JOIN p{i - 1} p ON e.src_id = p.node
             JOIN odeg d ON e.src_id = d.node
  GROUP BY 1
),
p{i} AS (
  SELECT n.node,
         CAST({base_num} // (20 * t.n) + (17 * coalesce(c.s, 0)) // 20
              AS BIGINT) AS p
  FROM nodes n CROSS JOIN tot t LEFT JOIN c{i} c ON n.node = c.node
)"""
        )
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH {SQL_HIER_ASSIGN_CTES}, prpairs AS (
  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
              AS BIGINT) AS dot_q
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id != b.vec_id
),
knn AS (
  SELECT src_id, dst_id FROM (
    SELECT *, row_number() OVER (PARTITION BY src_id
              ORDER BY dot_q DESC, dst_id) AS rank
    FROM prpairs
  ) WHERE rank <= {KNN_K}
),
nodes AS (SELECT src_id AS node FROM knn UNION SELECT dst_id FROM knn),
tot AS (SELECT count(*) AS n FROM nodes),
odeg AS (SELECT src_id AS node, count(*) AS deg FROM knn GROUP BY 1),
p0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) // t.n AS p FROM nodes, tot t),
{rounds_sql}
SELECT node AS vec_id, p AS pr_q FROM p{PR_ITERS}
"""


QUERIES["emb_knn_pagerank"] = QuerySpec(
    q_emb_knn_pagerank,
    _oracle_knn_pagerank(),
    "integer fixed-point PageRank over the k-NN graph (3 power "
    "rounds, floor-div arithmetic) — embedding centrality prior",
    ("llm",),
)


def q_emb_knn_pagerank_conserving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mass-conserving PageRank (pagerank_int(conserve_mass=True),
    operators/closure.py): dangling mass redistributed uniformly each
    round.  The k-NN graph has no dangling nodes by construction
    (every node in a shared cell emits edges), so the entry drops all
    edges whose source id ≡ 0 (mod 5) — those nodes keep receiving
    mass but emit none, i.e. REAL dangling mass flows through the
    per-round dangling sum (a filter on the carried out-degree,
    broadcast as one row); the oracle applies the same edge filter and
    replays every round."""
    from metrics_service_spark.operators.closure import pagerank_int
    from metrics_service_spark.operators.similarity import knn_graph_int

    emb = load_table(spark, sf_dir, "embeddings")
    g = knn_graph_int(emb, n_cells=_derived_cells(sf_dir), k=KNN_K).filter(
        F.col("src_id") % 5 != 0
    )
    return pagerank_int(
        g, iters=PR_ITERS, scale=PR_SCALE, conserve_mass=True
    ).select(
        F.col("node").alias("vec_id"), "pr_q"
    )


def _oracle_knn_pagerank_conserving() -> str:
    # NB: each round references p{i-1} TWICE (dangling aggregate +
    # contributions) — unlike the plain entry's single-reference chain,
    # DuckDB would inline-re-evaluate the whole prefix exponentially
    # (measured: >400 s vs 3.7 s at sf0.001), so the round states are
    # pinned AS MATERIALIZED
    base_num = 3 * PR_SCALE
    rounds = []
    for i in range(1, PR_ITERS + 1):
        rounds.append(
            f"""d{i} AS (
  SELECT coalesce(sum(p.p), 0) AS d
  FROM p{i - 1} p
  WHERE NOT EXISTS (SELECT 1 FROM odeg o WHERE o.node = p.node)
),
c{i} AS (
  SELECT e.dst_id AS node, sum(p.p // dg.deg) AS s
  FROM knnf e JOIN p{i - 1} p ON e.src_id = p.node
              JOIN odeg dg ON e.src_id = dg.node
  GROUP BY 1
),
p{i} AS MATERIALIZED (
  SELECT n.node,
         CAST({base_num} // (20 * t.n)
              + (17 * (coalesce(c.s, 0) + dd.d // t.n)) // 20
              AS BIGINT) AS p
  FROM nodes n CROSS JOIN tot t CROSS JOIN d{i} dd
       LEFT JOIN c{i} c ON n.node = c.node
)"""
        )
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH {SQL_HIER_ASSIGN_CTES}, prpairs AS (
  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
              AS BIGINT) AS dot_q
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id != b.vec_id
),
knn AS (
  SELECT src_id, dst_id FROM (
    SELECT *, row_number() OVER (PARTITION BY src_id
              ORDER BY dot_q DESC, dst_id) AS rank
    FROM prpairs
  ) WHERE rank <= {KNN_K}
),
knnf AS MATERIALIZED (SELECT * FROM knn WHERE src_id % 5 <> 0),
nodes AS (SELECT src_id AS node FROM knnf UNION SELECT dst_id FROM knnf),
tot AS (SELECT count(*) AS n FROM nodes),
odeg AS (SELECT src_id AS node, count(*) AS deg FROM knnf GROUP BY 1),
p0 AS MATERIALIZED (SELECT node, CAST({PR_SCALE} AS BIGINT) // t.n AS p FROM nodes, tot t),
{rounds_sql}
SELECT node AS vec_id, p AS pr_q FROM p{PR_ITERS}
"""


QUERIES["emb_knn_pagerank_conserving"] = QuerySpec(
    q_emb_knn_pagerank_conserving,
    _oracle_knn_pagerank_conserving(),
    "mass-conserving PageRank twin: per-round dangling aggregate "
    "redistributed uniformly, exact integer fixed-point",
    ("llm",),
)


# --- threshold-free classifier eval: exact AUC (r14) -------------------------
def q_doc_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer ROC AUC of the hash-trick classifier scored
    against the Gopher rule battery as labels — the threshold-free
    complement of doc_classifier_eval's confusion matrix (Mann-Whitney
    U with the standard half-credit tie rule).  2U is an exact integer
    (sum over score-histogram rows of n_pos*(2*cum_neg_below + n_neg)),
    so AUC = 2U / (2*NP*NN) needs no float until the final
    stable-rounded basis-point scaling.

    Scale shape: the per-doc join collapses to a SCORE HISTOGRAM
    (value-domain-bounded, like doc_length_quantiles), and the one
    global cumulative runs through operators/rank.py global_cumsum —
    per-bucket sums + broadcast offsets, never a single-partition
    ORDER BY window."""
    from metrics_service_spark.functions.stable import round_frac_bigint
    from metrics_service_spark.operators.rank import global_cumsum
    from metrics_service_spark.operators.similarity import _spread
    from metrics_service_spark.operators.text import (
        gopher_rules,
        hash_classifier,
    )

    docs = _spread(load_table(spark, sf_dir, "documents"))
    rules = gopher_rules(docs, "doc_id", "text").select(
        "doc_id", F.col("keep").alias("label")
    )
    clf = hash_classifier(docs, "doc_id", "text").select("doc_id", "score")
    hist = (
        rules.join(clf, "doc_id")
        .groupBy("score")
        .agg(
            F.sum(F.when(F.col("label"), 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.sum(F.when(F.col("label"), 0).otherwise(1))
            .cast("long")
            .alias("n_neg"),
        )
    )
    # bucket = floor-to-64 of the score: an order-preserving coarsening
    # (pmod keeps the floor exact on negatives), few enough distinct
    # values that the offset frame broadcasts
    cum = global_cumsum(
        hist,
        F.col("n_neg"),
        bucket=F.col("score") - F.pmod(F.col("score"), F.lit(64)),
        order=[F.col("score")],
        out_col="__cumneg",
    )
    agg = cum.select(
        "n_pos",
        "n_neg",
        (
            F.col("n_pos")
            * (2 * (F.col("__cumneg") - F.col("n_neg")) + F.col("n_neg"))
        ).alias("__u2"),
    ).agg(
        F.sum("n_pos").alias("n_pos"),
        F.sum("n_neg").alias("n_neg"),
        F.sum("__u2").alias("u_x2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "u_x2",
        round_frac_bigint(
            F.col("u_x2"), 2 * F.col("n_pos") * F.col("n_neg"), 4
        ).alias("auc_scaled"),
    )


def _oracle_classifier_auc() -> str:
    from metrics_service_spark.functions.stable import sql_round_frac_bigint

    return f"""
WITH rules AS (
  SELECT doc_id, keep AS label FROM ({ORACLE_GOPHER_RULES}) g
), clf AS (
  SELECT doc_id, score FROM ({ORACLE_HASH_CLASSIFIER}) c
), hist AS (
  SELECT score,
         CAST(count(*) FILTER (label) AS BIGINT) AS n_pos,
         CAST(count(*) FILTER (NOT label) AS BIGINT) AS n_neg
  FROM rules JOIN clf USING (doc_id) GROUP BY 1
), cum AS (
  SELECT *, sum(n_neg) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
            AS cumneg
  FROM hist
), agg AS (
  SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
         CAST(sum(n_neg) AS BIGINT) AS n_neg,
         CAST(sum(n_pos * (2 * (cumneg - n_neg) + n_neg)) AS BIGINT) AS u_x2
  FROM cum
)
SELECT n_pos, n_neg, u_x2,
       {sql_round_frac_bigint("u_x2", "2 * n_pos * n_neg", 4)} AS auc_scaled
FROM agg
"""


QUERIES["doc_classifier_auc"] = QuerySpec(
    q_doc_classifier_auc,
    _oracle_classifier_auc(),
    "exact-integer ROC AUC of the hash classifier vs the Gopher rules "
    "(Mann-Whitney 2U over the score histogram, half-credit ties, "
    "distributed prefix sum — no single-partition window)",
    ("llm",),
)


#: reliability-table bin count (r16): enough resolution to see
#: monotonicity, few enough that every bin keeps statistical mass at
#: sf0.001
CALIBRATION_BINS = 8


def q_doc_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) table of the hash-trick classifier
    against the Gopher rule labels — the third leg of the classifier
    eval family next to the confusion matrix (doc_classifier_eval) and
    the threshold-free AUC (doc_classifier_auc): per equal-width score
    bin, document count, positive count, and the empirical positive
    rate in exact basis points.  A monotone pos_rate_bp column is what
    'the score is usable as a quality prior' actually means; flat or
    inverted bins localize WHERE the classifier is miscalibrated.

    All integer: bin = (score - smin) * NBINS // (smax - smin + 1)
    over the OBSERVED range (exact floor-div on non-negative offsets),
    rate = 10000 * n_pos // n_docs.

    Scale shape: the corpus collapses to the SAME value-domain-bounded
    score histogram AUC uses (two per-doc projections + one
    map-side-combined groupBy); the observed range enters as a
    broadcast one-row aggregate (the repo's broadcast-singleton
    discipline — never a driver collect) and the bin rollup runs on
    histogram rows."""
    from metrics_service_spark.operators.similarity import _spread
    from metrics_service_spark.operators.text import (
        gopher_rules,
        hash_classifier,
    )

    docs = _spread(load_table(spark, sf_dir, "documents"))
    rules = gopher_rules(docs, "doc_id", "text").select(
        "doc_id", F.col("keep").alias("label")
    )
    clf = hash_classifier(docs, "doc_id", "text").select("doc_id", "score")
    hist = (
        rules.join(clf, "doc_id")
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("label"), 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
        )
    )
    rng = hist.agg(
        F.min("score").alias("__smin"), F.max("score").alias("__smax")
    )
    binned = hist.crossJoin(F.broadcast(rng)).select(
        F.expr(
            f"CAST(((score - __smin) * {CALIBRATION_BINS}) div "
            f"(__smax - __smin + 1) AS INT)"
        ).alias("bin_id"),
        "n",
        "n_pos",
        "score",
    )
    return (
        binned.groupBy("bin_id")
        .agg(
            F.min("score").alias("score_lo"),
            F.max("score").alias("score_hi"),
            F.sum("n").cast("long").alias("n_docs"),
            F.sum("n_pos").cast("long").alias("n_pos"),
        )
        .select(
            "bin_id",
            "score_lo",
            "score_hi",
            "n_docs",
            "n_pos",
            F.expr("(10000 * n_pos) div n_docs").alias("pos_rate_bp"),
        )
    )


def _oracle_classifier_calibration() -> str:
    return f"""
WITH rules AS (
  SELECT doc_id, keep AS label FROM ({ORACLE_GOPHER_RULES}) g
), clf AS (
  SELECT doc_id, score FROM ({ORACLE_HASH_CLASSIFIER}) c
), hist AS (
  SELECT score,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (label) AS BIGINT) AS n_pos
  FROM rules JOIN clf USING (doc_id) GROUP BY 1
), rng AS (
  SELECT min(score) AS smin, max(score) AS smax FROM hist
), binned AS (
  SELECT CAST(((score - smin) * {CALIBRATION_BINS}) // (smax - smin + 1)
              AS INT) AS bin_id,
         n, n_pos, score
  FROM hist CROSS JOIN rng
)
SELECT bin_id,
       min(score) AS score_lo,
       max(score) AS score_hi,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(sum(n_pos) AS BIGINT) AS n_pos,
       CAST(CAST(10000 * sum(n_pos) AS BIGINT) // CAST(sum(n) AS BIGINT)
            AS BIGINT) AS pos_rate_bp
FROM binned GROUP BY 1
"""


QUERIES["doc_classifier_calibration"] = QuerySpec(
    q_doc_classifier_calibration,
    _oracle_classifier_calibration(),
    "classifier reliability table: equal-width integer score bins vs "
    "empirical rule-label positive rate in exact basis points",
    ("llm",),
)


# --- weighted priority sampling (r14) ----------------------------------------
def q_doc_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus subsample via priority sampling
    (operators/sampling.py priority_sample): per language, the top-20
    docs by the floor-quantized integer priority (n_chars << 32) div
    u(md5) — inclusion probability grows with document mass, every doc
    keeps a chance, bit-deterministic across engines."""
    from metrics_service_spark.operators.sampling import priority_sample

    return priority_sample(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "n_chars",
        group_cols=["lang"],
        k=20,
    )


def _priority_sample_oracle() -> str:
    from metrics_service_spark.operators.sampling import sql_priority_sample

    return sql_priority_sample(group_cols=["lang"], k=20)


QUERIES["doc_priority_sample"] = QuerySpec(
    q_doc_priority_sample,
    _priority_sample_oracle(),
    "weighted priority sampling (Duffield-Lund-Thorup): per-lang "
    "top-k by exact integer w/u priority, md5-uniform u",
    ("llm",),
)
