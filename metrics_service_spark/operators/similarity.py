"""Similarity search over embedding columns (array<float>).

Beyond the reference surface (BASELINE.json north star): brute-force
top-k as the exact baseline, and approximate top-k through an IVF
index (`ivf_topk_int`) or multi-table random-hyperplane LSH
(`ann_topk_int`) as the scale paths.

Determinism note: oracle-compared kernels assign cells, buckets and
ranks by INTEGER dot products over quantized vectors (round(x * 10^4)),
so Spark and DuckDB produce bit-identical orderings — float
accumulation order differences can flip near-ties, integers cannot.
Each ANN algorithm has one kernel, the one its DuckDB oracle checks;
the only float kernel left is production SemDeDup (`semantic_dedup`,
twin `semantic_dedup_int`).

Scale design: the query set is broadcast, the corpus is scanned once —
a 100 TB corpus streams through executors, each holding only the query
batch. Top-k uses a window per query id; with AQE the skew is bounded
because every query id has exactly |corpus| candidate rows pre-filter.
For billion-row corpora the IVF and LSH kernels prune the candidate
set with an equi-join on cell or bucket signature before ranking.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from metrics_service_spark.functions.stable import round_frac

QUANT_SCALE = 10_000


def quantize(vec: Column) -> Column:
    """array<float> -> array<long> at 1e-4 resolution (exact arithmetic)."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * QUANT_SCALE, 0).cast("long")
    )


def dot_long(a: Column, b: Column) -> Column:
    """Exact integer dot product of two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors for each query vector by quantized dot
    product (desc), neighbor id asc as tiebreak.  Queries are broadcast;
    the corpus is scanned once."""
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"), quantize(F.col(vec_col)).alias("__cv")
    )
    qs = queries.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("__qv")
    )
    scored = corpus.join(F.broadcast(qs), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        dot_long(F.col("__qv"), F.col("__cv")).alias("dot_q"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot_q")
    )


def int_planes(planes: int, dim: int, *, table: int = 0) -> list[list[int]]:
    """Deterministic INTEGER hyperplane weights in [-10^6, 10^6],
    SHA-256-derived — reproducible with no RNG, and bit-exactly
    replayable by a SQL oracle: the plane dot over quantized vectors
    is pure int64 arithmetic, so Spark and DuckDB agree on every sign
    bit.  `table` selects an independent family (plane index
    `table*1000 + p`)."""
    return [
        [
            int.from_bytes(
                hashlib.sha256(
                    f"msspark-lshq:{table * 1000 + p}:{d}".encode()
                ).digest()[:8],
                "big",
                signed=False,
            )
            % 2_000_001
            - 1_000_000
            for d in range(dim)
        ]
        for p in range(planes)
    ]


def _exact_dim(vec: Column, dim: int, who: str) -> Column:
    """`vec` itself, guarded per row: a NULL vector or one whose size is
    not `dim` raises (`assert_true`) when the row is evaluated.  The
    check is one size comparison fused into the projection that reads
    the vector anyway — every row is checked and no probe job runs."""
    guard = F.assert_true(
        vec.isNotNull() & (F.size(vec) == dim),
        F.lit(f"{who}: exact-dim contract violated (vector size != {dim} or NULL)"),
    )
    return F.when(guard.isNull(), vec)


def lsh_buckets_int_batch(
    df: DataFrame,
    id_col: str,
    qvec_col: str,
    *,
    planes: int,
    tables: int,
    dim: int,
) -> DataFrame:
    """All (id, table, bucket) signature rows in one codegen pass:
    integer-exact random-hyperplane signatures over ALREADY QUANTIZED
    vectors (array<long>), bit p of table t = (qvec . w_p >= 0) with the
    int64 weights of `int_planes(planes, dim, table=t)`.  Max |term| is
    quant * 10^6 and the sum stays far below 2^63, so the sign is exact
    on any engine — this is what lets an LSH-prefiltered near-dup query
    keep a bit-identical DuckDB oracle.

    A per-row fold (planes x tables higher-order functions) would be
    interpreted (CodegenFallback), the known slow path for tight loops.
    This stays in whole-stage codegen end to end: posexplode the
    quantized vector once, join the broadcast (table, plane, pos,
    weight, bitval) dim, then two hash aggregations (plane dots -> sign
    bits -> bucket).  Bit values are carried in the dim table because
    shiftleft needs a literal shift.  The buckets equal a pure-Python
    fold of `int_planes` (seeded property test in test_similarity.py).

    EXACT-DIM CONTRACT: every vector must have size(qvec_col) == dim
    with no NULL elements.  Off-contract the posexplode yields partial
    dots, and empty vectors vanish from the output, so `_exact_dim`
    raises on a NULL vector or a size other than `dim`, on every row,
    inside the posexplode that reads the vector."""
    spark = df.sparkSession
    wrows = [
        (t, p, pos, w, 1 << p)
        for t in range(tables)
        for p, ws in enumerate(int_planes(planes, dim, table=t))
        for pos, w in enumerate(ws)
    ]
    wdf = spark.createDataFrame(wrows, "t int, p int, pos int, w long, bitval long")
    vec = _exact_dim(F.col(qvec_col), dim, "lsh_buckets_int_batch")
    ex = df.select(F.col(id_col), F.posexplode(vec).alias("pos", "qv"))
    dots = (
        ex.join(F.broadcast(wdf), "pos")
        .groupBy(id_col, "t", "p", "bitval")
        .agg(F.sum(F.col("qv") * F.col("w")).alias("d"))
    )
    return (
        dots.groupBy(id_col, "t")
        .agg(
            F.sum(
                F.when(F.col("d") >= 0, F.col("bitval")).otherwise(F.lit(0).cast("long"))
            ).alias("b")
        )
        .select(F.col(id_col), F.col("t").alias("__t"), F.col("b").alias("__b"))
    )


def cosine_near_duplicates(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    quant: int = 1_000,
    prefilter_planes: int | None = None,
    prefilter_tables: int = 1,
    max_bucket: int = 100_000,
    corpus_rows_bound: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b) with
    cosine >= threshold, decided in EXACT integer arithmetic so Spark
    and DuckDB agree bit-for-bit on boundary pairs:

        cos(a,b) >= t  <=>  dot > 0  and  q * dot^2 >= p * |a|^2 |b|^2

    with t^2 = p/q (threshold rationalized) over vectors quantized to
    `quant` resolution.  All terms stay < 2^63 for 64-dim unit vectors
    at quant=1000, so int64 suffices on both engines.

    Scale path: all-pairs is O(n^2) — pass `prefilter_planes` to block
    by integer-exact LSH signatures first (standard banded near-dup
    practice: a pair is a candidate iff it collides in ANY of
    `prefilter_tables` independent signature tables), turning the
    non-equi join into an equi-join on (table, bucket) that distributes
    like any hash join.  Recall is tuned by (planes, tables): fewer
    planes = bigger buckets, more tables = more collision chances.
    Signatures are `lsh_buckets_int_batch` over the quantized vector,
    so the blocked result is still fully deterministic and a DuckDB
    oracle can replay bucketing AND threshold bit-for-bit.  At 100 TB
    you'd also band the corpus by norm-prefix; documented, not needed
    at test scale."""
    from fractions import Fraction

    t2 = Fraction(threshold).limit_denominator(100) ** 2
    p, q = t2.numerator, t2.denominator

    # exact-dim contract enforced INLINE on every row during the pass
    # that quantizes anyway (the all-pairs path has no signature batch
    # to check it)
    qvec = F.transform(
        _exact_dim(F.col(vec_col), dim, "cosine_near_duplicates"),
        lambda x: F.round(x.cast("double") * quant, 0).cast("long"),
    )
    norm2 = F.aggregate(
        F.transform(qvec, lambda v: v * v),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    side = embeddings.select(
        F.col(id_col).alias("id"), qvec.alias("__v"), norm2.alias("__n2")
    )
    if prefilter_planes is not None:
        # the quantized side feeds the signature batch AND both
        # candidate re-attach joins — materialize it once instead of
        # re-scanning + re-quantizing the source three times (same
        # discipline as the MinHash signature checkpoint), spread
        # first so the signature explode and the pair-dot folds run
        # on all cores even off a one-row-group scan
        side = _spread(side).localCheckpoint(eager=False)
        # melt to one row per (vector, table): the payload is shuffled
        # `tables`x, but each table join is a plain hash join on
        # (table, bucket) — the shape that survives a 1000-executor
        # shuffle, unlike a non-equi self-join.  Signatures come from
        # the codegen batch kernel (lsh_buckets_int_batch).
        # the signature frame feeds the bucket-count guard AND both
        # candidate self-join sides — without a checkpoint the whole
        # posexplode+agg signature pipeline appears FOUR times in the
        # physical plan (seen in the executed plan; the r7 fix)
        buckets = lsh_buckets_int_batch(
            side,
            "id",
            "__v",
            planes=prefilter_planes,
            tables=prefilter_tables,
            dim=dim,
        ).localCheckpoint(eager=False)
        # degenerate-bucket guard (a constant/duplicated embedding at
        # corpus scale would make one bucket quadratic): drop buckets
        # above max_bucket, the same recall-for-survival trade as the
        # MinHash banding — replicated in the oracle so the blocked
        # result stays bit-comparable
        # guard stays a groupBy + re-join (NOT a window over (t, b)):
        # the whole point is surviving a degenerate hot bucket, and a
        # count-window would materialize that bucket's rows in ONE
        # task before the filter could drop them, while the aggregate
        # combines map-side and the join re-distributes (a window
        # variant was tried r9 — no wall-clock win either, the entry
        # is fixed-overhead-bound at sf0.1).
        # When the caller supplies a corpus row-count BOUND (parquet
        # footer stats — jobless, the bloom `rowcount_bound`
        # discipline) and it is <= max_bucket, NO bucket can exceed
        # the cap, so the guard is PROVABLY a no-op and its aggregate
        # exchange + re-join are skipped — semantics identical, the
        # oracle's replicated guard is equally inert.
        if corpus_rows_bound is not None and corpus_rows_bound <= max_bucket:
            pruned = buckets
        else:
            counts = buckets.groupBy("__t", "__b").agg(
                F.count(F.lit(1)).alias("__n")
            )
            pruned = buckets.join(
                counts.filter(F.col("__n") <= max_bucket),
                ["__t", "__b"],
                "inner",
            )
        # candidate pairs are found and DEDUPED as bare id pairs — the
        # vector payloads never ride through the band join or the
        # distinct shuffle (at 100 TB the banding shuffle moves ids
        # only); vectors re-attach afterwards with two hash joins
        cands = (
            pruned.select(F.col("id").alias("id_a"), "__t", "__b")
            .join(pruned.select(F.col("id").alias("id_b"), "__t", "__b"), ["__t", "__b"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        pairs = cands.join(
            side.select(
                F.col("id").alias("id_a"),
                F.col("__v").alias("__va"),
                F.col("__n2").alias("__na"),
            ),
            "id_a",
        ).join(
            side.select(
                F.col("id").alias("id_b"),
                F.col("__v").alias("__vb"),
                F.col("__n2").alias("__nb"),
            ),
            "id_b",
        )
        # pair dots as a zip_with/aggregate fold: one projection, no
        # per-element hash-agg.  Measured on Spark 4.1 at 464k
        # candidate pairs x 64 dims: fold 0.3s vs explode+groupBy 2.2s
        # — the higher-order fold is codegen'd and the explode path
        # pays 64x the hash probes (earlier Spark versions had the
        # trade reversed; re-measure on engine upgrades)
        scored = pairs.select(
            "id_a",
            "id_b",
            "__na",
            "__nb",
            dot_long(F.col("__va"), F.col("__vb")).alias("__dot"),
        )
    else:
        a = side.select(
            F.col("id").alias("id_a"),
            F.col("__v").alias("__va"),
            F.col("__n2").alias("__na"),
        )
        b = side.select(
            F.col("id").alias("id_b"),
            F.col("__v").alias("__vb"),
            F.col("__n2").alias("__nb"),
        )
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        dot = dot_long(F.col("__va"), F.col("__vb"))
        scored = pairs.select("id_a", "id_b", dot.alias("__dot"), "__na", "__nb")
    # no final dropDuplicates: the prefilter path dedupes candidate id
    # pairs BEFORE the re-attach joins (cands.distinct()), and the
    # all-pairs path emits each (id_a < id_b) pair exactly once — a
    # trailing distinct was one more full shuffle for nothing
    return scored.filter(
        (F.col("__dot") > 0)
        & (
            F.lit(q) * F.col("__dot") * F.col("__dot")
            >= F.lit(p) * F.col("__na") * F.col("__nb")
        )
    ).select("id_a", "id_b", F.col("__dot").alias("dot_q"))


def cosine_near_duplicates_np(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    quant: int = 1_000,
    max_rows: int = 100_000,
) -> DataFrame:
    """Exact all-pairs cosine near-dup, numpy-accelerated: identical
    integer decision rule to `cosine_near_duplicates` (same oracle), but
    the pairwise dots run as one BLAS matmul per Arrow batch instead of
    a per-pair 64-element fold in the expression interpreter — ~10x at
    5k vectors.

    Exactness: quantized values are < 2^9 and dots < 2^25, far below
    float64's 2^53 exact-integer range, so the dgemm result converts
    back to int64 losslessly and the int64 threshold comparison is
    bit-identical to the column-expression variant.

    The corpus matrix is broadcast to executors (collect + broadcast —
    the all-pairs baseline is only for corpora that fit comfortably,
    ~10^5 vectors; beyond that use the LSH prefilter variant).  The
    `max_rows` guard enforces that contract: a corpus that exceeds it
    raises instead of silently OOMing the driver."""
    from fractions import Fraction

    import numpy as np

    t2 = Fraction(threshold).limit_denominator(100) ** 2
    p, q = t2.numerator, t2.denominator

    qvec = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * quant, 0).cast("long")
    )
    quantized = embeddings.select(F.col(id_col).alias("id"), qvec.alias("v"))
    # limit-probe: scans at most max_rows+1 rows, never the full corpus
    if quantized.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"cosine_near_duplicates_np is the small-corpus all-pairs "
            f"baseline (max_rows={max_rows}); use "
            f"cosine_near_duplicates(prefilter_planes=...) for large corpora"
        )
    rows = quantized.collect()
    ids = np.array([r.id for r in rows], dtype=np.int64)
    mat = np.array([r.v for r in rows], dtype=np.float64)
    norms = (mat * mat).sum(axis=1).astype(np.int64)
    sc = embeddings.sparkSession.sparkContext
    b_ids, b_mat, b_norms = sc.broadcast(ids), sc.broadcast(mat), sc.broadcast(norms)

    def _pairs(batches):
        import pandas as pd

        for pdf in batches:
            bm = np.array(list(pdf["v"]), dtype=np.float64)
            bids = pdf["id"].to_numpy(dtype=np.int64)
            bnorm = (bm * bm).sum(axis=1).astype(np.int64)
            dots = (bm @ b_mat.value.T).astype(np.int64)
            cond = (
                (bids[:, None] < b_ids.value[None, :])
                & (dots > 0)
                & (q * dots * dots >= p * bnorm[:, None] * b_norms.value[None, :])
            )
            ai, bj = np.nonzero(cond)
            yield pd.DataFrame(
                {
                    "id_a": bids[ai],
                    "id_b": b_ids.value[bj],
                    "dot_q": dots[ai, bj],
                }
            )

    return quantized.repartition(
        embeddings.sparkSession.sparkContext.defaultParallelism, "id"
    ).mapInPandas(_pairs, schema="id_a long, id_b long, dot_q long")


def kmeans_step(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
) -> DataFrame:
    """One exact Lloyd iteration: `kmeans_train` with one assignment
    pass from the md5 seeds.  The output is the per-(cell, dimension)
    quantized sum/count/mean, the new centroid in quantized space; one
    step suffices to oracle-check the assignment + vector-mean
    machinery end to end."""
    return kmeans_train(
        embeddings, id_col=id_col, vec_col=vec_col, n_cells=n_cells, iters=1
    )


def ivf_topk_int(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: each query probes its `nprobe` nearest
    cells and ranks exactly within them.  Every step is exact integer
    arithmetic over quantized vectors — md5-ordered seed selection
    (`_md5_seeds`), argmax-integer-dot cell assignment, integer-dot
    probe selection, integer-dot ranking — so a DuckDB oracle replays
    the whole index + search bit-for-bit.

    Scale: the n_cells seed centroids are one bounded driver collect
    and are broadcast; assignment is one corpus scan, and candidates
    come from an equi-join on cell — no cross product against the
    corpus.  Recall is tuned by (n_cells, nprobe); nprobe=n_cells
    degenerates to exact brute force."""
    spark = embeddings.sparkSession
    seeds = _md5_seeds(
        embeddings.select(
            F.col(id_col).alias("__vid"), quantize(F.col(vec_col)).alias("__v")
        ),
        n_cells,
    )
    centroids = spark.createDataFrame(
        list(enumerate(seeds)), "cell int, cvec array<long>"
    )
    scored = (
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), quantize(F.col(vec_col)).alias("__cv")
        )
        .join(F.broadcast(centroids))
        .select(
            "neighbor_id",
            "__cv",
            "cell",
            dot_long(F.col("__cv"), F.col("cvec")).alias("__dot"),
        )
    )
    wbest = Window.partitionBy("neighbor_id").orderBy(
        F.col("__dot").desc(), F.col("cell").asc()
    )
    assigned = (
        scored.withColumn("__rk", F.row_number().over(wbest))
        .filter(F.col("__rk") == 1)
        .select("neighbor_id", "__cv", "cell")
    )
    qscored = (
        queries.select(
            F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("__qv")
        )
        .join(F.broadcast(centroids))
        .select(
            "query_id",
            "__qv",
            "cell",
            dot_long(F.col("__qv"), F.col("cvec")).alias("__dot"),
        )
    )
    wprobe = Window.partitionBy("query_id").orderBy(
        F.col("__dot").desc(), F.col("cell").asc()
    )
    probes = (
        qscored.withColumn("__rk", F.row_number().over(wprobe))
        .filter(F.col("__rk") <= nprobe)
        .select("query_id", "__qv", "cell")
    )
    # each corpus vector lives in exactly one cell, so a (query,
    # neighbor) candidate appears at most once — no dedup needed
    cand = assigned.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            dot_long(F.col("__qv"), F.col("__cv")).alias("dot_q"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot_q")
    )


def ann_topk_int(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: int = 4,
    tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k by multi-table LSH: candidates share the
    query's bucket in ANY of `tables` independent hash tables (recall
    is tuned by (planes, tables): fewer planes = bigger buckets, more
    tables = more chances to collide).  Signatures are integer-exact
    (`lsh_buckets_int_batch`, which enforces its exact-dim contract on
    every row) and ranking is the integer dot over the deduped
    candidate set, so index AND search replay bit-for-bit in DuckDB.
    Each table is an equi-join on (table, bucket) — a hash join, no
    cross product."""
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"), quantize(F.col(vec_col)).alias("__cv")
    )
    qs = queries.select(
        F.col(id_col).alias("query_id"), quantize(F.col(vec_col)).alias("__qv")
    )
    cb = lsh_buckets_int_batch(
        corpus, "neighbor_id", "__cv", planes=planes, tables=tables, dim=dim
    )
    qb = lsh_buckets_int_batch(
        qs, "query_id", "__qv", planes=planes, tables=tables, dim=dim
    )
    cands = (
        cb.join(F.broadcast(qb), ["__t", "__b"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cands.join(corpus, "neighbor_id")
        .join(F.broadcast(qs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "__qv",
            "__cv",
        )
    )
    # zip_with/aggregate fold: codegen'd single projection — measured
    # ~7x the explode+groupBy shape on Spark 4.1 (see
    # cosine_near_duplicates)
    dots = scored.select(
        "query_id",
        "neighbor_id",
        dot_long(F.col("__qv"), F.col("__cv")).alias("dot_q"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        dots.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot_q")
    )


def random_project_int(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim_out: int = 8,
    dim: int = 64,
    table: int = 7,
) -> DataFrame:
    """Integer-exact random projection (Johnson-Lindenstrauss-style
    dimensionality reduction): out_j = quantized(vec) . w_j with the
    deterministic int64 weights of `int_planes` (family `table`) —
    reproducible with no RNG and bit-replayable by a SQL oracle.
    Runs on the codegen path: posexplode once, broadcast weight dim,
    one hash aggregation.  Returns long-format rows
    (id, out_pos, proj_q); pivot to an array with collect_list when an
    array column is needed downstream."""
    spark = embeddings.sparkSession
    wrows = [
        (j, pos, w)
        for j, ws in enumerate(int_planes(dim_out, dim, table=table))
        for pos, w in enumerate(ws)
    ]
    wdf = spark.createDataFrame(wrows, "j int, pos int, w long")
    ex = embeddings.select(
        F.col(id_col), F.posexplode(quantize(F.col(vec_col))).alias("pos", "qv")
    )
    return (
        ex.join(F.broadcast(wdf), "pos")
        .groupBy(id_col, "j")
        .agg(F.sum(F.col("qv") * F.col("w")).alias("proj_q"))
        .select(F.col(id_col), F.col("j").cast("int").alias("out_pos"), "proj_q")
    )


# --- semantic dedup (SemDeDup) ---------------------------------------------
#: Above this many cells, the argmax switches from an inlined literal
#: centroid MATRIX (one array<array<_>> parsed from a single SQL
#: string — construction and analysis are near-flat in k, measured
#: 1.4 s at k=512 vs 15 s for the per-element F.lit form it replaced)
#: to a broadcast centroid join.  The limit is now a PLAN-SIZE bound
#: (k x dim x 8B literal bytes shipped with every task binary), not an
#: analysis-time bound: 4096 cells x 64 dims = 2 MB of plan literal.
_LITERAL_CELL_LIMIT = 4096


def _lit_matrix(rows: list[list[float]] | list[list[int]], sql_type: str) -> Column:
    """k x dim constant matrix as ONE Catalyst literal, built by
    parsing a single SQL string — avoiding the per-element py4j
    `F.lit` calls that made large-k expression CONSTRUCTION (not
    analysis) the bottleneck (measured: 32k elements = 15 s as nested
    F.lit, 18 ms as one expr parse).  Values are ints or repr'd
    floats (shortest-roundtrip, so the CAST back to double is
    bit-exact); both engines-worth of callers keep their arithmetic
    unchanged — this is purely a faster way to spell the same
    Literal."""
    body = ",".join(
        "array(" + ",".join(repr(x) for x in cv) + ")" for cv in rows
    )
    return F.expr(f"cast(array({body}) as array<array<{sql_type}>>)")

#: Quantization scale for the semantic-dedup integer path.  Coarser than
#: QUANT_SCALE on purpose: the threshold test multiplies den^2 * dot^2,
#: and at 1e3 the worst case (|x| < 2, dim 64) stays inside int64
#: (dot <= 64 * (2e3)^2 = 2.6e8; den^2 * dot^2 <= 100 * 6.6e16 = 6.6e18
#: < 2^63).  At QUANT_SCALE=1e4 the same product would overflow.
SEM_QUANT = 1_000


def quantize_at(vec: Column, scale: int) -> Column:
    """array<float> -> array<long> at 1/scale resolution."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * scale, 0).cast("long")
    )


def _md5_seeds(quant: DataFrame, n: int) -> list[list[int]]:
    """The `__v` of the n rows of a (__vid, __v: array<long>) frame
    with the smallest (md5(__vid), __vid), as one bounded driver
    collect: the deterministic seed rule of every md5-seeded kernel
    (md5, not xxhash64, because DuckDB can replay it).  Fewer rows than
    n give fewer seeds.  A NULL id, vector or element among the seeds
    raises: Spark sorts a NULL md5 first where DuckDB sorts it last,
    so such a seed would silently diverge from the oracle."""
    rows = (
        quant.select(
            "__v",
            F.md5(F.col("__vid").cast("string")).alias("__h"),
            F.col("__vid").alias("__sid"),
        )
        .orderBy("__h", "__sid")
        .limit(n)
        .collect()
    )
    for r in rows:
        if r["__sid"] is None or r["__v"] is None or None in r["__v"]:
            raise ValueError(
                f"md5 seed selection met a NULL id, vector or element (id "
                f"{r['__sid']!r}): the seed order is undefined across "
                "engines — drop or fill NULL embeddings first"
            )
    return [[int(x) for x in r["__v"]] for r in rows]


def _md5_seed_centroids(
    embeddings: DataFrame, id_col: str, vec_col: str, n_cells: int
) -> list[list[int]]:
    """`_md5_seeds` at SEM_QUANT resolution, the seed collect shared by
    the SemDeDup family.  The collected seeds are also where the
    SEM_QUANT int64 no-overflow contract is validated (see
    _check_sem_bounds)."""
    cvecs = _md5_seeds(
        embeddings.select(
            F.col(id_col).alias("__vid"),
            quantize_at(F.col(vec_col), SEM_QUANT).alias("__v"),
        ),
        n_cells,
    )
    _check_sem_bounds(cvecs)
    return cvecs


#: The SEM_QUANT no-overflow proof (den^2 * dot^2 < 2^63, see the
#: SEM_QUANT note) assumes dim <= 64 and |x| < 2.  The seed collect is
#: the cheap place to enforce it: seeds are a uniform-by-md5 sample of
#: the corpus, so a violating embedding family (wrong dim, or
#: unnormalized vectors with |x| >> 2) is caught at driver time with a
#: clear error instead of an ANSI arithmetic-overflow task failure (or,
#: with ANSI off, silent wrong keep/drop verdicts).  The bound is on
#: QUANTIZED values: 2 * SEM_QUANT = |x| <= 2.0.
_SEM_MAX_DIM = 64
_SEM_MAX_Q = 2 * SEM_QUANT


def _check_sem_bounds(cvecs: list[list[int]]) -> None:
    for cv in cvecs:
        if len(cv) > _SEM_MAX_DIM:
            raise ValueError(
                f"SemDeDup integer path supports dim <= {_SEM_MAX_DIM} "
                f"(got {len(cv)}): the int64 threshold arithmetic "
                "den^2*dot^2 would overflow — reduce dims first "
                "(random_project_int) or lower SEM_QUANT"
            )
        worst = max((abs(x) for x in cv), default=0)
        if worst > _SEM_MAX_Q:
            raise ValueError(
                f"SemDeDup integer path requires |x| <= 2.0 (quantized "
                f"|q| <= {_SEM_MAX_Q}, sampled seed has {worst}): "
                "normalize embeddings to unit length (the sampled seeds "
                "bound the corpus only if the same normalization is "
                "applied everywhere)"
            )


def check_tau_bounds(tau_num: int, tau_den: int) -> None:
    """Validate a cosine threshold against the int64 no-overflow
    contract.  The threshold test multiplies den^2*dot^2 and
    num^2*|a|^2*|b|^2 where dot, |a|^2, |b|^2 are each bounded by
    _SEM_MAX_DIM * _SEM_MAX_Q^2 (the _check_sem_bounds envelope); with
    ANSI off, a tau outside this bound silently WRAPS and flips
    keep/drop verdicts (the r7-ADVICE finding: e.g. tau 99/100 at
    dim 64, |q|=2000).  Permitted: max(|num|, den) <= 11 at the
    default envelope."""
    if tau_den <= 0:
        raise ValueError(f"tau_den must be positive, got {tau_den}")
    if tau_num < 0:
        raise ValueError(
            f"tau_num must be non-negative (cos threshold), got {tau_num}"
        )
    worst = _SEM_MAX_DIM * _SEM_MAX_Q * _SEM_MAX_Q  # max dot / |v|^2
    limit = (2**63 - 1) // (worst * worst)  # max allowed num^2 / den^2
    for side, v in (("tau_num", tau_num), ("tau_den", tau_den)):
        if v * v > limit:
            raise ValueError(
                f"{side}={v} overflows the int64 threshold arithmetic: "
                f"{side}^2 * (dim*maxq^2)^2 exceeds 2^63-1 at the "
                f"permitted envelope dim={_SEM_MAX_DIM}, |q|<={_SEM_MAX_Q} "
                f"— use a coarser ratio (max {math.isqrt(limit)}, e.g. "
                "9/10 instead of 99/100) or reduce dim/SEM_QUANT"
            )


def _argmax_cells(quant: DataFrame, cvecs: list[list[int]]) -> DataFrame:
    """Shared integer argmax over pre-quantized vectors: input needs
    columns (__vid, __v: array<long>); every OTHER input column is
    carried through untouched (the fused incremental/streaming paths
    ride a side tag on this); output adds `cell`.  Up to
    `_LITERAL_CELL_LIMIT` cells the centroids are inlined as literals
    (pure projection; array_position's first-match rule IS the
    ties->lowest-cell contract); beyond that the same arithmetic runs
    as a broadcast centroid join + per-vector window with the
    identical ties rule (dot desc, cell asc) — per-k analysis cost
    stays flat while assignment remains O(N*k)."""
    v = F.col("__v")
    if len(cvecs) <= _LITERAL_CELL_LIMIT:
        dots = F.transform(
            _lit_matrix(cvecs, "bigint"), lambda cv: dot_long(v, cv)
        )
        return (
            quant.withColumn("__dots", dots)
            .withColumn(
                "cell",
                (
                    F.array_position(F.col("__dots"), F.array_max(F.col("__dots")))
                    - 1
                ).cast("int"),
            )
            .drop("__dots")
        )
    spark = quant.sparkSession
    cdf = spark.createDataFrame(
        [(i, cv) for i, cv in enumerate(cvecs)], "cell int, cvec array<long>"
    )
    w = Window.partitionBy("__vid").orderBy(F.col("__dot").desc(), F.col("cell").asc())
    carried = [c for c in quant.columns if c != "__vid"]
    return (
        quant.join(F.broadcast(cdf))
        .withColumn("__dot", dot_long(v, F.col("cvec")))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("__vid", *carried, "cell")
    )


def _assign_int(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cvecs: list[list[int]],
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Integer argmax assignment: (__vid, __v, cell, __n2) plus any
    `extra_cols` carried through from df (e.g. the fused index/batch
    side tag).  The input is `_spread` first: the O(rows x cells x
    dim) assignment arithmetic must run on all cores — a bootstrap
    admit of a one-row-group parquet batch otherwise serializes the
    whole corpus assignment onto a single task (the r8 50x gate probe
    hung for >30 min exactly there; a cluster's batches arrive
    pre-partitioned, so the conditional exchange is a no-op at
    scale)."""
    quant = _spread(
        df.select(
            F.col(id_col).alias("__vid"),
            quantize_at(F.col(vec_col), SEM_QUANT).alias("__v"),
            *extra_cols,
        )
    )
    return _argmax_cells(quant, cvecs).withColumn(
        "__n2", dot_long(F.col("__v"), F.col("__v"))
    )


def semantic_dedup_int(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    tau_num: int = 3,
    tau_den: int = 10,
) -> DataFrame:
    """SemDeDup (semantic dedup over embeddings, after Abbas et al.
    2023, arXiv:2303.09540) as a pure DataFrame pipeline with EXACT
    integer arithmetic so a SQL oracle replays it bit-for-bit:

    1. cluster: the `n_cells` corpus vectors with the smallest
       md5(id) become centroids (deterministic, DuckDB-replayable —
       same seeding as `kmeans_step`); every vector joins its argmax
       quantized-dot centroid (ties -> lowest cell).
    2. within-cell candidate pairs: self-equi-join on `cell`,
       id_a < id_b — never a corpus cross product.
    3. threshold: cos(a,b) >= tau tested as
       dot >= 0 AND tau_den^2 * dot^2 >= tau_num^2 * |a|^2 * |b|^2,
       all int64 (see SEM_QUANT bound note).
    4. drop rule: a vector is dropped iff some qualifying neighbor
       with a smaller id shares its cell; output is every corpus row
       with (cell, kept).

    Scale: the collected seed set is fixed-size (n_cells rows — the
    same bounded driver collect as `ivf_topk_int`) and is inlined into
    the assignment expression, so assignment is a PURE PROJECTION on
    one corpus scan: an array of n_cells integer dots, argmax via
    array_position(dots, array_max(dots)) whose first-match rule IS
    the ties->lowest-cell contract.  No cross join, no per-vector
    window — the only shuffle in the whole pipeline keys on `cell`.
    On a real corpus n_cells grows ~N/target_cell_size so cells stay
    bounded and the quadratic within-cell join stays linear overall —
    the same contract as the paper's k-means sharding.  AQE splits any
    hot cell.  The float production variant is `semantic_dedup`."""
    check_tau_bounds(tau_num, tau_den)
    cvecs = _md5_seed_centroids(embeddings, id_col, vec_col, n_cells)
    # assigned feeds BOTH pair sides and the final keep-list join;
    # materialize it once (same contract as dedup.py's signature
    # checkpoint — on a cluster this is a persist/exchange reuse).
    # LAZY: the checkpoint materializes inside the caller's first
    # action instead of as its own driver-blocking job — same
    # compute-once guarantee, one fewer sequential job (the r6 bench
    # showed the SemDeDup family dominated by fixed job launches)
    assigned = _assign_int(embeddings, id_col, vec_col, cvecs).localCheckpoint(
        eager=False
    )
    return _semdedup_verdict(assigned, id_col, tau_num, tau_den)


def _semdedup_verdict(
    assigned: DataFrame, id_col: str, tau_num: int, tau_den: int
) -> DataFrame:
    """The SemDeDup pair/threshold/keep-list tail over an `assigned`
    frame (__vid, __v, cell, __n2) — shared by the flat and
    hierarchical assignment fronts; the frame feeds both self-join
    sides and the final keep-list join, so callers pass it lazily
    checkpointed."""
    a = assigned.select(
        F.col("__vid").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("cell"),
        F.col("__n2").alias("__na2"),
    )
    b = assigned.select(
        F.col("__vid").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("cell"),
        F.col("__n2").alias("__nb2"),
    )
    d = dot_long(F.col("__va"), F.col("__vb"))
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("__d", d)
        .filter(
            (F.col("__d") >= 0)
            & (
                F.lit(tau_den * tau_den) * F.col("__d") * F.col("__d")
                >= F.lit(tau_num * tau_num) * F.col("__na2") * F.col("__nb2")
            )
        )
        .select(F.col("id_b").alias("__dropped"))
        .distinct()
    )
    return (
        assigned.join(
            dropped, assigned["__vid"] == dropped["__dropped"], "left"
        )
        .select(
            F.col("__vid").alias(id_col),
            "cell",
            F.col("__dropped").isNull().alias("kept"),
        )
    )


def hier_assign_int(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_coarse: int | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Two-level (coarse -> fine) cell assignment, the FAISS
    IVF-of-IVF shape every billion-vector deployment uses for the
    quantizer itself.  Flat argmax is O(rows x n_cells); with the
    footer-derived geometry (n_cells ~ rows / CELL_TARGET) that term
    is corpus-QUADRATIC — the r9 50x probe shows it surfacing
    (emb_cluster_sample 54.8x wall at 50x rows).  Grouping the cell
    seeds under g = ceil(sqrt(n_cells)) coarse seeds (their md5-order
    prefix) cuts assignment to O(rows x (g + n_cells/g)) ~
    O(rows x sqrt(n_cells)) = corpus^1.5 overall.

    Assignment becomes APPROXIMATE — a row's globally-best cell can
    sit in another coarse group, exactly the accepted IVF
    approximation — but every step is the same deterministic integer
    argmax (ties -> lowest index), so a SQL oracle replays the
    two-level rule bit-for-bit.  Steps: (1) driver-side cell->group
    argmax over the c x g seed dots (bounded by the seed-collect
    budget); (2) per row, argmax over the NON-EMPTY coarse groups
    (literal projection, g dots); (3) fine argmax over that group's
    cells, ALSO a pure projection — a CASE over the active groups
    whose selected branch evaluates one per-group literal cell
    matrix (avg n_cells/g dots; only the row's own branch runs).
    The whole assignment is scan -> project with ZERO exchanges —
    the broadcast-join + per-row-window variant this replaced paid
    ~1 s of fixed shuffle/launch overhead at sf0.1 and an O(rows)
    window sort at scale.  Output is the SemDeDup `assigned` frame
    (__vid, __v, cell, __n2) in SEM_QUANT space."""
    import math

    cvecs = _md5_seed_centroids(embeddings, id_col, vec_col, n_cells)
    # g derives from the REQUESTED n_cells (the _derived_cells formula
    # the oracle's _sql_coarse scalar subquery replays), not from
    # len(cvecs): a corpus with fewer rows than n_cells collects fewer
    # seeds, and ceil(sqrt(len)) would diverge from the SQL side
    # (ADVICE r9).  coarse = cvecs[:g] clamps identically on both
    # sides when seeds run short.
    g = int(n_coarse) if n_coarse else math.ceil(math.sqrt(n_cells))
    coarse = cvecs[:g]
    cell_grp: list[int] = []
    for cv in cvecs:
        best_i, best_d = 0, None
        for i, gv in enumerate(coarse):
            d = sum(x * y for x, y in zip(cv, gv))
            if best_d is None or d > best_d:
                best_i, best_d = i, d
        cell_grp.append(best_i)
    # rows must only ever route to a group that HAS member cells —
    # an empty group would silently drop its rows from the output
    active = sorted(set(cell_grp))
    quant = _spread(
        embeddings.select(
            F.col(id_col).alias("__vid"),
            quantize_at(F.col(vec_col), SEM_QUANT).alias("__v"),
            *[F.col(c).alias(f"__x{i}") for i, c in enumerate(extra_cols)],
        )
    )
    # fine-level layout: cells sorted by (group, cell id) so each
    # group's cells are one CONTIGUOUS run of a single literal matrix;
    # per row the coarse argmax yields the run's (offset, length) and
    # F.slice carves the row's own candidate block out of the Literal
    # (no per-row array construction, no branch chain — a 29-branch
    # CASE variant measured 34% slower at the 50x probe).  Within-run
    # cells stay id-ordered, so array_position's first-match IS the
    # ties->lowest-cell rule.
    order = sorted(range(len(cvecs)), key=lambda j: (cell_grp[j], j))
    mat_all = _lit_matrix([cvecs[j] for j in order], "bigint")
    ids_all = F.expr(
        "cast(array(" + ",".join(str(j) for j in order) + ") as array<int>)"
    )
    offs, lens = [], []
    pos = 1
    for gi in active:
        m = sum(1 for j in range(len(cvecs)) if cell_grp[j] == gi)
        offs.append(pos)
        lens.append(m)
        pos += m
    offs_arr = F.expr(
        "cast(array(" + ",".join(map(str, offs)) + ") as array<int>)"
    )
    lens_arr = F.expr(
        "cast(array(" + ",".join(map(str, lens)) + ") as array<int>)"
    )
    coarse_dots = F.transform(
        _lit_matrix([coarse[i] for i in active], "bigint"),
        lambda cv: dot_long(F.col("__v"), cv),
    )
    gpos = _bind1(
        coarse_dots, lambda d: F.array_position(d, F.array_max(d)).cast("int")
    )

    def _pick(p):
        # p, off, ln re-evaluate inside the inner lambda but are
        # element_at on literals — cheap; the DOT array is what must
        # bind once
        off = F.element_at(offs_arr, p)
        ln = F.element_at(lens_arr, p)
        gdots = F.transform(
            F.slice(mat_all, off, ln), lambda cv: dot_long(F.col("__v"), cv)
        )
        return _bind1(
            gdots,
            lambda d: F.element_at(
                F.slice(ids_all, off, ln),
                F.array_position(d, F.array_max(d)).cast("int"),
            ),
        )

    return quant.select(
        "__vid",
        "__v",
        _bind1(gpos, _pick).alias("cell"),
        dot_long(F.col("__v"), F.col("__v")).alias("__n2"),
        *[f"__x{i}" for i in range(len(extra_cols))],
    )


def embedding_curation_pipeline(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_coarse: int | None = None,
    tau_num: int = 3,
    tau_den: int = 10,
    per_cell: int = 8,
) -> DataFrame:
    """The composed embedding-curation flow a real run ships, in ONE
    plan: hier cell assignment -> SemDeDup keep-list (drop within-cell
    near-dups) -> cluster-balanced per-cell quota over the SURVIVORS.
    The single checkpointed assignment frame feeds the pair join, the
    keep-list join, and the quota window — dedup and balancing share
    one assignment pass instead of re-running it per stage (the
    embedding twin of doc_curation_pipeline's gate+quota fusion).
    Output: (id, cell, rk) for the kept, quota-selected rows."""
    check_tau_bounds(tau_num, tau_den)
    assigned = hier_assign_int(
        embeddings,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        n_coarse=n_coarse,
    ).localCheckpoint(eager=False)
    verdict = _semdedup_verdict(assigned, id_col, tau_num, tau_den)
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
    )
    return (
        verdict.filter(F.col("kept"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= per_cell)
        .select(id_col, "cell", F.col("rk").cast("int").alias("rk"))
    )


def cluster_balanced_sample_hier(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_coarse: int | None = None,
    per_cell: int = 8,
) -> DataFrame:
    """Cluster-balanced sampling over the TWO-LEVEL `hier_assign_int`
    cells — the 100 TB form of `cluster_balanced_sample`: with
    footer-derived geometry the flat argmax is rows x cells =
    corpus^2/CELL_TARGET (the r9 50x probe measured 33.6x wall for
    50x rows on the flat entry), while the coarse->fine front holds
    assignment at corpus^1.5 and the quota window is unchanged.
    Cells are equally valid strata under either assignment (md5-seeded
    either way); the two-level rule is deterministic integer argmax,
    so the oracle replays it bit-for-bit.  Output: (id, cell, rk)."""
    assigned = hier_assign_int(
        embeddings,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        n_coarse=n_coarse,
    )
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("__vid").cast("string")).asc(), F.col("__vid").asc()
    )
    return (
        assigned.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= per_cell)
        .select(
            F.col("__vid").alias(id_col),
            "cell",
            F.col("rk").cast("int").alias("rk"),
        )
    )


def semantic_dedup_hier_int(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_coarse: int | None = None,
    tau_num: int = 3,
    tau_den: int = 10,
) -> DataFrame:
    """SemDeDup with the two-level `hier_assign_int` front — the
    100 TB configuration: pair mass stays linear by the cell geometry
    AND assignment stays sub-quadratic by the coarse level.  Same
    exact-integer threshold/keep-list tail as `semantic_dedup_int`
    (`_semdedup_verdict`); same output contract (id, cell, kept)."""
    check_tau_bounds(tau_num, tau_den)
    assigned = hier_assign_int(
        embeddings,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        n_coarse=n_coarse,
    ).localCheckpoint(eager=False)
    return _semdedup_verdict(assigned, id_col, tau_num, tau_den)


def semantic_dedup(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    target_cell_size: int | None = None,
    tau: float = 0.3,
) -> DataFrame:
    """Production SemDeDup: same pipeline as `semantic_dedup_int` but
    xxhash64 seeding and a float cosine threshold — the form you'd run
    when embeddings are unit-normalized floats and exact replay
    doesn't matter.  Float accumulation order makes near-tie pairs
    engine-dependent, so this variant is rows-only checked; its
    oracle-exact twin is `semantic_dedup_int` (catalog
    `emb_semdedup_int`).

    Assignment is the same pure-projection argmax as the int variant
    (a cross-join + per-vector window argmax costs ~2x at sf0.1):
    each collected seed centroid is PRE-DIVIDED by its norm
    driver-side, so argmax over the inlined scaled-dot array equals
    argmax over cosine (the query norm |v| is a common positive
    factor across cells and cannot change the argmax).

    THE SCALE KNOB: pass `target_cell_size` and n_cells grows with
    the corpus (ceil(N/target)), keeping cell sizes — and therefore
    the within-cell quadratic pair term — CONSTANT as data grows (the
    SCALE.md 50x probe shows what happens when n_cells stays pinned).
    Above `_LITERAL_CELL_LIMIT` cells the assignment switches from
    inlined literals (analysis cost grows with k) to a broadcast
    centroid join + per-vector window argmax: identical arithmetic,
    identical ties rule (sim desc, cell asc), O(N*k) either way.  For
    k beyond broadcast scale, compose with `random_project_int` /
    hierarchical assignment upstream."""
    if target_cell_size is not None:
        n_rows = embeddings.count()
        n_cells = max(n_cells, -(-n_rows // target_cell_size))
    seeds = (
        embeddings.select(
            F.col(vec_col).alias("__sv"),
            F.xxhash64(F.col(id_col)).alias("__h"),
            F.col(id_col).alias("__sid"),
        )
        .orderBy("__h", "__sid")
        .limit(n_cells)
        .collect()
    )
    scaled = []
    for r in seeds:
        cv = [float(x) for x in r["__sv"]]
        norm = sum(x * x for x in cv) ** 0.5 or 1.0
        scaled.append([x / norm for x in cv])
    # the checkpointed assignment also carries the UNIT-NORMALIZED
    # vector (__nv, one HOF pass per ROW): the within-cell pair test
    # then needs a single dot per PAIR instead of a full cosine's
    # dot + |a| + |b| (three interpreted HOF aggregates) — at the r6
    # profile the pair filter was the dominant interpreted cost
    norm = F.aggregate(
        F.transform(F.col(vec_col), lambda x: x.cast("double") * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nv = F.transform(
        F.col(vec_col),
        lambda x: x.cast("double") / F.greatest(F.sqrt(F.col("__n")), F.lit(1e-30)),
    )
    if n_cells <= _LITERAL_CELL_LIMIT:
        v = F.col(vec_col)
        dots = F.transform(
            _lit_matrix(scaled, "double"),
            lambda cv: F.aggregate(
                F.zip_with(v, cv, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        assigned = (
            embeddings.select(F.col(id_col), F.col(vec_col))
            .withColumn("__dots", dots)
            .withColumn(
                "cell",
                (
                    F.array_position(F.col("__dots"), F.array_max(F.col("__dots")))
                    - 1
                ).cast("int"),
            )
            .withColumn("__n", norm)
            .select(id_col, vec_col, "cell", nv.alias("__nv"))
        )
    else:
        spark = embeddings.sparkSession
        cdf = spark.createDataFrame(
            [(i, cv) for i, cv in enumerate(scaled)], "cell int, cvec array<double>"
        )
        sim = F.aggregate(
            F.zip_with(
                F.col(vec_col), F.col("cvec"), lambda x, y: x.cast("double") * y
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        wbest = Window.partitionBy(id_col).orderBy(F.desc("__sim"), F.asc("cell"))
        assigned = (
            embeddings.select(id_col, vec_col)
            .join(F.broadcast(cdf))
            .select(id_col, vec_col, "cell", sim.alias("__sim"))
            .withColumn("__rk", F.row_number().over(wbest))
            .filter(F.col("__rk") == 1)
            .withColumn("__n", norm)
            .select(id_col, vec_col, "cell", nv.alias("__nv"))
        )
    assigned = assigned.localCheckpoint(eager=False)
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col("__nv").alias("__na"), "cell"
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col("__nv").alias("__nb"), "cell"
    )
    pair_dot = F.aggregate(
        F.zip_with(F.col("__na"), F.col("__nb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(pair_dot >= tau)
        .select(F.col("id_b").alias("__dropped"))
        .distinct()
    )
    return (
        assigned.join(
            dropped, assigned[id_col] == dropped["__dropped"], "left"
        )
        .select(
            F.col(id_col),
            "cell",
            F.col("__dropped").isNull().alias("kept"),
        )
    )


def _floordiv_mean(sum_q: int, n: int) -> int:
    """Exact floor(sum/n) in pure integer arithmetic — the centroid
    update rule.  Expressed identically in the SQL oracle as
    (s - ((s % n + n) % n)) / n: both Spark and DuckDB `%` truncate
    toward zero, so the composite is engine-agnostic floor division
    (a double `round(s/n)` would be HALF_UP in Spark vs banker's /
    away-from-zero in DuckDB on .5 boundaries)."""
    return (sum_q - ((sum_q % n + n) % n)) // n


def _recenter(
    prev: list[list[int]], stats: Iterable[tuple[int, int, int, int]]
) -> list[list[int]]:
    """The Lloyd centroid update: each (key, pos, sum_q, n) stats row
    overwrites position pos of centroid key with the exact floor mean
    (`_floordiv_mean`); a key with no rows (an empty cell) carries its
    previous centroid over."""
    out = [list(cv) for cv in prev]
    for key, pos, sum_q, n in stats:
        out[key][pos] = _floordiv_mean(sum_q, n)
    return out


def lloyd_centroids(
    quant: DataFrame, n_cells: int, iters: int
) -> list[list[int]]:
    """Driver-held Lloyd loop over a PRE-QUANTIZED (__vid, __v) frame,
    scale-agnostic (works in QUANT_SCALE space for `kmeans_train` and
    SEM_QUANT space for the streaming gate's centroid refresh).
    Seeds are the n_cells vectors with the smallest md5(id) (clamped
    to the corpus size); each of the iters-1 updates is one corpus
    scan (argmax assignment as a projection) + a k*dim bounded stats
    collect + the exact floor-division mean; empty cells carry their
    previous centroid.  Returns the FINAL centroid list — the caller
    decides what to compute with the last assignment."""
    centroids = _md5_seeds(quant, n_cells)
    for _ in range(iters - 1):
        stats = (
            _argmax_cells(quant, centroids)
            .select("cell", F.posexplode("__v").alias("pos0", "qv"))
            .groupBy("cell", "pos0")
            .agg(F.sum("qv").alias("sum_q"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        centroids = _recenter(centroids, stats)
    return centroids


def kmeans_train(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iters: int = 2,
) -> DataFrame:
    """Full k-means training loop: `iters` assignment passes with a
    floor-division integer centroid update between them (`kmeans_step`
    is iters=1), deterministic enough that a SQL oracle replays the
    whole 2-iteration run bit-for-bit.

    Per iteration: (1) assignment is a PURE PROJECTION — the current
    centroids (k x dim ints, driver-held like the seed collect) are
    inlined as literals and the argmax is array_position over the dot
    array, ties to the lowest cell (first match); (2) re-centering is
    one posexplode + hash aggregation whose output is k*dim rows — a
    bounded driver collect (config-sized, never data-sized).  Empty
    cells carry their previous centroid.  The corpus is scanned once
    per iteration and NOTHING data-sized is ever shuffled or
    collected: the only shuffle is the k*dim partial-sum exchange,
    map-side combined.  Output: the final assignment's per-(cell,
    pos) sum/count/mean in quantized space.

    Assignment routes through the shared `_argmax_cells`, so beyond
    `_LITERAL_CELL_LIMIT` cells it switches automatically from inlined
    literals to the broadcast-centroid-join argmax — identical
    arithmetic and ties rule, flat per-k analysis cost — making the
    k=1000s regime a real SemDeDup/IVF training run needs practical
    (tests/test_similarity.py pins both paths bit-identical)."""
    # _quant_corpus_frame = _spread + lazy checkpoint: the iters+1
    # assignment scans reuse ONE materialized quantized frame, and the
    # O(rows x cells x dim) literal-HOF argmax runs on all cores even
    # off a one-row-group source (the r9 50x probe caught the
    # un-spread form serializing the 800-cell assignment onto a
    # single task — the same trap _assign_int hit in r8)
    quant = _quant_corpus_frame(embeddings, id_col, vec_col)
    # the shared driver-held loop (also the streaming gate's refresh
    # path); seeding, assignment and the floor-div update are the ones
    # the SQL oracle replays
    centroids = lloyd_centroids(quant, n_cells, iters)
    return (
        _argmax_cells(quant, centroids)
        .select("cell", F.posexplode("__v").alias("pos0", "qv"))
        .groupBy("cell", (F.col("pos0") + 1).alias("pos"))
        .agg(F.sum("qv").alias("sum_q"), F.count(F.lit(1)).alias("n"))
        .select(
            "cell",
            F.col("pos").cast("long").alias("pos"),
            "sum_q",
            "n",
            round_frac(F.col("sum_q"), F.col("n"), 4).alias("mean_q"),
        )
    )


def semantic_contamination_int(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    tau_num: int = 3,
    tau_den: int = 10,
) -> DataFrame:
    """Semantic decontamination: flag every corpus vector that is
    embedding-near a BENCHMARK vector (cos >= tau in the exact integer
    arithmetic of the SemDeDup family) — the semantic complement of
    the n-gram `benchmark_contamination` scan, catching paraphrased or
    re-tokenized test-set leakage that surface n-grams miss.

    Cells are seeded from the benchmark side (md5 order, stable as the
    corpus grows); both sides assign by the shared pure-projection
    argmax; each corpus vector meets only its cell's benchmark
    vectors.  Exactly `semantic_dedup_incremental_int` with the roles
    reversed and no admission semantics: corpus rows are never
    compared with each other.  Output: every corpus row with
    (cell, contaminated)."""
    res = semantic_dedup_incremental_int(
        benchmark,
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        tau_num=tau_num,
        tau_den=tau_den,
    )
    return res.select(
        F.col(id_col), "cell", (~F.col("kept")).alias("contaminated")
    )


def semantic_dedup_incremental_int(
    index: DataFrame,
    batch: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    tau_num: int = 3,
    tau_den: int = 10,
) -> DataFrame:
    """Incremental SemDeDup: admit a NEW BATCH against an existing
    corpus index without re-pairing the corpus with itself — the
    semantic analog of dedup.py's incremental_near_duplicates.

    Centroids are seeded from the INDEX side (md5 order, so the cell
    geometry is stable as batches arrive); both sides are assigned by
    the same pure-projection argmax; each batch vector joins only its
    cell's index vectors and is dropped iff some index neighbor passes
    the integer cosine threshold.  Cost scales with |batch| plus the
    index mass of the touched cells — never with the whole corpus
    pair count.  Output: every batch row with (cell, kept).

    Both sides are assigned in ONE fused pass (union with a side tag,
    split after) so the argmax plan is built and analyzed once, and
    the single LAZY checkpoint materializes inside the caller's
    action — the r6 profile showed this operator's 6.95 s at sf0.1
    was almost entirely sequential job-launch overhead on 2k rows."""
    check_tau_bounds(tau_num, tau_den)
    cvecs = _md5_seed_centroids(index, id_col, vec_col, n_cells)
    tagged = index.select(
        F.col(id_col), F.col(vec_col), F.lit(False).alias("__bat")
    ).unionByName(
        batch.select(F.col(id_col), F.col(vec_col), F.lit(True).alias("__bat"))
    )
    assigned = _assign_int(
        tagged, id_col, vec_col, cvecs, extra_cols=("__bat",)
    ).localCheckpoint(eager=False)
    idx = assigned.filter(~F.col("__bat")).select(
        F.col("__vid").alias("__iid"),
        F.col("__v").alias("__vi"),
        "cell",
        F.col("__n2").alias("__ni2"),
    )
    bat = assigned.filter(F.col("__bat")).select("__vid", "__v", "cell", "__n2")
    d = dot_long(F.col("__v"), F.col("__vi"))
    dropped = (
        bat.join(idx, "cell")
        .withColumn("__d", d)
        .filter(
            (F.col("__d") >= 0)
            & (
                F.lit(tau_den * tau_den) * F.col("__d") * F.col("__d")
                >= F.lit(tau_num * tau_num) * F.col("__n2") * F.col("__ni2")
            )
        )
        .select(F.col("__vid").alias("__dropped"))
        .distinct()
    )
    return bat.join(
        dropped, bat["__vid"] == dropped["__dropped"], "left"
    ).select(
        F.col("__vid").alias(id_col),
        "cell",
        F.col("__dropped").isNull().alias("kept"),
    )


# --- Product quantization (PQ) ANN ----------------------------------------
#
# The production-scale path for billion-vector similarity search
# (Jegou et al., "Product Quantization for Nearest Neighbor Search",
# TPAMI 2011 — the FAISS IVF-PQ family): each dim-D vector is split
# into m subspaces of D/m components; each subspace gets its own
# k_codes-entry codebook (per-subspace Lloyd); a vector is stored as m
# small code ids (m bytes at k_codes<=256 — 32x smaller than float32
# D=64), and query scoring is Asymmetric Distance Computation (ADC):
# per query ONE m*k_codes lookup table of subspace dots, then each
# corpus vector's approximate dot is m table lookups + adds, never a
# D-wide multiply.  At 100 TB this is what makes exhaustive rescoring
# feasible: the scan reads m-byte codes instead of 256-byte vectors
# (I/O bound drops ~30x) and the LUT lives in registers.
#
# Everything below is EXACT integer arithmetic over quantized vectors
# (QUANT_SCALE space, same as the ANN int twins) so a DuckDB oracle
# replays train -> encode -> search bit-for-bit: md5-ordered seeding,
# argmax of (2*x.c - |c|^2) assignment (== argmin L2, ties -> lowest
# code), floor-division centroid updates, integer LUT scoring.


def _bind1(col: Column, f) -> Column:
    """Evaluate `col` ONCE and pass it to `f` as a bound higher-order
    lambda variable (the single-element-array transform idiom).
    Catalyst's interpreted lambda eval has no common-subexpression
    elimination — every syntactic occurrence of a subtree re-runs —
    and CollapseProject inlines single-use aliases straight through a
    Generate, re-evaluating them once per EXPLODED row.  Any non-cheap
    array expression that is consumed twice, or consumed above an
    explode, must be bound with this instead of repeated (measured on
    the PQ stats pass: 49 s -> ~1 s at sf0.1)."""
    return F.element_at(F.transform(F.array(col), f), 1)


def _pq_codes_expr(
    vec: Column, codebooks: list[list[list[int]]]
) -> Column:
    """codes array<int> (length m) for a quantized vector: per
    subspace j the argmax over its k codes of 2*sub.c - |c|^2 — a
    PURE PROJECTION over two literals (the flat (m*k) x d_sub code
    matrix and the m*k norm array), first-match array_position giving
    the ties->lowest-code contract.  The per-subspace slice and score
    array are `_bind1`-bound so each is evaluated exactly once per
    row (the naive spelling re-ran the k dot products for both
    array_position and array_max, and re-sliced per code)."""
    m, k = len(codebooks), len(codebooks[0])
    d_sub = len(codebooks[0][0])
    flat = [cv for book in codebooks for cv in book]
    codes_lit = _lit_matrix(flat, "bigint")
    norms = [sum(x * x for x in cv) for cv in flat]
    norms_lit = F.expr(
        "cast(array(" + ",".join(str(n) for n in norms) + ") as array<bigint>)"
    )
    def best(j: Column) -> Column:
        def scores(sub: Column) -> Column:
            return F.transform(
                F.sequence(j * k, j * k + (k - 1)),
                lambda i: F.lit(2)
                * dot_long(sub, F.element_at(codes_lit, i + 1))
                - F.element_at(norms_lit, i + 1),
            )
        return _bind1(
            F.slice(vec, j * d_sub + 1, d_sub),
            lambda sub: _bind1(
                scores(sub),
                lambda s: (
                    F.array_position(s, F.array_max(s)) - 1
                ).cast("int"),
            ),
        )
    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), best)


def pq_train(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
) -> list[list[list[int]]]:
    """Train per-subspace codebooks: codebooks[j][c] is the d_sub-int
    code vector c of subspace j.  Seeds are the k_codes corpus vectors
    with the smallest md5(id), sliced per subspace (deterministic,
    oracle-replayable — the SemDeDup/IVF seeding rule); each update
    round is ONE fused corpus pass (encode projection + posexplode +
    (j, code, pos) hash agg) whose collect is m*k*d_sub ints — bounded
    by config, never by data.  Empty codes carry their previous
    vector; means are exact floor division (`_floordiv_mean`)."""
    quant = _spread(
        embeddings.select(
            F.col(id_col).alias("__vid"), quantize(F.col(vec_col)).alias("__v")
        )
    )
    return _pq_train_quant(quant, dim=dim, m=m, k_codes=k_codes, iters=iters)


def _pq_train_quant(
    quant: DataFrame,
    *,
    dim: int,
    m: int,
    k_codes: int,
    iters: int,
) -> list[list[list[int]]]:
    """pq_train over a PRE-QUANTIZED (__vid, __v: array<long>) frame —
    the shared core, also fed residual vectors by `ivfpq_topk_int`."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    d_sub = dim // m
    seeds = _md5_seeds(quant, k_codes)
    codebooks = [
        [sv[j * d_sub : (j + 1) * d_sub] for sv in seeds] for j in range(m)
    ]
    k = len(seeds)
    for _ in range(iters - 1):
        # (j, code, p, qv) tuples per vector, built as ONE bound array
        # so the assignment expression runs once per row — exploding
        # codes alongside posexplode(__v) lets CollapseProject inline
        # the assignment into the post-Generate projection, re-running
        # it per exploded element (dim x per row; measured 49 s vs
        # ~1 s at sf0.1)
        pairs = _bind1(
            _pq_codes_expr(F.col("__v"), codebooks),
            lambda codes: F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda pos: F.struct(
                    F.floor(pos / d_sub).cast("int").alias("__j"),
                    F.element_at(
                        codes, F.floor(pos / d_sub).cast("int") + 1
                    ).alias("__code"),
                    (pos % d_sub).cast("int").alias("__p"),
                    F.element_at(F.col("__v"), (pos + 1).cast("int")).alias(
                        "qv"
                    ),
                ),
            ),
        )
        stats = (
            quant.select(F.explode(pairs).alias("__e"))
            .groupBy(
                F.col("__e.__j").alias("__j"),
                F.col("__e.__code").alias("__code"),
                F.col("__e.__p").alias("__p"),
            )
            .agg(
                F.sum("__e.qv").alias("sum_q"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        flat = _recenter(
            [cv for book in codebooks for cv in book],
            ((j * k + c, p, s, n) for j, c, p, s, n in stats),
        )
        codebooks = [flat[j * k : (j + 1) * k] for j in range(m)]
    return codebooks


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[int]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): the m-byte compressed corpus — one scan,
    pure projection, no shuffle at all."""
    return embeddings.select(
        F.col(id_col),
        _pq_codes_expr(quantize(F.col(vec_col)), codebooks).alias("codes"),
    )


def _quant_corpus_frame(
    embeddings: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Shared (__vid, __v) quantized-corpus frame for the multi-pass
    PQ pipelines (train stats + encode + search consume it), lazily
    checkpointed so the corpus is scanned and quantized ONCE.  When
    the source scan has fewer splits than the cluster's parallelism
    (the local tiny-parquet case: one row group -> one task, which
    serializes the interpreted-HOF assignment) it is repartitioned
    first; a well-partitioned 100 TB scan skips the shuffle."""
    return _spread(
        embeddings.select(
            F.col(id_col).alias("__vid"),
            quantize(F.col(vec_col)).alias("__v"),
        )
    ).localCheckpoint(eager=False)


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism ONLY when
    the plan currently has fewer partitions (the local one-row-group
    parquet case that would serialize per-row lambda eval on a single
    task); a well-partitioned large scan passes through untouched."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def pq_topk_int(
    embeddings: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]] | None = None,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    k: int = 5,
) -> DataFrame:
    """ADC top-k: every query builds its m*k_codes integer LUT
    (lut[j*k+c] = q_sub_j . codebook[j][c], one projection over the
    code-matrix literal), the tiny query frame is broadcast, and each
    corpus row's approximate dot is m element_at lookups summed — the
    corpus side never touches a D-wide multiply or the raw vectors
    (it reads the m-int code column only).  Ranking: score desc, id
    asc, self excluded — the ANN-twin output contract
    (query_id, neighbor_id, rank, score_q).

    With `codebooks=None` the full pipeline runs internally over ONE
    shared quantized-corpus checkpoint (`_quant_corpus_frame`): the
    train stats pass, the encode, and the search all reuse the same
    materialized frame instead of re-scanning/re-quantizing the
    parquet per phase — the same internalized shape `ivfpq_topk_int`
    uses.  Passing pre-trained codebooks keeps the old train/encode/
    search split for callers that manage their own index lifecycle."""
    if codebooks is None:
        quant = _quant_corpus_frame(embeddings, id_col, vec_col)
        codebooks = _pq_train_quant(
            quant, dim=dim, m=m, k_codes=k_codes, iters=iters
        )
        coded = quant.select(
            F.col("__vid").alias(id_col),
            _pq_codes_expr(F.col("__v"), codebooks).alias("codes"),
        )
    else:
        coded = pq_encode(
            embeddings, codebooks, id_col=id_col, vec_col=vec_col
        )
    mm, kc = len(codebooks), len(codebooks[0])
    d_sub = len(codebooks[0][0])
    flat = [cv for book in codebooks for cv in book]
    codes_lit = _lit_matrix(flat, "bigint")
    qv = quantize(F.col(vec_col))
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(mm * kc - 1)),
        lambda i: dot_long(
            F.slice(
                qv, F.floor(i / kc).cast("int") * d_sub + 1, d_sub
            ),
            F.element_at(codes_lit, i + 1),
        ),
    )
    qs = queries.select(
        F.col(id_col).alias("query_id"), lut.alias("__lut")
    )
    scored = (
        coded.select(F.col(id_col).alias("neighbor_id"), "codes")
        .join(F.broadcast(qs))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(
                    F.col("codes"),
                    F.sequence(F.lit(0), F.lit(mm - 1)),
                    lambda c, j: F.element_at(
                        F.col("__lut"), j * kc + c + 1
                    ),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("score_q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score_q")
    )


def ivfpq_topk_int(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    k: int = 5,
) -> DataFrame:
    """The full FAISS IVF-PQ shape, integer-exact: a coarse quantizer
    (md5-seeded cells, argmax-dot assignment — `ivf_topk_int`'s index)
    prunes the search to `nprobe` cells per query, and within them the
    RESIDUAL vectors (x - centroid[cell]) are product-quantized, so a
    candidate's approximate dot decomposes exactly as

        q . x^  =  q . centroid[cell]  +  sum_j q_sub_j . codebook[j][code_j]

    — one precomputed dot per probed cell plus m LUT lookups per
    candidate.  The scan reads (cell, m codes) per vector: at 100 TB
    the index is ~32x smaller than the float column AND only
    nprobe/n_cells of it is touched per query.  Residual codebooks are
    trained by the shared fused Lloyd (`_pq_train_quant`) over ONE
    residual frame; every step (seeding, assignment ties, floor-div
    updates, LUT sums) is the deterministic integer arithmetic the
    DuckDB oracle replays bit-for-bit."""
    proj = embeddings.select(
        F.col(id_col).alias("__vid"), quantize(F.col(vec_col)).alias("__v")
    )
    cvecs = _md5_seeds(proj, n_cells)
    cells_lit = _lit_matrix(cvecs, "bigint")
    quant = _spread(proj)
    # coarse assignment + residuals, materialized ONCE (train pass +
    # encode pass both consume it)
    assigned = (
        _argmax_cells(quant, cvecs)
        .select(
            "__vid",
            "cell",
            F.zip_with(
                F.col("__v"),
                F.element_at(cells_lit, F.col("cell") + 1),
                lambda x, c: x - c,
            ).alias("__r"),
        )
        .localCheckpoint(eager=False)
    )
    codebooks = _pq_train_quant(
        assigned.select("__vid", F.col("__r").alias("__v")),
        dim=dim,
        m=m,
        k_codes=k_codes,
        iters=iters,
    )
    coded = assigned.select(
        F.col("__vid").alias("neighbor_id"),
        "cell",
        _pq_codes_expr(F.col("__r"), codebooks).alias("__codes"),
    )
    # query side: probe the nprobe best cells by q.centroid (the same
    # dots double as the per-cell score term), and build the m*k LUT.
    # k comes from the TRAINED books: a corpus smaller than k_codes
    # clamps the seed collect, so indexing by the parameter would walk
    # off the flat literal (caught by the lossless-limit test).
    d_sub = dim // m
    kc = len(codebooks[0])
    flat = [cv for book in codebooks for cv in book]
    codes_lit = _lit_matrix(flat, "bigint")
    qv = quantize(F.col(vec_col))
    cell_dots = F.transform(
        cells_lit, lambda cv: dot_long(qv, cv)
    )
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m * kc - 1)),
        lambda i: dot_long(
            F.slice(qv, F.floor(i / kc).cast("int") * d_sub + 1, d_sub),
            F.element_at(codes_lit, i + 1),
        ),
    )
    probes = (
        queries.select(
            F.col(id_col).alias("query_id"),
            cell_dots.alias("__cd"),
            lut.alias("__lut"),
        )
        .select(
            "query_id",
            "__lut",
            F.posexplode("__cd").alias("cell0", "__cdot"),
        )
        .select(
            "query_id", "__lut", F.col("cell0").alias("cell"), "__cdot"
        )
    )
    wprobe = Window.partitionBy("query_id").orderBy(
        F.col("__cdot").desc(), F.col("cell").asc()
    )
    probes = (
        probes.withColumn("__rk", F.row_number().over(wprobe))
        .filter(F.col("__rk") <= nprobe)
        .drop("__rk")
    )
    cand = coded.join(F.broadcast(probes), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            (
                F.col("__cdot")
                + F.aggregate(
                    F.zip_with(
                        F.col("__codes"),
                        F.sequence(F.lit(0), F.lit(m - 1)),
                        lambda c, j: F.element_at(
                            F.col("__lut"), j * kc + c + 1
                        ),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
            ).alias("score_q"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score_q")
    )


def sq8_topk_int(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
) -> DataFrame:
    """Scalar-quantization ANN (the FAISS SQ8 index): per-dimension
    corpus [min, max] ranges map each quantized component to a byte
    code ``floor((x - min) * 255 / span)``, an 8x-smaller column than
    the float vector — at 100 TB the search scan reads bytes, which is
    the whole point of SQ (the FLOP count per pair stays dim-wide,
    unlike PQ's m lookups; the win is I/O, not arithmetic).

    Integer-exact end to end: ranking uses the 255-scaled
    reconstruction dot

        score255 = 255 * (q . min)  +  sum_i q_i * code_i * span_i

    (the common /255 factor of the dequantized ``min_i + code_i *
    span_i / 255`` is dropped — monotone, so the ranking is the true
    reconstruction ranking), all in int64 with no overflow at the
    engine's |x|<2, dim<=64 quantization contract.  The range stats
    are ONE map-side-combined aggregate (2*dim cells — never a
    data-sized collect); corpus quantize+encode+search share a single
    checkpointed frame.  Ties: score desc, id asc; self excluded."""
    quant = _quant_corpus_frame(embeddings, id_col, vec_col)
    v = F.col("__v")
    # per-dim ranges via posexplode + groupBy(pos): the partial agg
    # collapses each partition to dim rows map-side, and the plan
    # stays tiny — a flat 2*dim-expression aggregate spends seconds
    # in analysis/codegen for the same answer
    stats_rows = (
        quant.select(F.posexplode(v).alias("__p", "__x"))
        .groupBy("__p")
        .agg(F.min("__x").alias("mn"), F.max("__x").alias("mx"))
        .collect()
    )
    mins, spans = [0] * dim, [1] * dim
    for r in stats_rows:
        mins[r["__p"]] = int(r["mn"])
        spans[r["__p"]] = max(1, int(r["mx"]) - int(r["mn"]))
    mins_lit = F.expr(
        "cast(array(" + ",".join(str(x) for x in mins) + ") as array<bigint>)"
    )
    spans_lit = F.expr(
        "cast(array(" + ",".join(str(x) for x in spans) + ") as array<bigint>)"
    )
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.floor(
            (F.element_at(v, (i + 1).cast("int")) - F.element_at(mins_lit, i + 1))
            * 255
            / F.element_at(spans_lit, i + 1)
        ),
    )
    coded = quant.select(
        F.col("__vid").alias("neighbor_id"), codes.alias("__codes")
    )
    qv = quantize(F.col(vec_col))
    qs = queries.select(
        F.col(id_col).alias("query_id"),
        (F.lit(255) * dot_long(qv, mins_lit)).alias("__qbase"),
        F.zip_with(qv, spans_lit, lambda a, b: a * b).alias("__qspan"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        coded.join(F.broadcast(qs))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.col("__qbase") + dot_long(F.col("__codes"), F.col("__qspan"))).alias(
                "score_q"
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score_q")
    )


def cluster_balanced_sample(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    per_cell: int = 8,
) -> DataFrame:
    """Cluster-balanced curation sampling (the DataComp / SemDeDup
    companion step): assign every vector to its nearest md5-seeded
    cell (the shared integer argmax — ties to the lowest cell), then
    keep a fixed per-cell quota chosen by md5(id) — a deterministic
    uniform-within-cluster draw that preserves the corpus's semantic
    spread instead of letting dense clusters dominate the sample.

    Plan shape at scale: one bounded seed collect (n_cells rows), a
    cell-keyed window whose per-cell top-k is WindowGroupLimit-pushed
    map-side, and nothing driver-bound growing with data.  Output:
    (id, cell, rk) for the kept rows."""
    proj = embeddings.select(
        F.col(id_col).alias("__vid"), quantize(F.col(vec_col)).alias("__v")
    )
    cvecs = _md5_seeds(proj, n_cells)
    # _spread: the argmax HOF must run on all cores even off a
    # one-row-group source (r9 probe find, same class as kmeans_train)
    quant = _spread(proj)
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("__vid").cast("string")).asc(), F.col("__vid").asc()
    )
    return (
        _argmax_cells(quant, cvecs)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= per_cell)
        .select(
            F.col("__vid").alias(id_col), "cell", F.col("rk").cast("int").alias("rk")
        )
    )


def _corpus_cell_assigned(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Shared corpus-side cell-assignment front for the corpus x
    corpus graph operators (k-NN graph, hubness, hard-negative
    mining).  Since r10 this is the TWO-LEVEL `hier_assign_int` front
    (SEM_QUANT space): with footer-derived geometry the flat argmax
    these entries shipped on is rows x cells = corpus^2/CELL_TARGET —
    the r9 50x probes measured it (knn_graph 25.3x, hard_negatives
    35.3x for 50x rows) and the SCALE.md policy's "pair mass
    dominates" claim for this family was re-derived and found wrong
    (at 50x: assignment ~80M dots vs ~12.5M within-cell pair dots).
    The hier front holds assignment at corpus^1.5, the same fix that
    took emb_cluster_sample 33.6x -> 7.8x.  ONE lazy checkpoint
    because the frame feeds both self-join sides.  Output:
    (__vid, __v [SEM_QUANT], cell, __n2, *extra_cols as __x0..)."""
    return hier_assign_int(
        embeddings,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        extra_cols=extra_cols,
    ).localCheckpoint(eager=False)


def knn_graph_int(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    k: int = 3,
) -> DataFrame:
    """Corpus k-NN GRAPH (every vector's top-k neighbors, the input
    structure for graph-based curation — SemDeDup-style cluster
    pruning, connected-component semantic dedup, diversity scoring):
    md5-seeded cells bound the candidate set (neighbors are found
    within a vector's own cell — the IVF approximation), within-cell
    pairs score by the exact integer dot, and a per-source window
    keeps the top k (dot desc, id asc).

    This differs from the broadcast-query ANN searches: BOTH sides
    are the corpus, so the join must be a cell equi-join (never a
    broadcast), and the quadratic term is bounded per cell by the
    n_cells geometry knob — exactly the SemDeDup cell discipline.
    r10: assignment (and therefore scoring) runs in SEM_QUANT space
    on the two-level hier front — see `_corpus_cell_assigned`.
    Output: (src_id, dst_id, rank, dot_q)."""
    assigned = _corpus_cell_assigned(embeddings, id_col, vec_col, n_cells)
    a = assigned.select(
        F.col("__vid").alias("src_id"), F.col("__v").alias("__va"), "cell"
    )
    b = assigned.select(
        F.col("__vid").alias("dst_id"), F.col("__v").alias("__vb"), "cell"
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("dot_q").desc(), F.col("dst_id").asc()
    )
    return (
        a.join(b, "cell")
        .filter(F.col("src_id") != F.col("dst_id"))
        .select(
            "src_id",
            "dst_id",
            dot_long(F.col("__va"), F.col("__vb")).alias("dot_q"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "dst_id", F.col("rank").cast("int").alias("rank"), "dot_q")
    )


def hard_negatives_int(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_cells: int = 16,
    k: int = 3,
) -> DataFrame:
    """Contrastive hard-negative mining: for every vector, the top-k
    most-similar vectors carrying a DIFFERENT label — the standard
    pair-construction step for contrastive/embedding training (the
    "hard" negatives are the near neighbors the model currently
    confuses).  Same discipline as :func:`knn_graph_int` — candidate
    mass bounded by the md5-seeded cell geometry, exact integer dots,
    per-source WindowGroupLimit top-k — plus the label-inequality
    predicate pushed into the within-cell equi-join (it prunes
    candidates BEFORE the dot arithmetic, not after the window).
    Corpus x corpus: the join keys on `cell`, never a broadcast.
    r10: assignment/scoring in SEM_QUANT space on the two-level hier
    front — see `_corpus_cell_assigned`.
    Output: (src_id, neg_id, src_label, neg_label, rank, dot_q)."""
    assigned = _corpus_cell_assigned(
        embeddings, id_col, vec_col, n_cells, extra_cols=(label_col,)
    )
    a = assigned.select(
        F.col("__vid").alias("src_id"),
        F.col("__v").alias("__va"),
        F.col("__x0").alias("src_label"),
        "cell",
    )
    b = assigned.select(
        F.col("__vid").alias("neg_id"),
        F.col("__v").alias("__vb"),
        F.col("__x0").alias("neg_label"),
        "cell",
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("dot_q").desc(), F.col("neg_id").asc()
    )
    return (
        a.join(b, "cell")
        .filter(F.col("src_label") != F.col("neg_label"))
        .select(
            "src_id",
            "neg_id",
            "src_label",
            "neg_label",
            dot_long(F.col("__va"), F.col("__vb")).alias("dot_q"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "src_id",
            "neg_id",
            "src_label",
            "neg_label",
            F.col("rank").cast("int").alias("rank"),
            "dot_q",
        )
    )


#: Hard cap on the |Q| x k_short driver collect in pq_rerank_topk_int:
#: past this the IN-literal/broadcast path is the wrong plan (use a
#: shuffle join on the shortlist instead) and py4j literal cost alone
#: would dominate — fail loudly rather than stall.
_RERANK_MAX_SHORTLIST = 100_000


def pq_rerank_topk_int(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
    k_short: int = 25,
    k: int = 5,
) -> DataFrame:
    """Two-stage retrieval, the FAISS ``IndexRefine`` shape: stage 1
    is the compressed ADC scan (`pq_topk_int`) kept deliberately WIDE
    (`k_short` candidates per query), stage 2 re-ranks only those
    candidates by the EXACT integer dot against the original vectors
    and keeps the top `k`.  This is the production recipe for
    recovering exact-ranking quality from a 32x-compressed index: the
    corpus-wide scan touches the m-byte code column only, and the
    exact 64-wide arithmetic runs on |Q| x k_short rows.

    The candidate fetch is a collected-id pushdown: the shortlist is
    |Q| x k_short ids (a config-bounded driver collect, same budget
    class as the codebook seed collects), so the refine scan arrives
    at the parquet source as an IN-filter — at 100 TB the second scan
    row-group-prunes to the candidates instead of reading the corpus.
    Output (query_id, neighbor_id, rank, score_x), score_x the exact
    integer dot."""
    short = pq_topk_int(
        embeddings,
        queries,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        m=m,
        k_codes=k_codes,
        iters=iters,
        k=k_short,
    ).select("query_id", "neighbor_id")
    pairs = short.collect()
    # guard the driver-side shortlist (ADVICE r9): the IN literal and
    # the broadcast frame both grow as |Q| x k_short — fail loudly if
    # a caller points this at an unbounded query table instead of
    # letting py4j literal construction stall the driver.
    if len(pairs) > _RERANK_MAX_SHORTLIST:
        raise ValueError(
            f"pq_rerank shortlist {len(pairs)} rows > "
            f"{_RERANK_MAX_SHORTLIST}: |Q| x k_short must stay a "
            "driver-bounded set (split the query batch)"
        )
    spark = embeddings.sparkSession
    if not pairs:
        # empty query set / empty corpus: isin() with zero arguments
        # is an error, so return the empty result with the exact
        # output schema instead of building the IN filter
        qt = dict(queries.dtypes)[id_col]
        nt = dict(embeddings.dtypes)[id_col]
        return spark.createDataFrame(
            [], f"query_id {qt}, neighbor_id {nt}, rank int, score_x long"
        )
    cand_ids = sorted({r["neighbor_id"] for r in pairs})
    short_df = F.broadcast(spark.createDataFrame(pairs, short.schema))
    fetched = embeddings.filter(F.col(id_col).isin(cand_ids)).select(
        F.col(id_col).alias("neighbor_id"),
        quantize(F.col(vec_col)).alias("__nv"),
    )
    qs = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            quantize(F.col(vec_col)).alias("__qv"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_x").desc(), F.col("neighbor_id").asc()
    )
    return (
        fetched.join(short_df, "neighbor_id")
        .join(qs, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            dot_long(F.col("__qv"), F.col("__nv")).alias("score_x"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            "score_x",
        )
    )


def prototypicality_int(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
) -> DataFrame:
    """Per-vector prototypicality, the SSL-prototypes / SemDeDup
    curation signal (Sorscher et al. 2022 data-pruning; Abbas et al.
    2023 keeps LOW-prototypicality examples): each vector's exact
    integer dot to its own cell seed says how typical it is of its
    semantic cluster, and the within-cell rank (dot desc, id asc)
    turns that into a keep/drop knob — drop the top q% for
    redundancy pruning, the bottom q% for outlier scrubbing.

    Same scale discipline as the rest of the cell family: md5-seeded
    cells (bounded collect), `_argmax_cells` assignment (literal
    projection up to the cell limit, broadcast join + window beyond),
    and a per-cell window whose partition mass is bounded by the
    footer-derived geometry — no corpus-wide sort anywhere.
    Output (vec_id, cell, proto_q, cell_rank)."""
    proj = embeddings.select(
        F.col(id_col).alias("__vid"), quantize(F.col(vec_col)).alias("__v")
    )
    cvecs = _md5_seeds(proj, n_cells)
    cells_lit = _lit_matrix(cvecs, "bigint")
    quant = _spread(proj)
    w = Window.partitionBy("cell").orderBy(
        F.col("proto_q").desc(), F.col("__vid").asc()
    )
    return (
        _argmax_cells(quant, cvecs)
        .select(
            "__vid",
            "cell",
            dot_long(
                F.col("__v"), F.element_at(cells_lit, F.col("cell") + 1)
            ).alias("proto_q"),
        )
        .withColumn("cell_rank", F.row_number().over(w).cast("int"))
        .select(
            F.col("__vid").alias(id_col),
            F.col("cell").cast("int").alias("cell"),
            "proto_q",
            "cell_rank",
        )
    )


def ann_recall_at_k(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    method: str = "ivf",
    approx: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of an approximate index against the exact brute-force
    top-k —
    the self-measurement step every real ANN deployment runs before
    trusting an approximate index (FAISS's standard eval loop; the
    reference has no ANN surface, so this cites only the public
    recipe).  Both arms are the integer-exact pipelines
    (:func:`ivf_topk_int`, :func:`brute_force_topk`), so ties at the
    rank-k boundary resolve identically on both engines and a SQL
    oracle replays the WHOLE evaluation — index build, exact search,
    and the recall arithmetic — bit-for-bit.  ``method`` selects the
    approximate arm: "ivf" (:func:`ivf_topk_int`, n_cells/nprobe) or
    "lsh" (:func:`ann_topk_int`, the 4-plane 4-table family); any
    other index family (PQ, SQ8, IVF-PQ, ...) passes its own top-k
    frame via ``approx`` — anything emitting the ANN output contract
    (query_id, neighbor_id, ...) composes.

    Output: (query_id, hits, recall_scaled) where hits = |ivf top-k ∩
    exact top-k| and recall_scaled = round_half_up(10^4 * hits / k) as
    BIGINT (plain-int64 rounding — no float, no DECIMAL in the hash
    surface).  Queries whose IVF probes miss every true neighbor
    zero-fill rather than drop.

    Scale: the exact arm is the broadcast-queries corpus scan of
    `brute_force_topk` — recall evaluation is by design run on a
    bounded query SAMPLE (the queries frame), so the quadratic term is
    |queries| x corpus, one scan per arm, never corpus x corpus.  The
    intersection join keys on (query_id, neighbor_id) — k-bounded rows
    per query on both sides."""
    from metrics_service_spark.functions.stable import round_frac_bigint

    if approx is not None:
        pass
    elif method == "lsh":
        approx = ann_topk_int(
            embeddings,
            queries,
            id_col=id_col,
            vec_col=vec_col,
            k=k,
            planes=4,
            tables=4,
        )
    else:
        approx = ivf_topk_int(
            embeddings,
            queries,
            id_col=id_col,
            vec_col=vec_col,
            k=k,
            n_cells=n_cells,
            nprobe=nprobe,
        )
    approx = approx.select("query_id", "neighbor_id")
    exact = brute_force_topk(
        embeddings, queries, id_col=id_col, vec_col=vec_col, k=k
    ).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    qids = queries.select(F.col(id_col).alias("query_id")).distinct()
    return (
        qids.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
        )
        .select(
            "query_id",
            "hits",
            round_frac_bigint(F.col("hits"), F.lit(k), 4).alias(
                "recall_scaled"
            ),
        )
    )
