"""Deduplication operators for large-scale text corpora.

Beyond the reference surface (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup, SimHash, and blocked n-gram Jaccard — the
operators a 100 TB training-data pipeline runs over a `documents`
table.

Scale design:
- Exact dedup is one hash-groupBy (map-side combine collapses most of
  the table before the shuffle).
- MinHash: signatures are computed with ONE explode + groupBy
  (xxhash64 is JVM-side, whole-stage codegen; no Python UDFs), then LSH
  banding turns the quadratic all-pairs problem into an equi-join on
  (band_idx, band_hash) — the only shuffle is on band keys.  Huge
  buckets (degenerate bands) are capped to keep the within-bucket
  pair-explosion bounded, which is the standard guard at scale.
- Blocked Jaccard: exact verification only ever runs on candidate
  pairs, never the cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metrics_service_spark.functions.stable import (
    round_frac,
    round_frac_bigint,
    round_frac_int,
)

# Shared LSH band geometry: b=8, r=2 over 16 minhashes puts the s-curve
# midpoint (1/b)^(1/r) ~= 0.35 below the default 0.5 Jaccard threshold
# (high recall at the threshold; extra candidates are discarded exactly
# by the verify stage).  Every minhash-family entry point defaults to
# these so the xxhash64 bench path and its md5 oracle twins always run
# the same geometry.
DEFAULT_BANDS = 8
DEFAULT_ROWS_PER_BAND = 2

#: rows bound of the linkage driver finish (`_linkage_local_finish`):
#: a (block_cols…, __id, __pfx) projection of at most this many rows
#: crosses to the driver in one bounded Arrow collect.
LINKAGE_LOCAL_ROWS = 250_000
#: candidate-pair bound of the linkage driver finish: the pairs both
#: arms hand Spark to score.  Measured on the linkage entries from
#: 500 to 250,000 documents (4 cores, SCALE.md), the driver finish was
#: faster at every size, by 1.05-5x, up to 1.39M candidates; both bounds
#: sit at that largest measured size, where the driver's Python side
#: peaks near 0.7 GB.
LINKAGE_LOCAL_PAIRS = 1_400_000


def shingle_array(tokens: Column, n: int) -> Column:
    """Distinct n-word shingles from a token array (1-based slice)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(tokens) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter.cast("double") / union.cast("double")


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content hash: one row per distinct
    content with the canonical (minimum) id and the duplicate count."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    block_cols: list[str] | None = None,
    threshold: float = 0.5,
    max_cell: int | None = None,
) -> DataFrame:
    """Blocked all-pairs exact n-gram Jaccard: candidate pairs share the
    blocking key (cheap equi-join); Jaccard computed only on candidates.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    Blocking is (block_cols x length-bucket): jaccard(A,B) >= t implies
    min(|A|,|B|)/max(|A|,|B|) >= t, so a qualifying pair's
    floor(log2(shingle count)) buckets differ by at most
    k = ceil(log2(1/t)) — the bucket becomes an extra EQUI-join key
    (probe side exploded to its +-k neighborhood), making per-block
    candidate counts near-linear instead of quadratic in the block-col
    population, and it is LOSSLESS: the output (and therefore the
    oracle) is identical to unbucketed blocking.  The bucket is the
    integer-exact length(bin(len)) = floor(log2(len)) + 1 — no float
    log whose rounding could disagree across engines.

    Block-size bound: within one (block_cols, bucket) cell all docs are
    within 2x shingle count of each other, but a natural corpus
    CONCENTRATES in a few (block, length) cells, leaving the within-cell
    all-pairs O(m^2) in the worst case.  `max_cell` caps that tail:
    docs whose own (block_cols, bucket) cell exceeds `max_cell` members
    are EXCLUDED (cells collected and logged — the cell list is tiny,
    |blocks| x ~60 buckets).  With the cap, every doc meets at most
    (2k+1) x max_cell candidates, so candidate pairs are <= N(2k+1)
    max_cell — linear in N.  The drop rule is a deterministic function
    of the input (cell population), so an oracle mirrors it exactly.
    Overfull cells are precisely where the exact baseline should defer
    to MinHash-LSH, which remains the sub-quadratic scale path.
    """
    import logging
    import math

    block_cols = block_cols or []
    k = max(1, math.ceil(math.log2(1.0 / threshold) - 1e-9))
    # repartition the RAW rows first so the (interpreted, per-token)
    # shingle transform runs above the exchange on all cores — below
    # it, a single-file input computes every shingle in ONE scan task;
    # this ordering alone was worth ~2s at sf0.1.  The id partitioning
    # also drives probe-side parallelism for the join.
    base = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__text"),
    ).repartition(df.sparkSession.sparkContext.defaultParallelism, "__id")
    sh = base.select(
        *[F.col(c) for c in block_cols],
        "__id",
        shingle_array(F.split(F.col("__text"), " "), n).alias("__sh"),
    ).withColumn("__len", F.size("__sh"))
    # materialize the shingle arrays ONCE (lazy checkpoint): both
    # self-join sides read the same computed rows instead of each
    # re-running the shingle transform over the corpus — the measured
    # dominant cost (the candidate join itself is milliseconds;
    # shingling 5k docs twice was ~4s of the 4.7s wall)
    sh = sh.localCheckpoint(eager=False)
    bkt = F.length(F.bin(F.col("__len")))
    if max_cell is not None:
        sh = sh.withColumn("__own_bkt", bkt)
        cell_keys = [*block_cols, "__own_bkt"]
        cells = sh.groupBy(*cell_keys).agg(F.count(F.lit(1)).alias("__cell_n"))
        dropped = cells.filter(F.col("__cell_n") > max_cell).collect()
        if dropped:
            logging.getLogger(__name__).warning(
                "ngram_jaccard_pairs: excluding %d overfull cells "
                "(max_cell=%d): %s",
                len(dropped),
                max_cell,
                [tuple(r) for r in dropped[:20]],
            )
        kept_cells = cells.filter(F.col("__cell_n") <= max_cell).drop("__cell_n")
        sh = sh.join(F.broadcast(kept_cells), cell_keys).drop("__own_bkt")
    a = sh.withColumn("__bkt", bkt).alias("a")
    # build side carries its own bucket once; probe side explodes to the
    # +-k neighborhood, so each qualifying pair collides on exactly one
    # bucket value (the build doc's own) — found once, no dedup needed
    b = (
        sh.withColumn("__bkt0", bkt)
        .withColumn(
            "__bkt",
            F.explode(F.sequence(F.col("__bkt0") - k, F.col("__bkt0") + k)),
        )
        .drop("__bkt0")
        .alias("b")
    )
    cond = (F.col("a.__id") < F.col("b.__id")) & (F.col("a.__bkt") == F.col("b.__bkt"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # length-ratio prune: jaccard(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
    # pairs violating the ratio bound can never pass the threshold —
    # evaluated before the (expensive) set intersection.
    cond = cond & (
        F.least(F.col("a.__len"), F.col("b.__len")).cast("double")
        / F.greatest(F.col("a.__len"), F.col("b.__len")).cast("double")
        >= F.lit(threshold)
    )
    # threshold test INSIDE the join condition, appended LAST and in a
    # one-intersection algebraic form: i/(|A|+|B|-i) >= t  <=>
    # i*(1+t) >= t*(|A|+|B|).  Two reasons, both measured on the
    # executed plan: (1) a post-join `.filter(jaccard >= t)` gets
    # pushed into the join condition ANDed FIRST, so the expensive
    # array_intersect ran before the cheap id</ratio prunes could
    # short-circuit it (And.eval is left-to-right); (2) the division
    # form computes array_intersect TWICE (numerator + denominator —
    # the non-codegen join condition path has no subexpression reuse).
    # Equivalence with the oracle's division test is exact: shingle
    # counts are <= ~10^4, so the nearest rational gap around t
    # (~1/(2*len^2) > 2^-30) dwarfs the few-ulp float error of either
    # form — they decide every pair identically.  6.1s -> 1.5s warm at
    # sf0.1 (lang-blocked, 5k docs).
    inter = F.size(
        F.array_intersect(F.col("a.__sh"), F.col("b.__sh"))
    ).cast("double")
    cond = cond & (
        inter * F.lit(1.0 + threshold)
        >= F.lit(threshold) * (F.col("a.__len") + F.col("b.__len")).cast("double")
    )
    return a.join(b, cond).select(
        F.col("a.__id").alias("id_a"),
        F.col("b.__id").alias("id_b"),
        jaccard(F.col("a.__sh"), F.col("b.__sh")).alias("jaccard"),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signature per document as a PURE PROJECTION — no
    explode, no groupBy, no shuffle.

    Construction (Broder's, with 2-universal permutations): hash each
    token once, hash each n-token shingle once as an xxhash64 over the
    token-hash slice (never materializing shingle strings), truncate
    to 30 bits, then h_i = min over shingles of (a_i*x + b_i) mod p
    (p = 2^31-1) via array_min(transform(...)) — one hash per shingle
    total instead of num_hashes, and the whole signature computes
    row-local inside whole-stage codegen.  30-bit truncation keeps
    a_i*x + b_i < 2^61 (no ANSI overflow); its collision rate
    (~|shingles|/2^30 per doc) is negligible for the min statistic.
    Duplicate shingles don't move a min, so no distinct pass either.

    Measured at sf0.1: 0.24s vs 0.64s for the explode+groupBy string
    form; at 10^9 docs this stage is scan-bound with zero shuffle.
    """
    import random

    rng = random.Random(42)
    p = (1 << 31) - 1
    mask = (1 << 30) - 1
    coeffs = [
        (rng.randrange(1, p), rng.randrange(0, p)) for _ in range(num_hashes)
    ]
    # single-file parquet = 1 input partition; spread the RAW rows and
    # run the split AND the (CPU-heavy) per-row hashing above the
    # exchange on all cores (r17: the split used to sit below it)
    spread = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "__id")
        .select("__id", F.split(F.col("__text"), " ").alias("__toks"))
    )
    tok_hashes = F.transform(F.col("__toks"), lambda t: F.xxhash64(t))
    shingle_hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("__toks") - (n - 1), F.lit(1))),
        lambda i: F.xxhash64(F.slice(tok_hashes, i, n)).bitwiseAND(F.lit(mask)),
    )
    sigs = [
        F.array_min(
            F.transform(
                F.col("__sh"), lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(p)
            )
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return spread.select("__id", shingle_hashes.alias("__sh")).select(
        "__id", *sigs
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    bands: int = DEFAULT_BANDS,
    rows_per_band: int = DEFAULT_ROWS_PER_BAND,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH banding: equal band-hash in any band -> candidate pair.

    Buckets larger than max_bucket are dropped (degenerate-band guard:
    at scale a single hot bucket would otherwise explode quadratically).
    Returns distinct (id_a, id_b), id_a < id_b.

    The signature frame is referenced three times downstream (bucket
    counts + both self-join sides); it is materialized once
    (localCheckpoint) so the upstream shingle/minhash aggregation runs
    exactly once — signatures are 1 row x num_hashes longs per doc,
    tiny relative to the text they summarize.
    """
    signatures = signatures.localCheckpoint(eager=False)
    # all band hashes in ONE pass over the signatures (a union of
    # per-band selects would recompute the minhash aggregation once per
    # band — `bands`x the work)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.xxhash64(
                    *[
                        F.col(f"h{bi * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ]
                ).alias("bh"),
            )
            for bi in range(bands)
        ]
    )
    all_bands = signatures.select(
        F.col("__id"), F.explode(band_structs).alias("__tb")
    ).select(
        "__id", F.col("__tb.band").alias("__band"), F.col("__tb.bh").alias("__bh")
    )
    counts = all_bands.groupBy("__band", "__bh").agg(F.count(F.lit(1)).alias("__n"))
    pruned = all_bands.join(
        counts.filter(F.col("__n") <= max_bucket), ["__band", "__bh"], "inner"
    )
    a = pruned.alias("a")
    b = pruned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bh") == F.col("b.__bh"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup detection with exact Jaccard
    verification of candidates (so the output has no false positives;
    recall is governed by the band geometry).

    Default geometry b=8, r=2: the LSH s-curve midpoint is
    (1/b)^(1/r) ~= 0.35, BELOW the default 0.5 threshold, so true
    pairs near the threshold are found with high probability
    (P(candidate | J=0.55) ~= 94%, vs ~31% under b=4, r=4 whose
    midpoint 0.71 sits above the threshold).  The extra false
    candidates r=2 admits are discarded exactly by the Jaccard verify
    stage, which costs per-candidate, not per-corpus."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, n=n, num_hashes=num_hashes)
    # materialize the candidate pairs (tiny: O(near-dups)) so the ids
    # can prune the verify stage — without this the band join would
    # recompute once per downstream reference
    cands = lsh_candidate_pairs(
        sigs, bands=bands, rows_per_band=rows_per_band
    ).localCheckpoint(eager=False)
    ids = (
        cands.select(F.col("id_a").alias("__vid"))
        .union(cands.select(F.col("id_b").alias("__vid")))
        .distinct()
    )
    toks = F.split(F.col(text_col), " ")
    # shingle arrays ONLY for docs that appear in a candidate pair —
    # the corpus-wide third tokenization pass this stage used to pay is
    # gone; at 10^9 docs the verify cost now tracks the near-dup count,
    # not corpus size.  No broadcast hint: ids is usually tiny (AQE
    # will broadcast it) but degenerate corpora can make it large, and
    # the semi-join must then survive as a shuffle join.
    sh = (
        df.join(ids, F.col(id_col) == F.col("__vid"), "left_semi")
        .select(F.col(id_col).alias("__vid"), shingle_array(toks, n).alias("__sh"))
    )
    return (
        cands.join(sh.withColumnRenamed("__vid", "id_a").withColumnRenamed("__sh", "__sha"), "id_a")
        .join(sh.withColumnRenamed("__vid", "id_b").withColumnRenamed("__sh", "__shb"), "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("__sha"), F.col("__shb")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document from token hashes.

    bit_b(doc) = sign of sum over tokens of (+1 if bit b of
    xxhash64(token) else -1); assembled JVM-side with 64 conditional
    sums — no Python, one explode + one groupBy.

    r17: the raw (id, text) rows are repartitioned by id BEFORE the
    split/explode/partial-agg, so the per-token work runs above the
    exchange on all cores even off a one-row-group parquet scan; the
    final groupBy(id) reuses that partitioning (same exchange count —
    the shuffle moves raw text instead of exploded token rows)."""
    spread = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    ).repartition(df.sparkSession.sparkContext.defaultParallelism, "__id")
    exploded = spread.select(
        "__id", F.explode(F.split(F.col("__text"), " ")).alias("__tok")
    ).withColumn("__h", F.xxhash64(F.col("__tok")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    sums = exploded.groupBy("__id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for b in range(64):
        # set bit b when the signed vote is non-negative.  Bit 63:
        # shiftleft(1, 63) is Long.MIN_VALUE; adding it to the bits
        # 0-62 sum (< 2^63) just sets the sign bit in two's complement
        # — no overflow, and the hash is genuinely 64-bit
        bit = F.when(F.col(f"b{b}") >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = sim + F.shiftleft(bit, b)
    out = sums.withColumn("simhash", sim)
    return out.select(F.col("__id").alias(id_col), "simhash")


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: hamming(simhash_a, simhash_b) <= k.

    Pigeonhole blocking: split the 64-bit hash into `bands` equal
    slices; any pair within hamming distance < bands must agree on at
    least one slice, so candidates come from an equi-join on
    (band, slice) — no all-pairs — and are verified exactly with
    bit_count(xor).  Standard large-scale simhash dedup
    (bands > max_hamming guarantees full recall).
    Returns (id_a, id_b, hamming), id_a < id_b.
    """
    if bands <= max_hamming:
        raise ValueError("need bands > max_hamming for full recall")
    width = 64 // bands
    sigs = simhash(df, id_col, text_col)
    slices = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("slice"),
            )
            for b in range(bands)
        ]
    )
    melted = sigs.select(
        F.col(id_col).alias("__id"), F.col("simhash"), F.explode(slices).alias("__s")
    ).select("__id", "simhash", F.col("__s.band").alias("__band"), F.col("__s.slice").alias("__slice"))
    a = melted.select(
        F.col("__id").alias("id_a"), F.col("simhash").alias("__ha"), "__band", "__slice"
    )
    b = melted.select(
        F.col("__id").alias("id_b"), F.col("simhash").alias("__hb"), "__band", "__slice"
    )
    ham = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    return (
        a.join(b, ["__band", "__slice"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def shingle_frame(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 3
) -> DataFrame:
    """(__id, __sh shingle-array) with the raw rows repartitioned FIRST
    so the split/shingle transform runs above the exchange on all cores
    (one-row-group fixture parquet would otherwise tokenize the corpus
    in a single task) and the exchange moves raw text, not the
    ~n-fold-larger shingle arrays.  The single tokenize pass shared by
    the md5 MinHash family (r17, guide §2.4: signature build and exact
    verify both consume it — previously each stage re-tokenized)."""
    return (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "__id")
        .select(
            "__id",
            shingle_array(F.split(F.col("__text"), " "), n).alias("__sh"),
        )
    )


def minhash_signatures_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int | None = None,
    num_hashes: int = 16,
    shingles: DataFrame | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """MinHash signature with a SQL-replicable hash family: h_i =
    lexicographic min over shingles of md5(i || ':' || shingle) hex.

    Same statistics as the xxhash64 family (a uniform hash is a
    uniform hash; the min of i.i.d. hex strings is a valid min-hash),
    but md5 exists verbatim in DuckDB, so the WHOLE pipeline — shingle,
    signature, banding, candidate join, exact verify — can be replayed
    by an oracle bit-for-bit.  The xxhash64 variant stays the bench
    default (xxhash is cheaper); this twin is the correctness witness.

    r17 (guide §1.2 per-task work): a shingle's num_hashes md5 digests
    are a pure function of the shingle, so they are computed once per
    DISTINCT shingle (the vocab-sized frame) instead of once per
    (doc, shingle) occurrence — measured 9.6x shingle repetition
    across documents at sf0.1, and the ratio grows with corpus size.
    The per-doc min over the joined digest columns is the identical
    lexicographic min (min over a multiset ignores duplicates), so
    signatures are bit-identical.

    ``shingles``: optional pre-tokenized `shingle_frame`-shaped input
    (__id, __sh [, carry...]) — callers that ALSO need the shingle
    arrays (exact-Jaccard verify) derive the frame once, lazily
    localCheckpoint it, and pass it here so the corpus is tokenized a
    single time (r17, guide §2.4).  ``df``/``id_col``/``text_col`` are
    ignored when it is given, and ``n`` must then be left unset (it
    defaults to 3 on the inline path).  ``carry`` names extra columns of
    ``shingles`` to thread through the aggregation (each must be
    functionally dependent on __id, e.g. a side tag over id-disjoint
    inputs — the groups are then identical to grouping by __id alone).
    Exploding the SAME arrays the old inline path built yields the
    identical (__id, __shingle) multiset, so signatures stay
    bit-identical either way.
    """
    if shingles is None:
        shingles = shingle_frame(df, id_col, text_col, n=3 if n is None else n)
        carry = ()
    elif n is not None:
        # ADVICE r17: df/id_col/text_col/n are ignored on the
        # pre-tokenized path — a caller passing any n with `shingles`
        # may have tokenized with a DIFFERENT n and would get
        # bit-different signatures silently; fail loud
        raise ValueError(
            "minhash_signatures_md5: `n` is ignored when `shingles` is "
            "given (the frame is already tokenized) — drop the n "
            "argument, or tokenize via shingle_frame(..., n=n) yourself"
        )
    exploded = shingles.select(
        "__id", *carry, F.explode(F.col("__sh")).alias("__shingle")
    )
    vocab = exploded.select("__shingle").distinct().select(
        "__shingle",
        *[
            F.md5(F.concat(F.lit(f"{i}:"), F.col("__shingle"))).alias(f"__m{i}")
            for i in range(num_hashes)
        ],
    )
    aggs = [F.min(F.col(f"__m{i}")).alias(f"h{i}") for i in range(num_hashes)]
    return (
        exploded.join(vocab, "__shingle").groupBy("__id", *carry).agg(*aggs)
    )


def md5_band_rows(
    sigs: DataFrame, id_out: str, *, num_hashes: int, bands: int
) -> DataFrame:
    """Melt an md5 signature frame (__id, h0..h{n-1}) to one row per
    (id, band, band-hash): bh = md5 of the '|'-joined hashes of the
    band's slice.  THE single definition of the md5 banding scheme —
    shared by the batch and incremental near-dup variants and mirrored
    verbatim by catalog/llm.py's oracle SQL builder."""
    rows_per_band = num_hashes // bands
    structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"h{bi * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bh"),
            )
            for bi in range(bands)
        ]
    )
    return sigs.select(
        F.col("__id").alias(id_out), F.explode(structs).alias("__tb")
    ).select(id_out, F.col("__tb.band").alias("__band"), F.col("__tb.bh").alias("__bh"))


def minhash_near_duplicates_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup with the md5 hash family of
    `minhash_signatures_md5` — identical shape to
    `minhash_near_duplicates` (band equi-join, hot-bucket guard, exact
    Jaccard verify), fully oracle-replicable.

    r17 (guide §2.4): ONE `shingle_frame` tokenize pass feeds both the
    signature build and the exact-Jaccard verify (each used to
    re-tokenize the corpus); signatures are bit-identical (same
    exploded multiset) and the verify reads the same arrays it always
    did."""
    sh = shingle_frame(df, id_col, text_col, n=n).localCheckpoint(eager=False)
    sigs = minhash_signatures_md5(
        df, id_col, text_col, num_hashes=num_hashes, shingles=sh
    ).localCheckpoint(eager=False)
    all_bands = md5_band_rows(sigs, "__id", num_hashes=num_hashes, bands=bands)
    counts = all_bands.groupBy("__band", "__bh").agg(F.count(F.lit(1)).alias("__n"))
    pruned = all_bands.join(
        counts.filter(F.col("__n") <= max_bucket), ["__band", "__bh"], "inner"
    )
    a = pruned.alias("a")
    b = pruned.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bh") == F.col("b.__bh"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    # the exact verify reads the SAME checkpointed shingle frame the
    # signatures were built from — zero extra tokenize passes
    return (
        cands.join(
            sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "__sha"),
            "id_a",
        )
        .join(
            sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "__shb"),
            "id_b",
        )
        .select("id_a", "id_b", jaccard(F.col("__sha"), F.col("__shb")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_md5_slices(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bands: int = 4,
    width: int = 16,
) -> DataFrame:
    """Oracle-replicable SimHash twin of `simhash`: instead of
    extracting bit b from one 64-bit token hash (xxhash64 — absent in
    DuckDB), each bit gets an INDEPENDENT md5-derived vote: bit b of a
    token votes +1 iff the first hex char of md5(b ':' token) is >=
    '8' (exactly half the nibble space — a uniform ±1, so the
    estimator statistics match the classic construction).  The
    bands*width bits are emitted as `bands` unsigned width-bit slices
    (slice0..slice{bands-1}) — the banding unit for pigeonhole
    blocking — so every sum stays far from int64 overflow on either
    engine.  md5-per-bit makes it ~64x the hash work of the xxhash64
    variant, which therefore stays the scale default.

    r17 (guide §1.2 per-task work, §2.3 aggregate-before-shuffle): a
    token's nbits votes are a pure function of the token, so they are
    computed once per DISTINCT token instead of once per occurrence —
    (doc, tok) term frequencies aggregate first (map-side combined),
    the vocab-sized distinct-token frame gets the nbits md5 columns,
    and each document's vote b is the exact integer sum of
    tf * vote_b(token).  Natural-language corpora repeat tokens
    heavily, so the md5 work drops by the corpus/vocab occurrence
    ratio while every sum stays order-independent integer math —
    bit-identical output.  (A raw-rows-first repartition was tried and
    measured WORSE here: it removes the tf exchange that acts as the
    reuse point between the vocab and join consumers, and the planner
    then broadcast the tf side instead of the vocab — the un-spread
    shape's map-side partial agg keeps the serial explode cheap.)"""
    toks = F.split(F.col(text_col), " ")
    exploded = df.select(F.col(id_col).alias("__id"), F.explode(toks).alias("__tok"))
    nbits = bands * width
    tf = exploded.groupBy("__id", "__tok").agg(F.count(F.lit(1)).alias("__c"))
    tok_votes = tf.select("__tok").distinct().select(
        "__tok",
        *[
            F.when(
                F.substring(
                    F.md5(F.concat(F.lit(f"{b}:"), F.col("__tok"))), 1, 1
                )
                >= "8",
                F.lit(1).cast("long"),
            )
            .otherwise(F.lit(-1).cast("long"))
            .alias(f"__v{b}")
            for b in range(nbits)
        ],
    )
    votes = (
        tf.join(tok_votes, "__tok")
        .groupBy("__id")
        .agg(
            *[
                F.sum(F.col(f"__v{b}") * F.col("__c")).alias(f"b{b}")
                for b in range(nbits)
            ]
        )
    )
    slices = []
    for s in range(bands):
        sl = F.lit(0).cast("long")
        for j in range(width):
            bit = F.when(F.col(f"b{s * width + j}") >= 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            sl = sl + F.shiftleft(bit, j)
        slices.append(sl.alias(f"slice{s}"))
    return votes.select(F.col("__id").alias(id_col), *slices)


def simhash_near_duplicates_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    bands: int = 4,
    width: int = 16,
) -> DataFrame:
    """Banded-hamming near-dup over `simhash_md5_slices` signatures —
    same pigeonhole blocking as `simhash_near_duplicates` (a pair
    within hamming < bands must agree on >= 1 slice; bands >
    max_hamming gives full recall), fully oracle-replicable: candidates
    from an equi-join on (band, slice), hamming verified as the sum of
    per-slice bit_count(xor)."""
    if bands <= max_hamming:
        raise ValueError("need bands > max_hamming for full recall")
    sigs = simhash_md5_slices(
        df, id_col, text_col, bands=bands, width=width
    ).localCheckpoint(eager=False)
    melted = sigs.select(
        F.col(id_col).alias("__id"),
        *[F.col(f"slice{s}") for s in range(bands)],
        F.posexplode(F.array(*[F.col(f"slice{s}") for s in range(bands)])).alias(
            "__band", "__slice"
        ),
    )
    a = melted.select(
        F.col("__id").alias("id_a"),
        *[F.col(f"slice{s}").alias(f"__a{s}") for s in range(bands)],
        "__band",
        "__slice",
    )
    b = melted.select(
        F.col("__id").alias("id_b"),
        *[F.col(f"slice{s}").alias(f"__b{s}") for s in range(bands)],
        "__band",
        "__slice",
    )
    ham = sum(
        (
            F.bit_count(F.col(f"__a{s}").bitwiseXOR(F.col(f"__b{s}")))
            for s in range(bands)
        ),
        F.lit(0),
    )
    return (
        a.join(b, ["__band", "__slice"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def incremental_near_duplicates_md5(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Incremental dedup — the production flow for continuously
    ingested training data: find NEW documents that near-duplicate the
    EXISTING corpus.  New-batch signatures band-join against the corpus
    signature table (in production a persisted index, recomputed here),
    then candidates verify with exact Jaccard.  Cost scales with the
    new batch + matched buckets, never the corpus cross product.
    md5 family, so fully oracle-replicable.  Returns
    (new_id, corpus_id, jaccard).

    r17 (guide §2.4): the two sides are tokenized and signed in ONE
    pass over their tagged union — ids are disjoint across the sides
    by the dedup contract, so the side tag is functionally dependent
    on __id and the per-doc signatures are bit-identical to two
    separate runs (the distinct-shingle md5 vocab is a pure function
    of each shingle, so widening it to the union changes nothing).
    The exact-Jaccard verify reads the same checkpointed shingle
    frame — previously this operator tokenized the corpus four times
    (two signature runs + two verify arms) and paid the vocab md5
    projection twice."""
    combined = new_docs.select(
        F.col(id_col), F.col(text_col), F.lit(1).alias("__side")
    ).unionByName(
        corpus.select(F.col(id_col), F.col(text_col), F.lit(0).alias("__side"))
    )
    sh = (
        combined.select(
            F.col(id_col).alias("__id"),
            F.col(text_col).alias("__text"),
            "__side",
        )
        .repartition(
            combined.sparkSession.sparkContext.defaultParallelism, "__id"
        )
        .select(
            "__id",
            "__side",
            shingle_array(F.split(F.col("__text"), " "), n).alias("__sh"),
        )
        .localCheckpoint(eager=False)
    )
    sigs = minhash_signatures_md5(
        combined,
        id_col,
        text_col,
        num_hashes=num_hashes,
        shingles=sh,
        carry=("__side",),
    ).localCheckpoint(eager=False)
    new_bands = md5_band_rows(
        sigs.filter(F.col("__side") == 1),
        "new_id",
        num_hashes=num_hashes,
        bands=bands,
    )
    corpus_bands = md5_band_rows(
        sigs.filter(F.col("__side") == 0),
        "corpus_id",
        num_hashes=num_hashes,
        bands=bands,
    )
    # hot-bucket guard on the CORPUS side (the side that can degenerate)
    counts = corpus_bands.groupBy("__band", "__bh").agg(
        F.count(F.lit(1)).alias("__n")
    )
    pruned = corpus_bands.join(
        counts.filter(F.col("__n") <= max_bucket), ["__band", "__bh"], "inner"
    )
    cands = (
        new_bands.join(pruned, ["__band", "__bh"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    sh_new = sh.filter(F.col("__side") == 1).select(
        F.col("__id").alias("new_id"), F.col("__sh").alias("__sha")
    )
    sh_corpus = sh.filter(F.col("__side") == 0).select(
        F.col("__id").alias("corpus_id"), F.col("__sh").alias("__shb")
    )
    return (
        cands.join(sh_new, "new_id")
        .join(sh_corpus, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            jaccard(F.col("__sha"), F.col("__shb")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def paragraph_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_tokens: int = 20,
) -> DataFrame:
    """Paragraph-level exact dedup across the CORPUS (the RefinedWeb/
    Dolma paragraph filter): chunk each document into fixed token
    windows (stand-in for newline paragraphs on corpora that have
    them), hash each chunk, count corpus-wide occurrences of each
    hash, and report per document how many of its paragraphs also
    occur elsewhere.  High dup fractions flag boilerplate-heavy docs;
    the per-paragraph counts are what a removal pass would key on.

    Scale: one explode (paragraph rows carry only (id, hash) — 16 B),
    one hash-groupBy with map-side combine (hot boilerplate hashes
    collapse before the shuffle), one re-attach join on hash, one
    per-doc agg.  No window over the hash key, so a paragraph shared
    by 10^6 docs never lands on a single task."""
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int"), F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens)
        ),
    )
    paras = df.select(
        F.col(id_col).alias("__id"), F.explode(chunks).alias("__p")
    ).select("__id", F.md5(F.col("__p")).alias("__ph"))
    # the paragraph rows feed BOTH the corpus-wide count and the
    # re-attach join — materialize once (16 B/paragraph) instead of
    # scanning + exploding the corpus twice (same discipline as the
    # MinHash signature checkpoint; measured 2.3s -> 1.2s cold at 10x
    # sf0.1)
    paras = paras.localCheckpoint(eager=False)
    counts = paras.groupBy("__ph").agg(F.count(F.lit(1)).alias("__n"))
    per_para = paras.join(counts, "__ph")
    return (
        per_para.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_paragraphs"),
            F.sum((F.col("__n") > 1).cast("long")).alias("n_dup_paragraphs"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_paragraphs",
            "n_dup_paragraphs",
            round_frac(
                F.col("n_dup_paragraphs"), F.col("n_paragraphs"), 4
            ).alias("dup_paragraph_fraction"),
        )
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window_tokens: int = 8,
    frac_rounding: str = "decimal",
) -> DataFrame:
    """Exact duplicate-SPAN detection (the Lee et al. 2021 "Dedup
    Training Data" signal): fingerprint every OVERLAPPING
    `window_tokens`-token window (stride 1 — unlike the non-overlapping
    `paragraph_dedup_stats` chunks, this catches duplicated spans at
    ANY alignment), count corpus-wide occurrences, and report per doc
    the fraction of its windows that occur more than once anywhere in
    the corpus (including twice within the same doc) as
    ``dup_frac_scaled`` = round_half_up(10^4 * dup/total) BIGINT —
    exact integer arithmetic end-to-end, no float in the comparison
    surface.  High values = boilerplate/templated text; the per-window
    hits are what a span REMOVAL pass would key on.

    ``frac_rounding`` selects the exact-rounding implementation for
    ``dup_frac_scaled`` — "decimal" (round_frac_int, DECIMAL(38,0)
    intermediates) or "bigint" (round_frac_bigint, plain int64
    arithmetic; identical values at per-doc magnitudes).  Both are
    exact; the switch exists for the r11 driver-red column bisect
    (VERDICT r10 #1) where the DECIMAL38/HUGEINT surface is the last
    un-exonerated suspect.

    Scale: the span rows carry only (id, 32-B hash); one explode, one
    map-side-combined hash groupBy (hot boilerplate collapses before
    the shuffle), one re-attach join, one per-doc agg — no window
    function over the hash key, so a span shared by 10^6 docs never
    lands on one task.  Docs shorter than the window contribute their
    whole text as one window (the shingle convention)."""
    toks = F.col("__toks")
    n_win = F.greatest(F.size(toks) - window_tokens + 1, F.lit(1))
    wins = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda i: F.concat_ws(" ", F.slice(toks, i, window_tokens)),
    )
    # repartition the RAW tokenized rows first so the window build +
    # md5 (the CPU bulk, ~|doc| string copies per doc) runs ABOVE the
    # exchange on all cores even off a one-row-group parquet scan —
    # the same shingle-above-exchange discipline as the jaccard path
    spread = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "__id")
        .select("__id", F.split(F.col("__text"), " ").alias("__toks"))
    )
    spans = (
        spread.select("__id", F.explode(wins).alias("__w"))
        .select("__id", F.md5(F.col("__w")).alias("__wh"))
        # feeds the corpus-wide count AND the re-attach join
        .localCheckpoint(eager=False)
    )
    counts = spans.groupBy("__wh").agg(F.count(F.lit(1)).alias("__n"))
    return (
        spans.join(counts, "__wh")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("__n") > 1, 1).otherwise(0)).alias(
                "dup_windows"
            ),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_windows",
            "dup_windows",
            # NO float anywhere in this entry's hash surface (the
            # r8/r9 driver reds): the 4-dp round-half-up fraction is
            # emitted as the exact scaled integer round(10^4 * d/n) —
            # dup_frac itself is dup_frac_scaled / 1e4 for callers
            # that want the double back.
            (
                round_frac_bigint(
                    F.col("dup_windows"), F.col("n_windows"), 4
                )
                if frac_rounding == "bigint"
                else round_frac_int(
                    F.col("dup_windows"), F.col("n_windows"), 4
                )
            ).alias("dup_frac_scaled"),
        )
    )


#: duplicate_span_scrub packs (doc, window-pos) into ONE BIGINT for the
#: deterministic keeper argmin (min over doc_id * 2^20 + pos): the
#: per-doc window position must fit 20 bits.  10^6 tokens per document
#: is far beyond any training-corpus doc; violating rows would corrupt
#: the keeper choice silently, so it is asserted.
_SCRUB_MAX_POS = 1 << 20


def duplicate_span_scrub(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window_tokens: int = 8,
) -> DataFrame:
    """Exact duplicate-span REMOVAL — the deliverable of Lee et al.
    2021 "Deduplicating Training Data" that `duplicate_span_stats`
    only measures: every overlapping `window_tokens`-token window that
    occurs more than once corpus-wide is CUT from every occurrence
    except the globally-first one (min (doc_id, position) — the
    deterministic keeper both engines replay), and the surviving
    tokens are re-joined into `clean_text`.  Output
    (id, n_tokens, n_removed, clean_text); a fully-boilerplate doc
    comes back with clean_text = ''.

    Scale: strictly linear in token mass, no per-doc quadratic step —
    the naive per-token "does any flagged window cover me?" membership
    scan is O(|doc| x flagged) for boilerplate-heavy docs, so removal
    is instead an equi-join: flagged windows explode to their covered
    (doc, token-pos) keys, tokens anti-join on that key, and the doc
    reassembles with one array_sort over its kept tokens.  Every
    shuffle is keyed (doc, pos) or the span hash (hot spans collapse
    map-side in the count agg; the count->span fan-out join is the
    same AQE-skew-safe shape `duplicate_span_stats` uses — no window
    function over the hash key).  Docs shorter than the window
    contribute their whole text as one window (the shingle
    convention), so a short doc duplicated elsewhere is scrubbed to
    empty unless it is the keeper."""
    w = window_tokens
    toks = F.col("__toks")
    # jobless length + id-range guard fused into the window count
    # (same assert_true idiom as percentile_buckets/round_frac).  The
    # id bound is ADVICE r10: doc_id * 2^20 + pos wraps the BIGINT
    # silently under non-ANSI for doc_id >= 2^43 (DuckDB's BIGINT
    # raises instead — a parity split AND a corrupted keeper choice),
    # so out-of-range ids error here rather than mis-scrub.
    pos_ok = F.assert_true(
        (F.size(toks) < F.lit(_SCRUB_MAX_POS))
        & (F.col("__id") >= 0)
        & (F.col("__id") < F.lit(1 << 43)),
        F.lit(
            f"duplicate_span_scrub: document exceeds {_SCRUB_MAX_POS - 1} "
            "tokens or doc id outside [0, 2^43) — the packed (doc, pos) "
            "keeper key would collide/wrap; split the document or remap "
            "ids first"
        ),
    )
    n_win = F.when(
        pos_ok.isNull(), F.greatest(F.size(toks) - w + 1, F.lit(1))
    )
    spread = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "__id")
        .select("__id", F.split(F.col("__text"), " ").alias("__toks"))
    )
    # (id, window pos, window hash) — positions are what removal cuts
    wins = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda i: F.struct(
            i.alias("p"),
            F.md5(F.concat_ws(" ", F.slice(toks, i, w))).alias("h"),
        ),
    )
    spans = (
        spread.select("__id", F.explode(wins).alias("__w"))
        .select(
            "__id",
            F.col("__w.p").alias("__p"),
            F.col("__w.h").alias("__wh"),
        )
        # feeds the corpus-wide count AND the flag join
        .localCheckpoint(eager=False)
    )
    counts = spans.groupBy("__wh").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(
            F.col("__id") * F.lit(_SCRUB_MAX_POS) + F.col("__p")
        ).alias("__first"),
    )
    flagged = (
        spans.join(counts, "__wh")
        .filter(
            (F.col("__n") > 1)
            & (
                F.col("__id") * F.lit(_SCRUB_MAX_POS) + F.col("__p")
                != F.col("__first")
            )
        )
        .select(
            "__id",
            F.explode(
                F.sequence(F.col("__p"), F.col("__p") + F.lit(w - 1))
            ).alias("__tpos"),
        )
        .distinct()
    )
    tokens = spread.select(
        "__id", F.posexplode(toks).alias("__tpos0", "__tok")
    ).select("__id", (F.col("__tpos0") + 1).alias("__tpos"), "__tok")
    kept = (
        tokens.join(flagged, ["__id", "__tpos"], "left_anti")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("__kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__tpos", "__tok"))
                    ),
                    lambda s: s["__tok"],
                ),
            ).alias("__clean"),
        )
    )
    totals = spread.select("__id", F.size(toks).alias("n_tokens"))
    return totals.join(kept, "__id", "left").select(
        F.col("__id").alias(id_col),
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("__kept"), F.lit(0)))
        .cast("int")
        .alias("n_removed"),
        F.coalesce(F.col("__clean"), F.lit("")).alias("clean_text"),
    )


def duplicate_span_runs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window_tokens: int = 8,
) -> DataFrame:
    """Duplicate-RUN statistics per document — the longest-match shape
    Lee et al. 2021 report alongside the fraction: consecutive
    duplicated window positions merge into runs (maximal islands), and
    the duplicated token COVERAGE is the exact union of the flagged
    windows' token spans (two nearby runs can overlap in coverage when
    their gap is narrower than the window, so coverage is a distinct
    count over exploded (doc, pos) keys, never a sum over runs).
    Output: (id, n_runs, max_run_tokens, covered_tokens) — all exact
    integers, zero-filled for clean docs.

    A run of L consecutive flagged positions starting at p covers
    tokens p .. min(p+L-1 + W-1, n_tokens).  Islands form with the
    classic gaps-and-islands key (p - row_number over (doc ORDER BY
    p)) — one doc-keyed window over ONLY the flagged positions (a
    small fraction of token mass), not over all windows.

    Scale: identical skeleton to duplicate_span_stats/scrub — explode
    to (id, pos, hash), map-side-combined corpus count, flag join —
    plus one doc-keyed window on the flagged subset and one distinct
    over exploded coverage keys; everything keyed by doc or span
    hash, linear in token mass."""
    from pyspark.sql import Window

    w = window_tokens
    toks = F.col("__toks")
    n_win = F.greatest(F.size(toks) - w + 1, F.lit(1))
    spread = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "__id")
        .select("__id", F.split(F.col("__text"), " ").alias("__toks"))
    )
    wins = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda i: F.struct(
            i.alias("p"),
            F.md5(F.concat_ws(" ", F.slice(toks, i, w))).alias("h"),
        ),
    )
    spans = (
        spread.select("__id", F.explode(wins).alias("__w"))
        .select(
            "__id",
            F.col("__w.p").alias("__p"),
            F.col("__w.h").alias("__wh"),
        )
        .localCheckpoint(eager=False)
    )
    counts = spans.groupBy("__wh").agg(F.count(F.lit(1)).alias("__n"))
    # flagged positions feed BOTH the islands window and the coverage
    # explode.  NOT checkpointed: the flagged set is the corpus's whole
    # duplicated-window mass, and materializing it in the block manager
    # OOM'd the 50x probe (8g heap) — re-deriving the spans⋈counts
    # filter per consumer pipelines above each consumer's own shuffle
    # instead (spans itself IS checkpointed, so the re-derivation is
    # one hash join, the same shape doc_span_scrub probes at 5.0x).
    flagged = (
        spans.join(counts, "__wh")
        .filter(F.col("__n") > 1)
        .select("__id", "__p")
    )
    lens = spread.select("__id", F.size(toks).alias("__len"))
    iw = Window.partitionBy("__id").orderBy("__p")
    runs = (
        flagged.withColumn(
            "__grp", F.col("__p") - F.row_number().over(iw)
        )
        .groupBy("__id", "__grp")
        .agg(
            F.min("__p").alias("__p0"),
            F.max("__p").alias("__p1"),
        )
        .join(lens, "__id")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.max(
                F.least(F.col("__p1") + F.lit(w - 1), F.col("__len"))
                - F.col("__p0")
                + F.lit(1)
            ).alias("max_run_tokens"),
        )
    )
    coverage = (
        flagged.join(lens, "__id")
        .select(
            "__id",
            F.explode(
                F.sequence(
                    F.col("__p"),
                    F.least(F.col("__p") + F.lit(w - 1), F.col("__len")),
                )
            ).alias("__tpos"),
        )
        .distinct()
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("covered_tokens"))
    )
    return (
        spread.select("__id")
        .join(runs, "__id", "left")
        .join(coverage, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("n_runs"), F.lit(0))
            .cast("long")
            .alias("n_runs"),
            F.coalesce(F.col("max_run_tokens"), F.lit(0))
            .cast("long")
            .alias("max_run_tokens"),
            F.coalesce(F.col("covered_tokens"), F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
        )
    )


def minhash_estimate_error(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = DEFAULT_BANDS,
    max_bucket: int = 1000,
) -> DataFrame:
    """MinHash estimator CALIBRATION (the twin of emb_ann_recall's
    index self-evaluation, for the dedup stack): over the md5-LSH
    candidate pairs, compare the signature-agreement Jaccard estimate
    (agree / num_hashes — the MinHash unbiased estimator) against the
    exact shingle Jaccard, per pair.  This is the measurement a real
    pipeline runs before trusting the estimator at a new shingle size
    or signature width.  All-integer hash surface:
    (id_a, id_b, est_scaled, exact_scaled, err_scaled) with the two
    ratios as round_half_up(10^4 * x) BIGINTs and err = |est - exact|.

    Scale: the same banded skeleton as minhash_near_duplicates_md5
    (signature frame checkpointed once, band equi-join with the
    hot-bucket guard, candidate set k-bounded per bucket) plus two
    broadcast-shaped joins back to the signature and shingle frames —
    cost tracks the near-dup entry, never all-pairs."""
    from metrics_service_spark.functions.stable import round_frac_bigint

    # r17 (guide §2.4): ONE shingle_frame tokenize pass feeds the
    # signature build AND the exact-Jaccard arm of the calibration
    sh = shingle_frame(df, id_col, text_col, n=n).localCheckpoint(eager=False)
    sigs = minhash_signatures_md5(
        df, id_col, text_col, num_hashes=num_hashes, shingles=sh
    ).localCheckpoint(eager=False)
    all_bands = md5_band_rows(sigs, "__id", num_hashes=num_hashes, bands=bands)
    counts = all_bands.groupBy("__band", "__bh").agg(
        F.count(F.lit(1)).alias("__n")
    )
    pruned = all_bands.join(
        counts.filter(F.col("__n") <= max_bucket), ["__band", "__bh"], "inner"
    )
    a = pruned.alias("a")
    b = pruned.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bh") == F.col("b.__bh"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    sa = sigs.select(
        F.col("__id").alias("id_a"),
        *[F.col(f"h{i}").alias(f"__ha{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col("__id").alias("id_b"),
        *[F.col(f"h{i}").alias(f"__hb{i}") for i in range(num_hashes)],
    )
    agree = sum(
        F.when(F.col(f"__ha{i}") == F.col(f"__hb{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    union = F.size(F.col("__sha")) + F.size(F.col("__shb")) - inter
    est = round_frac_bigint(agree.cast("long"), F.lit(num_hashes), 4)
    exact = round_frac_bigint(inter.cast("long"), union.cast("long"), 4)
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .join(
            sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "__sha"),
            "id_a",
        )
        .join(
            sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "__shb"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            est.alias("est_scaled"),
            exact.alias("exact_scaled"),
            F.abs(est - exact).alias("err_scaled"),
        )
    )


def tiered_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    block_cols: list[str] | None = None,
    threshold: float = 0.5,
    max_cell: int | None = None,
    max_iters: int = 12,
) -> DataFrame:
    """The tiered keep-list a production dedup run actually ships:
    tier 1 removes EXACT duplicates (content-hash groups, min-id
    keeper), tier 2 removes NEAR duplicates among the tier-1 survivors
    (blocked n-gram Jaccard pairs -> connected components -> min-id
    canonical), and every document comes back with its verdict —
    (id, status in {kept, exact_dup, near_dup}, canonical_id).  Tiering
    matters at scale: exact dedup is one cheap hash-groupBy that
    typically removes the bulk of duplicate mass, so the quadratic-ish
    near-dup tier only ever sees the survivors.  NULL-text documents
    get no verdict (no output row).

    Every stage is an existing audited operator (exact_dedup,
    ngram_jaccard_pairs with the lossless length-bucket blocking +
    max_cell linearity guard, connected_components_star) and every keeper
    rule is a deterministic min — the full pipeline replays in SQL.
    """
    from pyspark.sql import Window

    from metrics_service_spark.operators.closure import (
        connected_components_star,
    )

    # r18 (guide §2.4): the exact tier used to be exact_dedup's
    # hash-groupBy JOINED back onto a second corpus scan, and the
    # joined frame was then recomputed by every consumer (keepers ->
    # pair stage, the near-canon attach, and the final verdict join) —
    # 8 corpus scans in the committed plan.  A window min over the
    # SAME content-hash partitioning computes each row's exact canon
    # in the one exchange the grouping needs anyway (no join back),
    # and one lazy checkpoint feeds every consumer: 1 corpus scan.
    # A window groups NULL keys together, but the oracle's
    # `JOIN k1 USING (h)` never matches a NULL hash, so NULL-text rows
    # are dropped first.  Over the rest, min-over-window ==
    # exact_dedup's min-over-groupBy: bit-identical keepers and verdicts.
    tagged = df.filter(F.col(text_col).isNotNull()).withColumn(
        "__exact_canon",
        F.min(F.col(id_col)).over(
            Window.partitionBy(F.md5(F.col(text_col)))
        ),
    ).localCheckpoint(eager=False)
    keepers = tagged.filter(F.col(id_col) == F.col("__exact_canon")).select(
        df.columns
    )
    pairs = ngram_jaccard_pairs(
        keepers,
        id_col,
        text_col,
        n=n,
        block_cols=block_cols,
        threshold=threshold,
        max_cell=max_cell,
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # the keep-list contract is exact-closure equality (the oracle
    # computes the full recursive closure).  The kernel labels every
    # keeper (`nodes=`, a keeper on no pair is its own canon): pairs
    # and keepers within their driver bounds (LOCAL_FINISH_EDGES,
    # LOCAL_FINISH_NODES) in one collect, with no join back; more
    # keepers, the edge-only finish and a join; a larger pair set
    # runs the star rounds, where an exhausted round budget on a long-chain
    # component must raise, not silently return split labels (ADVICE
    # r11), and the star kernel always raises.  r17: alternating-star
    # CC (O(log n) rounds in component size) replaces min-label
    # propagation (O(diameter) rounds) — identical (node, min-id)
    # labeling, and chain-shaped near-dup families at scale can no
    # longer exhaust a diameter-bounded round budget (the same upgrade
    # doc_linkage_clusters and mm_dedup_clusters made).
    near = connected_components_star(
        pairs, max_iters=max_iters, nodes=keepers.select(id_col)
    ).select(
        F.col(id_col).alias("__kid"), F.col("component").alias("__near_canon")
    )
    return (
        tagged.join(near, F.col(id_col) == F.col("__kid"), "left")
        .select(
            id_col,
            F.when(F.col(id_col) != F.col("__exact_canon"), "exact_dup")
            .when(F.col("__near_canon") != F.col(id_col), "near_dup")
            .otherwise("kept")
            .alias("status"),
            F.when(
                F.col(id_col) != F.col("__exact_canon"),
                F.col("__exact_canon"),
            )
            .otherwise(F.coalesce("__near_canon", F.col(id_col)))
            .cast("long")
            .alias("canonical_id"),
        )
    )


def fuzzy_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    prefix_chars: int = 80,
    block_chars: int = 4,
    max_dist: int = 48,
    block_cols: list[str] | None = None,
    max_cell: int | None = None,
) -> DataFrame:
    """Blocked edit-distance candidate pairs — the record-linkage
    fuzzy matcher: candidates share (block_cols, the first
    ``block_chars`` characters), and each candidate pair is scored
    with the built-in ``levenshtein`` on the first ``prefix_chars``
    characters.  Returns (id_a, id_b, dist) with id_a < id_b and
    dist <= max_dist.

    Blocking is STRICT prefix equality — the classic sorted-
    neighborhood/standard-blocking trade: like LSH banding it gives up
    recall for pairs that differ inside the block key, in exchange for
    per-cell (not corpus²) candidate mass; the block key is a
    deterministic function of the input, so an oracle replays the
    exact same candidate set.  ``max_cell`` applies the same
    deterministic drop rule as `ngram_jaccard_pairs`: documents in an
    overfull (block, key) cell are excluded wholesale, keeping the
    candidate count linear in N under boilerplate-prefix skew — at
    100 TB boilerplate prefixes ("<!DOCTYPE html>") are exactly where
    this operator defers to the shingle/MinHash family.

    Scale: levenshtein is JVM whole-stage codegen, O(prefix²) per
    CANDIDATE (bounded by the cap), zero Python; the only wide ops are
    the block-key equi-join and (with max_cell) one cell count."""
    from metrics_service_spark.operators.similarity import _spread

    block_cols = block_cols or []
    # _spread before the self-join: the per-candidate O(prefix^2)
    # levenshtein must run on all cores, not the scan's few row-group
    # partitions (the single-file local parquet case)
    base = _spread(
        df.select(
            *[F.col(c) for c in block_cols],
            F.col(id_col).alias("__id"),
            F.substring(F.col(text_col), 1, prefix_chars).alias("__pfx"),
        )
    ).withColumn("__bk", F.substring(F.col("__pfx"), 1, block_chars))
    return fuzzy_prefix_pairs_blocked(
        base,
        max_dist=max_dist,
        block_cols=block_cols,
        max_cell=max_cell,
    )


def fuzzy_prefix_pairs_blocked(
    base: DataFrame,
    *,
    max_dist: int = 48,
    block_cols: list[str] | None = None,
    max_cell: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """`fuzzy_prefix_pairs` from a PRE-BLOCKED frame: ``base`` already
    carries (``block_cols``…, ``__id``, ``__pfx``, ``__bk``); this
    runs only the cell cap and the block-keyed self-join.  The seam
    exists for the bucketed documents layout
    (sources/bucketed.py `ensure_bucketed_documents`): a table stored
    hash-bucketed on the block key makes BOTH the cell count and the
    self-join scan-local — pass ``materialize=False`` there, because a
    localCheckpoint would erase the scan's outputPartitioning and
    reintroduce the exchanges the layout exists to elide (the table
    itself is already the materialization)."""
    block_cols = block_cols or []
    if max_cell is not None:
        cells = base.groupBy(*block_cols, "__bk").agg(
            F.count(F.lit(1)).alias("__cn")
        )
        base = base.join(
            F.broadcast(cells.filter(F.col("__cn") <= max_cell)),
            [*block_cols, "__bk"],
        ).drop("__cn")
    if materialize:
        # one materialization feeds both self-join sides
        base = base.localCheckpoint(eager=False)
    right = base.select(
        *[F.col(c).alias(f"__r_{c}") for c in block_cols],
        F.col("__id").alias("__id2"),
        F.col("__pfx").alias("__pfx2"),
        F.col("__bk").alias("__bk2"),
    )
    cond = (F.col("__bk") == F.col("__bk2")) & (F.col("__id") < F.col("__id2"))
    for c in block_cols:
        cond = cond & (F.col(c) == F.col(f"__r_{c}"))
    # r17: threshold form — banded O(max_dist x prefix) with early
    # bailout instead of the full O(prefix^2) matrix per candidate;
    # within the threshold it returns the exact distance (same dist
    # column), above it -1 (same kept set)
    dist = F.levenshtein(F.col("__pfx"), F.col("__pfx2"), max_dist)
    return (
        base.join(right, cond)
        .filter(dist >= 0)
        .select(
            F.col("__id").alias("id_a"),
            F.col("__id2").alias("id_b"),
            dist.cast("int").alias("dist"),
        )
    )


def fuzzy_prefix_admit(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    *,
    prefix_chars: int = 80,
    block_chars: int = 4,
    max_dist: int = 48,
    block_cols: list[str] | None = None,
    max_cell: int | None = None,
) -> DataFrame:
    """Incremental record-linkage admission — the batch-vs-corpus
    sibling of `fuzzy_prefix_pairs` (the linkage counterpart of
    `incremental_near_duplicates_md5`): which NEW records fuzzy-match
    an EXISTING corpus record under the same (block_cols, prefix
    block) blocking and prefix-levenshtein scoring?  The daily ingest
    path: cost is the batch's block mass joined against co-blocked
    corpus rows, never corpus² — and never a corpus self-join at all.

    ``max_cell`` caps CORPUS cells with the same deterministic
    wholesale-drop rule as the self-join form (a boilerplate corpus
    prefix would otherwise fan every matching batch row out by the
    cell population).  Output (new_id, old_id, dist), dist <=
    max_dist."""
    from metrics_service_spark.operators.similarity import _spread

    block_cols = block_cols or []

    def blocked(df: DataFrame) -> DataFrame:
        return _spread(
            df.select(
                *[F.col(c) for c in block_cols],
                F.col(id_col).alias("__id"),
                F.substring(F.col(text_col), 1, prefix_chars).alias("__pfx"),
            )
        ).withColumn("__bk", F.substring(F.col("__pfx"), 1, block_chars))

    c = blocked(corpus)
    if max_cell is not None:
        cells = c.groupBy(*block_cols, "__bk").agg(
            F.count(F.lit(1)).alias("__cn")
        )
        c = c.join(
            F.broadcast(cells.filter(F.col("__cn") <= max_cell)),
            [*block_cols, "__bk"],
        ).drop("__cn")
    right = c.select(
        *[F.col(col).alias(f"__r_{col}") for col in block_cols],
        F.col("__id").alias("__id2"),
        F.col("__pfx").alias("__pfx2"),
        F.col("__bk").alias("__bk2"),
    )
    n = blocked(new)
    cond = F.col("__bk") == F.col("__bk2")
    for col in block_cols:
        cond = cond & (F.col(col) == F.col(f"__r_{col}"))
    # r17: threshold form (see fuzzy_prefix_pairs_blocked)
    dist = F.levenshtein(F.col("__pfx"), F.col("__pfx2"), max_dist)
    return (
        n.join(right, cond)
        .filter(dist >= 0)
        .select(
            F.col("__id").alias("new_id"),
            F.col("__id2").alias("old_id"),
            dist.cast("int").alias("dist"),
        )
    )


def _hex8_long(h: Column) -> Column:
    """First 8 hex chars of an md5 digest as a BIGINT in [0, 2^32) —
    two 16-bit windows through the engine-portable ascii arithmetic
    (operators/sampling.py `_hex4_int`)."""
    from metrics_service_spark.operators.sampling import _hex4_int

    return (
        _hex4_int(h).cast("long") * F.lit(65536)
        + _hex4_int(F.substring(h, 5, 4)).cast("long")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every POSITIONAL k-token gram,
    slide a window of `window` consecutive hashes, keep each window's
    minimum, and emit the document's distinct selected values.  The
    guarantee that makes it the standard plagiarism/copy detector: any
    shared run of at least k + window - 1 tokens contributes at least
    one IDENTICAL fingerprint to both documents, while the fingerprint
    density is ~2/(window+1) of the gram count — a tunable, alignment-
    robust sample of the document.

    Selection is by minimum VALUE over the window (ties collapse under
    the later distinct, so no positional tie rule is needed for the
    emitted SET — both engines agree on plain `min`).

    Shape: positional grams EXPLODE to rows so the md5/hex8 hashing
    runs in whole-stage codegen, and the sliding minimum is a
    row-frame window over (id, pos) — one doc-keyed shuffle of gram
    mass, the minhash-signature cost class.  The all-array form (md5 +
    per-window slice inside interpreted `transform`) measured 40.7x at
    the 50x probe with a 10 s base; this form is the same arithmetic
    with the per-element work JVM-side.  Output: (id, fp)."""
    from pyspark.sql import Window

    from metrics_service_spark.operators.similarity import _spread

    toks = F.split(F.col(text_col), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    rows = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        id_col, F.posexplode(grams).alias("__p", "__g")
    )
    wdoc = Window.partitionBy(id_col)
    wmin = (
        Window.partitionBy(id_col)
        .orderBy("__p")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        rows.select(
            id_col,
            "__p",
            _hex8_long(F.md5(F.col("__g"))).alias("__h"),
        )
        .select(
            id_col,
            "__p",
            F.min("__h").over(wmin).alias("fp"),
            F.count(F.lit(1)).over(wdoc).alias("__n"),
        )
        .filter(
            F.col("__p")
            <= F.greatest(F.col("__n") - F.lit(window), F.lit(0))
        )
        .select(id_col, "fp")
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    window: int = 4,
    max_df: int = 32,
    min_shared: int = 2,
) -> DataFrame:
    """Copy-detection pairs from winnowing fingerprints: documents
    sharing >= `min_shared` selected fingerprints, with the standard
    hot-key guard — fingerprints appearing in more than `max_df`
    documents (boilerplate) are dropped wholesale before the join, a
    deterministic rule the oracle mirrors (the LSH hot-bucket guard's
    shape).  The join is a fingerprint equi-join: candidate mass is
    sum over fingerprints of df², bounded by max_df x shared mass —
    never corpus².  Output: (id_a, id_b, shared)."""
    fp = winnow_fingerprints(
        df, id_col, text_col, k=k, window=window
    ).localCheckpoint(eager=False)
    hot = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("__df"))
    kept = fp.join(
        F.broadcast(hot.filter(F.col("__df") <= max_df).select("fp")), "fp"
    )
    right = kept.select(
        F.col("fp"), F.col(id_col).alias("__id2")
    )
    return (
        kept.join(right, "fp")
        .filter(F.col(id_col) < F.col("__id2"))
        .groupBy(id_col, "__id2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select(
            F.col(id_col).alias("id_a"),
            F.col("__id2").alias("id_b"),
            F.col("shared"),
        )
    )


#: printable-ASCII characters that are NOT lowercase letters, digits,
#: or space — the set the canonical form maps to spaces.  (Uppercase
#: letters are in the set but already gone after lower().)
_CANON_PUNCT = "".join(
    c for c in map(chr, range(33, 127)) if not (c.islower() or c.isdigit())
)


def canonical_text(text: Column) -> Column:
    """CCNet-style canonical form: lowercase, printable-ASCII
    punctuation to spaces (char-map `translate` — measured 14x faster
    than the equivalent regex char-class on Spark's java.util.regex
    path: 0.45 s vs 6.4 s over 55 MB), then whitespace collapsed and
    trimmed via split/filter/join.  Contract is ASCII
    canonicalization: non-ASCII codepoints pass through unchanged —
    both engines implement Postgres-style `translate`, so the
    canonical form replays in a SQL oracle byte-for-byte."""
    mapped = F.translate(F.lower(text), _CANON_PUNCT, " " * len(_CANON_PUNCT))
    return F.concat_ws(
        " ", F.filter(F.split(mapped, " "), lambda x: x != "")
    )


def sql_canonical_text(expr: str) -> str:
    """DuckDB twin of :func:`canonical_text` (same translate map, same
    split/filter/join collapse).  The all-punctuation/empty edge:
    DuckDB's array_to_string([]) is NULL where Spark's concat_ws is ''
    — coalesce to '' (found by tests/test_mix_family_fuzz.py)."""
    esc = _CANON_PUNCT.replace("'", "''")
    return (
        f"coalesce(array_to_string(list_filter(string_split("
        f"translate(lower({expr}), '{esc}', '{' ' * len(_CANON_PUNCT)}'),"
        f" ' '), x -> x <> ''), ' '), '')"
    )


def canonical_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup AFTER canonicalization — catches the case/
    punctuation/whitespace variants plain content hashing misses (the
    normalize-then-dedup pass CCNet/RefinedWeb run before any fuzzy
    stage).  One hash-groupBy like `exact_dedup`, plus `n_variants` =
    distinct RAW contents merged into each canonical group — the
    measure of what canonicalization bought over exact dedup (groups
    with n_variants > 1 are invisible to `exact_dedup`).  Map-side
    combine collapses the corpus before the shuffle; 100 TB-safe.
    `_spread` first: the two per-row regex rewrites are the map cost,
    and a few-partition local scan serializes them (measured 30x at
    the 50x probe without it)."""
    from metrics_service_spark.operators.similarity import _spread

    df = _spread(df)
    return (
        df.select(
            F.md5(canonical_text(F.col(text_col))).alias("canonical_hash"),
            F.md5(F.col(text_col)).alias("__raw_hash"),
            F.col(id_col),
        )
        .groupBy("canonical_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("__raw_hash").alias("n_variants"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    neighborhood: int = 6,
    prefix_chars: int = 80,
    max_dist: int = 48,
    block_cols: list[str] | None = None,
    rank_bucket_chars: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernández & Stolfo 1995 —
    the OTHER classic blocking, complementing `fuzzy_prefix_pairs`'
    strict prefix blocks): rank documents within each block by their
    sort key (the text prefix), compare every document against its
    next ``neighborhood - 1`` neighbors in rank order, and keep pairs
    within ``max_dist`` prefix levenshtein.  Strict blocking misses a
    near-dup whose edit touches the block key's first characters;
    sorted neighborhood still sees it as long as the pair sorts
    nearby — the standard multi-pass linkage runs both and unions.

    Shape: one rank assignment, an offset explode (candidate mass
    exactly N*(neighborhood-1)), a (block, rank) equi-join, and
    per-candidate codegen levenshtein.  Output (id_a, id_b, dist)
    with id_a < id_b; each unordered pair appears once (positive
    offsets only).

    Rank source — the hot-block knob.  Default (``rank_bucket_chars
    = None``): one block-keyed row_number window, which puts each
    block's sort on ONE task — fine while blocks are plentiful, a
    scale-killer when they're few and hot (one language = 60% of a
    100 TB corpus serializes a 60 TB sort).  With
    ``rank_bucket_chars = B``: ranks come from `operators/rank.py`'s
    `global_row_number` (the ev_sessionize_global pattern) under the
    total order (block, prefix, id), bucketed by (block, first B
    prefix chars) — each hot block fans out over ~alphabet^B
    parallel sort tasks plus one tiny broadcast offset frame.  The
    numbering is the same total order, so within a block rank
    DIFFERENCES — all the neighborhood join consumes — are identical,
    and cross-block rank adjacencies are discarded by the join's
    block-equality conjunct: both modes return bit-identical pairs
    (gated in tests/test_dedup.py)."""
    from pyspark.sql import Window

    from metrics_service_spark.operators.rank import global_row_number
    from metrics_service_spark.operators.similarity import _spread

    block_cols = block_cols or []
    base = _spread(
        df.select(
            *[F.col(c) for c in block_cols],
            F.col(id_col).alias("__id"),
            F.substring(F.col(text_col), 1, prefix_chars).alias("__pfx"),
        )
    )
    return _sorted_neighborhood_from_base(
        base,
        neighborhood=neighborhood,
        max_dist=max_dist,
        block_cols=block_cols,
        rank_bucket_chars=rank_bucket_chars,
    )


def _sorted_neighborhood_from_base(
    base: DataFrame,
    *,
    neighborhood: int,
    max_dist: int,
    block_cols: list[str],
    rank_bucket_chars: int | None,
) -> DataFrame:
    """`sorted_neighborhood_pairs` from a pre-derived (block_cols…,
    __id, __pfx) frame — the r17 shared-scan seam: multi-pass callers
    derive the prefix base ONCE and feed both the strict-prefix and
    the sorted-neighborhood arm (guide §8: one corpus read, both
    decisions off the same small-row frame)."""
    from pyspark.sql import Window

    from metrics_service_spark.operators.rank import global_row_number

    if rank_bucket_chars is None:
        w = Window.partitionBy(*[F.col(c) for c in block_cols]).orderBy(
            F.col("__pfx").asc(), F.col("__id").asc()
        )
        base = base.withColumn("__rk", F.row_number().over(w))
    else:
        # truncation is monotone under binary string comparison, so
        # (block, substr(pfx, 1, B)) is a coarsening prefix of the
        # total order (block, pfx, id) — global_row_number's contract
        base = global_row_number(
            base,
            bucket=F.struct(
                *[F.col(c) for c in block_cols],
                F.substring(F.col("__pfx"), 1, rank_bucket_chars),
            ),
            order=[F.col("__pfx").asc(), F.col("__id").asc()],
            out_col="__rk",
        )
    base = base.localCheckpoint(eager=False)
    probe = base.select(
        *[F.col(c).alias(f"__r_{c}") for c in block_cols],
        F.col("__id").alias("__id2"),
        F.col("__pfx").alias("__pfx2"),
        F.explode(
            F.sequence(
                F.col("__rk") - (neighborhood - 1), F.col("__rk") - 1
            )
        ).alias("__rk"),
    ).filter(F.col("__rk") >= 1)
    joined = base.join(
        probe,
        [
            *[
                base[c] == probe[f"__r_{c}"]
                for c in block_cols
            ],
            base["__rk"] == probe["__rk"],
        ],
    )
    # r17: threshold form (see fuzzy_prefix_pairs_blocked)
    dist = F.levenshtein(F.col("__pfx"), F.col("__pfx2"), max_dist)
    return (
        joined.filter(dist >= 0)
        .select(
            F.least("__id", "__id2").alias("id_a"),
            F.greatest("__id", "__id2").alias("id_b"),
            dist.cast("int").alias("dist"),
        )
    )


def _driver_comparable(dt) -> bool:
    """Whether Python's ==, < and hashing on the collected values of a
    column of type `dt` agree with Spark's comparisons on it: not for
    floats (Spark groups NaN with NaN and sorts it last) nor for
    collated strings."""
    from pyspark.sql import types as T

    return dt == T.StringType() or isinstance(
        dt,
        (
            T.IntegralType,
            T.DecimalType,
            T.BooleanType,
            T.BinaryType,
            T.DateType,
            T.TimestampType,
            T.TimestampNTZType,
        ),
    )


def _linkage_local_finish(
    proj: DataFrame,
    *,
    neighborhood: int,
    block_chars: int,
    max_dist: int,
    block_cols: list[str],
    max_cell: int | None,
    deduplicate: bool,
) -> DataFrame | None:
    """`linkage_multipass_pairs` on the driver: the candidate pairs of
    both arms built from ONE bounded Arrow collect of the
    (block_cols…, __id, __pfx) projection `proj`, scored by Spark.
    None when the projection holds more than LINKAGE_LOCAL_ROWS rows,
    the arms more than LINKAGE_LOCAL_PAIRS candidates, or a column
    whose comparisons Python does not share with Spark
    (`_driver_comparable`), or when ``neighborhood < 2`` (whose offset
    sequence runs backwards); the caller then runs the distributed
    path.

    The candidates are the distributed arms' join results:
    - strict: rows of one (block_cols, __bk) cell (no NULL key; the
      block key is Spark's own substring, collected with the rest), in
      cells of at most ``max_cell`` rows, paired with __id < __id2;
    - sorted neighborhood: each block (no NULL block column) ranked by
      (__pfx, __id) ascending, NULLs first, and every row paired with
      its next ``neighborhood - 1`` rows in rank order.
    A candidate with a NULL prefix is dropped here: its levenshtein is
    NULL, which the scoring filter drops too.  Spark scores what is
    left with the same expressions as the distributed arms: the
    levenshtein of the two prefixes in the arms' argument order under
    ``max_dist``, and least/greatest ids (which are the strict arm's
    own (__id, __id2), as __id < __id2 there).  The candidate frame is
    lazily checkpointed first, which launches no job: the optimizer
    folds a filter straight over the local relation `createDataFrame`
    returns into that relation and evaluates it on one driver thread,
    where over the checkpoint the scoring runs on every core.

    ``deduplicate`` drops repeats of a row pair (a pair both arms
    find) before scoring.  With unique ids a row pair is the only
    source of its (id_a, id_b), so that is the union distinct; with
    repeated or several NULL ids the scored frame is distinct-ed as
    well."""
    import pyarrow as pa
    from pyspark.sql import types as T

    from metrics_service_spark.operators.driver import _bounded_arrow

    schema = proj.schema
    if (
        neighborhood < 2
        or schema["__pfx"].dataType != T.StringType()
        or not all(
            _driver_comparable(schema[c].dataType)
            for c in [*block_cols, "__id"]
        )
    ):
        return None
    tbl = _bounded_arrow(
        proj.withColumn("__bk", F.substring(F.col("__pfx"), 1, block_chars)),
        LINKAGE_LOCAL_ROWS,
    )
    if tbl is None:
        return None
    ids, pfx, bk = (tbl[c].to_pylist() for c in ("__id", "__pfx", "__bk"))
    keys = (
        zip(*(tbl[c].to_pylist() for c in block_cols))
        if block_cols
        else [()] * len(ids)
    )
    blocks: dict[tuple, list[int]] = {}
    cells: dict[tuple, list[int]] = {}
    for i, key in enumerate(keys):
        if None in key:
            continue
        blocks.setdefault(key, []).append(i)
        if bk[i] is not None:
            cells.setdefault((key, bk[i]), []).append(i)
    strict = [
        c for c in cells.values() if max_cell is None or len(c) <= max_cell
    ]
    span = neighborhood - 1
    n_pairs = sum(len(c) * (len(c) - 1) // 2 for c in strict)
    for b in blocks.values():
        k = min(span, len(b) - 1)
        n_pairs += k * len(b) - k * (k + 1) // 2
    if n_pairs > LINKAGE_LOCAL_PAIRS:
        return None

    left: list[int] = []
    right: list[int] = []
    seen: set[tuple[int, int]] = set()

    def emit(i: int, j: int) -> None:
        if pfx[i] is None or pfx[j] is None:
            return
        if deduplicate:
            pair = (i, j) if i < j else (j, i)
            if pair in seen:
                return
            seen.add(pair)
        left.append(i)
        right.append(j)

    for cell in strict:
        for x, i in enumerate(cell):
            for j in cell[x + 1 :]:
                if ids[i] is None or ids[j] is None or ids[i] == ids[j]:
                    continue
                lo, hi = (i, j) if ids[i] < ids[j] else (j, i)
                emit(lo, hi)
    for block in blocks.values():
        block.sort(
            key=lambda i: (pfx[i] is not None, pfx[i], ids[i] is not None, ids[i])
        )
        for x, i in enumerate(block):
            for j in block[x + 1 : x + 1 + span]:
                emit(i, j)

    idx_l, idx_r = pa.array(left, pa.int64()), pa.array(right, pa.int64())
    cand = pa.table(
        {
            "__id": tbl["__id"].take(idx_l),
            "__id2": tbl["__id"].take(idx_r),
            "__pfx": tbl["__pfx"].take(idx_l),
            "__pfx2": tbl["__pfx"].take(idx_r),
        }
    )
    fid, fpfx = schema["__id"], schema["__pfx"]
    pairs = proj.sparkSession.createDataFrame(
        cand,
        schema=T.StructType(
            [
                T.StructField("__id", fid.dataType, fid.nullable),
                T.StructField("__id2", fid.dataType, fid.nullable),
                T.StructField("__pfx", fpfx.dataType, fpfx.nullable),
                T.StructField("__pfx2", fpfx.dataType, fpfx.nullable),
            ]
        ),
    )
    dist = F.levenshtein(F.col("__pfx"), F.col("__pfx2"), max_dist)
    out = pairs.localCheckpoint(eager=False).filter(dist >= 0).select(
        F.least("__id", "__id2").alias("id_a"),
        F.greatest("__id", "__id2").alias("id_b"),
        dist.cast("int").alias("dist"),
    )
    unique_ids = len(set(ids)) == len(ids)
    return out.distinct() if deduplicate and not unique_ids else out


def linkage_multipass_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    neighborhood: int,
    prefix_chars: int,
    block_chars: int,
    max_dist: int,
    block_cols: list[str] | None = None,
    max_cell: int | None = None,
    rank_bucket_chars: int | None = None,
    deduplicate: bool = True,
) -> DataFrame:
    """Strict-prefix blocked pairs ∪ sorted-neighborhood pairs,
    distinct on the (pair, dist) row — the multi-pass linkage union,
    with the two arms sharing ONE corpus scan of the (block_cols…,
    __id, __pfx) projection.

    A projection within the driver finish's bounds
    (`_linkage_local_finish`: LINKAGE_LOCAL_ROWS rows,
    LINKAGE_LOCAL_PAIRS candidates) is paired on the driver from one
    bounded Arrow collect, its only job of its own: Spark scores the
    candidates in the consumer's job, where the distributed path pays
    a checkpoint barrier per arm stage first.  Past
    either bound the distributed path runs: the projection is spread
    and lazily checkpointed once, the strict arm adds its block key
    on top, the SN arm its ranks (guide §8 — at 100 TB this halves
    the corpus reads of the composed entries vs calling the two pass
    functions separately; pair set bit-identical, both arms compute
    the same expressions over the same base).  Both paths return the
    same rows and schema.

    ``deduplicate=False`` skips the union distinct for consumers that
    dedup downstream anyway (connected components takes duplicate
    pairs as they come: its driver finish unions them and its
    distributed loop canon-distincts the edge set — a pre-distinct
    there is a pure extra shuffle).  The rows are then the two arms'
    pairs as they come, a pair both arms find twice."""
    from metrics_service_spark.operators.similarity import _spread

    block_cols = block_cols or []
    proj = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("__id"),
        F.substring(F.col(text_col), 1, prefix_chars).alias("__pfx"),
    )
    local = _linkage_local_finish(
        proj,
        neighborhood=neighborhood,
        block_chars=block_chars,
        max_dist=max_dist,
        block_cols=block_cols,
        max_cell=max_cell,
        deduplicate=deduplicate,
    )
    if local is not None:
        return local
    base = _spread(proj).localCheckpoint(eager=False)
    strict = fuzzy_prefix_pairs_blocked(
        base.withColumn("__bk", F.substring(F.col("__pfx"), 1, block_chars)),
        max_dist=max_dist,
        block_cols=block_cols,
        max_cell=max_cell,
    )
    sn = _sorted_neighborhood_from_base(
        base,
        neighborhood=neighborhood,
        max_dist=max_dist,
        block_cols=block_cols,
        rank_bucket_chars=rank_bucket_chars,
    )
    out = strict.union(sn)
    return out.distinct() if deduplicate else out


def linkage_recall_matrix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    sample_mod: int = 4,
    max_sample: int = 4000,
    prefix_chars: int = 80,
    max_dist: int = 48,
    block_chars: int = 4,
    max_cell: int = 64,
    neighborhood: int = 6,
    block_cols: list[str] | None = None,
    salt: str = "lrs",
) -> DataFrame:
    """Blocked-linkage recall calibration — the linkage sibling of
    `minhash_estimate_error`: on a deterministic hash sample of the
    corpus, compute the EXACT all-pairs truth (every pair within
    ``max_dist`` prefix levenshtein, no blocking, cross-block pairs
    included) and score each blocking strategy's recall against it.
    Blocking trades recall for linear candidate mass; this entry puts
    a measured number on what each pass gives up — per method
    (strict_prefix / sorted_neighborhood / multipass):
    (method, true_pairs, found_pairs, recall).

    Every arm's pair set is a SUBSET of the truth (arms score the same
    prefix levenshtein and only ever restrict candidates), so recall
    is found/true — one exact integer division per row, bit-identical
    across engines.

    Scale: the truth is all-pairs and is therefore GUARDED the same
    way as `cosine_near_duplicates_np` — ``sample_mod`` keeps the
    hash sample calibration-sized and the ``max_sample`` limit-probe
    raises rather than letting the quadratic run away; at 100 TB set
    sample_mod ~ N/2000 (a few thousand docs bound the truth join at
    ~10^7 codegen levenshtein calls, seconds on one executor wave,
    while blocked-arm recall estimates converge like any fixed-size
    survey sample).  The sample predicate is the md5 window used by
    every sampling entry, so the oracle replays it exactly.

    NOTE the limit-probe is EAGER by design: merely BUILDING this
    frame runs one small Spark job (`limit(max_sample+1).count()` on
    the checkpointed sample) so an oversized sample fails at
    construction, before any caller schedules the quadratic — the one
    deliberate exception to this module's otherwise-lazy builders."""
    from metrics_service_spark.operators.sampling import _hex4_int
    from metrics_service_spark.operators.similarity import _spread

    block_cols = block_cols or []
    pick = (
        _hex4_int(F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))))
        % sample_mod
        == 0
    )
    sample = df.filter(pick).localCheckpoint(eager=False)
    if sample.limit(max_sample + 1).count() > max_sample:
        raise ValueError(
            f"linkage_recall_matrix truth is all-pairs over the sample "
            f"(max_sample={max_sample}); raise sample_mod to keep the "
            f"calibration sample bounded"
        )

    pfx = _spread(
        sample.select(
            F.col(id_col).alias("__id"),
            F.substring(F.col(text_col), 1, prefix_chars).alias("__pfx"),
        )
    )
    other = pfx.select(
        F.col("__id").alias("__id2"), F.col("__pfx").alias("__pfx2")
    )
    truth = (
        pfx.join(
            other,
            (F.col("__id") < F.col("__id2"))
            & (
                # r17: threshold form — banded early-bailout scan on
                # the all-pairs truth join (same kept set)
                F.levenshtein(
                    F.col("__pfx"), F.col("__pfx2"), max_dist
                )
                >= 0
            ),
        )
        .agg(F.count(F.lit(1)).alias("true_pairs"))
    )

    arm_kw = dict(
        prefix_chars=prefix_chars, max_dist=max_dist, block_cols=block_cols
    )
    strict = fuzzy_prefix_pairs(
        sample, id_col, text_col,
        block_chars=block_chars, max_cell=max_cell, **arm_kw,
    ).localCheckpoint(eager=False)
    sn = sorted_neighborhood_pairs(
        sample, id_col, text_col, neighborhood=neighborhood, **arm_kw
    ).localCheckpoint(eager=False)
    arms = {
        "multipass": strict.union(sn).distinct(),
        "sorted_neighborhood": sn,
        "strict_prefix": strict,
    }
    found = None
    for method, pairs in arms.items():
        row = pairs.agg(F.count(F.lit(1)).alias("found_pairs")).select(
            F.lit(method).alias("method"), "found_pairs"
        )
        found = row if found is None else found.union(row)
    return found.crossJoin(F.broadcast(truth)).select(
        "method",
        F.col("true_pairs").cast("long").alias("true_pairs"),
        F.col("found_pairs").cast("long").alias("found_pairs"),
        F.when(
            F.col("true_pairs") > 0,
            F.col("found_pairs").cast("double") / F.col("true_pairs"),
        ).alias("recall"),
    )
