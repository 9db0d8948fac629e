"""Multimodal catalog queries: binary payload decode / resize / frame
sampling / feature extraction over the documents table (payloads derived
from text — the container has no media libs, so decode is the
deterministic fake; the Spark plumbing is real: binary columns, Arrow
batches, mapInPandas 1->N expansion).

The fake decode is pure arithmetic on payload byte length, so DuckDB can
oracle-check the entire mapInPandas pipeline end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metrics_service_spark.catalog import QuerySpec
from metrics_service_spark.functions.stable import round_frac, sql_round_frac
from metrics_service_spark.operators.multimodal import (
    attach_payload,
    decode_audio,
    decode_image,
    frame_sample,
    image_features,
    resize_plan,
)
from metrics_service_spark.sources.tables import load_table


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return attach_payload(
        load_table(spark, sf_dir, "documents"), id_col="doc_id", text_col="text"
    )


def q_mm_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode (mapInPandas) -> resize geometry (JVM-side)."""
    return resize_plan(decode_image(_media(spark, sf_dir)), max_side=256)


ORACLE_IMAGE_META = """
WITH d AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS n
  FROM documents
), dims AS (
  SELECT media_id,
         CAST(64 + n % 577 AS INT) AS width,
         CAST(64 + (n * 7) % 417 AS INT) AS height
  FROM d
)
SELECT media_id, width, height,
       CAST(greatest(1, floor(width  * least(1.0, 256.0 / greatest(width, height)))) AS INT) AS out_width,
       CAST(greatest(1, floor(height * least(1.0, 256.0 / greatest(width, height)))) AS INT) AS out_height
FROM dims
"""


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frame_sample(_media(spark, sf_dir), stride=4, fps=24, max_frames=24)


ORACLE_FRAME_SAMPLE = """
SELECT doc_id AS media_id,
       CAST(g AS INT) AS frame_idx,
       CAST(g * 1000 // 24 AS BIGINT) AS frame_ts_ms
FROM documents,
     LATERAL unnest(range(0, 1 + octet_length(encode(text)) % 24, 4)) AS t(g)
"""


def q_mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the sampled frame grid: Arrow-seam
    frame signatures (deterministic fake — a real build hashes a luma
    histogram per frame) + ONE per-media lag window over frame rows.
    NEW r14 surface."""
    from metrics_service_spark.operators.multimodal import scene_cuts

    return scene_cuts(_media(spark, sf_dir), stride=4, max_frames=24)


ORACLE_SCENE_CUTS = """
WITH f AS (
  SELECT doc_id AS media_id, CAST(g AS INT) AS frame_idx,
         CAST((octet_length(encode(text)) * (g + 1)) % 251 AS INT) AS sig
  FROM documents,
       LATERAL unnest(range(0, 1 + octet_length(encode(text)) % 24, 4)) AS t(g)
), d AS (
  SELECT media_id, frame_idx, sig,
         lag(sig) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev
  FROM f
)
SELECT media_id, frame_idx, sig
FROM d WHERE prev IS NULL OR abs(sig - prev) > 96
"""


def q_mm_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_audio(_media(spark, sf_dir))


ORACLE_AUDIO_META = """
SELECT doc_id AS media_id,
       CAST(16000 AS INT) AS sample_rate,
       CAST(octet_length(encode(text)) * 1000 // 32 AS BIGINT) AS duration_ms,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
"""


def q_mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-histogram features; no SQL oracle (per-byte loop) — the
    histogram math is unit-tested in tests/test_multimodal.py."""
    feats = image_features(_media(spark, sf_dir))
    # surface a scalar summary column so the rows-only check still sees
    # the feature content, not just the array shape
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("f0"),
    )


def q_mm_image_features_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked feature twin: the Arrow stage emits integer
    bucket counts (image_features_int) and the normalized f0 is an
    exact int64 -> double division JVM-side; the payload is the UTF-8
    bytes of ASCII text, so the oracle replays the byte histogram with
    ascii(char) % 8 over exploded characters."""
    from metrics_service_spark.operators.multimodal import image_features_int

    f = image_features_int(_media(spark, sf_dir))
    return f.select(
        "media_id",
        "n_bytes",
        "hist0",
        round_frac(F.col("hist0"), F.col("total"), 6).alias("f0"),
    )


ORACLE_IMAGE_FEATURES_EXACT = f"""
WITH d AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes
  FROM documents
), ex AS (
  SELECT doc_id AS media_id, unnest(string_split(text, '')) AS ch
  FROM documents
), h AS (
  -- LEFT JOIN so an empty document still yields its row (unnest of an
  -- empty split produces nothing; the Spark side emits hist0=0/total=1)
  SELECT d.media_id, d.n_bytes,
         CAST(coalesce(sum(CASE WHEN ascii(ch) % 8 = 0 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS hist0,
         greatest(count(ch), 1) AS total
  FROM d LEFT JOIN ex USING (media_id) GROUP BY 1, 2
)
SELECT media_id, CAST(n_bytes AS BIGINT) AS n_bytes, hist0,
       {sql_round_frac("hist0", "total", 6)} AS f0
FROM h
"""


def q_mm_image_meta_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: deterministic dims from doc_id ->
    encode a genuine spec-valid PNG per row (mapInPandas) ->
    decode_image(real=True) parses the IHDR back with the pure-stdlib
    parser.  The oracle recomputes the dims directly from doc_id, so a
    driver row verifies the whole encode->decode roundtrip — the same
    `real=True` seam a production cluster feeds with actual corpus
    payloads (n_bytes is zlib-dependent, hence excluded)."""
    from metrics_service_spark.operators.multimodal import synthesize_png

    dims = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        (F.pmod("doc_id", F.lit(13)) + 1).cast("int").alias("w"),
        (F.pmod("doc_id", F.lit(7)) + 1).cast("int").alias("h"),
    )
    return decode_image(synthesize_png(dims), real=True).select(
        "media_id", "width", "height", "channels"
    )


ORACLE_IMAGE_META_REAL = """
SELECT doc_id AS media_id,
       CAST(doc_id % 13 + 1 AS INT) AS width,
       CAST(doc_id % 7 + 1 AS INT) AS height,
       CAST(3 AS INT) AS channels
FROM documents
"""


def q_mm_image_meta_real_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-format REAL decode roundtrip: per doc_id the payload is a
    genuine PNG, JPEG (SOF0 or SOF2, alternating) or GIF89a encoded
    distributively (operators/multimodal.py synthesize_images), then
    decoded back through `decode_image(real=True)`'s format-sniffing
    stdlib parsers — so one driver row exercises all three header
    decoders on the mapInPandas path (the r6 gap: JPEG/GIF were
    unit-tested only).  The oracle recomputes dims + format tag from
    doc_id."""
    from metrics_service_spark.operators.multimodal import synthesize_images

    dims = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        (F.pmod("doc_id", F.lit(13)) + 1).cast("int").alias("w"),
        (F.pmod("doc_id", F.lit(7)) + 1).cast("int").alias("h"),
        F.element_at(
            F.array(F.lit("png"), F.lit("jpeg"), F.lit("gif")),
            (F.pmod("doc_id", F.lit(3)) + 1).cast("int"),
        ).alias("fmt"),
    )
    decoded = decode_image(synthesize_images(dims), real=True)
    return decoded.join(
        dims.select("media_id", "fmt"), "media_id"
    ).select("media_id", "width", "height", "channels", "fmt")


ORACLE_IMAGE_META_REAL_MIXED = """
SELECT doc_id AS media_id,
       CAST(doc_id % 13 + 1 AS INT) AS width,
       CAST(doc_id % 7 + 1 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
            WHEN 1 THEN 'jpeg' ELSE 'gif' END AS fmt
FROM documents
"""


def q_mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit perceptual hash per media payload as four 16-bit slices
    (median-rule bits over 64 positional segment sums — the 1-D
    analogue of pHash's 8x8-downsample + above-median DCT
    thresholding); the Arrow stage is the media seam, every bit
    replayed exactly by the oracle."""
    from metrics_service_spark.operators.multimodal import image_phash

    return image_phash(_media(spark, sf_dir))


ORACLE_PHASH = """
WITH d AS (
  SELECT doc_id AS media_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
), ex AS (
  -- positional segment sums: byte at 1-based position g lands in
  -- segment (g-1)*64 // n (the 1-D 8x8-downsample analogue)
  -- NOTE (ADVICE r9): this walks text by CHARACTER position
  -- (substr/ascii) while the Spark side hashes raw payload BYTES;
  -- the parity holds because the documents fixture is pure ASCII
  -- (byte pos == char pos, ascii() == byte value).  If the fixture
  -- ever grows non-ASCII text, rewrite this CTE byte-wise over
  -- encode(text) (e.g. get_bit/8-bit extraction) before trusting it.
  SELECT d.media_id,
         (t.g - 1) * 64 // d.n_bytes AS b,
         CAST(ascii(substr(dd.text, CAST(t.g AS INT), 1)) AS BIGINT) AS v
  FROM documents dd
  JOIN d ON d.media_id = dd.doc_id,
       LATERAL unnest(range(1, CAST(d.n_bytes AS INT) + 1)) t(g)
), hist AS (
  SELECT media_id, b, CAST(sum(v) AS BIGINT) AS cnt
  FROM ex GROUP BY 1, 2
), grid AS (
  SELECT d.media_id, g.b
  FROM d, (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS b) g
), filled AS (
  SELECT grid.media_id, grid.b, coalesce(hist.cnt, 0) AS cnt
  FROM grid LEFT JOIN hist
    ON hist.media_id = grid.media_id AND hist.b = grid.b
), bits AS (
  -- median rule: exactly the 32 highest-occupancy buckets, ties to
  -- the lower bucket index
  SELECT media_id, b FROM (
    SELECT media_id, b,
           row_number() OVER (PARTITION BY media_id
                              ORDER BY cnt DESC, b ASC) AS rk
    FROM filled
  ) WHERE rk <= 32
)
SELECT d.media_id, d.n_bytes,
       CAST(coalesce(sum(CASE WHEN b.b // 16 = 0 THEN 1 << (b.b % 16) END), 0) AS INT) AS slice0,
       CAST(coalesce(sum(CASE WHEN b.b // 16 = 1 THEN 1 << (b.b % 16) END), 0) AS INT) AS slice1,
       CAST(coalesce(sum(CASE WHEN b.b // 16 = 2 THEN 1 << (b.b % 16) END), 0) AS INT) AS slice2,
       CAST(coalesce(sum(CASE WHEN b.b // 16 = 3 THEN 1 << (b.b % 16) END), 0) AS INT) AS slice3
FROM d LEFT JOIN bits b USING (media_id)
GROUP BY 1, 2
"""


def q_mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs (hamming <= 7, 8-bit pigeonhole
    bands) — multimodal dedup with the simhash family's join
    discipline: candidates from a (band, slice) equi-join, exact
    bit_count verify, ONE Arrow signature pass checkpointed for both
    sides.  Balanced 32-of-64 hashes put near-identical payloads at
    hamming 4-7 on this corpus, so the 8-band bound is the useful
    operating point."""
    from metrics_service_spark.operators.multimodal import (
        phash_near_duplicates,
    )

    return phash_near_duplicates(_media(spark, sf_dir), max_hamming=7)


ORACLE_PHASH_NEARDUP = f"""
WITH sig AS ({ORACLE_PHASH}),
melted AS (
  SELECT media_id, slice0, slice1, slice2, slice3, band,
         CASE band WHEN 0 THEN slice0 % 256 WHEN 1 THEN slice0 // 256
                   WHEN 2 THEN slice1 % 256 WHEN 3 THEN slice1 // 256
                   WHEN 4 THEN slice2 % 256 WHEN 5 THEN slice2 // 256
                   WHEN 6 THEN slice3 % 256 ELSE slice3 // 256 END AS sl
  FROM sig, (VALUES (0), (1), (2), (3), (4), (5), (6), (7)) b(band)
), cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         bit_count(xor(a.slice0, b.slice0)) + bit_count(xor(a.slice1, b.slice1)) +
         bit_count(xor(a.slice2, b.slice2)) + bit_count(xor(a.slice3, b.slice3))
             AS hamming
  FROM melted a JOIN melted b
    ON a.band = b.band AND a.sl = b.sl AND a.media_id < b.media_id
)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM cand WHERE hamming <= 7
"""


def q_mm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal dedup: perceptual-hash near-dup pairs ->
    connected components -> one row per media item with its cluster id
    and whether it is the canonical (minimum-id) representative.
    Filtering is_canonical gives the media keep-list — the mm twin of
    doc_dedup_clusters.

    r17: min-label propagation -> alternating large/small-star CC.
    Measured at sf0.1: the phash graph's near-dup CHAINS (a~b~c each
    within hamming 7 while a!~c) gave diameter-12 components — the
    min-label loop ran all 12 rounds (7.1 s of pure sequential-round
    latency on a 788-node graph) and sat one round from its
    require_converged raise; longer chains at scale would have
    tripped it.  The star form converges in O(log n) rounds
    regardless of diameter — exactly why doc_linkage_clusters adopted
    it for SN rank-adjacency chains in r13 — and emits the identical
    (node, component=min id) labeling, so the recursive-CTE oracle is
    unchanged."""
    from metrics_service_spark.operators.closure import (
        connected_components_star,
    )
    from metrics_service_spark.operators.multimodal import (
        phash_near_duplicates,
    )

    media = _media(spark, sf_dir)
    pairs = phash_near_duplicates(media, max_hamming=7).select(
        "id_a", "id_b"
    )
    cc = connected_components_star(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        # the media ids, read without `attach_payload`'s repartition
        nodes=load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long").alias("media_id")
        ),
    )
    return cc.select(
        "media_id", F.col("component").alias("cluster")
    ).withColumn("is_canonical", F.col("media_id") == F.col("cluster"))


ORACLE_MM_DEDUP_CLUSTERS = f"""
WITH RECURSIVE sig AS ({ORACLE_PHASH}),
melted AS (
  SELECT media_id, slice0, slice1, slice2, slice3, band,
         CASE band WHEN 0 THEN slice0 % 256 WHEN 1 THEN slice0 // 256
                   WHEN 2 THEN slice1 % 256 WHEN 3 THEN slice1 // 256
                   WHEN 4 THEN slice2 % 256 WHEN 5 THEN slice2 // 256
                   WHEN 6 THEN slice3 % 256 ELSE slice3 // 256 END AS sl
  FROM sig, (VALUES (0), (1), (2), (3), (4), (5), (6), (7)) b(band)
), pairs AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
  FROM melted a JOIN melted b
    ON a.band = b.band AND a.sl = b.sl AND a.media_id < b.media_id
  WHERE bit_count(xor(a.slice0, b.slice0)) + bit_count(xor(a.slice1, b.slice1)) +
        bit_count(xor(a.slice2, b.slice2)) + bit_count(xor(a.slice3, b.slice3)) <= 7
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
  SELECT d.doc_id AS media_id, coalesce(c.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT media_id, cluster, media_id = cluster AS is_canonical FROM assigned
"""


QUERIES = {
    "mm_phash": QuerySpec(
        q_mm_phash,
        ORACLE_PHASH,
        "perceptual hash (4x16-bit slices, median rule over "
        "positional segment sums) through the Arrow media seam",
        ("multimodal",),
    ),
    "mm_phash_neardup": QuerySpec(
        q_mm_phash_neardup,
        ORACLE_PHASH_NEARDUP,
        "perceptual-hash near-dup pairs: 8-bit-band pigeonhole "
        "equi-join + exact bit_count verify, hamming <= 7",
        ("multimodal",),
    ),
    "mm_dedup_clusters": QuerySpec(
        q_mm_dedup_clusters,
        ORACLE_MM_DEDUP_CLUSTERS,
        "end-to-end media dedup: phash pairs -> connected components "
        "-> cluster id + canonical keep flag per media item",
        ("multimodal",),
    ),
    "mm_image_meta": QuerySpec(
        q_mm_image_meta,
        ORACLE_IMAGE_META,
        "binary decode stub + resize geometry",
        ("multimodal",),
    ),
    "mm_frame_sample": QuerySpec(
        q_mm_frame_sample,
        ORACLE_FRAME_SAMPLE,
        "video frame sampling, 1->N mapInPandas",
        ("multimodal",),
    ),
    "mm_scene_cuts": QuerySpec(
        q_mm_scene_cuts,
        ORACLE_SCENE_CUTS,
        "video scene-cut detection: Arrow-seam frame signatures + "
        "per-media lag window over frame rows",
        ("multimodal",),
    ),
    "mm_audio_meta": QuerySpec(
        q_mm_audio_meta, ORACLE_AUDIO_META, "audio decode stub", ("multimodal",)
    ),
    "mm_image_meta_real": QuerySpec(
        q_mm_image_meta_real,
        ORACLE_IMAGE_META_REAL,
        "REAL PNG encode->header-decode roundtrip, oracle-checked",
        ("multimodal",),
    ),
    "mm_image_meta_real_mixed": QuerySpec(
        q_mm_image_meta_real_mixed,
        ORACLE_IMAGE_META_REAL_MIXED,
        "REAL PNG+JPEG(SOF0/SOF2)+GIF mixed roundtrip, oracle-checked",
        ("multimodal",),
    ),
    "mm_image_features": QuerySpec(
        q_mm_image_features, None, "byte-histogram feature extract", ("multimodal",),
        exact_twin="mm_image_features_exact",
    ),
    "mm_image_features_exact": QuerySpec(
        q_mm_image_features_exact,
        ORACLE_IMAGE_FEATURES_EXACT,
        "byte-histogram features, integer counts — oracle-checked",
        ("multimodal",),
    ),
}
