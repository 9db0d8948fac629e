"""Property tests for the approximate similarity/dedup operators, on
top of the catalog's bitwise DuckDB checks: ANN (LSH + IVF) recall vs
exact brute force, near-dup prefilter soundness, MinHash and SimHash
candidate quality (their xxhash64 heads have no DuckDB oracle), and
the exact-dim guard of the LSH signatures."""

from __future__ import annotations

import hashlib
import math
import random

import pytest
from pyspark.sql import functions as F

from metrics_service_spark.operators.dedup import (
    minhash_near_duplicates,
    ngram_jaccard_pairs,
)
from metrics_service_spark.operators.similarity import (
    ann_topk_int,
    brute_force_topk,
    cosine_near_duplicates,
    ivf_topk_int,
)

DIM = 64
N_CLUSTERS = 10
PER_CLUSTER = 30


@pytest.fixture(scope="module")
def clustered_embeddings(spark):
    """Deterministic clustered unit vectors: ANN recall is meaningful
    only when true neighbors exist."""
    rng = random.Random(7)
    rows = []
    vid = 0
    for c in range(N_CLUSTERS):
        center = [rng.gauss(0, 1) for _ in range(DIM)]
        for _ in range(PER_CLUSTER):
            v = [x + rng.gauss(0, 0.15) for x in center]
            norm = math.sqrt(sum(x * x for x in v))
            rows.append((vid, [x / norm for x in v], c))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).cache()


def _recall(approx_rows, exact_rows):
    exact = {}
    for r in exact_rows:
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in approx_rows:
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    return hits / total


def test_ivf_recall_vs_bruteforce(clustered_embeddings):
    queries = clustered_embeddings.filter(F.col("vec_id") % PER_CLUSTER == 0)
    exact = brute_force_topk(clustered_embeddings, queries, k=5).collect()
    approx = ivf_topk_int(
        clustered_embeddings, queries, k=5, n_cells=12, nprobe=4
    ).collect()
    assert _recall(approx, exact) >= 0.6


def test_ivf_nprobe_all_cells_is_exact(clustered_embeddings):
    queries = clustered_embeddings.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(clustered_embeddings, queries, k=5).collect()
    full = ivf_topk_int(
        clustered_embeddings, queries, k=5, n_cells=8, nprobe=8
    ).collect()
    assert _recall(full, exact) == 1.0


def test_lsh_ann_recall(clustered_embeddings):
    queries = clustered_embeddings.filter(F.col("vec_id") % PER_CLUSTER == 0)
    exact = brute_force_topk(clustered_embeddings, queries, k=5).collect()
    approx = ann_topk_int(
        clustered_embeddings, queries, k=5, planes=4, tables=4, dim=DIM
    ).collect()
    assert _recall(approx, exact) >= 0.5


def test_neardup_prefilter_is_subset(clustered_embeddings):
    exact_pairs = {
        (r.id_a, r.id_b)
        for r in cosine_near_duplicates(
            clustered_embeddings, threshold=0.9
        ).collect()
    }
    filtered_pairs = {
        (r.id_a, r.id_b)
        for r in cosine_near_duplicates(
            clustered_embeddings, threshold=0.9, prefilter_planes=4, dim=DIM
        ).collect()
    }
    assert exact_pairs, "fixture must contain true near-dup pairs"
    assert filtered_pairs <= exact_pairs
    # 4-plane blocking on tight clusters should keep most true pairs
    assert len(filtered_pairs) >= 0.5 * len(exact_pairs)


def test_neardup_threshold_boundary(spark):
    # hand-built vectors with known cosines: parallel (1.0),
    # orthogonal (0.0), 45 degrees (~0.7071)
    inv = 1 / math.sqrt(2)
    rows = [
        (1, [1.0, 0.0] + [0.0] * 62),
        (2, [1.0, 0.0] + [0.0] * 62),
        (3, [0.0, 1.0] + [0.0] * 62),
        (4, [inv, inv] + [0.0] * 62),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b)
        for r in cosine_near_duplicates(df, threshold=0.7).collect()
    }
    assert got == {(1, 2), (1, 4), (2, 4), (3, 4)}
    strict = {
        (r.id_a, r.id_b)
        for r in cosine_near_duplicates(df, threshold=0.95).collect()
    }
    assert strict == {(1, 2)}


def test_minhash_candidates_verified_by_jaccard(spark):
    base = "the quick brown fox jumps over the lazy dog " * 6
    docs = [
        (1, base),
        (2, base + "extra tail words here"),  # near-dup of 1
        (3, "completely different content about spark query engines " * 5),
        (4, base.replace("quick", "slow")),  # near-dup of 1
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = minhash_near_duplicates(df, "doc_id", "text", threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.select("id_a", "id_b").collect()}
    assert (1, 2) in got or (1, 4) in got
    assert all(3 not in p for p in got)
    exact = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5)
    exact_pairs = {(r.id_a, r.id_b) for r in exact.select("id_a", "id_b").collect()}
    # every LSH-confirmed pair passes the exact-Jaccard bar too
    assert got <= exact_pairs


def test_simhash_neardup_finds_near_identical(spark):
    from metrics_service_spark.operators.dedup import simhash_near_duplicates

    base = ("spark engines shuffle data across executors for wide "
            "aggregations and joins while narrow maps pipeline ") * 4
    docs = [
        (1, base),
        (2, base + "tiny tail"),  # near-identical -> small hamming
        (3, "entirely unrelated corpus about marine biology and plankton "
            "blooms in the north atlantic " * 4),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_duplicates(
            df, "doc_id", "text", max_hamming=3
        ).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    # hamming is symmetric-exact: identical docs -> 0
    df2 = spark.createDataFrame([(1, base), (2, base)], "doc_id long, text string")
    identical = simhash_near_duplicates(df2, "doc_id", "text").collect()
    assert identical[0].hamming == 0


def test_lsh_batch_buckets_equal_python_fold(spark):
    """`lsh_buckets_int_batch` gives every (id, table) the bucket of a
    plain fold over `int_planes`: bit p set iff the int64 dot with plane
    p is >= 0.  Seeded vectors, zero dots included."""
    from metrics_service_spark.operators.similarity import (
        int_planes,
        lsh_buckets_int_batch,
    )

    rng = random.Random(7)
    dim, planes, tables = 16, 5, 3
    vecs = [[rng.randint(-1000, 1000) for _ in range(dim)] for _ in range(40)]
    vecs += [[0] * dim, [1] + [0] * (dim - 1)]
    df = spark.createDataFrame(list(enumerate(vecs)), "id long, v array<long>")
    got = {
        (r["id"], r["__t"]): r["__b"]
        for r in lsh_buckets_int_batch(
            df, "id", "v", planes=planes, tables=tables, dim=dim
        ).collect()
    }
    want = {
        (i, t): sum(
            1 << p
            for p, w in enumerate(int_planes(planes, dim, table=t))
            if sum(a * b for a, b in zip(v, w)) >= 0
        )
        for i, v in enumerate(vecs)
        for t in range(tables)
    }
    assert got == want


def test_lsh_batch_rejects_off_dim_vectors(spark):
    """The exact-dim contract is enforced on every row: a short/NULL
    vector raises when the signatures run, instead of silently
    yielding partial dots."""
    from pyspark.errors import SparkRuntimeException

    from metrics_service_spark.operators.similarity import lsh_buckets_int_batch

    df = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [1, 2]), (3, None)], "id long, v array<long>"
    )
    for bad in ("id = 2", "id = 3"):
        with pytest.raises(SparkRuntimeException, match="exact-dim"):
            lsh_buckets_int_batch(
                df.filter(f"id = 1 OR {bad}"), "id", "v", planes=2, tables=1, dim=4
            ).collect()
    ok = lsh_buckets_int_batch(
        df.filter("id = 1"), "id", "v", planes=2, tables=1, dim=4
    )
    assert ok.count() == 1


def test_jaccard_max_cell_guard_drops_overfull_cells(spark):
    """Docs whose (block, log2-length) cell exceeds max_cell are
    excluded from exact-Jaccard pairing (the quadratic-tail cap);
    smaller cells are unaffected and the rule is deterministic."""
    from metrics_service_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i, "en", "a b c d e f g h") for i in range(5)]  # one hot cell
    rows += [(100, "fr", "x y z w q r"), (101, "fr", "x y z w q r")]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, block_cols=["lang"], threshold=0.5, max_cell=3
    ).collect()
    # the 5-doc en cell is dropped entirely; the 2-doc fr cell survives
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(100, 101)}
    uncapped = ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, block_cols=["lang"], threshold=0.5, max_cell=100
    ).collect()
    assert len(uncapped) == 1 + 10  # fr pair + all C(5,2) en pairs


def test_minhash_signature_estimates_jaccard(spark):
    """The 2-universal linear-permutation family must estimate Jaccard:
    fraction of agreeing signature slots ~ true shingle Jaccard, within
    binomial noise for 16 slots.  Guards the one-hash+permutation
    construction against a correlated-permutation regression (e.g. all
    slots derived from the same permutation would agree 0% or 100%)."""
    from metrics_service_spark.operators.dedup import (
        minhash_signatures,
        shingle_array,
    )
    from pyspark.sql import functions as F

    rng = __import__("random").Random(3)
    vocab = [f"w{i}" for i in range(500)]
    docs = []
    base = [rng.choice(vocab) for _ in range(400)]
    for i, keep in enumerate([1.0, 0.9, 0.7, 0.5, 0.3]):
        words = [w if rng.random() < keep else rng.choice(vocab) for w in base]
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sigs = {
        r["__id"]: [r[f"h{i}"] for i in range(16)]
        for r in minhash_signatures(df, "doc_id", "text").collect()
    }
    sh = {
        r["doc_id"]: set(r["s"])
        for r in df.select(
            "doc_id", shingle_array(F.split("text", " "), 3).alias("s")
        ).collect()
    }
    for other in range(1, 5):
        true_j = len(sh[0] & sh[other]) / len(sh[0] | sh[other])
        est = sum(a == b for a, b in zip(sigs[0], sigs[other])) / 16
        # binomial(16, J) noise: allow ~2.5 sigma
        tol = 2.5 * (true_j * (1 - true_j) / 16) ** 0.5 + 1e-9
        assert abs(est - true_j) <= max(tol, 0.28), (other, true_j, est)


def test_semdedup_broadcast_path_matches_literal_path(spark, sf_dir, monkeypatch):
    """The two assignment implementations (inlined literals vs
    broadcast join + window) compute the same arithmetic with the same
    ties rule, so keep-lists must be identical for the same n_cells."""
    from metrics_service_spark.operators import similarity as sim
    from metrics_service_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    lit = {
        (r.vec_id, r.cell, r.kept)
        for r in sim.semantic_dedup(emb, n_cells=16).collect()
    }
    monkeypatch.setattr(sim, "_LITERAL_CELL_LIMIT", 1)
    bcast = {
        (r.vec_id, r.cell, r.kept)
        for r in sim.semantic_dedup(emb, n_cells=16).collect()
    }
    assert lit == bcast


def test_semdedup_target_cell_size_grows_cells(spark, sf_dir):
    """The scale knob: target_cell_size grows n_cells with the corpus
    so per-cell populations (the quadratic pair term) stay bounded."""
    from metrics_service_spark.operators.similarity import semantic_dedup
    from metrics_service_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    out = semantic_dedup(emb, n_cells=16, target_cell_size=5)
    assert out.count() == n
    sizes = (
        out.groupBy("cell").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    assert len(sizes) > 16  # more cells than the floor
    # hash seeding is not k-means; allow slack over the target but the
    # biggest cell must stay FAR below the pinned-16 regime (~n/16)
    assert max(r.c for r in sizes) < n / 16


def test_assign_int_broadcast_path_matches_literal_path(spark, sf_dir, monkeypatch):
    """_assign_int's two implementations agree exactly (integer
    arithmetic, same ties rule) — covers the int SemDeDup family and
    the streaming gate's large-k regime."""
    from metrics_service_spark.operators import similarity as sim
    from metrics_service_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cvecs = sim._md5_seed_centroids(emb, "vec_id", "embedding", 16)
    lit = {
        (r["__vid"], r["cell"], r["__n2"])
        for r in sim._assign_int(emb, "vec_id", "embedding", cvecs).collect()
    }
    monkeypatch.setattr(sim, "_LITERAL_CELL_LIMIT", 1)
    bcast = {
        (r["__vid"], r["cell"], r["__n2"])
        for r in sim._assign_int(emb, "vec_id", "embedding", cvecs).collect()
    }
    assert lit == bcast


def test_kmeans_train_large_k_broadcast_path_identical(spark, sf_dir, monkeypatch):
    """kmeans_train's inner assignment routes through the shared
    _argmax_cells, so a genuine n_cells > _LITERAL_CELL_LIMIT run (the
    broadcast-join argmax — flat analysis cost at large k) must be
    bit-identical to the literal-inlined path run at a raised limit."""
    from metrics_service_spark.operators import similarity as sim
    from metrics_service_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k = 80
    monkeypatch.setattr(sim, "_LITERAL_CELL_LIMIT", 64)
    bcast = sorted(
        (r.cell, r.pos, r.sum_q, r.n, r.mean_q)
        for r in sim.kmeans_train(emb, n_cells=k, iters=2).collect()
    )
    monkeypatch.setattr(sim, "_LITERAL_CELL_LIMIT", 10_000)
    lit = sorted(
        (r.cell, r.pos, r.sum_q, r.n, r.mean_q)
        for r in sim.kmeans_train(emb, n_cells=k, iters=2).collect()
    )
    assert bcast == lit and len({c for c, *_ in bcast}) > 1


def test_md5_seeds_match_hashlib_reference(spark):
    """`_md5_seeds` takes the n rows with the smallest (md5(str(id)),
    id), the rule every md5-seeded oracle replays; an n above the row
    count returns every row in that order."""
    from metrics_service_spark.operators import similarity as sim

    rows = [(i, [i, -i, 3 * i]) for i in range(-6, 9)]
    quant = spark.createDataFrame(rows, "__vid long, __v array<long>")
    ref = [
        v
        for _, v in sorted(
            rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0])
        )
    ]
    assert sim._md5_seeds(quant, 5) == ref[:5]
    assert sim._md5_seeds(quant, 40) == ref


@pytest.mark.parametrize(
    "bad", [(None, [1, 2]), (2, None), (2, [1, None])], ids=["id", "vec", "elem"]
)
def test_md5_seeds_reject_null_seeds(spark, bad):
    """A NULL id, vector or element among the seeds raises: Spark sorts
    a NULL md5 first and DuckDB last, so the seeds would differ from
    every md5-seeded oracle (and a NULL element used to die in int())."""
    from metrics_service_spark.operators import similarity as sim

    quant = spark.createDataFrame(
        [(1, [3, 4]), bad, (3, [5, 6])], "__vid long, __v array<long>"
    )
    with pytest.raises(ValueError, match="NULL"):
        sim._md5_seeds(quant, 3)
    vec = None if bad[1] is None else [None if x is None else x / 10 for x in bad[1]]
    emb = spark.createDataFrame(
        [(1, [0.3, 0.4]), (bad[0], vec)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="NULL"):
        sim.kmeans_step(emb, n_cells=2)


def test_recenter_floor_mean_and_empty_cell_carry_over(spark):
    """`_recenter` writes the floor mean (toward -inf) per (key, pos)
    and carries a key with no stats rows over; through
    `lloyd_centroids`, a seed whose vectors all argmax elsewhere is
    such an empty cell."""
    from metrics_service_spark.operators import similarity as sim

    prev = [[1, 2], [3, 4], [5, 6]]
    stats = [(0, 0, 7, 2), (0, 1, -7, 2), (2, 0, 10, 3), (2, 1, -1, 3)]
    assert sim._recenter(prev, stats) == [[3, -4], [3, 4], [3, -1]]
    assert prev == [[1, 2], [3, 4], [5, 6]]

    # [1, 9] scores 82 against its own seed and 90 against [0, 10], so
    # its cell is empty and keeps the seed; [0, 10] takes both
    vecs = {1: [10, 0], 2: [0, 10], 3: [1, 9]}
    quant = spark.createDataFrame(
        list(vecs.items()), "__vid long, __v array<long>"
    )
    order = sorted(vecs, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    after = {1: [10, 0], 2: [0, 9], 3: [1, 9]}
    assert sim.lloyd_centroids(quant, 3, 2) == [after[i] for i in order]


def test_sem_quant_bounds_validated_at_seed_collect(spark):
    """ADVICE r6: the SEM_QUANT int64 no-overflow proof assumes
    dim <= 64 and |x| <= 2 — violating embedding families must fail
    fast at the driver-side seed collect with a clear error, not as an
    ANSI overflow in a task (or silent wrong verdicts with ANSI off)."""
    import pytest as _pytest

    from metrics_service_spark.operators import similarity as sim

    big_mag = spark.createDataFrame(
        [(i, [float(i + 100)] * 8) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="normalize"):
        sim.semantic_dedup_int(big_mag, n_cells=4)

    wide = spark.createDataFrame(
        [(i, [0.1] * 80) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="dim"):
        sim.semantic_dedup_int(wide, n_cells=4)


def test_tau_bounds_validated(spark):
    """ADVICE r7: tau outside the int64 envelope (max 11 at the
    default dim/|q| bounds) must raise at plan-build time — num^2 or
    den^2 times (dim*maxq^2)^2 would exceed 2^63-1 and silently wrap
    with ANSI off, flipping keep/drop verdicts."""
    import pytest as _pytest

    from metrics_service_spark.operators.similarity import check_tau_bounds

    check_tau_bounds(3, 10)
    check_tau_bounds(11, 11)  # the boundary ratio is still valid
    check_tau_bounds(0, 1)
    with _pytest.raises(ValueError, match="tau_den=100"):
        check_tau_bounds(9, 100)
    with _pytest.raises(ValueError, match="tau_num=99"):
        check_tau_bounds(99, 100)
    with _pytest.raises(ValueError, match="positive"):
        check_tau_bounds(3, 0)
    with _pytest.raises(ValueError, match="non-negative"):
        check_tau_bounds(-1, 10)

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    from metrics_service_spark.operators import similarity as sim

    with _pytest.raises(ValueError, match="overflows"):
        sim.semantic_dedup_int(df, n_cells=2, tau_num=99, tau_den=100)
    with _pytest.raises(ValueError, match="overflows"):
        sim.semantic_dedup_incremental_int(df, df, n_cells=2, tau_num=99, tau_den=100)


def test_pq_recall_and_structure(spark, sf_dir):
    """Product quantization: (1) encode emits exactly m codes in
    [0, k_codes); (2) ADC top-k recall@5 vs the exact brute-force
    integer dots is well above chance on the test corpus; (3) the
    codebook shape is (m, k, dim/m) with integer entries."""
    from pyspark.sql import functions as F

    from metrics_service_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk_int,
        pq_train,
    )
    from metrics_service_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pq_train(emb, m=8, k_codes=16, iters=2)
    assert len(cb) == 8 and all(len(b) == 16 for b in cb)
    assert all(len(cv) == 8 for b in cb for cv in b)
    assert all(isinstance(x, int) for b in cb for cv in b for x in cv)

    coded = pq_encode(emb, cb)
    bad = coded.filter(
        (F.size("codes") != 8)
        | F.exists("codes", lambda c: (c < 0) | (c >= 16))
    ).count()
    assert bad == 0

    queries = emb.filter(F.col("vec_id") % 211 == 0)
    approx = pq_topk_int(emb, queries, cb, k=5)
    exact = brute_force_topk(emb, queries, k=5)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    nq = queries.count()
    assert nq > 0 and len(a) == 5 * nq
    recall = len(a & e) / len(e)
    # 16 codes x 8 subspaces on random-ish test vectors: recall is
    # limited but must beat chance (5/N ~ 1%) by a wide margin
    assert recall >= 0.2, recall


def test_pq_requires_divisible_dim(spark):
    import pytest as _pytest

    from metrics_service_spark.operators.similarity import pq_train

    df = spark.createDataFrame(
        [(1, [0.1] * 64)], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="divisible"):
        pq_train(df, m=7)


def test_ivfpq_lossless_limit_equals_exact(spark, sf_dir):
    """The hard correctness anchor: with k_codes >= corpus size every
    residual becomes its own code (each seed is its own singleton
    cluster through the Lloyd update), so the ADC decomposition
    q.centroid + sum_j q_sub.code must equal the exact integer dot
    BIT-FOR-BIT on every candidate pair.  This is the test that caught
    the k-from-parameter-vs-trained-codebook indexing bug."""
    from pyspark.sql import functions as F

    from metrics_service_spark.operators.similarity import (
        ivf_topk_int,
        ivfpq_topk_int,
    )
    from metrics_service_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 12)
    queries = emb.filter(F.col("vec_id") < 3)
    adc = ivfpq_topk_int(
        emb, queries, n_cells=2, nprobe=2, m=8, k_codes=16, iters=2, k=100
    )
    exact = ivf_topk_int(emb, queries, n_cells=2, nprobe=2, k=100)
    joined = adc.join(exact, ["query_id", "neighbor_id"])
    rows = joined.select("score_q", "dot_q").collect()
    assert len(rows) > 0
    assert all(r.score_q == r.dot_q for r in rows)


def test_ivfpq_fidelity_within_probed_cells(spark, sf_dir):
    """Statistical fidelity on the real corpus: against the SAME
    coarse quantizer and probe list (ivf_topk_int — identical md5
    seeding and argmax ties) the candidate sets must be IDENTICAL, the
    ADC score must be positively correlated with the exact dot (the
    test embeddings are near-random 64-dim vectors, the worst case for
    16-code-per-subspace PQ, so the bound is modest — the bit-exact
    anchor is test_ivfpq_lossless_limit_equals_exact), and
    structurally there is no cartesian and no Python stage."""
    from pyspark.sql import functions as F

    from metrics_service_spark.operators.similarity import (
        ivf_topk_int,
        ivfpq_topk_int,
    )
    from metrics_service_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 211 == 0)
    # k beyond any candidate-set size, so BOTH rankings return the
    # FULL probed candidate set and the comparison measures how the
    # ADC score tracks the exact dot — not top-k subset churn
    big_k = 10**6
    adc = ivfpq_topk_int(emb, queries, n_cells=16, nprobe=4, k=big_k)
    exact = ivf_topk_int(emb, queries, n_cells=16, nprobe=4, k=big_k)
    nq = queries.count()
    assert nq > 0
    joined = adc.join(exact, ["query_id", "neighbor_id"])
    n_joined = joined.count()
    # identical coarse quantizer + probes -> identical candidate sets
    assert n_joined == adc.count() == exact.count()
    corr = joined.select(
        F.corr(F.col("score_q").cast("double"), F.col("dot_q").cast("double"))
    ).first()[0]
    assert corr is not None and corr > 0.05, corr
    plan = adc._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_sq8_lossless_span_equals_exact_dot(spark):
    """Hard anchor for SQ8: when every dimension's corpus span is
    EXACTLY 255 quantized units, the byte code is x - min verbatim, so
    score_q must equal 255 * the exact integer dot on every pair and
    the ranking must match the exact index bit-for-bit (ivf with one
    cell and one probe ranks by the exact dot)."""
    from pyspark.sql import functions as F

    from metrics_service_spark.operators.similarity import (
        ivf_topk_int,
        sq8_topk_int,
    )

    rows = [
        (i, [0.0255 if (i * 7 + j) % 3 == 0 else 0.0 for j in range(64)])
        for i in range(10)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 3)
    sq = sq8_topk_int(emb, queries, k=100)
    exact = ivf_topk_int(emb, queries, n_cells=1, nprobe=1, k=100)
    joined = sq.select(
        "query_id", "neighbor_id", F.col("rank").alias("rk_sq"), "score_q"
    ).join(exact, ["query_id", "neighbor_id"])
    got = joined.collect()
    assert len(got) == 27  # 3 queries x 9 non-self neighbors
    assert all(r.score_q == 255 * r.dot_q for r in got)
    assert all(r.rk_sq == r.rank for r in got)


def test_cluster_sample_quota_and_determinism(spark, sf_dir):
    from pyspark.sql import functions as F

    from metrics_service_spark.operators.similarity import (
        cluster_balanced_sample,
    )
    from metrics_service_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = cluster_balanced_sample(emb, n_cells=8, per_cell=5)
    rows = out.collect()
    per_cell = {}
    for r in rows:
        per_cell.setdefault(r.cell, []).append(r.rk)
    assert all(len(v) <= 5 for v in per_cell.values())
    # ranks are 1..k contiguous within each cell
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_cell.values())
    # deterministic: a rerun yields the identical sample
    again = sorted(map(tuple, cluster_balanced_sample(
        emb, n_cells=8, per_cell=5).collect()))
    assert sorted(map(tuple, rows)) == again
    # ids are unique (each vector sampled at most once)
    ids = [r[0] for r in rows]
    assert len(ids) == len(set(ids))


def test_knn_graph_topk_contract(spark, sf_dir):
    """Every vector gets at most k neighbors, ranks are contiguous
    from 1, neighbors share the vector's cell geometry (never self),
    and the reported dot is the exact integer dot."""
    from pyspark.sql import functions as F

    from metrics_service_spark.operators.similarity import (
        SEM_QUANT,
        knn_graph_int,
        quantize_at,
    )
    from metrics_service_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    g = knn_graph_int(emb, n_cells=8, k=3)
    rows = g.collect()
    per_src = {}
    for r in rows:
        assert r.src_id != r.dst_id
        per_src.setdefault(r.src_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_src.values())
    assert max(len(v) for v in per_src.values()) <= 3
    # exact-dot spot check on the top edge of the smallest src id
    src = min(per_src)
    edge = next(r for r in rows if r.src_id == src and r.rank == 1)
    vecs = {
        r["vec_id"]: r["q"]
        for r in emb.filter(F.col("vec_id").isin(src, edge.dst_id))
        .select(
            "vec_id",
            # r10: the graph family scores in SEM_QUANT space (the
            # hier assignment front)
            quantize_at(F.col("embedding"), SEM_QUANT).alias("q"),
        )
        .collect()
    }
    assert edge.dot_q == sum(
        a * b for a, b in zip(vecs[src], vecs[edge.dst_id])
    )


def test_fuzzy_prefix_pairs_blocking_and_distance(spark):
    # candidates share (block_cols, first-4 chars); distances match
    # a reference DP; overfull cells drop wholesale (deterministic
    # max_cell rule, same contract as ngram_jaccard_pairs)
    from metrics_service_spark.operators.dedup import fuzzy_prefix_pairs

    def lev(a, b):
        m, n = len(a), len(b)
        d = list(range(n + 1))
        for i in range(1, m + 1):
            prev, d[0] = d[0], i
            for j in range(1, n + 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                )
        return d[n]

    rows = [
        (1, "g", "abcd hello world one"),
        (2, "g", "abcd hello world two"),      # near dup of 1
        (3, "g", "abcd something else entirely different"),
        (4, "g", "zzzz other block"),           # different first-4
        (5, "h", "abcd hello world one"),       # different block col
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, text string")
    out = fuzzy_prefix_pairs(
        df, "doc_id", "text", prefix_chars=80, block_chars=4,
        max_dist=15, block_cols=["grp"],
    ).collect()
    got = {(r.id_a, r.id_b): r.dist for r in out}
    # only (1,2) qualifies: same grp+prefix block and within distance
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == lev(rows[0][2], rows[1][2])
    # max_cell=1 drops the whole (g, abcd) cell deterministically
    out2 = fuzzy_prefix_pairs(
        df, "doc_id", "text", prefix_chars=80, block_chars=4,
        max_dist=100, block_cols=["grp"], max_cell=1,
    ).collect()
    assert out2 == []


def test_winnow_guarantee_and_density(spark):
    # the winnowing contract (Schleimer et al.): two docs sharing a
    # run of >= k + window - 1 tokens share at least one fingerprint;
    # and a doc's fingerprint count is well below its gram count
    from metrics_service_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    shared_run = "alpha bravo charlie delta echo foxtrot"  # 6 tokens
    rows = [
        (1, f"one two three {shared_run} four five six"),
        (2, f"{shared_run} seven eight nine ten eleven twelve"),
        (3, "totally different words nothing in common here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, "doc_id", "text", k=3, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]  # guaranteed shared fingerprint
    assert not (by_doc[1] & by_doc[3])
    # density: selected <= grams (= tokens - 2)
    for did, text in [(1, rows[0][1]), (2, rows[1][1])]:
        assert len(by_doc[did]) <= len(text.split()) - 2
    pairs = winnow_pairs(
        df, "doc_id", "text", k=3, window=4, max_df=32, min_shared=1
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    # hot-fingerprint guard: max_df=1 drops every shared fingerprint
    none = winnow_pairs(
        df, "doc_id", "text", k=3, window=4, max_df=1, min_shared=1
    ).collect()
    assert none == []


def test_sorted_neighborhood_complements_strict_blocking(spark):
    # a near-dup whose edit hits the FIRST character escapes the
    # strict prefix block but sorts adjacent — sorted neighborhood
    # must find it; and candidate mass is exactly N*(w-1) per block
    from metrics_service_spark.operators.dedup import (
        fuzzy_prefix_pairs,
        sorted_neighborhood_pairs,
    )

    rows = [
        (1, "g", "abcd hello world one two"),
        (2, "g", "bbcd hello world one two"),   # first char differs
        (3, "g", "zzzz totally different text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, text string")
    strict = fuzzy_prefix_pairs(
        df, "doc_id", "text", prefix_chars=80, block_chars=4,
        max_dist=10, block_cols=["grp"],
    ).collect()
    assert strict == []  # blocked apart by the first-4 key
    sn = sorted_neighborhood_pairs(
        df, "doc_id", "text", neighborhood=2, prefix_chars=80,
        max_dist=10, block_cols=["grp"],
    ).collect()
    assert {(r.id_a, r.id_b, r.dist) for r in sn} == {(1, 2, 1)}
    # neighborhood=3 on 3 docs: candidates = 2+1 = 3; with max_dist
    # wide open all 3 candidate pairs come back
    allp = sorted_neighborhood_pairs(
        df, "doc_id", "text", neighborhood=3, prefix_chars=80,
        max_dist=100, block_cols=["grp"],
    ).collect()
    assert len(allp) == 3
