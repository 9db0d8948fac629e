"""Randomized reference-implementation properties for the r14
operators (the test_sessionize_props pattern: seeded generators, an
independent pure-Python model, exact equality — these operators are
all integer-deterministic by contract, so the comparison is ==)."""

from __future__ import annotations

import hashlib
import random
import re

import pytest
from pyspark.sql import functions as F

from metrics_service_spark.operators.bpe import (
    bpe_train_local_finish,
    merge_pair_scan,
)
from metrics_service_spark.operators.closure import pagerank_int
from metrics_service_spark.operators.sampling import priority_sample

WORDS = ["aa", "aab", "abab", "banana", "bandana", "cabbage", "dada", "a"]


# --- pure-Python models ------------------------------------------------------
def _py_merge(syms: list[str], left: str, right: str) -> list[str]:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _py_bpe_train(texts: list[str], n_merges: int, max_word_len: int = 20):
    freqs: dict[str, int] = {}
    for t in texts:
        for w in re.split(r"\s+", t.lower()):
            if w and re.fullmatch("[a-z]+", w) and len(w) <= max_word_len:
                freqs[w] = freqs.get(w, 0) + 1
    vocab = {w: list(w) for w in freqs}
    merges = []
    for rank in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + freqs[w]
        if not pairs:
            return None  # exhaustion: the operator raises here
        (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, c))
        vocab = {w: _py_merge(s, l, r) for w, s in vocab.items()}
    return merges


def _py_priority(ids_weights, k):
    scored = []
    for i, w in ids_weights:
        h = hashlib.md5(f"ps:{i}".encode()).hexdigest()
        u = int(h[:8], 16) + 1
        scored.append(((w * 4294967296) // u, i, w))
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [(i, w, p) for p, i, w in scored[:k]]


def _py_pagerank(edges, iters=3, scale=10**12):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(nodes)
    p = {v: scale // n for v in nodes}
    for _ in range(iters):
        contrib: dict[int, int] = {v: 0 for v in nodes}
        for s, d in edges:
            contrib[d] += p[s] // deg[s]
        p = {
            v: (3 * scale) // (20 * n) + (17 * contrib[v]) // 20
            for v in nodes
        }
    return p


# --- properties --------------------------------------------------------------
@pytest.mark.parametrize("seed", [3, 11, 29])
def test_merge_scan_matches_python_reference(spark, seed):
    rng = random.Random(seed)
    rows = []
    for _ in range(40):
        syms = [rng.choice("ab") for _ in range(rng.randint(0, 10))]
        rows.append((syms,))
    df = spark.createDataFrame(rows, "syms array<string>")
    for left, right in [("a", "a"), ("a", "b"), ("b", "a")]:
        got = [
            r["m"]
            for r in df.select(
                merge_pair_scan(F.col("syms"), left, right).alias("m")
            ).collect()
        ]
        want = [_py_merge(s[0], left, right) for s in rows]
        assert got == want, (left, right)


@pytest.mark.parametrize("seed", [5, 17])
def test_bpe_train_matches_python_reference(spark, seed):
    rng = random.Random(seed)
    texts = [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 12)))
        for _ in range(25)
    ]
    want = _py_bpe_train(texts, n_merges=4)
    assert want is not None
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r["rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_train_local_finish(df, "text", n_merges=4)
        .orderBy("rank")
        .collect()
    ]
    assert got == want


@pytest.mark.parametrize("seed", [2, 13])
def test_priority_sample_matches_python_reference(spark, seed):
    rng = random.Random(seed)
    rows = [(i, rng.randint(1, 5000)) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    got = [
        (r["doc_id"], r["weight"], r["priority_q"])
        for r in priority_sample(df, "doc_id", "n_chars", k=10)
        .orderBy("rank")
        .collect()
    ]
    assert got == _py_priority(rows, 10)


@pytest.mark.parametrize("seed", [4, 23])
def test_pagerank_matches_python_reference(spark, seed):
    rng = random.Random(seed)
    n = 30
    edges = sorted(
        {
            (rng.randrange(n), rng.randrange(n))
            for _ in range(70)
        }
    )
    edges = [(s, d) for s, d in edges if s != d]
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    got = {
        r["node"]: r["pr_q"] for r in pagerank_int(df, iters=3).collect()
    }
    want = _py_pagerank(edges)
    assert got == want
    # conservation bound: dangling leak + floors only ever lose mass
    assert sum(got.values()) <= 10**12
