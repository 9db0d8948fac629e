"""Reference-model property tests for the r15 BPE paths: the
incremental-pair-count driver-local trainer and the stored-table apply
are checked against an INDEPENDENT naive recount-from-scratch model
and a per-word Python replay."""

from __future__ import annotations

import random
import re

import pytest

from metrics_service_spark.operators.bpe import (
    bpe_apply,
    bpe_train_local_finish,
)

WORDS = ["aa", "aab", "abab", "banana", "bandana", "cabbage", "dada", "a"]


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


def _py_bpe_train_naive(texts: list[str], n_merges: int, max_word_len: int = 20):
    """Recounts EVERY pair from scratch each round — deliberately the
    opposite data-structure choice from the incremental+heap trainer
    under test, so a bookkeeping bug in either cannot cancel out."""
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
            return None
        (left, right), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, left, right, c))
        vocab = {w: _py_merge(s, left, right) for w, s in vocab.items()}
    return merges


@pytest.mark.parametrize("seed", [3, 11, 29])
def test_local_finish_matches_naive_reference(spark, seed):
    rng = random.Random(seed)
    texts = [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 12)))
        for _ in range(25)
    ]
    want = _py_bpe_train_naive(texts, n_merges=5)
    assert want is not None
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r["rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_train_local_finish(df, "text", n_merges=5)
        .orderBy("rank")
        .collect()
    ]
    assert got == want


@pytest.mark.parametrize("seed", [7, 23])
def test_apply_stored_matches_fused_randomized(spark, seed):
    rng = random.Random(seed)
    rows = [
        (i, " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 9))))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    table = bpe_train_local_finish(df, "text", n_merges=4)
    got = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_units"])
        for r in bpe_apply(df, table).collect()
    }
    # train-and-apply fused in Python: every word (all trainable here)
    # segmented by the table in rank order
    merges = [
        (r["left_sym"], r["right_sym"]) for r in table.orderBy("rank").collect()
    ]
    want = {}
    for i, text in rows:
        toks = text.split()
        units = 0
        for w in toks:
            syms = list(w)
            for left, right in merges:
                syms = _py_merge(syms, left, right)
            units += len(syms)
        want[i] = (len(toks), units)
    assert got == want


def _py_pagerank_conserving(edges, iters=3, scale=10**12):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(nodes)
    p = {v: scale // n for v in nodes}
    for _ in range(iters):
        dang = sum(p[v] for v in nodes if v not in deg)
        contrib: dict[int, int] = {v: 0 for v in nodes}
        for s, d in edges:
            contrib[d] += p[s] // deg[s]
        p = {
            v: (3 * scale) // (20 * n)
            + (17 * (contrib[v] + dang // n)) // 20
            for v in nodes
        }
    return p


@pytest.mark.parametrize("seed", [4, 23, 41])
def test_pagerank_conserving_matches_python_reference(spark, seed):
    import random as _random

    from metrics_service_spark.operators.closure import pagerank_int

    rng = _random.Random(seed)
    n = 30
    edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(70)})
    edges = [(s, d) for s, d in edges if s != d]
    df = spark.createDataFrame(edges, "src_id long, dst_id long")
    got = {
        r["node"]: r["pr_q"]
        for r in pagerank_int(df, iters=3, conserve_mass=True).collect()
    }
    want = _py_pagerank_conserving(edges)
    assert got == want
    # the flag's whole point: with dangling nodes present, the
    # conserving form retains at least as much mass as the leaking
    # form, and never exceeds the exact budget
    plain = {r["node"]: r["pr_q"] for r in pagerank_int(df, iters=3).collect()}
    assert sum(got.values()) >= sum(plain.values())
    assert sum(got.values()) <= 10**12
