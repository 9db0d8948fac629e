"""BPE training operator guards: greedy-scan semantics, tie-breaks,
the loud pair-exhaustion raise, and apply fallbacks — the invariants
the relational oracle depends on (operators/bpe.py)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from metrics_service_spark.operators.bpe import (
    MAX_WORD_LEN,
    _py_greedy_merge,
    bpe_apply,
    bpe_train_local_finish,
    merge_pair_scan,
    word_frequencies,
)


def _scan(spark, syms, left, right):
    df = spark.createDataFrame([(syms,)], "syms array<string>")
    return df.select(merge_pair_scan(F.col("syms"), left, right).alias("m")).first()["m"]


def _py_apply(docs, merges):
    """Pure-Python `bpe_apply`: {doc_id: (n_ws_tokens, n_bpe_units)},
    each trainable word segmented by the merges in rank order, every
    other token one unit."""
    out = {}
    for doc_id, text in docs:
        toks = text.lower().split()
        units = 0
        for w in toks:
            if re.fullmatch("[a-z]+", w) and len(w) <= MAX_WORD_LEN:
                syms = list(w)
                for left, right in merges:
                    syms = _py_greedy_merge(syms, left, right)
                units += len(syms)
            else:
                units += 1
        out[doc_id] = (len(toks), units)
    return out


def _merges(table):
    return [
        (r["left_sym"], r["right_sym"]) for r in table.orderBy("rank").collect()
    ]


def test_greedy_non_overlapping_runs(spark):
    # left-to-right non-overlap in same-symbol runs: aaaa -> (aa)(aa),
    # aaa -> (aa)a; the freshly-merged token never chains in-round
    assert _scan(spark, list("aaaa"), "a", "a") == ["aa", "aa"]
    assert _scan(spark, list("aaa"), "a", "a") == ["aa", "a"]
    assert _scan(spark, ["aa", "a", "a"], "a", "a") == ["aa", "aa"]


def test_scan_distinct_pair_and_misses(spark):
    assert _scan(spark, list("banana"), "a", "n") == ["b", "an", "an", "a"]
    assert _scan(spark, list("banana"), "x", "y") == list("banana")
    assert _scan(spark, ["a"], "a", "a") == ["a"]
    assert _scan(spark, [], "a", "a") == []


def test_argmax_tiebreak_lexicographic(spark):
    # 'ba' and 'ab' tie at count 2; (count DESC, l, r) must pick (a, b)
    docs = spark.createDataFrame([("abab",), ("ba",)], "text string")
    table = bpe_train_local_finish(docs, "text", n_merges=1).collect()
    assert (table[0]["left_sym"], table[0]["right_sym"]) == ("a", "b")
    assert table[0]["pair_count"] == 2


def test_train_raises_on_pair_exhaustion(spark):
    # single-character vocabulary: no pairs at all -> loud failure,
    # never a short merge table that disagrees with the fixed-round
    # oracle (the codebase's iterative-operator standard)
    docs = spark.createDataFrame([("a b c",)], "text string")
    with pytest.raises(ValueError, match="no mergeable pairs"):
        bpe_train_local_finish(docs, "text", n_merges=1)


def test_word_filter_and_apply_fallback(spark):
    # '1234' and over-long words are excluded from training and count
    # as ONE unit on apply; vocabulary words count as len(final syms)
    docs = spark.createDataFrame(
        [(1, "abab abab 1234 " + "z" * 25)], "doc_id int, text string"
    )
    vocab = {r["w"] for r in word_frequencies(docs, "text").collect()}
    assert vocab == {"abab"}
    table = bpe_train_local_finish(docs, "text", n_merges=1)
    out = bpe_apply(docs, table).first()
    # merge (a,b) -> abab segments to [ab, ab] = 2 units; 1234 and the
    # long word fall back to 1 unit each
    assert out["n_ws_tokens"] == 4
    assert out["n_bpe_units"] == 2 + 2 + 1 + 1


def test_local_finish_vocab_guard_raises(spark):
    docs = spark.createDataFrame([("ab cd ef",)], "text string")
    with pytest.raises(ValueError, match="max_vocab_rows"):
        bpe_train_local_finish(docs, "text", n_merges=1, max_vocab_rows=2)


def test_local_finish_exhaustion_raises(spark):
    # pairs run out after one merge: never a short merge table
    docs = spark.createDataFrame([("ab ab",)], "text string")
    with pytest.raises(ValueError, match="no mergeable pairs"):
        bpe_train_local_finish(docs, "text", n_merges=3)


def test_apply_stored_matches_fused(spark):
    # stored-table apply on the training corpus == a per-word Python
    # replay of the same table (train and apply fused by hand)
    texts = [(1, "ab ab ab abc zz9"), (2, "banana ab bandana"), (3, "ba abab")]
    docs = spark.createDataFrame(texts, "doc_id int, text string")
    table = bpe_train_local_finish(docs, "text", n_merges=3)
    got = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_units"])
        for r in bpe_apply(docs, table).collect()
    }
    assert got == _py_apply(texts, _merges(table))


def test_apply_stored_on_new_corpus(spark):
    # stored merges (a,b) then (ab,c) applied to UNSEEN words: rank-
    # order replay segments abc -> [abc]; xyz untouched; OOV '12' -> 1
    from metrics_service_spark.operators.bpe import bpe_apply

    docs = spark.createDataFrame([(9, "abc xyz ab 12")], "doc_id int, text string")
    out = bpe_apply(docs, merges=[("a", "b"), ("ab", "c")]).first()
    assert out["n_ws_tokens"] == 4
    assert out["n_bpe_units"] == 1 + 3 + 1 + 1


def test_apply_checkpoint_invariance(spark):
    # a checkpoint boundary inside the replay chain must not change
    # the segmentation
    from metrics_service_spark.operators.bpe import bpe_apply

    docs = spark.createDataFrame(
        [(1, "abcd abab cd"), (2, "dcba bc")], "doc_id int, text string"
    )
    merges = [("a", "b"), ("c", "d"), ("ab", "cd")]
    rows = lambda every: sorted(  # noqa: E731
        tuple(r)
        for r in bpe_apply(docs, merges=merges, checkpoint_every=every).collect()
    )
    assert rows(1) == rows(8)


def test_apply_requires_table_or_merges(spark):
    from metrics_service_spark.operators.bpe import bpe_apply

    docs = spark.createDataFrame([(1, "ab")], "doc_id int, text string")
    with pytest.raises(ValueError, match="merge_table or merges"):
        bpe_apply(docs)


def test_train_matches_handrolled_reference(spark):
    # classic two-round check on a corpus small enough to verify by
    # hand: freqs ab:3 abc:1 -> round0 merges (a,b) count 4; round1
    # pairs: (ab,c):1 -> merges (ab, c)
    docs = spark.createDataFrame([("ab ab ab abc",)], "text string")
    rows = bpe_train_local_finish(docs, "text", n_merges=2).collect()
    assert [(r["left_sym"], r["right_sym"], r["pair_count"]) for r in rows] == [
        ("a", "b", 4),
        ("ab", "c", 1),
    ]


def test_apply_arbitrary_stored_table_fuzz(spark):
    # production case: the merge table comes from STORAGE, not from a
    # training run in the same session — apply must replay ANY rank-
    # ordered list (multi-char symbols, never-matching pairs included)
    # exactly like a per-word python replay
    import random

    from metrics_service_spark.operators.bpe import (
        _py_greedy_merge,
        bpe_apply,
    )

    rng = random.Random(99)
    words = ["aa", "aab", "abab", "banana", "bandana", "cabbage", "a"]
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 6))))
        for i in range(12)
    ]
    merges = [
        ("a", "a"), ("b", "a"), ("aa", "b"), ("n", "a"),
        ("x", "y"),          # never matches
        ("ba", "na"),        # multi-char both sides
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_units"])
        for r in bpe_apply(df, merges=merges).collect()
    }

    def py_units(word: str) -> int:
        syms = list(word)
        for left, right in merges:
            syms = _py_greedy_merge(syms, left, right)
        return len(syms)

    for i, text in docs:
        toks = text.split()
        want_units = sum(py_units(w) for w in toks)
        assert got[i] == (len(toks), want_units), (i, text)


def test_merge_table_storage_roundtrip_apply(spark, tmp_path):
    # train once -> persist through the TRANSACTIONAL manifest table ->
    # read back -> apply: the full production loop, bit-identical to a
    # per-word Python replay of the in-session table
    from metrics_service_spark.sources.merge_table import (
        overwrite_table,
        read_table,
    )

    texts = [(1, "ab ab ab abc"), (2, "banana bandana ab"), (3, "ba abab")]
    docs = spark.createDataFrame(texts, "doc_id int, text string")
    table = bpe_train_local_finish(docs, "text", n_merges=3)
    tdir = str(tmp_path / "bpe_merges")
    overwrite_table(table, tdir)
    stored = read_table(spark, tdir)
    got = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_units"])
        for r in bpe_apply(docs, stored).collect()
    }
    assert got == _py_apply(texts, _merges(table))


def test_apply_stats_fertility_by_group(spark):
    # hand-computed per-group fertility/OOV: merges [(a,b)] — ab->1
    # unit, abc->[ab,c]=2, zz->[z,z]=2, '12' OOV->1
    from metrics_service_spark.operators.bpe import bpe_apply_stats

    docs = spark.createDataFrame(
        [(1, "ab ab 12", "en"), (2, "abc zz", "fr")],
        "doc_id int, text string, lang string",
    )
    out = {
        r["lang"]: (
            r["n_docs"], r["ws_tokens"], r["bpe_units"],
            r["oov_tokens"], r["fertility_bp"],
        )
        for r in bpe_apply_stats(
            docs, merges=[("a", "b")], group_cols=["lang"]
        ).collect()
    }
    assert out == {
        "en": (1, 3, 3, 1, 10000),
        "fr": (1, 2, 4, 0, 20000),
    }


def test_apply_rejects_corrupt_merge_table(spark):
    # ADVICE r15: duplicate ranks (nondeterministic tie order on
    # replay) and rank gaps (partially-written table) must fail
    # loudly, not replay silently
    from metrics_service_spark.operators.bpe import bpe_apply

    docs = spark.createDataFrame([(1, "ab")], "doc_id int, text string")
    dup = spark.createDataFrame(
        [(0, "a", "b", 2), (0, "b", "a", 2)],
        "rank int, left_sym string, right_sym string, pair_count bigint",
    )
    gap = spark.createDataFrame(
        [(0, "a", "b", 2), (2, "ab", "c", 1)],
        "rank int, left_sym string, right_sym string, pair_count bigint",
    )
    for bad in (dup, gap):
        with pytest.raises(ValueError, match="corrupt"):
            bpe_apply(docs, bad)


def test_local_finish_guard_bounds_the_transfer(spark):
    # ADVICE r15: the vocab guard must truncate the driver TRANSFER
    # (limit max+1), not collect everything then count — the plan
    # itself must carry a GlobalLimit below the collect
    from unittest import mock

    from metrics_service_spark.operators import bpe

    docs = spark.createDataFrame([("ab cd ef",)], "text string")
    seen = {}
    orig = bpe.word_frequencies

    def spy(*a, **kw):
        df = orig(*a, **kw)

        class _Wrap:
            def limit(self, n):
                seen["limit"] = n
                return df.limit(n)

            def collect(self):  # pragma: no cover - guard must use limit
                raise AssertionError("collect without limit bound")

        return _Wrap()

    with mock.patch.object(bpe, "word_frequencies", spy):
        with pytest.raises(ValueError, match="max_vocab_rows"):
            bpe.bpe_train_local_finish(docs, "text", n_merges=1, max_vocab_rows=2)
    assert seen["limit"] == 3


def test_local_finish_rejects_non_ascii_merge(spark):
    # ADVICE r15: the heap tie-break is UTF8-order-identical to the
    # oracle's ORDER BY only for ASCII symbols; if WORD_RE is ever
    # widened to unicode letters the local finish must refuse, not
    # silently diverge on ties
    from unittest import mock

    from metrics_service_spark.operators import bpe

    assert bpe.WORD_RE == "^[a-z]+$"  # the documented ASCII-only filter
    docs = spark.createDataFrame([("ßßß ßß",)], "text string")
    with mock.patch.object(bpe, "WORD_RE", "^[a-zß]+$"):
        with pytest.raises(ValueError, match="non-ASCII"):
            bpe.bpe_train_local_finish(docs, "text", n_merges=1)


# --- vocab-budget rebalancing (r16) -----------------------------------------
def _ref_budget(weights, budget, mn):
    """Sequential Hamilton-apportionment reference: floors by exact
    integer division, odd units to largest fractional remainders."""
    m = len(weights)
    B = budget - mn * m
    assert B >= 0
    W = sum(weights.values())
    w = dict(weights) if W > 0 else {k: 1 for k in weights}
    Wt = W if W > 0 else m
    fl = {k: (B * w[k]) // Wt for k in w}
    fr = {k: (B * w[k]) % Wt for k in w}
    R = B - sum(fl.values())
    order = sorted(w, key=lambda k: (-fr[k], k))
    return {k: mn + fl[k] + (1 if i < R else 0) for i, k in enumerate(order)}


def _stats_frame(spark, rows):
    return spark.createDataFrame(
        [(lang, 1, ws, units, 0) for lang, ws, units in rows],
        "lang string, n_docs int, ws_tokens long, bpe_units long, oov_tokens long",
    )


def test_vocab_budget_matches_reference(spark):
    from metrics_service_spark.operators.bpe import vocab_budget_rebalance

    rows = [("en", 100, 150), ("de", 50, 130), ("fr", 10, 10), ("ja", 7, 29)]
    got = {
        r["lang"]: (r["excess_units"], r["merge_budget"])
        for r in vocab_budget_rebalance(
            _stats_frame(spark, rows), total_budget=1000, min_per_group=16
        ).collect()
    }
    weights = {lang: max(u - ws, 0) for lang, ws, u in rows}
    want = _ref_budget(weights, 1000, 16)
    assert got == {k: (weights[k], want[k]) for k in weights}
    assert sum(v[1] for v in got.values()) == 1000  # exact apportionment


def test_vocab_budget_even_split_when_all_saturated(spark):
    # every language already at fertility <= 1.0: weights all zero ->
    # even split, remainders to lexicographically-first groups
    from metrics_service_spark.operators.bpe import vocab_budget_rebalance

    rows = [("en", 10, 10), ("de", 5, 5), ("fr", 3, 2)]
    got = {
        r["lang"]: r["merge_budget"]
        for r in vocab_budget_rebalance(
            _stats_frame(spark, rows), total_budget=10
        ).collect()
    }
    assert got == {"de": 4, "en": 3, "fr": 3}


def test_vocab_budget_floor_guard_raises(spark):
    from metrics_service_spark.operators.bpe import vocab_budget_rebalance

    rows = [("en", 10, 20), ("de", 5, 9)]
    df = vocab_budget_rebalance(
        _stats_frame(spark, rows), total_budget=5, min_per_group=16
    )
    with pytest.raises(Exception, match="floors exceed total_budget"):
        df.collect()


def test_vocab_budget_fuzz_vs_reference(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from metrics_service_spark.operators.bpe import vocab_budget_rebalance

    langs = ["en", "de", "fr", "ja", "ko", "zh"]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=1000),
                st.integers(min_value=0, max_value=2000),
            ),
            min_size=1,
            max_size=6,
        ),
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=0, max_value=3),
    )
    def run(pairs, budget, mn):
        if budget < mn * len(pairs):
            return
        rows = [(langs[i], ws, u) for i, (ws, u) in enumerate(pairs)]
        got = {
            r["lang"]: r["merge_budget"]
            for r in vocab_budget_rebalance(
                _stats_frame(spark, rows),
                total_budget=budget,
                min_per_group=mn,
            ).collect()
        }
        weights = {lang: max(u - ws, 0) for lang, ws, u in rows}
        assert got == _ref_budget(weights, budget, mn)
        assert sum(got.values()) == budget

    run()


# --- grouped (per-language) training (r16) ----------------------------------
def _lang_docs(spark):
    return spark.createDataFrame(
        [
            (1, "ab ab ab abc banana", "en"),
            (2, "ab bandana ba abab", "en"),
            (3, "cd cd cdcd dq", "fr"),
            (4, "cddq cd qq", "fr"),
        ],
        "doc_id int, text string, lang string",
    )


def test_grouped_matches_per_group_training(spark):
    # training per group is independent: the grouped trainer's slice
    # for each lang must equal the flat trainer run on that lang's
    # subset at that lang's budget
    from metrics_service_spark.operators.bpe import (
        bpe_train_grouped_local_finish,
    )

    docs = _lang_docs(spark)
    budgets = {"en": 3, "fr": 2}
    got = {
        (r["lang"], r["rank"]): (r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_train_grouped_local_finish(
            docs, "text", budgets=budgets
        ).collect()
    }
    want = {}
    for g, b in budgets.items():
        sub = docs.filter(F.col("lang") == g)
        for r in bpe_train_local_finish(sub, "text", n_merges=b).collect():
            want[(g, r["rank"])] = (
                r["left_sym"], r["right_sym"], r["pair_count"],
            )
    assert got == want
    assert len(got) == sum(budgets.values())


def test_grouped_exhaustion_raises(spark):
    from metrics_service_spark.operators.bpe import (
        bpe_train_grouped_local_finish,
    )

    docs = spark.createDataFrame(
        [(1, "ab ab", "en"), (2, "cd cd cdcd", "fr")],
        "doc_id int, text string, lang string",
    )
    # en exhausts after 1 merge (only pair (a,b)); budget asks for 3
    with pytest.raises(ValueError, match="no mergeable pairs.*'en'"):
        bpe_train_grouped_local_finish(
            docs, "text", budgets={"en": 3, "fr": 1}
        )


def test_grouped_oracle_replays_bitwise(spark, tmp_path):
    # the parameterized DuckDB oracle replays the grouped run exactly
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from metrics_service_spark.operators.bpe import (
        bpe_train_grouped_local_finish,
        sql_bpe_grouped_merge_table,
    )
    from metrics_service_spark.testing.oracle import compare_query

    texts = [
        ("ab ab ab abc banana", "en"),
        ("ab bandana ba abab", "en"),
        ("cd cd cdcd dq", "fr"),
        ("cddq cd qq", "fr"),
        ("zz zaz az za", "de"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array([t for t, _ in texts], pa.string()),
                "lang": pa.array([l for _, l in texts], pa.string()),
            }
        ),
        os.path.join(str(tmp_path), "documents.parquet"),
    )
    docs = spark.read.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    budgets = {"en": 3, "fr": 2, "de": 1}
    got = bpe_train_grouped_local_finish(docs, "text", budgets=budgets)
    compare_query(
        got,
        sql_bpe_grouped_merge_table(budgets),
        str(tmp_path),
        "grouped_bpe",
    )


def test_budget_retrain_realizes_apportioned_budgets(spark):
    # the chained loop's output must contain exactly merge_budget rows
    # per language, for the budgets the rebalancer apportions from the
    # current tokenizer's fertility
    from metrics_service_spark.operators.bpe import (
        bpe_apply_stats,
        bpe_budget_retrain,
        bpe_train_local_finish,
        vocab_budget_rebalance,
    )

    docs = _lang_docs(spark)
    current = bpe_train_local_finish(docs, "text", n_merges=2)
    stats = bpe_apply_stats(docs, current, group_cols=["lang"])
    want = {
        r["lang"]: r["merge_budget"]
        for r in vocab_budget_rebalance(
            stats, "lang", total_budget=5, min_per_group=1
        ).collect()
    }
    out = bpe_budget_retrain(
        docs, "text", n_merges_current=2, total_budget=5, min_per_group=1
    ).collect()
    got = {}
    for r in out:
        got[r["lang"]] = got.get(r["lang"], 0) + 1
        assert 0 <= r["rank"] < want[r["lang"]]
    assert got == {k: v for k, v in want.items() if v > 0}
    assert sum(got.values()) == 5


def test_apply_grouped_matches_per_group_apply(spark):
    # per-language application is independent: the grouped apply on
    # the full corpus must equal bpe_apply run per language with that
    # language's merges on that language's subset
    from metrics_service_spark.operators.bpe import (
        bpe_apply,
        bpe_apply_grouped,
        bpe_train_grouped_local_finish,
    )

    docs = _lang_docs(spark)
    budgets = {"en": 3, "fr": 2}
    table = bpe_train_grouped_local_finish(docs, "text", budgets=budgets)
    got = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_units"])
        for r in bpe_apply_grouped(docs, table).collect()
    }
    want = {}
    merges = {
        g: [
            (r["left_sym"], r["right_sym"])
            for r in table.filter(F.col("lang") == g).orderBy("rank").collect()
        ]
        for g in budgets
    }
    for g in budgets:
        sub = docs.filter(F.col("lang") == g)
        for r in bpe_apply(sub, merges=merges[g]).collect():
            want[r["doc_id"]] = (r["n_ws_tokens"], r["n_bpe_units"])
    assert got == want


def test_apply_grouped_rejects_corrupt_table(spark):
    from metrics_service_spark.operators.bpe import bpe_apply_grouped

    docs = _lang_docs(spark)
    bad = spark.createDataFrame(
        [("en", 0, "a", "b", 2), ("en", 2, "ab", "c", 1), ("fr", 0, "c", "d", 2)],
        "lang string, rank int, left_sym string, right_sym string, pair_count bigint",
    )
    with pytest.raises(ValueError, match="corrupt.*'en'"):
        bpe_apply_grouped(docs, bad)


def test_apply_grouped_unknown_group_falls_back(spark):
    # a document whose language has NO merge table: every trainable
    # word stays character-segmented? No — it is absent from the
    # replayed vocab, so every token takes the one-unit OOV fallback
    from metrics_service_spark.operators.bpe import bpe_apply_grouped

    docs = spark.createDataFrame(
        [(1, "ab ab", "en"), (2, "ab ab", "xx")],
        "doc_id int, text string, lang string",
    )
    table = spark.createDataFrame(
        [("en", 0, "a", "b", 2)],
        "lang string, rank int, left_sym string, right_sym string, pair_count bigint",
    )
    out = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_units"])
        for r in bpe_apply_grouped(docs, table).collect()
    }
    # en: 'ab' -> 1 unit each; xx: in-vocab words still replay (the
    # vocab is built from the CORPUS, xx rows just never match a merge)
    assert out[1] == (2, 2)
    assert out[2] == (2, 4)  # 'a','b' per token: 2 units each


def test_apply_grouped_oracle_replays_bitwise(spark, tmp_path):
    # includes a group OUTSIDE the budgets ('xx'): its words must ride
    # through character-segmented on BOTH sides (the words CTE carries
    # every corpus group since r16)
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from metrics_service_spark.operators.bpe import (
        bpe_apply_grouped,
        bpe_train_grouped_local_finish,
        sql_bpe_apply_grouped_counts,
    )
    from metrics_service_spark.testing.oracle import compare_query

    texts = [
        ("ab ab ab abc banana", "en"),
        ("ab bandana ba abab 12", "en"),
        ("cd cd cdcd dq", "fr"),
        ("cddq cd qq", "fr"),
        ("ab abab zz", "xx"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array([t for t, _ in texts], pa.string()),
                "lang": pa.array([l for _, l in texts], pa.string()),
            }
        ),
        os.path.join(str(tmp_path), "documents.parquet"),
    )
    docs = spark.read.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    budgets = {"en": 3, "fr": 2}
    table = bpe_train_grouped_local_finish(docs, "text", budgets=budgets)
    got = bpe_apply_grouped(docs, table)
    compare_query(
        got,
        sql_bpe_apply_grouped_counts(budgets),
        str(tmp_path),
        "apply_grouped",
    )


def test_grouped_merge_table_storage_roundtrip_apply(spark, tmp_path):
    # VERDICT r16 #4: the GROUPED production loop — train per language
    # -> persist through the transactional manifest table -> read back
    # -> apply each document with its language's re-read table — must
    # be bit-identical to applying the in-session table
    from metrics_service_spark.operators.bpe import (
        bpe_apply_grouped,
        bpe_train_grouped_local_finish,
    )
    from metrics_service_spark.sources.merge_table import (
        overwrite_table,
        read_table,
    )

    docs = _lang_docs(spark)
    budgets = {"en": 3, "fr": 2}
    table = bpe_train_grouped_local_finish(docs, "text", budgets=budgets)
    tdir = str(tmp_path / "grouped_merges")
    overwrite_table(table, tdir)
    stored = read_table(spark, tdir)
    got = sorted(tuple(r) for r in bpe_apply_grouped(docs, stored).collect())
    want = sorted(tuple(r) for r in bpe_apply_grouped(docs, table).collect())
    assert got == want


def test_collectors_reject_null_or_empty_symbols(spark):
    # ADVICE r16: a persisted row with NULL/empty merge symbols never
    # matches in the replay scan and would silently skip that rank —
    # both collectors must fail loudly instead
    from metrics_service_spark.operators.bpe import (
        bpe_apply,
        bpe_apply_grouped,
    )

    docs = spark.createDataFrame([(1, "ab", "en")], "doc_id int, text string, lang string")
    flat_null = spark.createDataFrame(
        [(0, "a", "b", 2), (1, None, "c", 1)],
        "rank int, left_sym string, right_sym string, pair_count bigint",
    )
    flat_empty = spark.createDataFrame(
        [(0, "", "b", 2)],
        "rank int, left_sym string, right_sym string, pair_count bigint",
    )
    for bad in (flat_null, flat_empty):
        with pytest.raises(ValueError, match="NULL/empty"):
            bpe_apply(docs.select("doc_id", "text"), bad)
    grouped_null = spark.createDataFrame(
        [("en", 0, "a", None, 2)],
        "lang string, rank int, left_sym string, right_sym string, pair_count bigint",
    )
    with pytest.raises(ValueError, match="NULL/empty"):
        bpe_apply_grouped(docs, grouped_null)


@pytest.mark.parametrize("merges", [[("a", None)], [("", "b")], [("a", "")]])
@pytest.mark.parametrize("fn", ["bpe_apply", "bpe_apply_stats"])
def test_merges_list_rejects_null_or_empty_symbols(spark, fn, merges):
    # a caller-supplied merges= list gets the stored table's symbol
    # check: a NULL/empty symbol never matches, so the apply would
    # silently return the character-level count
    from metrics_service_spark.operators import bpe

    docs = spark.createDataFrame([(1, "ab ab abc")], "doc_id int, text string")
    with pytest.raises(ValueError, match="NULL/empty"):
        getattr(bpe, fn)(docs, merges=merges)


def test_vocab_budget_overflow_guard_raises(spark):
    # ADVICE r16: the apportionment must stay exact past the IEEE
    # floor-div's 2^52 ceiling (production excess-unit masses are
    # trillions x a 32k budget ~ 3e16) and fail loudly only at real
    # int64 overflow of budget * weight
    from metrics_service_spark.operators.bpe import vocab_budget_rebalance

    big = spark.createDataFrame(
        [("en", 0, 1 << 50), ("fr", 0, 7)],
        "lang string, ws_tokens long, bpe_units long",
    )
    with pytest.raises(Exception, match="int64"):
        vocab_budget_rebalance(big, "lang", total_budget=1 << 20).collect()
    # a product ABOVE 2^52 (where the old IEEE path silently drifted)
    # must now match the Python big-int reference exactly
    weights = {"en": (1 << 45) + 3, "fr": 7, "zh": (1 << 44) + 11}
    rows = [
        (lang, 0, w) for lang, w in weights.items()
    ]
    got = {
        r["lang"]: r["merge_budget"]
        for r in vocab_budget_rebalance(
            _stats_frame(spark, rows), total_budget=32_000, min_per_group=1
        ).collect()
    }
    assert got == _ref_budget(weights, 32_000, 1)
    assert sum(got.values()) == 32_000


def test_grouped_apply_checkpoint_invariance(spark):
    # the grouped replay's lazy localCheckpoint cadence must not
    # change the segmentation (the ungrouped twin of this test has
    # held since r15; the sf-scale proof is doc_bpe_apply_grouped_m40)
    from metrics_service_spark.operators.bpe import (
        bpe_apply_grouped,
        bpe_train_grouped_local_finish,
    )

    docs = _lang_docs(spark)
    table = bpe_train_grouped_local_finish(
        docs, "text", budgets={"en": 4, "fr": 3}
    )
    base = sorted(
        tuple(r)
        for r in bpe_apply_grouped(docs, table, checkpoint_every=32).collect()
    )
    for every in (1, 2, 3):
        got = sorted(
            tuple(r)
            for r in bpe_apply_grouped(
                docs, table, checkpoint_every=every
            ).collect()
        )
        assert got == base


def test_vocab_export_hand_checked(spark):
    # corpus: "ab ab b" -> trainable words {ab, b}; chars {a, b};
    # 1 merge: (a, b) -> unit "ab" at rank 0.  ids dense by
    # (first_rank, unit): a=0, b=1, ab=2
    from metrics_service_spark.operators.bpe import (
        bpe_train_local_finish,
        bpe_vocab_export,
    )

    docs = spark.createDataFrame(
        [(1, "ab ab b")], "doc_id int, text string"
    )
    table = bpe_train_local_finish(docs, "text", n_merges=1)
    got = {
        r["unit"]: (r["first_rank"], r["unit_id"])
        for r in bpe_vocab_export(docs, table).collect()
    }
    assert got == {"a": (-1, 0), "b": (-1, 1), "ab": (0, 2)}


def test_vocab_export_duplicate_outputs_keep_earliest_rank(spark):
    # two merges emitting the same output string must export ONE unit
    # at the earliest rank — a runtime wants distinct units
    from metrics_service_spark.operators.bpe import bpe_vocab_export

    docs = spark.createDataFrame([(1, "abc abc")], "doc_id int, text string")
    table = spark.createDataFrame(
        [(0, "ab", "c", 2), (1, "a", "bc", 2)],
        "rank int, left_sym string, right_sym string, pair_count bigint",
    )
    got = {
        r["unit"]: (r["first_rank"], r["unit_id"])
        for r in bpe_vocab_export(docs, table).collect()
    }
    assert got["abc"] == (0, 3)  # after a=0, b=1, c=2
    assert sorted(got) == ["a", "abc", "b", "c"]


def test_vocab_export_grouped_per_language(spark):
    # en: merges [(a,b)], chars from en docs only; fr: merges [(c,d)];
    # zz never trained -> excluded entirely.  ids dense PER language.
    from metrics_service_spark.operators.bpe import bpe_vocab_export_grouped

    docs = spark.createDataFrame(
        [(1, "ab ba", "en"), (2, "cd dc", "fr"), (3, "xy yx", "zz")],
        "doc_id int, text string, lang string",
    )
    table = spark.createDataFrame(
        [("en", 0, "a", "b", 2), ("fr", 0, "c", "d", 2)],
        "lang string, rank int, left_sym string, right_sym string, pair_count bigint",
    )
    got = {
        (r["lang"], r["unit"]): (r["first_rank"], r["unit_id"])
        for r in bpe_vocab_export_grouped(docs, table).collect()
    }
    assert got == {
        ("en", "a"): (-1, 0),
        ("en", "b"): (-1, 1),
        ("en", "ab"): (0, 2),
        ("fr", "c"): (-1, 0),
        ("fr", "d"): (-1, 1),
        ("fr", "cd"): (0, 2),
    }


def test_encode_digest_matches_python_reference(spark):
    # the encode path three-ways: Spark sequence digest vs a per-word
    # python replay + id map + md5 (OOV '12' -> -1)
    import hashlib
    import re

    from metrics_service_spark.operators.bpe import (
        _py_greedy_merge,
        bpe_encode_digest,
        bpe_train_local_finish,
    )

    texts = {1: "ab ab ab abc 12", 2: "banana ab bandana", 3: "ba abab"}
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id int, text string"
    )
    table = bpe_train_local_finish(docs, "text", n_merges=3)
    merges = [
        (r["left_sym"], r["right_sym"]) for r in table.orderBy("rank").collect()
    ]

    def seg(w):
        syms = list(w)
        for left, right in merges:
            syms = _py_greedy_merge(syms, left, right)
        return syms

    words = {
        w
        for t in texts.values()
        for w in t.lower().split()
        if re.fullmatch("[a-z]+", w) and len(w) <= 20
    }
    units = {c: -1 for w in words for c in w}
    for rank, (left, right) in enumerate(merges):
        units.setdefault(left + right, rank)
    uid = {
        u: i
        for i, (_, u) in enumerate(sorted((r, u) for u, r in units.items()))
    }
    want = {}
    for d, t in texts.items():
        ids = []
        for w in t.lower().split():
            if w in words:
                ids.extend(uid[s] for s in seg(w))
            elif w:
                ids.append(-1)
        want[d] = (
            len(ids),
            hashlib.md5(",".join(map(str, ids)).encode()).hexdigest(),
        )
    got = {
        r["doc_id"]: (r["n_units"], r["ids_digest"])
        for r in bpe_encode_digest(docs, table).collect()
    }
    assert got == want


def test_encode_digest_checkpoint_invariance(spark):
    from metrics_service_spark.operators.bpe import (
        bpe_encode_digest,
        bpe_train_local_finish,
    )

    docs = spark.createDataFrame(
        [(1, "ab ab abc cd abcd"), (2, "dcba bc abab")],
        "doc_id int, text string",
    )
    table = bpe_train_local_finish(docs, "text", n_merges=3)
    base = sorted(
        tuple(r)
        for r in bpe_encode_digest(docs, table, checkpoint_every=32).collect()
    )
    got = sorted(
        tuple(r)
        for r in bpe_encode_digest(docs, table, checkpoint_every=1).collect()
    )
    assert got == base


def test_encode_grouped_matches_per_language_flat_encode(spark):
    # per-language encoding is independent: the grouped encode on the
    # full corpus must equal the flat encode run per language with
    # that language's merges on that language's subset; a lang with no
    # table encodes all -1
    import hashlib

    from metrics_service_spark.operators.bpe import (
        bpe_encode_digest,
        bpe_encode_digest_grouped,
        bpe_train_grouped_local_finish,
    )

    docs = spark.createDataFrame(
        [
            (1, "ab ab ab abc banana", "en"),
            (2, "ab bandana ba abab", "en"),
            (3, "cd cd cdcd dq", "fr"),
            (4, "cddq cd qq", "fr"),
            (5, "xy yx 12", "zz"),
        ],
        "doc_id int, text string, lang string",
    )
    budgets = {"en": 3, "fr": 2}
    table = bpe_train_grouped_local_finish(docs, "text", budgets=budgets)
    got = {
        r["doc_id"]: (r["n_units"], r["ids_digest"])
        for r in bpe_encode_digest_grouped(docs, table).collect()
    }
    want = {}
    for g in budgets:
        sub = docs.filter(F.col("lang") == g)
        gtab = table.filter(F.col("lang") == g).drop("lang")
        for r in bpe_encode_digest(sub, gtab).collect():
            want[r["doc_id"]] = (r["n_units"], r["ids_digest"])
    # zz: 3 tokens, all -1
    want[5] = (3, hashlib.md5(b"-1,-1,-1").hexdigest())
    assert got == want
