"""The linkage driver finish returns the distributed path's rows and
schema: `linkage_multipass_pairs` run at the default bounds and with
`dedup.LINKAGE_LOCAL_ROWS` at 0 (the distributed arms) must agree, in
both `deduplicate` modes, on frames with NULL and empty text, NULL
blocks, NULL and repeated ids, non-ASCII prefixes, prefix ties, cells
at and past `max_cell` and blocks smaller than the neighborhood."""

from __future__ import annotations

import random
from collections import Counter

import pytest

from metrics_service_spark.operators import dedup
from metrics_service_spark.operators.dedup import linkage_multipass_pairs

KW = dict(neighborhood=3, prefix_chars=6, block_chars=2, max_dist=3)


def _run(df, monkeypatch, bound: int | None, **kw) -> tuple:
    """(schema, row counts, whether the driver finish ran)."""
    ran = []
    finish = dedup._linkage_local_finish

    def spy(*a, **k):
        out = finish(*a, **k)
        ran.append(out is not None)
        return out

    with monkeypatch.context() as m:
        m.setattr(dedup, "_linkage_local_finish", spy)
        if bound is not None:
            m.setattr(dedup, "LINKAGE_LOCAL_ROWS", bound)
        out = linkage_multipass_pairs(df, "doc_id", "text", **kw)
        return out.schema, Counter(map(tuple, out.collect())), ran == [True]


def _assert_same(df, monkeypatch, **kw) -> Counter:
    for deduplicate in (True, False):
        d_schema, d_rows, local = _run(
            df, monkeypatch, None, deduplicate=deduplicate, **kw
        )
        s_schema, s_rows, _ = _run(
            df, monkeypatch, 0, deduplicate=deduplicate, **kw
        )
        assert local, "the driver finish did not run"
        assert d_schema == s_schema
        assert d_rows == s_rows, deduplicate
        if deduplicate:
            assert all(n == 1 for n in d_rows.values())
    return d_rows


def _random_frame(rng: random.Random) -> list:
    """Rows (lang, doc_id, text): a few shared stems so blocks, cells
    and prefixes collide, non-ASCII letters, NULL and empty text, NULL
    lang, and NULL or repeated ids."""
    stems = ["abcdef", "abxdef", "éèabc", "日本語テキ", "ab", "zz"]
    rows = []
    for _ in range(rng.randrange(8, 40)):
        roll = rng.random()
        if roll < 0.08:
            text = None
        elif roll < 0.14:
            text = ""
        else:
            text = rng.choice(stems)
            for _ in range(rng.randrange(3)):
                k = rng.randrange(len(text) + 1)
                text = text[:k] + rng.choice("aéß日x") + text[k + 1 :]
        lang = rng.choice(["en", "en", "de", None])
        doc_id = None if rng.random() < 0.1 else rng.randrange(30)
        rows.append((lang, doc_id, text))
    return rows


@pytest.mark.parametrize("seed", range(6))
def test_driver_finish_equals_distributed_random(spark, monkeypatch, seed):
    rng = random.Random(seed)
    df = spark.createDataFrame(
        _random_frame(rng), "lang string, doc_id long, text string"
    )
    max_cell = rng.choice([None, 2, 4])
    rows = _assert_same(
        df, monkeypatch, block_cols=["lang"], max_cell=max_cell, **KW
    )
    assert rows  # the stems make near pairs: empty would be vacuous


def test_driver_finish_equals_distributed_edge_cases(spark, monkeypatch):
    rows = [
        # a cell ("en", "ab") of exactly max_cell=3 rows, one of
        # max_cell + 1 ("en", "cd"), and prefix ties broken by id
        ("en", 5, "abcd"), ("en", 3, "abcd"), ("en", 4, "abce"),
        ("en", 10, "cdef"), ("en", 11, "cdef"), ("en", 12, "cdeg"),
        ("en", 13, "cdeh"),
        # ids NULL on both sides of a pair, and a NULL beside an id
        ("en", None, "qrst"), ("en", None, "qrsu"), ("en", 20, "qrsv"),
        # NULL and empty text hold rank positions
        ("en", 30, None), ("en", 31, ""), ("en", 32, ""),
        # a block of two rows, smaller than the neighborhood
        ("fr", 40, "ñandú"), ("fr", 41, "ñandu"),
        # a NULL block pairs with nothing
        (None, 50, "abcd"), (None, 51, "abcd"),
        # a repeated id, in both arms
        ("de", 60, "straße"), ("de", 60, "strasse"), ("de", 61, "straße"),
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, text string")
    kw = dict(neighborhood=4, prefix_chars=8, block_chars=2, max_dist=3)
    got = _assert_same(df, monkeypatch, block_cols=["lang"], max_cell=3, **kw)
    pairs = {(a, b) for a, b, _ in got}
    assert (3, 5) in pairs and (4, 5) in pairs  # the max_cell cell
    assert (None, None) in pairs and (20, 20) in pairs  # least/greatest
    assert (40, 41) in pairs
    assert not any(a in (50, 51) for a, _ in pairs)
    assert (60, 60) in pairs


def test_driver_finish_equals_distributed_string_ids(spark, monkeypatch):
    rng = random.Random(7)
    rows = [
        (lang, None if i is None else f"d{i:02d}", text)
        for lang, i, text in _random_frame(rng)
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id string, text string")
    _assert_same(df, monkeypatch, block_cols=["lang"], max_cell=4, **KW)
    # no block columns: the whole frame is one block
    _assert_same(df, monkeypatch, block_cols=[], max_cell=None, **KW)


def test_driver_finish_keeps_non_null_schema(spark, monkeypatch):
    rows = [
        (lang, i, text)
        for lang, i, text in _random_frame(random.Random(3))
        if i is not None and text is not None
    ]
    df = spark.createDataFrame(
        rows, "lang string, doc_id long not null, text string not null"
    )
    _assert_same(df, monkeypatch, block_cols=["lang"], max_cell=None, **KW)


def test_driver_finish_falls_back_past_the_pair_bound(spark, monkeypatch):
    df = spark.createDataFrame(
        _random_frame(random.Random(1)), "lang string, doc_id long, text string"
    )
    kw = dict(block_cols=["lang"], max_cell=4, **KW)
    monkeypatch.setattr(dedup, "LINKAGE_LOCAL_PAIRS", 1)
    schema, rows, local = _run(df, monkeypatch, None, **kw)
    assert not local
    assert (schema, rows) == _run(df, monkeypatch, 0, **kw)[:2]


def test_driver_finish_skips_neighborhood_below_two(spark, monkeypatch):
    """At neighborhood 1 the distributed SN arm's offset sequence runs
    backwards and pairs each row with itself: that stays its own."""
    df = spark.createDataFrame(
        _random_frame(random.Random(2)), "lang string, doc_id long, text string"
    )
    kw = dict(KW, neighborhood=1, block_cols=["lang"], max_cell=None)
    assert not _run(df, monkeypatch, None, **kw)[2]


def test_driver_finish_skips_float_ids(spark, monkeypatch):
    """NaN groups with NaN and sorts last in Spark, not in Python: a
    float id or block column runs the distributed path."""
    df = spark.createDataFrame(
        [("en", float("nan"), "abcd"), ("en", float("nan"), "abce"),
         ("en", 1.0, "abcf")],
        "lang string, doc_id double, text string",
    )
    schema, rows, local = _run(
        df, monkeypatch, None, block_cols=["lang"], max_cell=None, **KW
    )
    assert not local
    # (1.0, NaN) from two row pairs is ONE row: Spark's distinct
    # equates NaNs, where Python's set would keep both
    assert sum(rows.values()) == 2
