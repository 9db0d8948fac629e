"""Seeded input generation for the benchmark.

The base tables imitate the engine's synthetic test tables (TESTDATA.md)
in schema and distribution: a 30-day `events` stream with 100 pids and
1,500 users, a `documents` corpus over a 30-word vocabulary where 5 % of
documents are another document plus " dup", an `orders` table of
per-customer order chains, and unit-norm 64-d `embeddings`.  `scale` is
the TESTDATA scale factor (0.1 gives 100k events, 5k documents, 150k
orders, 2k embeddings).

The base tables come from a fixed generator seed so that every workload
seed measures the same amount of work; the workload seed then drives
what varies between runs: the row permutation and file split of the
fixtures, and the upsert / expunge key residues of the table-upkeep
cycles.  Everything here is NumPy +
pyarrow, so generating inputs needs no Spark session.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
N_PIDS = 100
N_USERS = 1500
EVENT_DAYS = 30
EVENT_T0 = dt.datetime(2024, 1, 1)


def _rows(scale: float, base: int) -> int:
    return max(10, int(round(base * scale)))


def make_events(scale: float, seed: int = BASE_SEED) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    n = _rows(scale, 1_000_000)
    span_us = EVENT_DAYS * 86_400 * 1_000_000
    t0_us = int(EVENT_T0.timestamp() * 1_000_000) - int(
        dt.datetime(1970, 1, 1).timestamp() * 1_000_000
    )
    ts = np.sort(rng.integers(0, span_us, n)) + t0_us
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, N_PIDS, n).astype(str)), "}"
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
            "event_type": pa.array(
                np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(props),
        }
    )


def make_documents(scale: float, seed: int = BASE_SEED) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n = _rows(scale, 50_000)
    lens = rng.integers(10, 101, n)
    vocab = np.asarray(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), k)]) for k in lens]
    # every 20th-ish document is a copy of another one plus " dup"
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array(np.char.add("src", (ids % 20).astype(str))),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def make_orders(scale: float, seed: int = BASE_SEED) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    n = _rows(scale, 1_500_000)
    n_cust = _rows(scale, 150_000)
    days = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    start = np.datetime64("1995-01-01", "us")
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
            "o_orderstatus": pa.array(np.asarray(("O", "F", "P"))[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
            "o_orderdate": pa.array(
                start + rng.integers(0, days + 1, n).astype("timedelta64[D]")
            ),
            "o_orderpriority": pa.array(
                np.asarray(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))[
                    rng.integers(0, 5, n)
                ]
            ),
        }
    )


def make_embeddings(scale: float, seed: int = BASE_SEED) -> pa.Table:
    rng = np.random.default_rng([seed, 4])
    n = _rows(scale, 20_000)
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


MAKERS = {
    "events": make_events,
    "documents": make_documents,
    "orders": make_orders,
    "embeddings": make_embeddings,
}


def permute_and_split(table: pa.Table, seed: int, out_dir: str, n_files: int) -> None:
    """Write `table` as `n_files` part files of a seeded row permutation
    with seeded split points."""
    rng = np.random.default_rng([seed, 11])
    perm = rng.permutation(table.num_rows)
    shuffled = table.take(pa.array(perm))
    cuts = np.sort(rng.choice(np.arange(1, table.num_rows), n_files - 1, replace=False))
    os.makedirs(out_dir, exist_ok=True)
    bounds = [0, *cuts.tolist(), table.num_rows]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        pq.write_table(
            shuffled.slice(lo, hi - lo), os.path.join(out_dir, f"part-{i:05d}.parquet")
        )


# -- table_upkeep: per-cycle key residues ----------------------------------


def upkeep_cycle_plan(seed: int, cycle: int) -> dict:
    """One upkeep cycle's seeded choices: the upserted event ids (a ~2 %
    residue class inside three days, as late corrections cluster in
    recent partitions), the value bump they get, and the expunged user
    (a GDPR erasure by user key)."""
    rng = np.random.default_rng([seed, 31, cycle])
    days = sorted(rng.choice(EVENT_DAYS, 3, replace=False).tolist())
    return {
        "upsert_days": days,
        "upsert_mod": 5,
        "upsert_residue": int(rng.integers(0, 5)),
        "value_bump": round(float(rng.uniform(1.0, 40.0)), 2),
        "expunge_user": int(rng.integers(0, N_USERS)),
    }
