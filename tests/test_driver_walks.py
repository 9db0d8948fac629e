"""The driver finishes of the BFS closure (`expand_family`) and the
chain walk (`resolve_chains`): each returns the distributed loop's rows,
duplicates included, and schema, at the default bounds and with the
bounds at 0 (the distributed loops), on graphs with duplicate rows,
parents that are no node, cycles, NULL ids, a depth of exactly the cap,
`hop` rounding the depth cap up, and directed and undirected walks.
Past an output bound the loops run instead.  order_chains runs the same
number of jobs every time."""

from __future__ import annotations

import random
from collections import Counter

import pytest

from metrics_service_spark.operators import closure
from metrics_service_spark.operators.closure import expand_family, resolve_chains


def _rows(df) -> Counter:
    return Counter(map(tuple, df.collect()))


def _both(monkeypatch, run, bound: str, local: str):
    """`run()`'s (schema, rows) at the default bounds, where the driver
    finish `local` must have answered, and with `bound` at 0, where it
    must not have."""
    real = getattr(closure, local)
    answered = []

    def spy(*args, **kw):
        out = real(*args, **kw)
        answered.append(out is not None)
        return out

    monkeypatch.setattr(closure, local, spy)
    got = []
    for value in (getattr(closure, bound), 0):
        monkeypatch.setattr(closure, bound, value)
        out = run()
        got.append((out.schema, _rows(out)))
    assert answered == [True, False]
    return got


# --- resolve_chains --------------------------------------------------------

def _path(n: int) -> list:
    """Rows of one chain 0 <- 1 <- ... <- n-1, rooted at 0."""
    return [(0, None)] + [(i, i - 1) for i in range(1, n)]


#: name -> (ddl, rows, max_depth, the loop's rows where checked by hand)
CHAINS = {
    # node 2 twice with the same parent, node 4 with two parents: 2's
    # two rows, and 3's and 4's copies through them (a duplicated root
    # would square its rows every round, on both paths)
    "duplicate_children": (
        "child long, parent long",
        [(1, None), (2, 1), (2, 1), (3, 2), (4, 1), (4, 3)],
        20,
        Counter({(1, 1, 0): 1, (2, 1, 1): 2, (3, 1, 2): 2, (4, 1, 1): 1, (4, 1, 3): 2}),
    ),
    "parent_not_node": (
        "child long, parent long",
        [(1, None), (2, 1), (5, 99), (6, 5)],
        20,
        Counter({(1, 1, 0): 1, (2, 1, 1): 1}),
    ),
    "cycles": (
        "child long, parent long",
        [(1, 2), (2, 1), (3, 3), (4, 1), (10, None), (11, 10)],
        20,
        Counter({(10, 10, 0): 1, (11, 10, 1): 1}),
    ),
    "null_ids": (
        "child long, parent long",
        [(None, 1), (1, None), (None, None), (2, None), (3, 2), (None, 3)],
        20,
        None,
    ),
    # depths 0..7 under a cap of 5 (3 rounds): 5 is kept, 6 and 7 not
    "depth_at_cap": (
        "child long, parent long",
        _path(8),
        5,
        Counter((i, 0, i) for i in range(6)),
    ),
    # a cap of 4 runs 2 rounds, which mark depths up to 2^2 - 1 done:
    # the loop drops depth 4, and the driver walk with it
    "power_of_two_cap": (
        "child long, parent long",
        _path(7),
        4,
        Counter((i, 0, i) for i in range(4)),
    ),
    # past 6 rounds the loop checkpoints and probes for an early exit
    # after the fifth; 7 rounds mark depths up to 127 done
    "deep": (
        "child long, parent long",
        _path(150) + [(200, 201), (201, 200)],
        100,
        Counter((i, 0, i) for i in range(101)),
    ),
    "string": (
        "child string, parent string",
        [("a", None), ("b", "a"), ("b", "a"), ("c", "b"), ("d", "zz"), (None, "c")],
        20,
        None,
    ),
    "int_long": (
        "child int, parent long",
        [(1, None), (2, 1), (3, 2), (4, 9)],
        20,
        Counter({(1, 1, 0): 1, (2, 1, 1): 1, (3, 1, 2): 1}),
    ),
}


@pytest.mark.parametrize("name", sorted(CHAINS))
def test_chain_walk_equals_distributed(spark, monkeypatch, name):
    ddl, rows, depth, want = CHAINS[name]
    df = spark.createDataFrame(rows, ddl)
    driver, distributed = _both(
        monkeypatch,
        lambda: resolve_chains(df, max_depth=depth),
        "CHAIN_LOCAL_ROWS",
        "_local_chains",
    )
    assert driver == distributed
    if want is not None:
        assert distributed[1] == want


def test_chain_walk_state_bound_falls_back(spark, monkeypatch):
    """Past CHAIN_LOCAL_STATE rows in a round the distributed loop runs
    and returns the same rows."""
    df = spark.createDataFrame(_path(30), "child long, parent long")
    out = resolve_chains(df)
    want, schema = _rows(out), out.schema
    monkeypatch.setattr(closure, "CHAIN_LOCAL_STATE", 10)
    assert closure._local_chains(
        df, schema, schema["root"].dataType, max_depth=20, rounds=5
    ) is None
    assert _rows(resolve_chains(df)) == want
    assert want == Counter((i, 0, i) for i in range(21))


# --- expand_family ---------------------------------------------------------


def _random_graph(seed: int, n: int, nodes: int, symmetric: bool) -> list:
    rng = random.Random(seed)
    edges = [(rng.randrange(nodes), rng.randrange(nodes)) for _ in range(n)]
    if symmetric:
        edges += [(b, a) for a, b in edges]
    return edges


#: (seed ddl, seeds, edge ddl, edges)
GRAPHS = {
    # duplicate edges and seeds, a cycle, a self-loop, NULL ids on
    # every side, and a seed on no edge
    "nulls_dups": (
        "pid long",
        [(1,), (1,), (None,), (4,), (42,)],
        "src long, dst long",
        [(1, 2), (1, 2), (2, 3), (3, 1), (3, None), (None, 4), (4, 5), (5, 5), (5, 6)],
    ),
    "random": (
        "pid long",
        [(i,) for i in range(0, 40, 7)],
        "src long, dst long",
        _random_graph(3, 50, 40, symmetric=False),
    ),
    "random_sym": (
        "pid long",
        [(i,) for i in range(0, 40, 7)],
        "src long, dst long",
        _random_graph(4, 40, 40, symmetric=True),
    ),
    "string": (
        "pid string",
        [("n00",), ("n07",), (None,)],
        "src string, dst string",
        [(f"n{a:02d}", f"n{b:02d}") for a, b in _random_graph(5, 40, 30, symmetric=True)]
        + [("n07", None)],
    ),
    "int_seed_long_edges": (
        "pid int",
        [(0,), (7,)],
        "src long, dst long",
        _random_graph(6, 40, 30, symmetric=False),
    ),
    # the join widens the int members to the long sources: 2^32 + 7
    # is not 7
    "int_dst_long_src": (
        "pid int",
        [(0,), (7,)],
        "src long, dst int",
        [(0, 7), (7, 3), (2**32 + 7, 5), (3, 0)],
    ),
}

#: (graph, undirected, hop, early_stop, max_iters)
WALKS = [
    ("nulls_dups", False, 1, True, 5),
    ("nulls_dups", True, 1, False, 5),
    ("nulls_dups", False, 2, True, 5),
    ("random", False, 1, True, 3),
    ("random", True, 3, False, 7),
    ("random_sym", True, 2, False, 9),
    ("string", True, 1, True, 6),
    ("int_seed_long_edges", False, 2, True, 5),
    ("int_dst_long_src", False, 1, True, 4),
]


@pytest.mark.parametrize(
    "graph,undirected,hop,early_stop,max_iters",
    [pytest.param(*w, id="-".join(map(str, w))) for w in WALKS],
)
def test_bfs_equals_distributed(
    spark, monkeypatch, graph, undirected, hop, early_stop, max_iters
):
    sddl, seeds, eddl, edges = GRAPHS[graph]
    sdf = spark.createDataFrame(seeds, sddl)
    edf = spark.createDataFrame(edges, eddl)
    driver, distributed = _both(
        monkeypatch,
        lambda: expand_family(
            sdf,
            edf,
            max_iters=max_iters,
            undirected=undirected,
            hop=hop,
            early_stop=early_stop,
        ),
        "BFS_LOCAL_ROWS",
        "_local_bfs",
    )
    assert driver == distributed


def test_bfs_hop_rounds_depth_cap_up(spark, monkeypatch):
    """max_iters 4 at hop 3 runs ceil(4 / 3) = 2 composed rounds: a
    path is walked to depth 6, on the driver and in the loop alike."""
    sdf = spark.createDataFrame([(0,)], "pid long")
    edf = spark.createDataFrame([(i, i + 1) for i in range(10)], "src long, dst long")
    driver, distributed = _both(
        monkeypatch,
        lambda: expand_family(sdf, edf, max_iters=4, hop=3),
        "BFS_LOCAL_ROWS",
        "_local_bfs",
    )
    assert driver == distributed
    assert distributed[1] == Counter((0, i) for i in range(7))


def test_bfs_pair_bound_falls_back(spark, monkeypatch):
    """Past BFS_LOCAL_PAIRS output pairs the distributed loop runs and
    returns the same rows."""
    sdf = spark.createDataFrame([(i,) for i in range(5)], "pid long")
    edf = spark.createDataFrame([(i, i + 1) for i in range(10)], "src long, dst long")
    out = expand_family(sdf, edf, max_iters=20)
    want, schema = _rows(out), out.schema
    monkeypatch.setattr(closure, "BFS_LOCAL_PAIRS", 8)
    assert closure._local_bfs(
        sdf, edf, schema, schema["seed"].dataType, max_iters=20, undirected=False, hop=1
    ) is None
    assert _rows(expand_family(sdf, edf, max_iters=20)) == want
    assert want == Counter((s, m) for s in range(5) for m in range(s, 11))


def test_order_chains_job_count_is_stable(spark, sf_dir, count_jobs):
    """order_chains walks its chains on the driver from one collect of
    the one-partition window: 1 job, the same on every run (the
    distributed loop read 18-22 on unchanged code)."""
    from metrics_service_spark.catalog import all_queries

    q = all_queries()["order_chains"].fn
    assert [count_jobs(lambda: q(spark, sf_dir).collect()) for _ in range(3)] == [1, 1, 1]
