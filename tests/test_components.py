"""Connected-components algorithm tests: large-star/small-star and
min-label propagation (with a structural round bound) both equal
union-find on random graphs, the star form converges in few rounds on
long chains, and order_components keeps its job budget."""

from __future__ import annotations

import random

import pytest

from metrics_service_spark.operators.closure import (
    connected_components,
    connected_components_star,
)


def _cc_py(edges):
    """Reference union-find."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("seed", [0, 5])
def test_star_matches_unionfind_random(spark, seed):
    rng = random.Random(seed)
    edges = [
        (rng.randint(0, 80), rng.randint(0, 80)) for _ in range(120)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _cc_py(edges)
    got = {
        r.node: r.component for r in connected_components_star(df).collect()
    }
    assert got == want
    # label propagation runs a caller-proven diameter bound: the node
    # count bounds every component's diameter
    got_prop = {
        r.node: r.component
        for r in connected_components(df, max_iters=len(want), hop=3).collect()
    }
    assert got_prop == want


def test_star_long_chain_few_rounds(spark):
    # a 200-node path: min-propagation needs ~200 rounds; the star
    # algorithm must finish within its default max_iters (log-round)
    edges = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.component
        for r in connected_components_star(df, max_iters=12).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == 201


def test_star_raises_when_round_budget_exhausted(spark):
    # the star form must fail LOUD when the edge-set fingerprint is
    # still moving at max_iters; a path needs >1 star round, so
    # max_iters=1 on a long chain cannot reach the fixpoint
    edges = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="still\\s+moving"):
        connected_components_star(df, max_iters=1).collect()


@pytest.mark.slow
def test_expand_family_hop2_equals_hop1(spark):
    """hop=2 (composed <=2-hop edge set, half the driver rounds) is a
    pure wall-clock optimization: identical (seed, member) pairs to
    hop=1 on a random undirected graph, and on a directed graph."""
    from pyspark.sql import functions as F

    from metrics_service_spark.operators.closure import expand_family

    rng = random.Random(13)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(100)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame(
        [(i,) for i in range(0, 80, 11)] + [(555,)], "pid long"
    )
    sym = edf.union(
        edf.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    for und, e in ((True, sym), (False, edf)):
        h1 = expand_family(
            seeds, e, seed_col="pid", max_iters=30, undirected=und, hop=1
        )
        h2 = expand_family(
            seeds, e, seed_col="pid", max_iters=30, undirected=und, hop=2
        )
        got1 = sorted((r["seed"], r["member"]) for r in h1.collect())
        got2 = sorted((r["seed"], r["member"]) for r in h2.collect())
        assert got1 == got2, f"undirected={und}"
    assert (555, 555) in got2


def test_early_stop_off_equals_on_random_graph(spark):
    """early_stop=False (no per-round probe jobs) is a pure latency
    optimization of the BFS closure: identical output to the default
    on a random graph, provided max_iters bounds the diameter."""
    from pyspark.sql import functions as F

    from metrics_service_spark.operators.closure import expand_family

    rng = random.Random(29)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(70)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    sym = edf.union(
        edf.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = spark.createDataFrame([(i,) for i in range(0, 60, 9)], "pid long")

    bfs_on = expand_family(seeds, sym, seed_col="pid", max_iters=20, undirected=True)
    bfs_off = expand_family(
        seeds, sym, seed_col="pid", max_iters=20, undirected=True, early_stop=False
    )
    assert sorted(map(tuple, bfs_on.collect())) == sorted(map(tuple, bfs_off.collect()))


def test_order_components_job_budget(spark, sf_dir, count_jobs):
    """order_components (label propagation: hop=3 composition, 3
    probe-free rounds) launches a fixed number of Spark jobs, build
    plus collect.  Pinned so a probe, an extra checkpoint or a switch
    to the star kernel (32 jobs at sf0.01) cannot land unnoticed."""
    from metrics_service_spark.catalog import all_queries

    q = all_queries()["order_components"].fn
    assert count_jobs(lambda: q(spark, sf_dir).collect()) == 13


def test_pagerank_int_hand_checked(spark):
    """3-round integer fixed-point PageRank on a hand-checkable graph:
    values replayed in exact floor-div arithmetic (same numbers the
    DuckDB unrolled oracle produces); dangling node 4 leaks mass and
    holds the base term only."""
    from metrics_service_spark.operators.closure import pagerank_int

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)], "src_id long, dst_id long"
    )
    out = {r["node"]: r["pr_q"] for r in pagerank_int(edges, iters=3).collect()}
    assert out == {
        1: 372187500000,
        2: 195679687500,
        3: 394632812500,
        4: 37500000000,
    }
    # mass never exceeds scale, every node scored
    assert sum(out.values()) <= 10**12
