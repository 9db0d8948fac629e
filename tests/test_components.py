"""Connected-components algorithm tests: large-star/small-star and
min-label propagation (with a structural round bound) both equal
union-find on random graphs, on the driver finish and on the
distributed loops alike; the driver finish returns the distributed
loops' rows and schema; star CC with `nodes=` returns the join-back of
its labels onto the node rows on all three routes; the star form
converges in few rounds on long chains; and the curation and linkage
entries keep their job budgets."""

from __future__ import annotations

import random
from collections import Counter

import pytest

from metrics_service_spark.operators import closure
from metrics_service_spark.operators.closure import (
    connected_components,
    connected_components_star,
)

#: the two ways each kernel can run: the driver finish under the
#: default bound, and the distributed loop with the bound at 0
BOUNDS = [
    pytest.param(closure.LOCAL_FINISH_EDGES, id="driver"),
    pytest.param(0, id="distributed"),
]


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


@pytest.mark.parametrize("bound", BOUNDS)
@pytest.mark.parametrize("seed", [0, 5])
def test_star_matches_unionfind_random(spark, monkeypatch, seed, bound):
    monkeypatch.setattr(closure, "LOCAL_FINISH_EDGES", bound)
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


def test_star_long_chain_few_rounds(spark, monkeypatch):
    # a 200-node path: min-propagation needs ~200 rounds; the star
    # algorithm must finish within its default max_iters (log-round).
    # The rounds run only in the distributed loop: bound 0.
    monkeypatch.setattr(closure, "LOCAL_FINISH_EDGES", 0)
    edges = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.component
        for r in connected_components_star(df, max_iters=12).collect()
    }
    assert set(got.values()) == {0}
    assert len(got) == 201


def test_star_raises_when_round_budget_exhausted(spark, monkeypatch):
    # the star form must fail LOUD when the edge-set fingerprint is
    # still moving at max_iters; a path needs >1 star round, so
    # max_iters=1 on a long chain cannot reach the fixpoint.  Only the
    # distributed loop has a round budget: a 64-edge path finishes on
    # the driver under the default bound, so the bound is set to 0.
    monkeypatch.setattr(closure, "LOCAL_FINISH_EDGES", 0)
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
    """order_components (label propagation over a few thousand chain
    edges, finished on the driver) launches a fixed number of Spark
    jobs, build plus collect: the AQE map stage of the chain window's
    exchange, run on its own as a job, and the Arrow collect of the
    edges.  The result is a local relation, so its collect runs no
    job.  Pinned so a probe, an extra checkpoint or a return to the
    distributed rounds (13 jobs) cannot land unnoticed."""
    from metrics_service_spark.catalog import all_queries

    q = all_queries()["order_components"].fn
    assert count_jobs(lambda: q(spark, sf_dir).collect()) == 2


def test_doc_linkage_clusters_job_budget(spark, sf_dir, count_jobs):
    """doc_linkage_clusters pairs its documents on the driver from one
    bounded collect of the corpus projection, then runs star CC over
    the pair graph of a few hundred edges, finished on the driver
    too, with the doc ids in the same collect: the two collects, and
    no final join (the result is a local relation).  Pinned so the
    join-back's broadcast and scan (4 jobs), a checkpoint barrier of
    the distributed linkage arms (14 jobs here in all) or a per-round
    CC loop (25) cannot come back unnoticed."""
    from metrics_service_spark.catalog import all_queries

    q = all_queries()["doc_linkage_clusters"].fn
    assert count_jobs(lambda: q(spark, sf_dir).collect()) == 2


@pytest.mark.parametrize(
    "name,jobs", [("doc_dedup_clusters", 7), ("mm_dedup_clusters", 4)]
)
def test_dedup_clusters_job_budget(spark, sf_dir, count_jobs, name, jobs):
    """The two dedup keep-lists label their rows inside star CC's
    driver finish (`nodes=`): their pair stages' jobs, then one
    bounded collect of the pairs and the ids, and no join back onto
    the corpus (which cost 2 more jobs: the broadcast of the labels
    and the corpus scan).  mm_dedup_clusters reads its ids from the
    documents directly, so the collect waits on no repartition."""
    from metrics_service_spark.catalog import all_queries

    q = all_queries()[name].fn
    assert count_jobs(lambda: q(spark, sf_dir).collect()) == jobs


def test_doc_linkage_multipass_job_budget(spark, sf_dir, count_jobs):
    """doc_linkage_multipass: the bounded collect of the corpus
    projection, and the collect that scores the driver-built
    candidates on every core.  The distributed arms it replaces ran
    13 jobs here."""
    from metrics_service_spark.catalog import all_queries

    q = all_queries()["doc_linkage_multipass"].fn
    assert count_jobs(lambda: q(spark, sf_dir).collect()) == 2


def _random_edges(rng: random.Random, n: int, nodes: int) -> list:
    """Edges with self-loops, duplicate and mirrored pairs and NULL
    endpoints on either side."""
    out = []
    for _ in range(n):
        a, b = rng.randrange(nodes), rng.randrange(nodes)
        roll = rng.random()
        if roll < 0.1:
            b = a
        elif roll < 0.15:
            a = None
        elif roll < 0.2:
            b = None
        out.append((a, b))
        if rng.random() < 0.2:
            out.append((b, a) if rng.random() < 0.5 else (a, b))
    return out


def _diameter(edges) -> int:
    """The largest shortest-path distance within any component, by a
    BFS from every node."""
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    best = 0
    for start in adj:
        dist, frontier = {start: 0}, [start]
        while frontier:
            nxt = []
            for x in frontier:
                for y in adj[x] - dist.keys():
                    dist[y] = dist[x] + 1
                    nxt.append(y)
            frontier = nxt
        best = max(best, *dist.values())
    return best


def _graphs():
    rng = random.Random(41)
    sparse = _random_edges(rng, 60, 70)
    dense = _random_edges(rng, 150, 60)
    return [
        ("sparse", "src long, dst long", sparse),
        ("dense", "src long, dst long", dense),
        ("string", "src string, dst string",
         [tuple(None if x is None else f"n{x:03d}" for x in e) for e in dense]),
        ("int_long", "src int, dst long", sparse),
        ("not_null", "src long not null, dst long not null",
         [(a, b) for a, b in dense if a is not None and b is not None]),
        ("self_loops", "src long, dst long", [(i, i) for i in range(9)] * 2),
        ("empty", "src long, dst long", []),
    ]


@pytest.mark.parametrize(
    "ddl,edges", [pytest.param(d, e, id=k) for k, d, e in _graphs()]
)
def test_local_finish_equals_distributed(spark, monkeypatch, ddl, edges):
    """The driver finish returns the distributed loop's rows and
    schema exactly, for both kernels, on graphs with self-loops,
    duplicate and mirrored edges, NULL endpoints, int and string ids,
    an all-self-loop input and no edges at all."""
    df = spark.createDataFrame(edges, ddl)
    real = [(a, b) for a, b in edges if a is not None and b is not None]
    ids = {x for e in edges for x in e if x is not None}
    want = _cc_py(real)
    # the largest component diameter, plus a round to spare so the
    # NULL row's label (one hop past its partners) has settled too
    rounds = _diameter(real) + 1
    runs = {
        "star": lambda: connected_components_star(df),
        "hop1": lambda: connected_components(df, max_iters=rounds),
        "hop3": lambda: connected_components(df, max_iters=rounds, hop=3),
    }
    for name, run in runs.items():
        got = []
        for bound in (closure.LOCAL_FINISH_EDGES, 0):
            monkeypatch.setattr(closure, "LOCAL_FINISH_EDGES", bound)
            out = run()
            got.append((out.schema, Counter(map(tuple, out.collect()))))
        monkeypatch.undo()
        driver, distributed = got
        assert driver == distributed, name
        labels = distributed[1]
        # the node sets, as the distributed loops return them: star
        # filters `u != v`, so self-loop-only and NULL endpoints are
        # not nodes; label propagation keeps every non-NULL endpoint,
        # and at hop=1 a NULL paired with an id takes that id's label
        if name == "star":
            nodes = {x for a, b in real if a != b for x in (a, b)}
        else:
            nodes = set(ids)
        null_row = name == "hop1" and any(
            (a is None) != (b is None) for a, b in edges
        )
        assert {n for n, _ in labels} == nodes | ({None} if null_row else set())
        assert all(c == want.get(n, n) for n, c in labels if n is not None), name
        assert all(n == 1 for n in labels.values()), name


def _node_graphs():
    """(edge ddl, edges, node ddl, node rows) cases for `nodes=`."""
    rng = random.Random(7)
    edges = _random_edges(rng, 50, 40)
    ends = sorted({x for e in edges for x in e if x is not None})
    # duplicates, NULLs, ids on no edge (100+), and some endpoints left
    # out of the node rows
    nodes = [(x,) for x in ends[::2]] + [(ends[0],), (ends[0],), (None,)]
    nodes += [(None,), (100,), (101,), (101,)]
    return [
        ("long", "src long, dst long", edges, "id long", nodes),
        ("int_long", "src long, dst long", edges, "id int", nodes),
        ("long_int", "src int, dst int", edges, "id long", nodes),
        (
            "string",
            "src string, dst string",
            [tuple(None if x is None else f"n{x:03d}" for x in e) for e in edges],
            "id string",
            [(None if x is None else f"n{x:03d}",) for (x,) in nodes],
        ),
        ("not_null_nodes", "src long, dst long", edges, "id long not null",
         [(x,) for (x,) in nodes if x is not None]),
        ("no_edges", "src long, dst long", [], "id long", nodes),
        ("no_nodes", "src long, dst long", edges, "id long", []),
        ("both_empty", "src long, dst long", [], "id long", []),
        ("self_loops", "src long, dst long", [(i, i) for i in range(6)] * 2,
         "id long", [(i,) for i in range(8)]),
    ]


@pytest.mark.parametrize(
    "eddl,edges,nddl,nodes",
    [pytest.param(*c[1:], id=c[0]) for c in _node_graphs()],
)
def test_star_nodes_equals_join_back(spark, monkeypatch, eddl, edges, nddl, nodes):
    """`connected_components_star(edges, nodes=...)` returns exactly
    the left join of the labels onto the node rows with
    coalesce(component, id) that its callers used to write, rows and
    schema, on each route: the one driver collect of edges and nodes
    (default bounds, the size gate lifted); the edge-only driver
    finish then the join, after that collect's node rows overflowed
    (edge bound at the kept edge count, node bound 1) or with no
    collect when the ids' size estimate is unknown; and the
    distributed rounds then the join (edge bound 0), where the
    edge-only collect is skipped because the first collect already
    saw the edges overflow."""
    from pyspark.sql import functions as F

    edf = spark.createDataFrame(edges, eddl)
    ndf = spark.createDataFrame(nodes, nddl)
    (n,) = ndf.columns
    # the labels are the same on every route
    # (test_local_finish_equals_distributed)
    cc = connected_components_star(edf)
    want = ndf.join(cc.withColumnRenamed("node", n), n, "left").select(
        n, F.coalesce("component", n).alias("component")
    )
    rows = Counter(map(tuple, want.collect()))
    assert sum(rows.values()) == len(nodes)
    calls: list[str] = []
    for name in ("_local_label", "_local_finish"):
        fn = getattr(closure, name)

        def spy(*a, _f=fn, _n=name, **k):
            calls.append(_n)
            return _f(*a, **k)

        monkeypatch.setattr(closure, name, spy)
    # the rows the star kernel keeps: both ends non-NULL and distinct
    kept = sum(1 for a, b in edges if a is not None and b is not None and a != b)
    e0, n0 = closure.LOCAL_FINISH_EDGES, closure.LOCAL_FINISH_NODES
    # a `createDataFrame` frame has no size estimate: `gate` lifts the
    # estimate bound past Long.MaxValue, so the node bound alone decides
    for edge_bound, node_bound, gate in (
        (e0, n0, True),
        (kept, 1, True),
        (e0, n0, False),
        (0, n0, True),
    ):
        monkeypatch.setattr(closure, "LOCAL_FINISH_EDGES", edge_bound)
        monkeypatch.setattr(closure, "LOCAL_FINISH_NODES", node_bound)
        monkeypatch.setattr(closure, "NODE_ESTIMATE_BYTES", 1 << 63 if gate else 32)
        calls.clear()
        got = connected_components_star(edf, nodes=ndf)
        route = edge_bound, node_bound, gate
        # route 1 returns the driver's rows as a local relation
        local = got._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
        route1 = gate and kept <= edge_bound and len(nodes) <= node_bound
        assert local == route1, route
        assert calls.count("_local_label") == gate, route
        edge_only = not route1 and not (gate and kept > edge_bound)
        assert calls.count("_local_finish") == edge_only, route
        assert got.schema == want.schema, route
        assert Counter(map(tuple, got.collect())) == rows, route


def test_star_nodes_size_gate(spark, tmp_path, monkeypatch, count_jobs):
    """Route 1 runs only when Spark's size estimate of the ids admits
    LOCAL_FINISH_NODES rows: a small parquet scan takes it (one job,
    the collect of edges and ids); past the estimate bound the kernel
    goes to the edge-only finish with no job spent on the ids (one job,
    the edge collect; the join runs at the result's collect)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "ids.parquet")
    spark.range(100).select(F.col("id").alias("doc_id")).write.parquet(path)
    ids = spark.read.parquet(path)
    edf = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 5), (200, 1)], "src long, dst long"
    )
    want = {(i, 1 if i in (1, 2, 3) else 5 if i == 7 else i) for i in range(100)}
    for node_bound, local in ((closure.LOCAL_FINISH_NODES, True), (1, False)):
        monkeypatch.setattr(closure, "LOCAL_FINISH_NODES", node_bound)
        got = []
        jobs = count_jobs(
            lambda: got.append(connected_components_star(edf, nodes=ids))
        )
        assert jobs == 1, node_bound
        (out,) = got
        is_local = out._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
        assert is_local == local, node_bound
        assert set(map(tuple, out.collect())) == want, node_bound


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
