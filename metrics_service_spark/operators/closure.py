"""Iterative graph operators: transitive closure / chain resolution.

Reference semantics (SURVEY.md J1/J2): `getResolvePIDs`
(pid_resolution.py:285-416) and `getObsolescenceChain`
(pid_resolution.py:207-282, max_depth=20) walk a PID graph one Solr
round-trip at a time.  Spark has no recursive CTE, so the idiomatic
replacement is a driver-side loop of distributed joins to fixpoint —
each iteration is ONE shuffle join over the whole frontier instead of
N client round-trips.

Scale notes:
- Frontier joins shrink each round; `localCheckpoint` every few rounds
  truncates the lineage so plan size stays O(1) instead of O(depth).
- All checkpoints here are LAZY (eager=False): plan truncation happens
  at call time either way (the logical plan becomes a LogicalRDD
  leaf), and the eager=True variant's extra `rdd.count()` job is
  skipped.  Under AQE the call is still not free — toRdd materializes
  the subplan's shuffle stages synchronously while AQE picks the final
  plan — but AQE's tiny-shuffle coalescing more than pays for that
  (measured: building these loops with AQE off is ~70% slower).  The
  r7 lever that actually moved the needle was FEWER materialization
  barriers where rounds are single-reference (connected_components
  checkpoints every CHECKPOINT_EVERY rounds) and fewer separate
  actions (no per-round probes when max_iters is a structural bound).
- Iterations are capped (the reference caps chain depth at 20); beyond
  that, large-star/small-star contraction (~log n rounds,
  `connected_components_star`) is the tool for full family resolution
  of 10^8 edges.
- Both connected-components kernels first try a driver finish
  (`_local_finish`): an edge set of at most LOCAL_FINISH_EDGES rows
  crosses to the driver in one bounded Arrow collect and is labeled by
  union-find there, so a small graph pays one job instead of a round
  loop of barrier jobs that each move a few KB.  Only a larger edge
  set runs the distributed loop, and only that loop has a round
  budget.  Measured on star CC (SCALE.md): the driver finish is
  10-15x faster from 10^4 to 10^6 edges.
- Star CC also labels the caller's rows (`nodes=`): the one-column
  frame of ids to label crosses in the same collect as the edges, and
  the result is the left join of the labels onto those rows with
  `coalesce(component, id)`, computed on the driver.  The local
  relation it returns needs no join, and so no broadcast job.  Three
  routes, by size: edges within LOCAL_FINISH_EDGES and ids within
  LOCAL_FINISH_NODES (the one collect, tried only when Spark's size
  estimate of the ids admits it); only the edges within their bound
  (the edge-only finish, then the join-back in Spark); neither (the
  star rounds, then the same join-back).
- The seeded BFS and the chain walk finish on the driver too
  (`_local_bfs`, `_local_chains`): one bounded Arrow collect, then the
  distributed loop's own rounds replayed in numpy (`_pairs` is its
  equi-join), so their rows equal the loop's whatever the graph holds.
  Each bounds its input rows and its output (BFS_LOCAL_ROWS and
  BFS_LOCAL_PAIRS, CHAIN_LOCAL_ROWS and CHAIN_LOCAL_STATE); past
  either, the distributed loop runs.

One function per algorithm, one loop per function: pointer jumping
(`resolve_chains`), seeded BFS (`expand_family`), label propagation
under a caller-proven diameter bound (`connected_components`),
star contraction (`connected_components_star`) and fixed-round integer
PageRank (`pagerank_int`).
"""

from __future__ import annotations

import math
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DataType,
    IntegerType,
    IntegralType,
    LongType,
    ShortType,
    StringType,
    StructType,
)

if TYPE_CHECKING:
    import numpy as np
    import pyarrow as pa

CHECKPOINT_EVERY = 5

#: edge-count bound of the driver finish (`_local_finish`): an edge set
#: of at most this many rows is labeled by union-find on the driver
#: instead of by the distributed loop.  Measured on star CC over random
#: graphs (4 cores, SCALE.md): 0.62 vs 6.43 s at 10^4 edges, 0.87 vs
#: 12.7 s at 10^5 and 7.4 vs 77 s at 10^6 — the driver finish wins at
#: every size up to here, and a million int64 pairs is ~16 MB of heap.
LOCAL_FINISH_EDGES = 1_000_000

#: node-row bound of star CC's labeled finish (`_local_label`): at most
#: this many of the caller's ids cross to the driver with the edges.
#: Measured on doc_linkage_clusters' pair edges and the documents' ids
#: (4 cores, SCALE.md): that one collect was no slower than the
#: edge-only finish plus the join back in Spark from 500 to 250,000
#: ids, the largest corpus measured.
LOCAL_FINISH_NODES = 250_000

#: the labeled finish is tried only when Spark's size estimate of the
#: ids (`_fits_bytes`, no job) is within this many bytes per allowed
#: row.  The estimate read 23-29 bytes per id of the documents corpus
#: from sf0.01 to 50x (7.2 MB at 250,000 ids); a frame of unknown size
#: (a `createDataFrame`) does not fit.
NODE_ESTIMATE_BYTES = 32

#: input bound of the driver BFS (`_local_bfs`): at most this many seed
#: and edge rows cross to the driver, in one collect.
BFS_LOCAL_ROWS = 1_000_000

#: output bound of the driver BFS: past this many (seed, member) pairs,
#: or rows of one round's join, the distributed loop runs instead.
#: Needed beside the input bound because the pairs can outgrow it:
#: `build_identifiers` seeds every pid.
BFS_LOCAL_PAIRS = 2_000_000

#: input bound of the driver chain walk (`_local_chains`): at most this
#: many (child, parent) rows cross to the driver, in one collect.
CHAIN_LOCAL_ROWS = 1_000_000

#: output bound of the driver chain walk: past this many rows in one
#: round's state the distributed loop runs instead.  Duplicate child
#: rows multiply the state, in Spark's self-join as on the driver.
CHAIN_LOCAL_STATE = 2_000_000

_INTEGRAL_WIDTH = (ByteType(), ShortType(), IntegerType(), LongType())


def _compose_hops(edges: DataFrame, a: str, b: str, hop: int) -> DataFrame:
    """The <=hop-hop edge set of `edges` (columns `a` -> `b`): the
    union of the path-length-1..hop relations, self-loops dropped (a
    u->...->u path adds nothing to a BFS or min-label step and would
    double the composed set on undirected graphs), checkpointed because
    every loop round re-reads it."""
    acc, exact = edges, edges
    for _ in range(hop - 1):
        exact = (
            exact.alias("x")
            .join(edges.alias("y"), F.col(f"x.{b}") == F.col(f"y.{a}"))
            .select(F.col(f"x.{a}").alias(a), F.col(f"y.{b}").alias(b))
        )
        acc = acc.unionByName(exact)
    return acc.filter(F.col(a) != F.col(b)).distinct().localCheckpoint(eager=False)


def _local_finish(
    edges: DataFrame, schema: StructType, *, null_partner: bool
) -> DataFrame | None:
    """Label a small graph on the driver: (node, component), component
    = the minimum node id of its component, or None when `edges` (two
    columns, endpoint ids) holds more than LOCAL_FINISH_EDGES rows.

    ONE Spark job moves the edge set: `_bounded_arrow`'s collect of at
    most LOCAL_FINISH_EDGES + 1 rows (operators/driver.py).  `schema`
    is the calling kernel's output schema: both endpoints are cast to
    its node type before the collect, and the result carries its exact
    column names, types and nullability.

    Every non-NULL endpoint is a node (self-loops included).  A NULL
    endpoint never carries a label in either distributed loop; with
    `null_partner` (label propagation at hop=1, where a NULL `a` row
    still groups and takes its partners' labels) a NULL node row is
    added with the smallest component among the ids paired with NULL,
    when there are any."""
    import pyarrow as pa

    from metrics_service_spark.operators.driver import _bounded_arrow

    t = schema["node"].dataType
    a, b = edges.columns
    tbl = _bounded_arrow(
        edges.select(F.col(a).cast(t), F.col(b).cast(t)), LOCAL_FINISH_EDGES
    )
    if tbl is None:
        return None
    nodes, roots, iu, iv = _union_find(*(c.combine_chunks() for c in tbl.columns))
    # an edge with exactly one NULL end: its id end is max(x, y)
    partners = (
        [max(x, y) for x, y in zip(iu, iv) if min(x, y) < 0 <= max(x, y)]
        if null_partner
        else []
    )
    if partners:
        roots.append(min(roots[p] for p in partners))
        nodes = pa.concat_arrays([nodes, pa.nulls(1, nodes.type)])
    comp = nodes.take(pa.array(roots, pa.int64()))
    out = pa.table([nodes, comp], names=["node", "component"])
    return edges.sparkSession.createDataFrame(out, schema=schema)


def _union_find(
    u: pa.Array, v: pa.Array
) -> tuple[pa.Array, list[int], list[int], list[int]]:
    """Union-find over the edge rows (u[i], v[i]), two Arrow arrays.

    Returns the distinct non-NULL ids in sorted order, each one's root
    (an index into them: its component's minimum id), and each row's
    two endpoint indexes (-1 for NULL).  Ids are ranked by Arrow's
    sort (byte order for strings, as Spark compares them), so
    union-find that always hangs the larger root under the smaller one
    leaves every node's root at its component's minimum rank."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = pc.unique(pa.concat_arrays([u, v]).drop_null())
    ids = ids.take(pc.sort_indices(ids))
    iu, iv = (
        pc.index_in(x, value_set=ids).fill_null(-1).to_numpy().tolist()
        for x in (u, v)
    )
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in zip(iu, iv):
        if x >= 0 and y >= 0:
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
    return ids, [find(x) for x in range(len(ids))], iu, iv


def _driver_ids(*types: DataType) -> DataType | None:
    """The one type the driver BFS and chain walk compare ids as: the
    widest of `types` when all are integers (Spark's join widens its
    keys the same way), the plain string type when all are; None
    otherwise.  Floats, collated strings and mixed types keep Spark's
    comparison, so their graphs always run distributed."""
    if all(isinstance(t, IntegralType) for t in types):
        return max(types, key=_INTEGRAL_WIDTH.index)
    return StringType() if all(t == StringType() for t in types) else None


def _codes(cols: list[pa.Array]) -> tuple[pa.Array, list[np.ndarray]]:
    """The distinct non-NULL ids of `cols` (Arrow arrays of one type),
    and each column as int64 indexes into them, -1 for NULL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = pc.unique(pa.concat_arrays(cols).drop_null())
    return ids, [
        pc.index_in(c, value_set=ids).fill_null(-1).to_numpy().astype("int64")
        for c in cols
    ]


def _decode(ids: pa.Array, codes: np.ndarray, t: DataType) -> pa.Array:
    """The ids at `codes` (NULL at -1), as the Arrow form of `t`."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    return ids.take(pa.array(codes, mask=codes < 0)).cast(to_arrow_type(t))


def _pairs(
    lk: np.ndarray, rk: np.ndarray, limit: int
) -> tuple[np.ndarray, np.ndarray] | None:
    """The row pairs (i, j) of the inner equi-join lk[i] == rk[j], each
    pair once, as Spark's join emits them (a NULL key, -1, matches
    nothing), or None past `limit` pairs."""
    import numpy as np

    order = np.argsort(rk, kind="stable")
    srt = rk[order]
    lo = np.searchsorted(srt, lk, "left")
    cnt = np.where(lk >= 0, np.searchsorted(srt, lk, "right") - lo, 0)
    total = int(cnt.sum())
    if total > limit:
        return None
    li = np.repeat(np.arange(len(lk)), cnt)
    return li, order[np.arange(total) + np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)]


def _local_chains(
    edges: DataFrame, schema: StructType, t: DataType, *, max_depth: int, rounds: int
) -> DataFrame | None:
    """`resolve_chains` on the driver: the same pointer-jumping rounds
    over the (child, parent) rows of `edges`, each round's self-join
    done by `_pairs`, so duplicate child rows, cycles, parents that are
    no node and NULL ids come out as the distributed loop leaves them.
    `schema` is the loop's output schema, `t` the type the ids are
    compared as (`_driver_ids`).  ONE Spark job, the bounded
    collect of at most CHAIN_LOCAL_ROWS rows; None past that bound or
    past CHAIN_LOCAL_STATE rows in a round."""
    import numpy as np
    import pyarrow as pa

    from metrics_service_spark.operators.driver import _bounded_arrow

    child, parent = edges.columns
    tbl = _bounded_arrow(
        edges.select(F.col(child).cast(t), F.col(parent).cast(t)), CHAIN_LOCAL_ROWS
    )
    if tbl is None:
        return None
    ids, (node, par) = _codes([c.combine_chunks() for c in tbl.columns])
    done = par < 0
    ptr = np.where(done, node, par)
    depth = (~done).astype("int64")
    for i in range(rounds):
        j = _pairs(ptr, node, CHAIN_LOCAL_STATE)
        if j is None:
            return None
        s, h = j
        keep = done[s]
        node, ptr, depth, done = (
            node[s],
            np.where(keep, ptr[s], ptr[h]),
            np.where(keep, depth[s], depth[s] + depth[h]),
            keep | done[h],
        )
        if rounds > 6 and (i + 1) % CHECKPOINT_EVERY == 0 and done.all():
            break
    out = done & (depth <= max_depth)
    cols = [
        _decode(ids, node[out], schema["node"].dataType),
        _decode(ids, ptr[out], schema["root"].dataType),
        pa.array(depth[out], pa.int32()),
    ]
    return edges.sparkSession.createDataFrame(
        pa.table(cols, names=schema.names), schema=schema
    )


def _local_bfs(
    seeds: DataFrame,
    edges: DataFrame,
    schema: StructType,
    t: DataType,
    *,
    max_iters: int,
    undirected: bool,
    hop: int,
) -> DataFrame | None:
    """`expand_family` on the driver: the same layers, with the same
    `hop` composition and round count, the same dedup targets (the
    last two layers when `undirected`, else all) and the same NULL
    rules (a NULL member joins nothing and is never deduplicated), so
    the (seed, member) rows equal the distributed loop's, duplicates
    included.  `seeds` and `edges` have one and two columns (seed;
    src, dst); `schema` is the loop's output schema, `t` the type the
    ids are compared as (`_driver_ids`).  ONE Spark job:
    seeds and edges cross in one collect of at most BFS_LOCAL_ROWS
    rows, told apart by a tag.  None past that bound or past
    BFS_LOCAL_PAIRS output pairs or rows of one round's join."""
    import numpy as np
    import pyarrow as pa

    from metrics_service_spark.operators.driver import _bounded_arrow

    (seed,) = seeds.columns
    src, dst = edges.columns
    rows = seeds.select(
        F.lit(True).alias("__seed"), F.col(seed).cast(t), F.lit(None).cast(t)
    ).union(edges.select(F.lit(False), F.col(src).cast(t), F.col(dst).cast(t)))
    tbl = _bounded_arrow(rows, BFS_LOCAL_ROWS)
    if tbl is None:
        return None
    tag, u, v = (c.combine_chunks() for c in tbl.columns)
    ids, (uc, vc) = _codes([u, v])
    is_seed = tag.to_numpy(zero_copy_only=False)
    a, b = uc[~is_seed], vc[~is_seed]
    n = len(ids) + 1

    def key(s: np.ndarray, m: np.ndarray) -> np.ndarray:
        return (s + 1) * n + (m + 1)

    if hop > 1:
        # `_compose_hops`: the <=hop-hop pairs, self-loops and NULL
        # endpoints dropped, distinct (each step deduplicated: the
        # final distinct makes that exact)
        acc, xa, xb = [key(a, b)], a, b
        for _ in range(hop - 1):
            j = _pairs(xb, a, BFS_LOCAL_PAIRS)
            if j is None:
                return None
            k = np.unique(key(xa[j[0]], b[j[1]]))
            xa, xb = k // n - 1, k % n - 1
            acc.append(k)
        k = np.unique(np.concatenate(acc))
        a, b = k // n - 1, k % n - 1
        keep = (a >= 0) & (b >= 0) & (a != b)
        a, b = a[keep], b[keep]
        max_iters = -(-max_iters // hop)
    s0 = np.unique(uc[is_seed])
    layers = [key(s0, s0)]
    total = len(s0)
    for _ in range(max_iters):
        last = layers[-1]
        j = _pairs(last % n - 1, a, BFS_LOCAL_PAIRS)
        if j is None:
            return None
        k = np.unique(key(last[j[0]] // n - 1, b[j[1]]))
        has_member = k % n > 0
        for seen in layers[-2:] if undirected else layers:
            k = k[~(np.isin(k, seen) & has_member)]
            has_member = k % n > 0
        if not len(k):
            # every later layer is empty too
            break
        total += len(k)
        if total > BFS_LOCAL_PAIRS:
            return None
        layers.append(k)
    k = np.concatenate(layers)
    cols = [
        _decode(ids, k // n - 1, schema["seed"].dataType),
        _decode(ids, k % n - 1, schema["member"].dataType),
    ]
    return edges.sparkSession.createDataFrame(
        pa.table(cols, names=schema.names), schema=schema
    )


def _local_label(
    edges: DataFrame, nodes: DataFrame, schema: StructType
) -> DataFrame | bool:
    """Star CC's labeled finish: `_join_back(nodes, labels)` computed
    on the driver, one row per `nodes` row (one column of ids) in
    `schema`, that frame's schema, as a local relation.  The caller
    passes `nodes` only when its ids compare as the component type
    does (`_same_key`).

    ONE Spark job: the edge rows and the node rows cross in one Arrow
    collect, told apart by a tag column, of at most LOCAL_FINISH_EDGES
    + LOCAL_FINISH_NODES + 1 rows.  That is `_bounded_arrow`'s collect,
    kept when it overflows, because its rows then say which bound was
    passed.  Returns the labeled rows when at most LOCAL_FINISH_EDGES
    edge rows and LOCAL_FINISH_NODES node rows came across (then every
    row did).  Otherwise returns whether the edge-only finish can
    still fit: False when more edge rows came across, True when only
    the node rows passed their bound."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = schema["component"].dataType
    a, b = edges.columns
    (n,) = nodes.columns
    rows = edges.select(
        F.lit(False).alias("__node"), F.col(a).cast(t), F.col(b).cast(t)
    ).union(nodes.select(F.lit(True), F.col(n).cast(t), F.lit(None).cast(t)))
    tbl = rows.limit(LOCAL_FINISH_EDGES + LOCAL_FINISH_NODES + 1).toArrow()
    tag, u, v = (c.combine_chunks() for c in tbl.columns)
    keys = u.filter(tag)
    if tbl.num_rows - len(keys) > LOCAL_FINISH_EDGES:
        return False
    if len(keys) > LOCAL_FINISH_NODES:
        return True
    edge_rows = pc.invert(tag)
    ids, roots, _, _ = _union_find(u.filter(edge_rows), v.filter(edge_rows))
    # the left join: an id on no edge (or NULL) finds no label and
    # coalesces to itself
    label = ids.take(pa.array(roots, pa.int64())).take(
        pc.index_in(keys, value_set=ids, skip_nulls=True)
    )
    out = pa.table([keys, pc.coalesce(label, keys)], names=schema.names)
    return edges.sparkSession.createDataFrame(out, schema=schema)


def _join_back(nodes: DataFrame, labels: DataFrame) -> DataFrame:
    """One row per `nodes` row (one column of ids): the id and its
    component in `labels` (node, component), the id itself when it has
    no label; a NULL id keeps NULL.  Duplicate ids stay duplicated."""
    (n,) = nodes.columns
    lab = labels.select(
        F.col("node").alias("__node"), F.col("component").alias("__comp")
    )
    return nodes.join(lab, F.col(n) == F.col("__node"), "left").select(
        n, F.coalesce("__comp", n).alias("component")
    )


def _same_key(nodes: DataFrame, labels: DataFrame) -> bool:
    """True when `nodes`' ids match labels as values of the component
    type: the same type, or integers of any width (the join widens
    both sides, and so does the cast to the component type)."""
    x, y = nodes.schema.fields[0].dataType, labels.schema["node"].dataType
    return x == y or (isinstance(x, IntegralType) and isinstance(y, IntegralType))


def resolve_chains(
    edges: DataFrame,
    *,
    child: str = "child",
    parent: str = "parent",
    max_depth: int = 20,
) -> DataFrame:
    """Resolve parent-pointer chains (obsoletes graph, J2) to their roots.

    `edges` has one row per node: (child, parent) with parent NULL for
    roots.  Returns (node, root, depth): depth 0 for roots, k for a node
    k hops below its root; nodes deeper than max_depth (the reference's
    walk cap, pid_resolution.py:207) are omitted.

    Algorithm: pointer jumping (path doubling) — each round every
    node's ancestor pointer leaps twice as far, so chains of depth d
    resolve in ceil(log2(d + 1)) self-joins instead of d frontier joins.

    Integer or string ids of at most CHAIN_LOCAL_ROWS rows run those
    rounds on the driver (`_local_chains`: one bounded Arrow collect,
    the self-joins in numpy), with the same rows and schema as the
    distributed loop, whatever the input holds (duplicate child rows,
    cycles, parents that are no node, NULL ids).  order_chains is 1
    job this way at sf0.01, where its distributed loop ran 18-22.
    Past the bounds (CHAIN_LOCAL_ROWS input rows, CHAIN_LOCAL_STATE
    rows in a round) the distributed loop runs: at 100 TB the
    difference between 5 shuffles and 20+, its state localCheckpoint-ed
    per round to keep lineage O(1).
    """
    state = edges.select(
        F.col(child).alias("node"),
        F.coalesce(F.col(parent), F.col(child)).alias("ptr"),
        F.when(F.col(parent).isNull(), F.lit(0)).otherwise(F.lit(1)).alias("depth"),
        F.col(parent).isNull().alias("done"),
    )

    def jump(state: DataFrame) -> DataFrame:
        hop = state.select(
            F.col("node").alias("p_node"),
            F.col("ptr").alias("p_ptr"),
            F.col("depth").alias("p_depth"),
            F.col("done").alias("p_done"),
        )
        return state.join(hop, state.ptr == hop.p_node, "inner").select(
            "node",
            F.when(F.col("done"), F.col("ptr")).otherwise(F.col("p_ptr")).alias("ptr"),
            F.when(F.col("done"), F.col("depth"))
            .otherwise(F.col("depth") + F.col("p_depth"))
            .alias("depth"),
            (F.col("done") | F.col("p_done")).alias("done"),
        )

    def out(state: DataFrame) -> DataFrame:
        return state.filter(F.col("done") & (F.col("depth") <= max_depth)).select(
            "node", F.col("ptr").alias("root"), F.col("depth").cast("int").alias("depth")
        )

    # Pointer jumping marks depths up to 2^rounds - 1 done, so a cap of
    # d needs ceil(log2(d + 1)) rounds; for the reference's depth cap
    # (20 -> 5 rounds) the whole loop is planned
    # lazily — no per-round driver action, one final job executes the
    # 5-join tree.  Only genuinely deep closures (rounds > 6) pay for
    # mid-loop checkpoints (lineage truncation) and early-exit probes.
    rounds = max(1, math.ceil(math.log2(max_depth + 1)))
    t = _driver_ids(*(edges.schema[c].dataType for c in (child, parent)))
    if t is not None:
        # the output schema comes from analysis of one round (no job)
        small = _local_chains(
            edges.select(child, parent),
            out(jump(state)).schema,
            t,
            max_depth=max_depth,
            rounds=rounds,
        )
        if small is not None:
            return small
    state = state.localCheckpoint(eager=False)
    for i in range(rounds):
        state = jump(state)
        # each round references `state` TWICE (self-join), so the lazy
        # loop's final plan embeds 2^rounds copies of the leaf scan —
        # measured at sf0.1 that is still FASTER than truncating every
        # second round (2.27 s vs 2.71 s): AQE executes the shared
        # checkpoint leaf once and the extra joins coalesce to tiny
        # 1-partition exchanges, while each added barrier is a full
        # synchronous stage materialization.  Deep closures
        # (rounds > 6) keep periodic truncation + the emptiness
        # early-exit probe — there the 2^rounds plan genuinely explodes.
        if rounds > 6 and (i + 1) % CHECKPOINT_EVERY == 0:
            state = state.localCheckpoint(eager=False)
            if state.filter(~F.col("done")).isEmpty():
                break
    return out(state)


def expand_family(
    seeds: DataFrame,
    edges: DataFrame,
    *,
    seed_col: str = "pid",
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
    undirected: bool = False,
    hop: int = 1,
    early_stop: bool = True,
) -> DataFrame:
    """Transitive closure from seed ids over an edge set (J1
    `getResolvePIDs` fixpoint: resourceMap/documents/seriesId
    expansion).  Returns (seed, member) pairs including (seed, seed).

    Each round joins the new frontier to the edge list and unions in
    unseen members; terminates at fixpoint or after max_iters (the
    reference's two nested expansion loops are the same computation done
    one id at a time).

    `undirected=True` (edges symmetric, as in identifier families)
    enables the BFS-distance optimization: with per-round span h, a
    node reachable within h hops of a layer-i node has BFS layer i-1
    or i, so deduping the new frontier against only the LAST TWO
    layers is exhaustive — per-round join count stays constant instead
    of growing with depth.  Directed graphs (back edges can reach any
    earlier layer) keep the full chain.

    `hop=h` (h small, typically 2) composes the edge relation with
    itself ONCE up front into the <=h-hop edge set, then runs
    ceil(max_iters / h) BFS rounds instead of max_iters — each
    driver-side round has fixed job-launch cost, so on a shallow graph
    this halves the wall-clock of the loop.  The composed edge set
    holds O(sum(deg^h)) rows: the right trade for bounded-degree
    graphs (version chains, obsolescence graphs: deg <= 2), the WRONG
    one for hub-heavy graphs — keep hop=1 there.  When max_iters is
    not a multiple of h the effective depth cap rounds UP to the next
    multiple (termination is still at fixpoint when the graph is
    shallower).

    Integer or string ids with at most BFS_LOCAL_ROWS seed and edge
    rows run the same layers on the driver (`_local_bfs`: one bounded
    Arrow collect, each round in numpy), with the same rows and schema
    as the distributed loop whatever `undirected`, `hop` and
    `early_stop` say.  pid_family_closure is 1 job this way at sf0.01,
    where the loop ran 25.  Past the bounds (BFS_LOCAL_ROWS input rows,
    BFS_LOCAL_PAIRS output pairs or rows of a round's join) the
    distributed loop below runs.
    """
    # BFS by layers.  Each round's frontier is dedup'd against ALL
    # prior layers with a CHAIN of anti-joins (not one anti-join
    # against their union: a Union inside a checkpointed/persisted
    # plan trips Spark 4.1's constraint rewrite, and unioning
    # self-referencing cached plans nests them exponentially).  Every
    # layer is checkpointed, so each plan in flight is one join chain
    # over materialized leaves — O(layers) nodes, O(1) lineage.
    edges = edges.select(F.col(src).alias(src), F.col(dst).alias(dst))
    frontier = seeds.select(
        F.col(seed_col).alias("seed"), F.col(seed_col).alias("member")
    ).distinct()

    def grow(frontier: DataFrame, edges: DataFrame) -> DataFrame:
        return (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.member") == F.col(f"e.{src}"), "inner")
            .select(F.col("f.seed").alias("seed"), F.col(f"e.{dst}").alias("member"))
            .distinct()
        )

    t = _driver_ids(seeds.schema[seed_col].dataType, *(f.dataType for f in edges.schema))
    if t is not None:
        # the output schema comes from analysis of one round (no job)
        small = _local_bfs(
            seeds.select(seed_col),
            edges,
            frontier.unionByName(grow(frontier, edges)).schema,
            t,
            max_iters=max_iters,
            undirected=undirected,
            hop=hop,
        )
        if small is not None:
            return small
    # materialize the edge list once: every round re-reads it, and the
    # materialized size gives the planner real statistics so the
    # per-round frontier⋈edges join can broadcast the smaller side
    # instead of planning a blind sort-merge (at 10^9-edge scale the
    # checkpoint amortizes over max_iters reads of the same relation)
    edges = edges.localCheckpoint(eager=False)
    if hop > 1:
        edges = _compose_hops(edges, src, dst, hop)
        max_iters = -(-max_iters // hop)
    # Probe-free loops (early_stop=False: max_iters is a structural
    # bound) leave the SEED layer un-checkpointed: its 3-4 consumers
    # (round-1 join, two anti-join dedup targets, final union) all
    # live inside the same deferred jobs, where recomputing the cheap
    # distinct in parallel beats both the extra barrier AND the
    # cache-block-lock serialization of a multi-referenced lazy
    # checkpoint (measured at sf0.1: 2.2 -> 1.9 s with the final-round
    # checkpoint skip below; callers with expensive seed derivations
    # checkpoint upstream).  Probed loops keep the checkpoint — the
    # isEmpty probe would otherwise re-run the seed plan per round.
    if early_stop:
        frontier = frontier.localCheckpoint(eager=False)
    layers = [frontier]
    for i in range(max_iters):
        grown = grow(frontier, edges)
        dedup_targets = layers[-2:] if undirected else layers
        for seen in dedup_targets:
            grown = grown.join(seen, ["seed", "member"], "left_anti")
        # NOTE on the per-layer checkpoint under AQE: localCheckpoint's
        # toRdd materializes the subplan's query stages synchronously
        # (AQE runs stages to pick the final plan), so each call is a
        # small blocking job, not just planning.  Measured alternatives
        # at sf0.1: skipping alternate layers is NEUTRAL (the skipped
        # checkpoint's work re-runs ~3x in the successors), and
        # building with AQE disabled is ~70% WORSE (static 32-partition
        # shuffles lose more to stage scheduling than AQE's synchronous
        # materialization costs).  Per-layer checkpoints + AQE
        # coalescing is the measured local optimum.
        # the FINAL round's layer has exactly one consumer (the output
        # union) — checkpointing it is a pure extra barrier on the
        # probe-free path.  Probed loops still checkpoint every layer
        # (the isEmpty probe is the materializing action there).
        if early_stop or i < max_iters - 1:
            frontier = grown.localCheckpoint(eager=False)
        else:
            frontier = grown
        # early_stop=False skips the per-round emptiness probe for
        # callers whose max_iters is an exact structural bound (an
        # accidentally-empty layer unions harmlessly)
        if early_stop and frontier.isEmpty():
            break
        layers.append(frontier)
    out = layers[0]
    for layer in layers[1:]:
        out = out.unionByName(layer)
    return out


def connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iters: int,
    hop: int = 1,
) -> DataFrame:
    """Connected components by min-label propagation: every node
    repeatedly adopts the smallest component id among itself and its
    neighbors.  Returns (node, component) with component = min node id
    in the component.

    An edge set of at most LOCAL_FINISH_EDGES rows is finished on the
    driver (`_local_finish`: union-find, one Arrow collect): exact
    labels whatever `max_iters` and `hop` say, in the distributed
    loop's column names and types.  Only a larger edge set runs the
    propagation rounds below, and `max_iters` and `hop` govern only
    those rounds.  order_components (~26k chain edges at sf0.02) is 1
    job this way, the edges' collect, its orders read in one partition
    (`driver._one_task`) so the chain window plans no exchange; its 3
    propagation rounds made it 13.

    Contract of the distributed loop: `max_iters` is a bound on every
    component's diameter that the CALLER CAN PROVE from how the graph
    is built (e.g. chains of at most 10 nodes have diameter <= 9).
    The loop runs exactly ceil(max_iters / hop) rounds with no
    convergence probe, so an under-budgeted `max_iters` would return
    split labels there.  A caller without such a bound uses
    `connected_components_star`, whose O(log n) rounds are
    diameter-independent and whose non-convergence raises.  The trade,
    measured on order_components before the driver finish (chains of
    diameter <= 9, identical rows): label propagation ran 14 jobs / 32
    stages, the star kernel 32 jobs / 103 stages, at sf0.01 and sf0.1.

    Every non-NULL endpoint is a node, self-loop-only ones included.
    NULL is a node only at hop=1, when it is paired with an id (it
    receives labels but never passes one on; composition drops it).
    The driver finish gives its row the smallest component among those
    ids; the distributed loop gives it the smallest label they hold
    one round before the last, the same value once `max_iters` exceeds
    their components' diameter.

    `hop=h` composes the symmetrized edge relation with itself once up
    front (<=h-hop neighborhoods), so a label travels h steps per
    round and the loop converges in ceil(diameter / h) rounds.
    Composition only ever links nodes already in the same component,
    so the fixpoint is identical.  O(sum(deg^h)) composed edges: for
    bounded-degree graphs (version chains) only — keep hop=1 on
    hub-heavy graphs.

    Each round: one shuffle join (labels x edges) + one min-aggregate.
    """
    # checkpoint the INPUT edges before symmetrizing: the union below
    # references `edges` twice, so an un-materialized input (window
    # derivation) would be computed twice — one leaf read each
    # instead.  The symmetrized frame keeps its own checkpoint too:
    # nodes and every propagation round re-read it.
    edges = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=False)
    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # the output schema comes from analysis of the rounds' last step
    # (no job).  A NULL `a` row groups and takes its partners' labels
    # only when the 1-hop edges are propagated as they are: composition
    # filters `a != b`, which drops every NULL endpoint
    small = _local_finish(
        edges,
        sym.groupBy("a")
        .agg(F.min("b").alias("component"))
        .select(F.col("a").alias("node"), "component")
        .schema,
        null_partner=hop == 1,
    )
    if small is not None:
        return small
    sym = sym.localCheckpoint(eager=False)
    # nodes has TWO consumers (the initial labels and the self-loop
    # rows of `prop`) — checkpointing it runs the distinct once;
    # `labels` itself is a projection over this leaf and needs no
    # barrier of its own
    nodes = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if hop > 1:
        # `nodes` comes from the 1-hop set (composition drops no node)
        sym = _compose_hops(sym, "a", "b", hop)
        max_iters = -(-max_iters // hop)
    labels = nodes.select("node", F.col("node").alias("component"))
    # self-loop edges make each node its own neighbor, so a round is
    # ONE join + ONE min-agg and — key for the all-lazy checkpoint
    # chain — each round's RDD is referenced exactly ONCE by the next
    # (a join+unionByName shape references it twice, which under a
    # single deferred action serializes on the cache's per-block
    # locks; measured +20% wall at sf0.1)
    prop = sym.unionByName(
        nodes.select(F.col("node").alias("a"), F.col("node").alias("b"))
    ).localCheckpoint(eager=False)
    for i in range(max_iters):
        labels = (
            prop.join(labels, prop.b == labels.node)
            .groupBy("a")
            .agg(F.min("component").alias("component"))
            .select(F.col("a").alias("node"), "component")
        )
        # single-reference rounds chain lazily, so the plan grows
        # LINEARLY with rounds and only needs truncation every few
        # of them — each localCheckpoint call runs a synchronous
        # driver-side planning pass (~0.4 s here), and per-round
        # checkpoints made PLANNING the dominant cost of the whole
        # operator (measured 3.4 s build vs 0.12 s execution)
        if (i + 1) % CHECKPOINT_EVERY == 0:
            labels = labels.localCheckpoint(eager=False)
    return labels


def _canonize(e: DataFrame) -> DataFrame:
    # dedup ONCE on the canonical (min, max) form and mirror without a
    # second distinct — the symmetric closure of unique canonical pairs
    # is already duplicate-free (u != v)
    canon = e.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()
    return canon.union(
        canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _star_labels(e: DataFrame) -> DataFrame:
    # on a converged edge set every node is adjacent to its component
    # minimum
    return (
        e.groupBy("u")
        .agg(F.min("v").alias("__mn"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("__mn")).alias("component"),
        )
    )


def connected_components_star(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log n) rounds regardless of diameter, the upgrade over min-label
    propagation (`connected_components`) for long-chain graphs.

    large-star: every node's LARGER neighbors re-attach to the minimum
    of its neighborhood (incl. itself); small-star: its not-larger
    neighbors likewise.  The edge set converges to stars whose centers
    are the component minima.  Each half-round is one groupBy + one
    join; convergence is detected by an order-insensitive edge-set
    fingerprint (sum of pair hashes), one tiny aggregate per round.

    Three routes, by size:
    1. With `nodes`, when Spark's size estimate of the ids admits
       LOCAL_FINISH_NODES rows (`_fits_bytes`, no job), the edge rows
       (after dropping self-loops and NULL endpoints) and the node rows
       cross to the driver in ONE collect (`_local_label`).  When the
       edge rows number at most LOCAL_FINISH_EDGES and the node rows
       at most LOCAL_FINISH_NODES, union-find labels the edges and the
       node rows are labeled there too.  The result is a local relation, so
       collecting it runs no job: doc_linkage_clusters is 2 jobs at
       sf0.01 (its linkage pairs' collect and this one).
    2. When the edges fit LOCAL_FINISH_EDGES but route 1 did not run
       or its node rows overflowed, or no `nodes` is given: the
       edge-only driver finish (`_local_finish`), then, with `nodes`,
       the join-back in Spark.  A large corpus with few pairs stays
       off the rounds.  An estimate past the bound, of unknown size,
       or ids not of the edges' key type (`_same_key`) skip route 1
       with no job.
    3. Otherwise the distributed star rounds below, then the same
       join-back.  When route 1's collect already saw more than
       LOCAL_FINISH_EDGES edge rows, the edge-only collect is skipped.
       Only this route has rounds: ``max_iters`` and the raise below
       govern it alone; the driver finishes always converge.  The
       star rounds made doc_linkage_clusters 37 jobs.

    Fails LOUD: a fingerprint that is still moving after ``max_iters``
    rounds raises instead of emitting a possibly-split labeling — at
    sf0.01 an oracle would catch the silent form, at 100 TB nothing
    would.  O(log n) rounds means 20 covers ~10^6-node components, so
    the raise is a guard, not a practical ceiling.

    Without `nodes`: returns (node, component), component = min node
    id, for every endpoint of an edge whose endpoints differ and are
    both non-NULL.  With `nodes` (a one-column frame of the ids to
    label): returns one row per `nodes` row, (that column, component),
    exactly `nodes` left-joined to those labels with
    ``coalesce(component, id)`` (`_join_back`): duplicate rows stay, an
    id on no edge is its own component, a NULL id gets NULL, and an
    edge endpoint absent from `nodes` does not appear.  The schema is
    the join-back frame's in every route, taken from analysis (no
    job).
    """
    from metrics_service_spark.operators.driver import _fits_bytes

    # checkpoint before canonizing: the mirror union references the
    # frame twice, and the caller's edge derivation may be expensive
    # (see connected_components).  `u != v` drops self-loops and NULL
    # endpoints, so neither is ever a node of the result.
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=False)
    )
    labels = _star_labels(_canonize(e))
    # route 1 when the ids' size estimate admits it; its collect, when
    # it overflows, tells whether route 2 can still fit
    edges_fit = True
    if (
        nodes is not None
        and _same_key(nodes, labels)
        and _fits_bytes(nodes, NODE_ESTIMATE_BYTES * LOCAL_FINISH_NODES)
    ):
        done = _local_label(e, nodes, _join_back(nodes, labels).schema)
        if not isinstance(done, bool):
            return done
        edges_fit = done

    def out(labels: DataFrame) -> DataFrame:
        return labels if nodes is None else _join_back(nodes, labels)

    small = _local_finish(e, labels.schema, null_partner=False) if edges_fit else None
    if small is not None:
        return out(small)
    e = _canonize(e).localCheckpoint(eager=False)

    def star_raw(e: DataFrame, large: bool) -> DataFrame:
        # r17 (guide §2.4): m(u) = min(u, neighborhood) used to be a
        # groupBy(u) + join back onto the partition — a second exchange
        # of the edge set plus a per-round join.  A window min over the
        # SAME u-partitioning computes m in the one exchange that
        # already keys the round, and both output row classes (the
        # re-attached partition rows (v, m) and the center rows (u, m))
        # are emitted from that single pass via an array explode.
        # Output is RAW directed rows (duplicates retained — the center
        # row is emitted once per edge): the per-round `_canonize`
        # collapses them once per ROUND instead of once per half-star.
        from pyspark.sql import Window

        part_pred = (
            (F.col("v") > F.col("u")) if large else (F.col("v") <= F.col("u"))
        )
        ew = e.select(
            "u",
            "v",
            F.least(F.col("u"), F.min("v").over(Window.partitionBy("u"))).alias(
                "__m"
            ),
        )
        return (
            ew.select(
                F.explode(
                    F.filter(
                        F.array(
                            F.struct(
                                F.col("v").alias("x"),
                                F.col("__m").alias("y"),
                                part_pred.alias("keep"),
                            ),
                            F.struct(
                                F.col("u").alias("x"),
                                F.col("__m").alias("y"),
                                F.lit(True).alias("keep"),
                            ),
                        ),
                        lambda s: s["keep"],
                    )
                ).alias("__s")
            )
            .select(F.col("__s.x").alias("u"), F.col("__s.y").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def round_stats(e: DataFrame) -> tuple[tuple, bool]:
        """One aggregate job per round returning (fingerprint,
        is_star_forest).

        The fingerprint (order-insensitive sum of pair hashes + count)
        detects e_{k+1} == e_k, which confirms convergence one round
        AFTER the edge set stops moving.  The star-forest test detects
        the fixpoint ON the round that produces it (r18, VERDICT r17
        #5): the symmetric edge set is a star forest iff every node u
        is either a center (all neighbors > u) or a leaf (exactly one
        distinct neighbor, and it is < u).  A leaf's single neighbor
        is then a center whose neighbors are all leaves (> it), so
        components are min-centered stars — exactly the fixpoints of
        both star passes — and the final labeling computed from this
        edge set is bit-identical to the one the confirming round
        would have produced (the confirming round is the identity on a
        star forest).  Both statistics come out of ONE two-level
        aggregation: groupBy(u) keeps per-node min/max neighbor and
        partial hash sums (map-side combined, so the exchange carries
        per-node partials, never the edge set), then a one-row global
        fold.  The fingerprint comparison is RETAINED as the formal
        convergence guard — if an edge set ever reached a non-star
        fixpoint the fingerprint would still terminate the loop."""
        g = e.groupBy("u").agg(
            F.min("v").alias("__mn"),
            F.max("v").alias("__mx"),
            # decimal sum: int64 hash sums overflow under ANSI mode;
            # a sum of per-group decimal sums equals the global sum
            F.sum(
                F.xxhash64(F.col("u"), F.col("v")).cast("decimal(38,0)")
            ).alias("__h"),
            F.count(F.lit(1)).alias("__cnt"),
        )
        is_center = F.col("u") < F.col("__mn")
        is_leaf = (F.col("__mn") == F.col("__mx")) & (F.col("__mx") < F.col("u"))
        row = g.agg(
            F.sum("__h").alias("h"),
            F.sum("__cnt").alias("n"),
            F.count(F.when(~(is_center | is_leaf), 1)).alias("viol"),
        ).first()
        return (row["h"], row["n"]), row["viol"] == 0

    prev, converged = round_stats(e)
    for _ in range(max_iters):
        if converged:
            break
        # r17 (guide §2.4, second cut): ONE canonical distinct per
        # ROUND, not per half-star — the half-stars are bridged by a
        # duplicate-retaining mirror union instead.  A star pass is a
        # per-row transform over a window min, so its output SET
        # depends only on its input SET (duplicates neither move a min
        # nor add distinct emissions); the round's final _canonize
        # therefore yields the identical edge set, fingerprint
        # sequence, round count and labeling as the
        # distinct-per-half-star form, with 3 full-edge-set exchanges
        # per round instead of 4 (A/B on the real sf0.1 dedup pair
        # graph: CC wall 1.04 -> 0.89 s, labeling asserted equal).
        big = star_raw(e, large=True)
        big_sym = big.union(
            big.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        e = _canonize(star_raw(big_sym, large=False)).localCheckpoint(
            eager=False
        )
        cur, star_forest = round_stats(e)
        converged = star_forest or cur == prev
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components_star: edge-set fingerprint still "
            f"moving after {max_iters} rounds; the star contraction has "
            "not reached a fixpoint — raise max_iters (rounds are "
            "O(log n), so this indicates astronomically large components "
            "or a data problem)"
        )
    return out(_star_labels(e))


def pagerank_int(
    edges: DataFrame,
    *,
    src_col: str = "src_id",
    dst_col: str = "dst_id",
    iters: int = 3,
    damping_num: int = 17,
    damping_den: int = 20,
    scale: int = 10**12,
    conserve_mass: bool = False,
) -> DataFrame:
    """Fixed-round power-iteration PageRank in EXACT integer
    fixed-point — link-analysis importance over a directed graph (the
    web-graph quality prior corpus pipelines attach to crawled pages;
    here driven by the k-NN graph, where it scores embedding-space
    centrality).

    Determinism contract: masses are integers at ``scale``; each round
    computes  p' = ((den-num)*scale) div (den*N)
                 + (num * sum_in(p_u div outdeg_u)) div den
    with floor division on non-negative longs throughout — sums of
    longs are order-independent, so the result is bit-identical across
    engines and an unrolled SQL oracle replays all ``iters`` rounds.
    By default dangling mass is NOT redistributed (a node without
    out-edges simply leaks its mass), keeping every term local and
    exact; ranks are therefore comparable within a run, which is all a
    quality prior needs.

    ``conserve_mass=True`` is the classic mass-conserving form, for
    consumers who compare ranks ACROSS runs/graphs, where leaked mass
    would make totals incomparable.  Per round, the dangling mass D =
    sum of p over nodes with no out-edges is folded back uniformly:
        p' = ((den-num)*scale) div (den*N)
           + (num * (sum_in(p_u div outdeg_u) + D div N)) div den
    D is a FILTER over the carried out-degree (__deg IS NULL marks a
    node with no out-edges) + a one-row sum that enters the plan as a
    broadcast.  With the flag off the plan has no such cross join.

    Scale shape (r18, guide §2.4 — one partitioning carries every
    per-round operation): the edge frame is hash-partitioned by src
    ONCE and lazily checkpointed (the checkpoint preserves the
    physical partitioning, so no round re-shuffles the edges); the
    out-degree is attached to the NODE frame up front and carried
    through the rank rows, so each round is exactly one src/node
    co-partitioned join + one dst-keyed map-side-combined aggregation
    + one node-co-partitioned re-attach join — a single full exchange
    (the dst aggregation) per round instead of the r17 shape's edge +
    rank + out-degree shuffles.  Nothing is collected; N enters the
    plan as a broadcast one-row aggregate, never a driver scalar.
    Rounds are FIXED (`iters`), not run-to-convergence, so there is
    no silent non-convergence to guard: the operator computes "iters
    rounds of power iteration" exactly, and the oracle replays
    exactly that.  Overflow bound: damping_num * scale * iters <<
    2^63 at the default geometry (masses only ever shrink below
    ``scale``)."""
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .repartition(F.col("src"))
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    total = nodes.agg(F.count(F.lit(1)).alias("__n"))
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("__deg")
    )
    # (node, __deg-or-NULL, __n): the per-round re-attach frame; rank
    # rows carry __deg so the contribution join needs no third input
    nd = (
        nodes.join(outdeg, "node", "left")
        .crossJoin(F.broadcast(total))
        .repartition(F.col("node"))
        .localCheckpoint(eager=False)
    )
    base_num = (damping_den - damping_num) * scale
    ranks = nd.select(
        "node",
        F.expr(f"CAST({scale} AS BIGINT) div __n").alias("p"),
        "__deg",
    )
    for _ in range(iters):
        contrib = (
            e.join(ranks.select("node", "p", "__deg"), e.src == F.col("node"))
            .select(F.col("dst").alias("node"), F.expr("p div __deg").alias("__c"))
            .groupBy("node")
            .agg(F.sum("__c").alias("__s"))
        )
        attach, inflow = nd, "coalesce(__s, CAST(0 AS BIGINT))"
        if conserve_mass:
            dangling = ranks.filter(F.col("__deg").isNull()).agg(
                F.coalesce(F.sum("p"), F.lit(0).cast("long")).alias("__d")
            )
            attach = nd.crossJoin(F.broadcast(dangling))
            inflow = f"({inflow} + (__d div __n))"
        ranks = (
            attach.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.expr(f"CAST({base_num} AS BIGINT) div ({damping_den} * __n)")
                    + F.expr(f"({damping_num} * {inflow}) div {damping_den}")
                ).alias("p"),
                "__deg",
            )
        )
    return ranks.select("node", F.col("p").alias("pr_q"))
