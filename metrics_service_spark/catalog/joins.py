"""Join & set-operation queries (SURVEY.md §2.3 / §2.7).

J1/J2 iterative closure, J3 semi-join, J4 substring theta join,
J6 full-outer zero-fill merge, J9/J12 anti-joins, U1/U2 set ops,
U5/O5/ST6 array canonicalization + family hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from metrics_service_spark.catalog import QuerySpec
from metrics_service_spark.operators.closure import expand_family, resolve_chains
from metrics_service_spark.operators.driver import _one_task
from metrics_service_spark.sources.tables import load_table, rowcount_bound


# --- J3: left-semi join (identifier-family expansion analog) -------------
def q_semi_join_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchasers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return (
        ev.join(purchasers, "user_id", "left_semi")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


ORACLE_SEMI = """
SELECT event_type, count(*) AS n_events
FROM events
WHERE user_id IN (SELECT user_id FROM events WHERE event_type = 'purchase')
GROUP BY 1
"""


# --- J9/J12: anti-join (expunge / dedup-against-existing analog) ---------
def q_anti_join_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


ORACLE_ANTI = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# --- J4: substring-containment theta join (citation target_id-in-pid) ----
def q_theta_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference gatherCitations (metricsreader.py:423-468) matches
    citation.target_id as a lowercase substring of pids.  Same shape
    here: customer keys as targets, order custkey strings as pids.

    r17 (guide §3): the literal translation is a broadcast nested-loop
    join — |orders| x |customer| Contains() evaluations (2.25e9 at
    sf0.1, 19 s; quadratic in BOTH tables at scale).  `hay` is a
    bounded-length digit string, so each row owns at most
    L(L+1)/2 distinct substrings (21 at L=6): enumerating them and
    equi-joining on substring == needle is the identical relation —
    needle ∈ hay  <=>  needle ∈ substrings(hay), and array_distinct
    keeps the pair count at one per (order, customer) exactly like the
    boolean Contains.  Cost becomes O(|orders| · L²) explode rows into
    a broadcast hash join — linear in each table."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_custkey").cast("string").alias("needle")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("hay")
    )
    subs = F.expr(
        "array_distinct(flatten(transform("
        "  sequence(1, length(hay)),"
        "  s -> transform(sequence(s, length(hay)),"
        "                 e -> substring(hay, s, e - s + 1)))))"
    )
    exploded = orders.select(F.explode(subs).alias("needle"))
    joined = exploded.join(F.broadcast(cust), "needle")
    return joined.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("n_matches"))


ORACLE_THETA = """
SELECT c.c_custkey, count(*) AS n_matches
FROM orders o JOIN customer c
  ON position(CAST(c.c_custkey AS VARCHAR) IN CAST(o.o_custkey AS VARCHAR)) > 0
GROUP BY 1
"""


# --- J1/J2: obsolescence-chain transitive closure ------------------------
def q_order_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's orders (by date) form an obsoletes chain; resolve
    every order to its root + depth by pointer jumping
    (pid_resolution.py:207-282 analog, depth cap 20).  A small orders
    scan is read in one partition (`_one_task`), so the chain window
    plans no exchange, and the chains are walked on the driver from
    one collect: 1 job at sf0.01."""
    orders = _one_task(load_table(spark, sf_dir, "orders"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    edges = orders.select(
        F.col("o_orderkey").alias("child"),
        F.lag("o_orderkey").over(w).alias("parent"),
    )
    out = resolve_chains(edges, max_depth=20)
    return out.select(
        F.col("node").alias("o_orderkey"),
        F.col("root").alias("root_orderkey"),
        F.col("depth").cast("int").alias("depth"),
    )


ORACLE_CHAINS = """
WITH RECURSIVE edges AS (
  SELECT o_orderkey AS child,
         lag(o_orderkey) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS parent
  FROM orders
), r AS (
  SELECT child AS node, child AS root, 0 AS depth FROM edges WHERE parent IS NULL
  UNION ALL
  SELECT e.child, r.root, r.depth + 1
  FROM edges e JOIN r ON e.parent = r.node
  WHERE r.depth < 20
)
SELECT node AS o_orderkey, root AS root_orderkey, CAST(depth AS INT) AS depth FROM r
"""


# --- J6: full-outer monthly merge with zero-fill -------------------------
def q_full_outer_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("views"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("purchases"))
    )
    merged = views.join(purchases, "d", "full_outer")
    return merged.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.coalesce("views", F.lit(0)).cast("long").alias("views"),
        F.coalesce("purchases", F.lit(0)).cast("long").alias("purchases"),
    )


ORACLE_FULL_OUTER = """
WITH v AS (SELECT CAST(ts AS DATE) AS d, count(*) AS views
           FROM events WHERE event_type = 'view' GROUP BY 1),
p AS (SELECT CAST(ts AS DATE) AS d, count(*) AS purchases
      FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT strftime(coalesce(v.d, p.d), '%Y-%m-%d') AS day,
       CAST(coalesce(views, 0) AS BIGINT) AS views,
       CAST(coalesce(purchases, 0) AS BIGINT) AS purchases
FROM v FULL OUTER JOIN p ON v.d = p.d
"""


# --- U1: union + distinct ------------------------------------------------
def q_union_distinct_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    a = ev.filter(F.col("event_type") == "click").select(F.col("user_id").alias("id"))
    b = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("id")
    )
    return a.union(b).distinct()


ORACLE_UNION = """
SELECT user_id AS id FROM events WHERE event_type = 'click'
UNION
SELECT c_custkey AS id FROM customer WHERE c_mktsegment = 'BUILDING'
"""


# --- U2: except ----------------------------------------------------------
def q_except_non_purchasers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    all_users = ev.select(F.col("user_id").alias("id")).distinct()
    purchasers = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("id"))
        .distinct()
    )
    return all_users.subtract(purchasers)


ORACLE_EXCEPT = """
SELECT DISTINCT user_id AS id FROM events
EXCEPT
SELECT DISTINCT user_id AS id FROM events WHERE event_type = 'purchase'
"""


# --- U5/O5/ST6: sorted-distinct array + family hash ----------------------
def user_event_family_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portal-family canonicalization analog (es_eventlog_sync.py:469-482):
    sorted distinct member set + md5 change-detection hash.  Array form —
    used by pytest; the catalog entry serializes the set (see
    q_user_event_family) because the driver's pandas canonicalizer cannot
    hash list cells."""
    ev = load_table(spark, sf_dir, "events")
    fam = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("family")
    )
    return fam.select(
        "user_id",
        "family",
        F.md5(F.concat_ws(",", "family")).alias("family_hash"),
    )


def q_user_event_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing form of user_event_family_array: the sorted distinct
    member set is emitted as a ','-joined string so the result is fully
    scalar (hashable by the correctness comparator)."""
    return user_event_family_array(spark, sf_dir).select(
        "user_id",
        F.array_join("family", ",").alias("family"),
        "family_hash",
    )


def q_pid_family_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 getResolvePIDs fixpoint (pid_resolution.py:285-416): BFS
    closure from seed ids over an undirected edge set.  Edges link each
    customer's first 10 orders into a chain (both directions, like the
    reference's resourceMap/documents bidirectional membership); seeds
    are a deterministic sample."""
    orders = _one_task(load_table(spark, sf_dir, "orders"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # the chain link comes from the same window pass as the row number:
    # within a customer's first 10 orders, the previous order by date
    # is the previous one by rank.  Edges AND seeds derive from this
    # frame — materialize it once instead of running the sort again
    lim = (
        orders.select(
            "o_orderkey",
            F.row_number().over(w).alias("rn"),
            F.lag("o_orderkey").over(w).alias("parent"),
        )
        .filter(F.col("rn") <= 10)
        .localCheckpoint(eager=False)
    )
    e1 = lim.select(F.col("o_orderkey").alias("child"), "parent").filter(
        F.col("parent").isNotNull()
    )
    edges = e1.select(F.col("child").alias("src"), F.col("parent").alias("dst")).union(
        e1.select(F.col("parent").alias("src"), F.col("child").alias("dst"))
    )
    seeds = lim.filter(F.col("o_orderkey") % 97 == 0).select(
        F.col("o_orderkey").alias("pid")
    )
    # seeded BFS, not component contraction: chains are diameter <= 9,
    # so BFS pays ceil(9/hop) cheap frontier joins while star
    # contraction pays fewer rounds of far more shuffles (on the same
    # chains, order_components ran 32 jobs / 103 stages and 4.7-5.2 s
    # warm on the star kernel against 14 / 32 and 1.8-1.9 s on label
    # propagation at sf0.01; SCALE.md has when the trade flips).
    # hop=3 composes the chain edges (deg <= 2, so the <=3-hop set
    # stays linear) into 3 driver-loop rounds; max_iters=9 is exact
    # (10-node chains by construction), so there is no empty-frontier
    # probe round either.  Measured at sf0.1: hop=1 ~5.0s, hop=2
    # ~3.3s, hop=3 ~2.8s warm.
    return expand_family(
        seeds, edges, seed_col="pid", max_iters=9, undirected=True, hop=3,
        early_stop=False,
    )


ORACLE_PID_FAMILY = """
WITH RECURSIVE o AS (
  SELECT o_orderkey, o_custkey,
         row_number() OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
), lim AS (
  SELECT * FROM o WHERE rn <= 10
), e1 AS (
  SELECT o_orderkey AS child,
         lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY rn) AS parent
  FROM lim
), edges AS (
  SELECT child AS src, parent AS dst FROM e1 WHERE parent IS NOT NULL
  UNION ALL
  SELECT parent AS src, child AS dst FROM e1 WHERE parent IS NOT NULL
), fam AS (
  SELECT o_orderkey AS seed, o_orderkey AS member FROM lim
  WHERE o_orderkey % 97 = 0
  UNION
  SELECT f.seed, e.dst AS member FROM fam f JOIN edges e ON f.member = e.src
)
SELECT seed, member FROM fam
"""


def q_order_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seedless connected components over the per-customer order chains
    (the full-corpus family-resolution scale path; SCALE.md).  Component
    id = min order key in the chain."""
    from metrics_service_spark.operators.closure import connected_components

    orders = _one_task(load_table(spark, sf_dir, "orders"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    lim = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("o_orderkey", "o_custkey", "rn")
    )
    w2 = Window.partitionBy("o_custkey").orderBy("rn")
    edges = lim.select(
        F.col("o_orderkey").alias("src"),
        F.lag("o_orderkey").over(w2).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    # chain graph (deg <= 2, ~26k edges at sf0.02): the kernel finishes
    # it on the driver in 1 job, the edges' Arrow collect (a small
    # orders scan is read in one partition, so the chain window plans
    # no exchange; the result is a local relation, whose collect runs
    # no job).  hop and max_iters shape only the
    # distributed rounds an edge set past LOCAL_FINISH_EDGES runs:
    # hop=3 composes the neighborhood once into ceil(9/3)=3
    # label-propagation rounds, and max_iters=9 is exact (10-node
    # chains by construction: diameter <= 9), so there are no
    # convergence-count jobs either.  Label propagation, not the star
    # kernel: the diameter bound is structural, and on star the
    # distributed loop ran 32 jobs / 103 stages against 14 / 32 here
    # (identical rows at sf0.01 and sf0.1).
    return connected_components(edges, max_iters=9, hop=3)


# the chains are paths within one customer, so each component's min id
# is just the min order key of the customer's (first 10) orders;
# single-order customers have no edges and are not graph nodes
ORACLE_COMPONENTS = """
WITH o AS (
  SELECT o_orderkey, o_custkey,
         row_number() OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
), lim AS (
  SELECT * FROM o WHERE rn <= 10
), c AS (
  SELECT o_custkey, count(*) AS n, min(o_orderkey) AS mn
  FROM lim GROUP BY 1
)
SELECT l.o_orderkey AS node, c.mn AS component
FROM lim l JOIN c ON l.o_custkey = c.o_custkey
WHERE c.n >= 2
"""


ORACLE_FAMILY = """
SELECT user_id,
       array_to_string(list_sort(list_distinct(list(event_type))), ',') AS family,
       md5(array_to_string(list_sort(list_distinct(list(event_type))), ',')) AS family_hash
FROM events
GROUP BY user_id
"""


# --- J3 at warehouse scale: Bloom-pruned semi-join -----------------------
def q_bloom_semi_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join the fact table to a selective dim through the
    explicit Bloom prune (operators/bloom.py): the fact scan is
    filtered by an inlined m-bit filter BEFORE the join shuffle, then
    an ordinary left-semi join removes the false positives — so the
    answer is bit-identical to the plain semi-join the oracle runs.
    Dim here is one year of URGENT orders (~1% of lineitem matches);
    m is SIZED from a JOBLESS statistics bound (r8, VERDICT r7 #7):
    `rowcount_bound` reads the parquet footer's row-group min/max
    stats driver-side — no dedicated `orders.count()` action per
    build, which at 100x dim scale is a real job whose only output is
    one integer the manifest already knows.  sized_m_bits documents
    that any upper bound is valid (oversizing costs only m/64 plan
    literals, clamped at 2^23); the sizing still tracks data growth,
    so SCALE.md's pinned-m saturation (FP -> 1, 6.9x wall) cannot
    happen."""
    import datetime

    from metrics_service_spark.operators.bloom import (
        bloom_semi_join,
        sized_m_bits,
    )

    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    bound = rowcount_bound(
        sf_dir,
        "orders",
        {
            "o_orderpriority": ("1-URGENT", "1-URGENT"),
            "o_orderdate": (
                datetime.datetime(1995, 1, 1),
                datetime.datetime(1996, 1, 1),
            ),
        },
    )
    li = load_table(spark, sf_dir, "lineitem")
    matched = bloom_semi_join(
        li,
        orders,
        "l_orderkey",
        "o_orderkey",
        m_bits=sized_m_bits(bound),
        k=3,
    )
    return matched.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("sum_qty"),
    )


ORACLE_BLOOM_SEMI = """
SELECT l_returnflag, count(*) AS n_items,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT'
                       AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                       AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
GROUP BY 1
"""


QUERIES: dict[str, QuerySpec] = {
    "semi_join_purchasers": QuerySpec(
        q_semi_join_purchasers, ORACLE_SEMI, "J3 left-semi join", ("joins",)
    ),
    "anti_join_no_orders": QuerySpec(
        q_anti_join_no_orders, ORACLE_ANTI, "J9/J12 anti-join", ("joins",)
    ),
    "theta_contains": QuerySpec(
        q_theta_contains, ORACLE_THETA, "J4 substring theta join", ("joins",)
    ),
    "order_chains": QuerySpec(
        q_order_chains, ORACLE_CHAINS, "J1/J2 iterative closure", ("joins",)
    ),
    "full_outer_daily": QuerySpec(
        q_full_outer_daily, ORACLE_FULL_OUTER, "J6 outer merge zero-fill", ("joins",)
    ),
    "union_distinct_ids": QuerySpec(
        q_union_distinct_ids, ORACLE_UNION, "U1 union distinct", ("joins",)
    ),
    "except_non_purchasers": QuerySpec(
        q_except_non_purchasers, ORACLE_EXCEPT, "U2 except", ("joins",)
    ),
    "pid_family_closure": QuerySpec(
        q_pid_family_closure, ORACLE_PID_FAMILY, "J1 fixpoint family closure", ("joins",)
    ),
    "order_components": QuerySpec(
        q_order_components,
        ORACLE_COMPONENTS,
        "seedless connected components (min-label propagation)",
        ("joins",),
    ),
    "user_event_family": QuerySpec(
        q_user_event_family, ORACLE_FAMILY, "U5/ST6 family hash", ("joins",)
    ),
    "bloom_semi_lineitem": QuerySpec(
        q_bloom_semi_lineitem,
        ORACLE_BLOOM_SEMI,
        "Bloom-pruned fact semi-join (exact result, pre-shuffle prune)",
        ("joins",),
    ),
}
