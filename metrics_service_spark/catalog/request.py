"""End-to-end MetricsRequest entries (SURVEY.md P10 / §3.1, VERDICT r13 #7).

Until now the public query API was verified only by pytest goldens
(tests/test_metrics_request.py) while the catalog checked its PIECES
(J3 semi-join, J4 theta join, J6 outer merge, A12 spine) separately.
These entries route documented reference request JSONs — the landing
page request (doc/source/includes/es_queries/LandingPageQueryRequest
.json:1-22) and its day/country charting variant (metricsreader.py:
711-721 aggType dispatch, 282/707 date-range parsing) — through the
REAL dispatcher `run_metrics_request`, end to end against the DuckDB
oracle: identifier-family expansion -> COUNTER filter -> date scope ->
bucketed agg with exact uniques -> citation theta-join -> full-outer
merge -> end-exclusive spine zero-fill.

The request values are mapped onto the synthetic pid universe: the
adapter below derives the reference's `identifiers-2` relation
(FIXTURES.md §2) from the driver tables' pid domain (suffixes 0..99 at
every SF, blocks of 10 forming datasetIdentifierFamily — the same
block rule q_package_counts uses for its obsoletes graph), and a
deterministic citations relation exercising the lowercase-substring
match (metricsreader.py:423-468) and the NULL-publication-date drop.
Both relations are mirrored verbatim in the oracle SQL via
generate_series, so nothing here is test-only scaffolding: the entry
fails if ANY stage of the dispatcher drifts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metrics_service_spark.catalog import QuerySpec
from metrics_service_spark.plans.metrics_request import (
    MetricsTables,
    run_metrics_request,
)
from metrics_service_spark.sources.eventlog import (
    COUNTER_FILTER_SQL,
    EVENTLOG_SQL,
    eventlog_view,
)
from metrics_service_spark.sources.tables import load_table

# The documented landing-page request (LandingPageQueryRequest.json),
# values mapped onto the synthetic pid universe.  groupBy ["dataset"]
# is not a bucket dimension, so the dispatcher falls back to monthly
# buckets exactly like the reference (metricsreader.py:711-721).
LANDING_REQUEST = {
    "metrics": [
        "Citations",
        "Unique_Dataset_Requests",
        "Total_Dataset_Requests",
        "Total_Dataset_Investigations",
        "Unique_Dataset_Investigations",
    ],
    "filterBy": [
        {"filterType": "dataset", "values": ["pid7"], "interpretAs": "list"}
    ],
    "groupBy": ["dataset"],
}

# The charting variant: same dataset scope plus the documented
# month-range filter (%m/%d/%Y, strict-gt start / lte end,
# metricselasticsearch.py:259-264) and day x country grouping — the
# spine is end-exclusive so 02/01 contributes no February bucket.
DAILY_COUNTRY_REQUEST = {
    "metrics": ["Citations", "Total_Dataset_Requests", "Total_Dataset_Investigations"],
    "filterBy": [
        {"filterType": "dataset", "values": ["pid7"], "interpretAs": "list"},
        {
            "filterType": "month",
            "values": ["01/01/2024", "02/01/2024"],
            "interpretAs": "range",
        },
    ],
    "groupBy": ["day", "country"],
}

N_CITATIONS = 240
FAMILY_BLOCK = 10


def metrics_event_view(events: DataFrame) -> DataFrame:
    """Reference-shaped eventlog plus the ES geoip envelope the
    dispatcher's country dimension reads (geoip.country_code2), the
    member-node id the repository scope filters on (nodeId,
    elastic_notes.rst:218-248), and the portal-membership array the
    portal scope overlaps against (portalIdentifier,
    metricsreader.py:1438) — all derived from the session key so the
    oracle mirrors them off the same adapter column.  portalIdentifier
    is deliberately MULTI-valued (an event can belong to several
    portals) so arrays_overlap is exercised for real."""
    ev = eventlog_view(events)
    return (
        ev.withColumn(
            "geoip", F.struct(F.col("country").alias("country_code2"))
        )
        .withColumn(
            "nodeId",
            F.concat(F.lit("urn:node:N"), (F.col("sessionId") % 4).cast("string")),
        )
        .withColumn(
            "portalIdentifier",
            F.array(
                F.concat(F.lit("portal"), (F.col("sessionId") % 6).cast("string")),
                F.concat(F.lit("portal"), (F.col("sessionId") % 9).cast("string")),
            ),
        )
    )


def _max_pid_suffix(ev: DataFrame) -> int:
    """Pid-universe bound; one bounded driver-side job (same eager
    pattern as q_package_counts' obsoletes dim)."""
    sfx = F.substring("pid", 4, 10).cast("int")
    return ev.agg(F.max(sfx)).first()[0] or 0


def identifiers_view(spark: SparkSession, max_suffix: int) -> DataFrame:
    """The identifiers-2 relation (FIXTURES.md §2) over the synthetic
    pid domain: blocks of FAMILY_BLOCK pids form one
    datasetIdentifierFamily, every member row carrying the full family
    (the reference stores the resolved family on each solr doc,
    pid_resolution.py:285-416)."""
    block_start = (F.col("id") - F.col("id") % FAMILY_BLOCK).cast("bigint")
    return spark.range(0, max_suffix + 1).select(
        F.concat(F.lit("pid"), F.col("id").cast("string")).alias("PID"),
        F.concat(
            F.lit("sid"), (F.col("id") / FAMILY_BLOCK).cast("bigint").cast("string")
        ).alias("SID"),
        F.transform(
            F.sequence(
                block_start,
                F.least(block_start + FAMILY_BLOCK - 1, F.lit(max_suffix)),
            ),
            lambda m: F.concat(F.lit("pid"), m.cast("string")),
        ).alias("datasetIdentifierFamily"),
        # every 7th dataset private: the user path requires isPublic
        # (metricsreader.py:1305-1323) and must drop these; the
        # dataset path ignores the flag, so dataset-scoped oracles
        # are unaffected
        (F.col("id") % 7 != 3).alias("isPublic"),
        # userID carries both the owner subject and a group subject —
        # the reference stores every read-allowed subject in one field
        # and the user AND group paths match against it
        # (metricsreader.py:1259-1343); 'uid=' values never collide
        # with 'grp=' values, so each filterType sees only its own
        # identifier population
        F.array(
            F.concat(F.lit("uid="), (F.col("id") % 50).cast("string")),
            F.concat(F.lit("grp="), (F.col("id") % 9).cast("string")),
        ).alias("userID"),
    )


def citations_view(spark: SparkSession, max_suffix: int) -> DataFrame:
    """Deterministic citations relation: mixed-case target_ids over the
    pid domain (the reference lowercases both sides before the
    substring match), unique (target, source) pairs, and every 17th
    row with a NULL publication date (dropped by the dispatcher's
    isNotNull filter, metricsreader.py:455-459)."""
    n_pids = max_suffix + 1
    prefix = (
        F.when(F.col("id") % 3 == 0, "PID")
        .when(F.col("id") % 3 == 1, "pid")
        .otherwise("Pid")
    )
    pub_date = F.when(
        F.col("id") % 17 != 0,
        F.date_format(
            F.date_add(
                F.lit("2024-01-01").cast("date"),
                ((F.col("id") * 5) % 100).cast("int"),
            ),
            "yyyy-MM-dd",
        ),
    )
    return spark.range(0, N_CITATIONS).select(
        F.concat(prefix, ((F.col("id") * 7) % n_pids).cast("string")).alias(
            "target_id"
        ),
        F.concat(F.lit("doi:10.1000/src"), F.col("id").cast("string")).alias(
            "source_id"
        ),
        pub_date.alias("link_publication_date"),
    )


def _tables(spark: SparkSession, sf_dir: str) -> MetricsTables:
    # r18: tried the raw-rows _spread here (probe + main parse run
    # single-task on the one-row-group fixture) — interleaved A/B read
    # probe 0.35->0.26 s but main plan 1.37->1.65 s (the added
    # exchange outweighs the parallelized parse warm); REVERTED, same
    # verdict as r17's _max_pid_suffix spread attempt.
    ev = metrics_event_view(load_table(spark, sf_dir, "events"))
    mx = _max_pid_suffix(ev)
    return MetricsTables(
        events=ev,
        identifiers=identifiers_view(spark, mx),
        citations=citations_view(spark, mx),
    )


def q_metrics_request_landing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_metrics_request(spark, LANDING_REQUEST, _tables(spark, sf_dir))


def q_metrics_request_daily_country(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return run_metrics_request(
        spark, DAILY_COUNTRY_REQUEST, _tables(spark, sf_dir)
    )


# --- oracle SQL -----------------------------------------------------------
# The dispatcher's COUNTER filter includes sessionId != -1
# (plans/metrics_request.py); the shared COUNTER_FILTER_SQL mirrors
# counter_filter(), which doesn't.  The driver generator never emits
# user_id = -1, so both held — but the oracle's predicate set must
# match the dispatcher's EXACTLY regardless of data (ADVICE r14).
_REQ_COUNTER_SQL = COUNTER_FILTER_SQL + " AND sessionId <> -1"

# DuckDB generate_series takes only constant bounds, so the family CTEs
# over-generate to 9999 and filter by the measured bound mx.  If the
# synthetic pid suffix domain ever outgrew the guard, the oracle would
# silently under-cover while the Spark dispatcher scaled with the real
# domain — fail loudly instead (ADVICE r14; OR short-circuits in
# DuckDB, so error() fires only when the guard is breached).
_MX_GUARD = "(mx <= 9999 OR error('pid suffix domain exceeds the 9999 series guard'))"

# Shared CTE prefix: the adapted eventlog, the pid-universe bound, the
# pid7 family block, and the synthetic citations relation (kept in
# lockstep with identifiers_view / citations_view above).
_REQUEST_CTES = f"""
eventlog AS ({EVENTLOG_SQL}),
bound AS (
  SELECT max(CAST(json_extract_string(props, '$.k') AS INT)) AS mx FROM events
),
fam AS (
  SELECT 'pid' || CAST(n AS VARCHAR) AS pid
  FROM bound, generate_series(0, {FAMILY_BLOCK - 1}) t(n)
  WHERE n <= mx
),
cites AS (
  SELECT
    CASE CAST(i % 3 AS INT) WHEN 0 THEN 'PID' WHEN 1 THEN 'pid' ELSE 'Pid' END
      || CAST((i * 7) % (mx + 1) AS VARCHAR) AS target_id,
    'doi:10.1000/src' || CAST(i AS VARCHAR) AS source_id,
    CASE WHEN i % 17 <> 0
         THEN strftime(DATE '2024-01-01' + CAST((i * 5) % 100 AS INT), '%Y-%m-%d')
    END AS link_publication_date
  FROM bound, generate_series(0, {N_CITATIONS - 1}) t(i)
),
cmatch AS (
  SELECT DISTINCT c.target_id, c.source_id, c.link_publication_date
  FROM cites c
  WHERE EXISTS (
    SELECT 1 FROM fam f
    WHERE position(lower(c.target_id) IN lower(f.pid)) > 0
  )
)
"""

ORACLE_LANDING_REQUEST = f"""
WITH {_REQUEST_CTES},
scoped AS (
  SELECT * FROM eventlog
  WHERE {_REQ_COUNTER_SQL} AND pid IN (SELECT pid FROM fam)
),
agg AS (
  SELECT strftime(dateLogged, '%Y-%m') AS bucket,
         count(*) FILTER (formatType = 'DATA') AS downloads,
         count(*) FILTER (formatType = 'METADATA') AS views,
         count(DISTINCT eventId) FILTER (formatType = 'DATA') AS unique_downloads,
         count(DISTINCT eventId) FILTER (formatType = 'METADATA') AS unique_views
  FROM scoped GROUP BY 1
),
cagg AS (
  SELECT substring(link_publication_date, 1, 7) AS bucket,
         count(*) AS citations
  FROM cmatch WHERE link_publication_date IS NOT NULL GROUP BY 1
)
SELECT COALESCE(a.bucket, c.bucket) AS bucket,
       CAST(COALESCE(a.downloads, 0) AS BIGINT) AS downloads,
       CAST(COALESCE(a.views, 0) AS BIGINT) AS views,
       CAST(COALESCE(a.unique_downloads, 0) AS BIGINT) AS unique_downloads,
       CAST(COALESCE(a.unique_views, 0) AS BIGINT) AS unique_views,
       CAST(COALESCE(c.citations, 0) AS BIGINT) AS citations
FROM agg a FULL JOIN cagg c ON a.bucket = c.bucket
"""

# Daily/country variant: the dispatcher joins citations on bucket ONLY
# (so within the spine a day's citation count repeats across that
# day's country rows, and citation-only days surface with NULL
# country), then full-outers the (day x observed-countries) spine,
# null-safe on country so a NULL country is one row per day —
# mirrored stage by stage below.
ORACLE_DAILY_COUNTRY_REQUEST = f"""
WITH {_REQUEST_CTES},
scoped AS (
  SELECT * FROM eventlog
  WHERE {_REQ_COUNTER_SQL} AND pid IN (SELECT pid FROM fam)
    AND dateLogged >  TIMESTAMP '2024-01-01 00:00:00'
    AND dateLogged <= TIMESTAMP '2024-02-01 00:00:00'
),
agg AS (
  SELECT strftime(dateLogged, '%Y-%m-%d') AS bucket,
         country,
         count(*) FILTER (formatType = 'DATA') AS downloads,
         count(*) FILTER (formatType = 'METADATA') AS views,
         count(DISTINCT eventId) FILTER (formatType = 'DATA') AS unique_downloads,
         count(DISTINCT eventId) FILTER (formatType = 'METADATA') AS unique_views
  FROM scoped GROUP BY 1, 2
),
cagg AS (
  SELECT substring(link_publication_date, 1, 10) AS bucket,
         count(*) AS citations
  FROM cmatch WHERE link_publication_date IS NOT NULL GROUP BY 1
),
merged AS (
  SELECT COALESCE(a.bucket, c.bucket) AS bucket, a.country,
         a.downloads, a.views, a.unique_downloads, a.unique_views,
         c.citations
  FROM agg a FULL JOIN cagg c ON a.bucket = c.bucket
),
spine AS (
  SELECT strftime(CAST(gs AS DATE), '%Y-%m-%d') AS bucket, country
  FROM generate_series(DATE '2024-01-01', DATE '2024-02-01', INTERVAL 1 DAY) t(gs)
  CROSS JOIN (SELECT DISTINCT country FROM agg)
  WHERE CAST(gs AS DATE) < DATE '2024-02-01'
)
SELECT COALESCE(s.bucket, m.bucket) AS bucket,
       COALESCE(s.country, m.country) AS country,
       CAST(COALESCE(m.downloads, 0) AS BIGINT) AS downloads,
       CAST(COALESCE(m.views, 0) AS BIGINT) AS views,
       CAST(COALESCE(m.unique_downloads, 0) AS BIGINT) AS unique_downloads,
       CAST(COALESCE(m.unique_views, 0) AS BIGINT) AS unique_views,
       CAST(COALESCE(m.citations, 0) AS BIGINT) AS citations
FROM spine s
FULL JOIN merged m ON s.bucket = m.bucket AND s.country IS NOT DISTINCT FROM m.country
"""


QUERIES: dict[str, QuerySpec] = {
    "metrics_request_landing": QuerySpec(
        q_metrics_request_landing,
        ORACLE_LANDING_REQUEST,
        "documented landing-page request JSON through the dispatcher",
        ("request", "flagship"),
    ),
    "metrics_request_daily_country": QuerySpec(
        q_metrics_request_daily_country,
        ORACLE_DAILY_COUNTRY_REQUEST,
        "day x country charting request with spine + citations merge",
        ("request",),
    ),
}


# The user-scoped charting request (metricsreader.py:1305-1323): the
# family expands through userID membership AND requires isPublic —
# 'uid=3' maps to identifier rows {3, 53}, of which 3 is private, so
# only dataset 53's family (pids 50..59) is in scope.
USER_REQUEST = {
    "metrics": ["Citations", "Total_Dataset_Requests", "Total_Dataset_Investigations"],
    "filterBy": [
        {"filterType": "user", "values": ["uid=3"], "interpretAs": "list"}
    ],
    "groupBy": ["month"],
}

# The repository rollup request (getMetricsPerRepository — the
# intended nodeId equality semantics, SURVEY §7.4): member-node scope
# + YEAR buckets (aggType dispatch metricsreader.py:711-721, citation
# key length 4) + the documented month-range filter.
REPOSITORY_REQUEST = {
    "metrics": ["Citations", "Total_Dataset_Requests", "Total_Dataset_Investigations"],
    "filterBy": [
        {
            "filterType": "repository",
            "values": ["urn:node:N1"],
            "interpretAs": "list",
        },
        {
            "filterType": "month",
            "values": ["01/01/2024", "03/01/2024"],
            "interpretAs": "range",
        },
    ],
    "groupBy": ["year"],
}


def q_metrics_request_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_metrics_request(spark, USER_REQUEST, _tables(spark, sf_dir))


def q_metrics_request_repository(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return run_metrics_request(
        spark, REPOSITORY_REQUEST, _tables(spark, sf_dir)
    )


ORACLE_USER_REQUEST = f"""
WITH {_REQUEST_CTES},
seeds AS (
  -- generate_series takes only constants in DuckDB: over-generate to
  -- a domain guard and filter by the measured bound, like fam above;
  -- _MX_GUARD makes domain growth past the guard fail loudly instead
  -- of silently under-covering the identifier universe
  SELECT n FROM bound, generate_series(0, 9999) t(n)
  WHERE n <= mx AND {_MX_GUARD} AND n % 50 = 3 AND n % 7 <> 3
),
ufam AS (
  SELECT DISTINCT 'pid' || CAST(m AS VARCHAR) AS pid
  FROM seeds, bound, generate_series(0, 9999) t2(m)
  WHERE m <= mx AND m // {FAMILY_BLOCK} = n // {FAMILY_BLOCK}
),
scoped AS (
  SELECT * FROM eventlog
  WHERE {_REQ_COUNTER_SQL} AND pid IN (SELECT pid FROM ufam)
),
agg AS (
  SELECT strftime(dateLogged, '%Y-%m') AS bucket,
         count(*) FILTER (formatType = 'DATA') AS downloads,
         count(*) FILTER (formatType = 'METADATA') AS views,
         count(DISTINCT eventId) FILTER (formatType = 'DATA') AS unique_downloads,
         count(DISTINCT eventId) FILTER (formatType = 'METADATA') AS unique_views
  FROM scoped GROUP BY 1
),
ucmatch AS (
  SELECT DISTINCT c.target_id, c.source_id, c.link_publication_date
  FROM cites c
  WHERE EXISTS (
    SELECT 1 FROM ufam f
    WHERE position(lower(c.target_id) IN lower(f.pid)) > 0
  )
),
cagg AS (
  SELECT substring(link_publication_date, 1, 7) AS bucket,
         count(*) AS citations
  FROM ucmatch WHERE link_publication_date IS NOT NULL GROUP BY 1
)
SELECT COALESCE(a.bucket, c.bucket) AS bucket,
       CAST(COALESCE(a.downloads, 0) AS BIGINT) AS downloads,
       CAST(COALESCE(a.views, 0) AS BIGINT) AS views,
       CAST(COALESCE(a.unique_downloads, 0) AS BIGINT) AS unique_downloads,
       CAST(COALESCE(a.unique_views, 0) AS BIGINT) AS unique_views,
       CAST(COALESCE(c.citations, 0) AS BIGINT) AS citations
FROM agg a FULL JOIN cagg c ON a.bucket = c.bucket
"""

# Repository scope has NO identifier family, so the dispatcher's
# citations side is the UNSCOPED relation (citations_for_family(None)
# — gatherCitations without a target family); mirrored below.
ORACLE_REPOSITORY_REQUEST = f"""
WITH {_REQUEST_CTES},
scoped AS (
  SELECT * FROM eventlog
  WHERE {_REQ_COUNTER_SQL}
    AND 'urn:node:N' || CAST(sessionId % 4 AS VARCHAR) = 'urn:node:N1'
    AND dateLogged >  TIMESTAMP '2024-01-01 00:00:00'
    AND dateLogged <= TIMESTAMP '2024-03-01 00:00:00'
),
agg AS (
  SELECT strftime(dateLogged, '%Y') AS bucket,
         count(*) FILTER (formatType = 'DATA') AS downloads,
         count(*) FILTER (formatType = 'METADATA') AS views,
         count(DISTINCT eventId) FILTER (formatType = 'DATA') AS unique_downloads,
         count(DISTINCT eventId) FILTER (formatType = 'METADATA') AS unique_views
  FROM scoped GROUP BY 1
),
cagg AS (
  SELECT substring(link_publication_date, 1, 4) AS bucket,
         count(*) AS citations
  FROM cites WHERE link_publication_date IS NOT NULL GROUP BY 1
),
merged AS (
  SELECT COALESCE(a.bucket, c.bucket) AS bucket,
         a.downloads, a.views, a.unique_downloads, a.unique_views,
         c.citations
  FROM agg a FULL JOIN cagg c ON a.bucket = c.bucket
),
spine AS (
  SELECT DISTINCT strftime(CAST(gs AS DATE), '%Y') AS bucket
  FROM generate_series(DATE '2024-01-01', DATE '2024-03-01', INTERVAL 1 DAY) t(gs)
  WHERE CAST(gs AS DATE) < DATE '2024-03-01'
)
SELECT COALESCE(s.bucket, m.bucket) AS bucket,
       CAST(COALESCE(m.downloads, 0) AS BIGINT) AS downloads,
       CAST(COALESCE(m.views, 0) AS BIGINT) AS views,
       CAST(COALESCE(m.unique_downloads, 0) AS BIGINT) AS unique_downloads,
       CAST(COALESCE(m.unique_views, 0) AS BIGINT) AS unique_views,
       CAST(COALESCE(m.citations, 0) AS BIGINT) AS citations
FROM spine s FULL JOIN merged m ON s.bucket = m.bucket
"""

QUERIES["metrics_request_user"] = QuerySpec(
    q_metrics_request_user,
    ORACLE_USER_REQUEST,
    "user-scoped request through the dispatcher: userID membership + "
    "isPublic exclusion drives the family",
    ("request",),
)
QUERIES["metrics_request_repository"] = QuerySpec(
    q_metrics_request_repository,
    ORACLE_REPOSITORY_REQUEST,
    "repository-scoped request: nodeId equality + YEAR buckets + "
    "unscoped citations merge",
    ("request",),
)


# The portal-scoped charting request (metricsreader.py:1438): portal
# membership is an ES array field, matched by overlap — no identifier
# family, so the citations side is the UNSCOPED relation (like
# repository).  Two requested portals + the documented month-range
# filter exercise the multi-value overlap and the month spine.
PORTAL_REQUEST = {
    "metrics": ["Citations", "Total_Dataset_Requests", "Total_Dataset_Investigations"],
    "filterBy": [
        {
            "filterType": "portal",
            "values": ["portal2", "portal5"],
            "interpretAs": "list",
        },
        {
            "filterType": "month",
            "values": ["01/01/2024", "03/01/2024"],
            "interpretAs": "range",
        },
    ],
    "groupBy": ["month"],
}

# The group-scoped request (metricsreader.py:1259-1343): the family
# expands through userID membership AND requires isPublic, exactly the
# user path but over the group subject population — 'grp=4' matches
# identifier rows {4, 13, 22, 31, 40, ...} minus the private ones
# (id % 7 == 3), and the scope is the union of their family blocks.
GROUP_REQUEST = {
    "metrics": ["Citations", "Total_Dataset_Requests", "Total_Dataset_Investigations"],
    "filterBy": [
        {"filterType": "group", "values": ["grp=4"], "interpretAs": "list"},
        {
            "filterType": "month",
            "values": ["01/01/2024", "04/01/2024"],
            "interpretAs": "range",
        },
    ],
    "groupBy": ["month"],
}

# The package/catalog route shares the dataset family path
# (metricsreader.py:126-156 dispatches package and catalog through the
# same PID/SID/family expansion) — TWO values, one a plain pid and one
# a SERIES id, exercise the SID match arm end-to-end for the first
# time: 'sid4' expands to block 4 (pids 40..49), 'pid23' to block 2
# via family membership.  No date filter -> no spine, buckets are the
# observed months full-outer the citation months.
PACKAGE_REQUEST = {
    "metrics": ["Citations", "Total_Dataset_Requests", "Total_Dataset_Investigations"],
    "filterBy": [
        {
            "filterType": "package",
            "values": ["pid23", "sid4"],
            "interpretAs": "list",
        }
    ],
    "groupBy": ["month"],
}


def q_metrics_request_portal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_metrics_request(spark, PORTAL_REQUEST, _tables(spark, sf_dir))


def q_metrics_request_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_metrics_request(spark, GROUP_REQUEST, _tables(spark, sf_dir))


def q_metrics_request_package(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_metrics_request(spark, PACKAGE_REQUEST, _tables(spark, sf_dir))


# Portal scope in the oracle: portalIdentifier is derived from the
# session key (sessionId % 6 and % 9), so overlap with
# {portal2, portal5} reduces to the residue predicate below.
ORACLE_PORTAL_REQUEST = f"""
WITH {_REQUEST_CTES},
scoped AS (
  SELECT * FROM eventlog
  WHERE {_REQ_COUNTER_SQL}
    AND (CAST(sessionId % 6 AS INT) IN (2, 5) OR CAST(sessionId % 9 AS INT) IN (2, 5))
    AND dateLogged >  TIMESTAMP '2024-01-01 00:00:00'
    AND dateLogged <= TIMESTAMP '2024-03-01 00:00:00'
),
agg AS (
  SELECT strftime(dateLogged, '%Y-%m') AS bucket,
         count(*) FILTER (formatType = 'DATA') AS downloads,
         count(*) FILTER (formatType = 'METADATA') AS views,
         count(DISTINCT eventId) FILTER (formatType = 'DATA') AS unique_downloads,
         count(DISTINCT eventId) FILTER (formatType = 'METADATA') AS unique_views
  FROM scoped GROUP BY 1
),
cagg AS (
  SELECT substring(link_publication_date, 1, 7) AS bucket,
         count(*) AS citations
  FROM cites WHERE link_publication_date IS NOT NULL GROUP BY 1
),
merged AS (
  SELECT COALESCE(a.bucket, c.bucket) AS bucket,
         a.downloads, a.views, a.unique_downloads, a.unique_views,
         c.citations
  FROM agg a FULL JOIN cagg c ON a.bucket = c.bucket
),
spine AS (
  SELECT DISTINCT strftime(CAST(gs AS DATE), '%Y-%m') AS bucket
  FROM generate_series(DATE '2024-01-01', DATE '2024-03-01', INTERVAL 1 DAY) t(gs)
  WHERE CAST(gs AS DATE) < DATE '2024-03-01'
)
SELECT COALESCE(s.bucket, m.bucket) AS bucket,
       CAST(COALESCE(m.downloads, 0) AS BIGINT) AS downloads,
       CAST(COALESCE(m.views, 0) AS BIGINT) AS views,
       CAST(COALESCE(m.unique_downloads, 0) AS BIGINT) AS unique_downloads,
       CAST(COALESCE(m.unique_views, 0) AS BIGINT) AS unique_views,
       CAST(COALESCE(m.citations, 0) AS BIGINT) AS citations
FROM spine s FULL JOIN merged m ON s.bucket = m.bucket
"""

# Group scope: seeds are the public identifier rows whose group
# subject matches (id % 9 = 4, minus private id % 7 = 3); the family
# is the union of their blocks; citations are theta-matched against
# that family (gcmatch), exactly the user-path shape.
ORACLE_GROUP_REQUEST = f"""
WITH {_REQUEST_CTES},
gseeds AS (
  SELECT n FROM bound, generate_series(0, 9999) t(n)
  WHERE n <= mx AND {_MX_GUARD} AND n % 9 = 4 AND n % 7 <> 3
),
gfam AS (
  SELECT DISTINCT 'pid' || CAST(m AS VARCHAR) AS pid
  FROM gseeds, bound, generate_series(0, 9999) t2(m)
  WHERE m <= mx AND m // {FAMILY_BLOCK} = n // {FAMILY_BLOCK}
),
scoped AS (
  SELECT * FROM eventlog
  WHERE {_REQ_COUNTER_SQL} AND pid IN (SELECT pid FROM gfam)
    AND dateLogged >  TIMESTAMP '2024-01-01 00:00:00'
    AND dateLogged <= TIMESTAMP '2024-04-01 00:00:00'
),
agg AS (
  SELECT strftime(dateLogged, '%Y-%m') AS bucket,
         count(*) FILTER (formatType = 'DATA') AS downloads,
         count(*) FILTER (formatType = 'METADATA') AS views,
         count(DISTINCT eventId) FILTER (formatType = 'DATA') AS unique_downloads,
         count(DISTINCT eventId) FILTER (formatType = 'METADATA') AS unique_views
  FROM scoped GROUP BY 1
),
gcmatch AS (
  SELECT DISTINCT c.target_id, c.source_id, c.link_publication_date
  FROM cites c
  WHERE EXISTS (
    SELECT 1 FROM gfam f
    WHERE position(lower(c.target_id) IN lower(f.pid)) > 0
  )
),
cagg AS (
  SELECT substring(link_publication_date, 1, 7) AS bucket,
         count(*) AS citations
  FROM gcmatch WHERE link_publication_date IS NOT NULL GROUP BY 1
),
merged AS (
  SELECT COALESCE(a.bucket, c.bucket) AS bucket,
         a.downloads, a.views, a.unique_downloads, a.unique_views,
         c.citations
  FROM agg a FULL JOIN cagg c ON a.bucket = c.bucket
),
spine AS (
  SELECT DISTINCT strftime(CAST(gs AS DATE), '%Y-%m') AS bucket
  FROM generate_series(DATE '2024-01-01', DATE '2024-04-01', INTERVAL 1 DAY) t(gs)
  WHERE CAST(gs AS DATE) < DATE '2024-04-01'
)
SELECT COALESCE(s.bucket, m.bucket) AS bucket,
       CAST(COALESCE(m.downloads, 0) AS BIGINT) AS downloads,
       CAST(COALESCE(m.views, 0) AS BIGINT) AS views,
       CAST(COALESCE(m.unique_downloads, 0) AS BIGINT) AS unique_downloads,
       CAST(COALESCE(m.unique_views, 0) AS BIGINT) AS unique_views,
       CAST(COALESCE(m.citations, 0) AS BIGINT) AS citations
FROM spine s FULL JOIN merged m ON s.bucket = m.bucket
"""

# Package scope: 'pid23' lands in family block 2, 'sid4' matches the
# SID of block 4's rows — the family is blocks {2, 4}; citations are
# theta-matched against it; no date filter, so no spine.
ORACLE_PACKAGE_REQUEST = f"""
WITH {_REQUEST_CTES},
pfam AS (
  SELECT 'pid' || CAST(n AS VARCHAR) AS pid
  FROM bound, generate_series(0, 9999) t(n)
  WHERE n <= mx AND {_MX_GUARD} AND n // {FAMILY_BLOCK} IN (2, 4)
),
scoped AS (
  SELECT * FROM eventlog
  WHERE {_REQ_COUNTER_SQL} AND pid IN (SELECT pid FROM pfam)
),
agg AS (
  SELECT strftime(dateLogged, '%Y-%m') AS bucket,
         count(*) FILTER (formatType = 'DATA') AS downloads,
         count(*) FILTER (formatType = 'METADATA') AS views,
         count(DISTINCT eventId) FILTER (formatType = 'DATA') AS unique_downloads,
         count(DISTINCT eventId) FILTER (formatType = 'METADATA') AS unique_views
  FROM scoped GROUP BY 1
),
pcmatch AS (
  SELECT DISTINCT c.target_id, c.source_id, c.link_publication_date
  FROM cites c
  WHERE EXISTS (
    SELECT 1 FROM pfam f
    WHERE position(lower(c.target_id) IN lower(f.pid)) > 0
  )
),
cagg AS (
  SELECT substring(link_publication_date, 1, 7) AS bucket,
         count(*) AS citations
  FROM pcmatch WHERE link_publication_date IS NOT NULL GROUP BY 1
)
SELECT COALESCE(a.bucket, c.bucket) AS bucket,
       CAST(COALESCE(a.downloads, 0) AS BIGINT) AS downloads,
       CAST(COALESCE(a.views, 0) AS BIGINT) AS views,
       CAST(COALESCE(a.unique_downloads, 0) AS BIGINT) AS unique_downloads,
       CAST(COALESCE(a.unique_views, 0) AS BIGINT) AS unique_views,
       CAST(COALESCE(c.citations, 0) AS BIGINT) AS citations
FROM agg a FULL JOIN cagg c ON a.bucket = c.bucket
"""

QUERIES["metrics_request_portal"] = QuerySpec(
    q_metrics_request_portal,
    ORACLE_PORTAL_REQUEST,
    "portal-scoped request: portalIdentifier overlap + month spine + "
    "unscoped citations merge",
    ("request",),
)
QUERIES["metrics_request_group"] = QuerySpec(
    q_metrics_request_group,
    ORACLE_GROUP_REQUEST,
    "group-scoped request: group-subject membership + isPublic "
    "exclusion drives the family, month spine + scoped citations",
    ("request",),
)
QUERIES["metrics_request_package"] = QuerySpec(
    q_metrics_request_package,
    ORACLE_PACKAGE_REQUEST,
    "package-scoped request with a SERIES id value: PID/SID/family "
    "expansion union across two seeds, no spine",
    ("request",),
)


# The browse/search-page branch (getSummaryMetricsPerCatalog +
# formatDataPerCatalog, metricsreader.py:470-640): a multi-value
# catalog request returns one row PER REQUESTED ID with its family's
# UNIQUE event counts and per-family citations — the reference
# dispatches here whenever a catalog/package list request carries >1
# values (metricsreader.py:131-137).  Seeds exercise all three match
# arms: a plain family member (pid7 -> block 0), a member of a
# different block (pid23 -> block 2), and a SERIES id (sid4 -> block
# 4 via the SID arm); every seed also maps to itself.
CATALOG_SUMMARY_REQUEST = {
    "metrics": ["Citations", "Unique_Dataset_Requests", "Unique_Dataset_Investigations"],
    "filterBy": [
        {
            "filterType": "catalog",
            "values": ["pid7", "pid23", "sid4"],
            "interpretAs": "list",
        }
    ],
    "groupBy": ["dataset"],
}


def q_metrics_request_catalog_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from metrics_service_spark.plans.metrics_request import (
        MetricsRequestPlanner,
    )

    planner = MetricsRequestPlanner(spark, _tables(spark, sf_dir))
    return planner.catalog_summary_frame(CATALOG_SUMMARY_REQUEST)


# Per-seed family blocks: pid7 -> 0, pid23 -> 2, sid4 -> 4; every
# seed additionally maps to itself (the catalogPIDs[i]=[i]
# initialization in catalog_summary_frame), which matters only on the
# citation side (no event pid equals a bare seed string, but the
# citation substring match sees it).
ORACLE_CATALOG_SUMMARY_REQUEST = f"""
WITH {_REQUEST_CTES},
sseeds (seed, blk) AS (VALUES ('pid7', 0), ('pid23', 2), ('sid4', 4)),
sfam AS (
  SELECT s.seed, 'pid' || CAST(m AS VARCHAR) AS pid
  FROM sseeds s, bound, generate_series(0, 9999) t(m)
  WHERE m <= mx AND {_MX_GUARD} AND m // {FAMILY_BLOCK} = s.blk
  UNION
  SELECT seed, seed FROM sseeds
),
counts AS (
  SELECT f.seed,
         count(DISTINCT CASE WHEN e.formatType = 'DATA' THEN e.eventId END) AS downloads,
         count(DISTINCT CASE WHEN e.formatType = 'METADATA' THEN e.eventId END) AS views
  FROM eventlog e JOIN sfam f ON e.pid = f.pid
  WHERE {_REQ_COUNTER_SQL}
  GROUP BY 1
),
scite AS (
  SELECT seed, count(*) AS citations FROM (
    SELECT DISTINCT f.seed, c.target_id, c.source_id
    FROM cites c JOIN (SELECT DISTINCT seed, lower(pid) AS pid FROM sfam) f
      ON position(lower(c.target_id) IN f.pid) > 0
  ) GROUP BY 1
)
SELECT s.seed,
       CAST(COALESCE(c.downloads, 0) AS BIGINT) AS downloads,
       CAST(COALESCE(c.views, 0) AS BIGINT) AS views,
       CAST(COALESCE(ct.citations, 0) AS BIGINT) AS citations
FROM sseeds s
LEFT JOIN counts c ON s.seed = c.seed
LEFT JOIN scite ct ON s.seed = ct.seed
"""

QUERIES["metrics_request_catalog_summary"] = QuerySpec(
    q_metrics_request_catalog_summary,
    ORACLE_CATALOG_SUMMARY_REQUEST,
    "browse-page catalog summary: one zero-filled row per requested "
    "id with family-unique counts + per-family citations",
    ("request",),
)
