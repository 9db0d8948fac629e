"""Adapter: driver `events` table -> reference event-log schema.

The driver's synthetic `events` (event_id, ts, user_id, event_type,
value, props) stands in for the reference's ES eventlog documents
(FIXTURES.md §1, elastic_notes.rst:218-248).  This view derives the
reference's columns deterministically so every reference-surface
operator (robot-tag exclusion P4, formatType split A10, sessionization
W2, landing-page aggregation) can run — and be oracle-checked — on the
driver tables.

Mapping (mirrored verbatim in the DuckDB oracle SQL, see catalog/):
    eventId    = CAST(event_id AS STRING)
    pid        = 'pid' || props->'$.k'          (JSON extract, F13)
    ipAddress  = '10.0.' || user_id % 256 || '.7'
    event      = 'synchronization_failed' if event_type='error' else 'read'
    formatType = view->METADATA, click/purchase->DATA, signup->RESOURCE,
                 error->METADATA
    dateLogged = ts
    sessionId  = user_id (stand-in; real sessionization in operators/)
    tags       = ['machine_ua'] if value > 180 else []   (P4 exclusion)
    country    = ('US','DE','FR','CN','BR')[user_id % 5], NULL when the
                 remainder is negative (a negative user_id) or NULL
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXCLUDED_TAGS = (
    "ignore_ip",
    "machine_ua",
    "robot_ua",
    "dataone_ip",
    "robot_ip",
    "d1_admin_subject",
)

COUNTRIES = ("US", "DE", "FR", "CN", "BR")


def eventlog_view(events: DataFrame) -> DataFrame:
    # no branch matches a negative remainder: NULL country, as in
    # EVENTLOG_SQL (ORACLE_COMPAT.md)
    country = F.when(F.col("user_id") % 5 == 0, COUNTRIES[0])
    for i, c in enumerate(COUNTRIES[1:], start=1):
        country = country.when(F.col("user_id") % 5 == i, c)
    return events.select(
        F.col("event_id").cast("string").alias("eventId"),
        F.concat(F.lit("pid"), F.get_json_object("props", "$.k")).alias("pid"),
        F.concat(
            F.lit("10.0."), (F.col("user_id") % 256).cast("string"), F.lit(".7")
        ).alias("ipAddress"),
        F.when(F.col("event_type") == "error", "synchronization_failed")
        .otherwise("read")
        .alias("event"),
        F.when(F.col("event_type") == "view", "METADATA")
        .when(F.col("event_type").isin("click", "purchase"), "DATA")
        .when(F.col("event_type") == "signup", "RESOURCE")
        .otherwise("METADATA")
        .alias("formatType"),
        F.col("ts").alias("dateLogged"),
        F.col("user_id").alias("sessionId"),
        F.when(F.col("value") > 180, F.array(F.lit("machine_ua")))
        .otherwise(F.array().cast("array<string>"))
        .alias("tags"),
        country.alias("country"),
        F.col("value"),
    )


def counter_filter(eventlog: DataFrame) -> DataFrame:
    """The COUNTER exclusion applied to every reference aggregation
    (metricselasticsearch.py:232-245): read events of DATA/METADATA
    format, sessionized, minus robot/machine-tagged traffic."""
    return eventlog.filter(
        (F.col("event") == "read")
        & F.col("formatType").isin("METADATA", "DATA")
        & F.col("sessionId").isNotNull()
        & (
            # three-valued logic, twice over: a NULL tags column AND a
            # null ELEMENT inside tags both make arrays_overlap return
            # NULL rather than false — either way the row is untagged
            # and must be kept, so NULL coalesces to keep
            F.coalesce(
                ~F.arrays_overlap(
                    F.col("tags"), F.array(*[F.lit(t) for t in EXCLUDED_TAGS])
                ),
                F.lit(True),
            )
        )
    )


# The same mapping as a DuckDB SQL fragment, used to prefix oracle
# queries: SELECT ... FROM ({EVENTLOG_SQL}) — keep in sync with above.
# The country is a CASE on the remainder, not a list index: DuckDB
# counts a negative list index from the end.
_COUNTRY_SQL = (
    "CASE user_id % 5 "
    + " ".join(f"WHEN {i} THEN '{c}'" for i, c in enumerate(COUNTRIES))
    + " END"
)
EVENTLOG_SQL = f"""
SELECT
  CAST(event_id AS VARCHAR) AS eventId,
  'pid' || json_extract_string(props, '$.k') AS pid,
  '10.0.' || CAST(user_id % 256 AS VARCHAR) || '.7' AS ipAddress,
  CASE WHEN event_type = 'error' THEN 'synchronization_failed' ELSE 'read' END AS event,
  CASE event_type
    WHEN 'view' THEN 'METADATA'
    WHEN 'click' THEN 'DATA'
    WHEN 'purchase' THEN 'DATA'
    WHEN 'signup' THEN 'RESOURCE'
    ELSE 'METADATA' END AS formatType,
  ts AS dateLogged,
  user_id AS sessionId,
  CASE WHEN value > 180 THEN ['machine_ua'] ELSE [] END AS tags,
  {_COUNTRY_SQL} AS country,
  value
FROM events
"""

# COUNTER exclusion as SQL (tags reduce to the value predicate since the
# only tag the adapter emits is machine_ua on value > 180)
COUNTER_FILTER_SQL = (
    "event = 'read' AND formatType IN ('METADATA','DATA') "
    "AND sessionId IS NOT NULL AND NOT value > 180"
)
