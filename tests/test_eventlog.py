"""The events adapter maps every user_id alike in the engine
(`eventlog_view`) and in the oracle (`EVENTLOG_SQL`): a negative or
NULL user_id included (ORACLE_COMPAT.md)."""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow as pa

from metrics_service_spark.sources.eventlog import EVENTLOG_SQL, eventlog_view


def test_eventlog_user_id_engine_equals_oracle(spark):
    """user_id -7 to 4 and NULL: the same country (NULL for a negative
    remainder or a NULL id, never a country counted from the end of
    the list) and the same ipAddress and sessionId on both sides."""
    users = list(range(-7, 5)) + [None]
    events = pa.table({
        "event_id": pa.array(range(len(users)), pa.int64()),
        "ts": pa.array([dt.datetime(2024, 1, 1)] * len(users), pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": ["view"] * len(users),
        "value": [1.0] * len(users),
        "props": ['{"k": 1}'] * len(users),
    })
    cols = ["eventId", "ipAddress", "sessionId", "country"]
    got = sorted(
        tuple(r)
        for r in eventlog_view(spark.createDataFrame(events))
        .select(*cols)
        .collect()
    )
    con = duckdb.connect()
    con.register("events", events)
    want = sorted(
        con.execute(f"SELECT {', '.join(cols)} FROM ({EVENTLOG_SQL})").fetchall()
    )
    assert got == want
    country = {int(e): c for e, _, _, c in got}
    assert [country[users.index(u)] for u in (-7, -1, 0, 3, 4, None)] == [
        None, None, "US", "CN", "BR", None,
    ]
