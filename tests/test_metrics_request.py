"""Golden tests for the MetricsRequest translator against engineered
fixtures (expected values computed by hand from the fixture design)."""

from __future__ import annotations

import pytest

from metrics_service_spark.plans.metrics_request import MetricsRequestPlanner
from metrics_service_spark.testing.fixtures import make_tables


@pytest.fixture(scope="module")
def planner(spark):
    return MetricsRequestPlanner(spark, make_tables(spark))


def _rows(df):
    return [tuple(r) for r in df.collect()]


def request(filter_type, values, *, start="01/01/2018", end="03/01/2018", group_by=None):
    return {
        "metricsPage": {"total": 0, "start": 0, "count": 0},
        "metrics": ["citations", "downloads", "views"],
        "filterBy": [
            {"filterType": filter_type, "values": values, "interpretAs": "list"},
            {"filterType": "month", "values": [start, end], "interpretAs": "range"},
        ],
        "groupBy": group_by or ["month"],
    }


def test_dataset_landing_page(planner):
    df = planner.plan(request("dataset", ["doi:10.5063/A1"]))
    # (bucket, downloads, views, unique_downloads, unique_views, citations)
    # NOTE no "2018-03" row: the reference spine iterates
    # range((end-start).days) — END-DAY EXCLUSIVE — so a range ending
    # 03/01 contributes no March bucket (metricsreader.py:1030).
    assert _rows(df) == [
        ("2017-12", 0, 0, 0, 0, 1),  # citation-only month, outer-merged
        ("2018-01", 2, 3, 2, 2, 0),  # robots excluded; dup eventId -> uniq 2
        ("2018-02", 2, 0, 2, 0, 1),  # family member A2 counted; B1 not
    ]


def test_dataset_response_shape(planner):
    resp = planner.response(request("dataset", ["doi:10.5063/A1"]))
    assert resp["results"]["months"] == ["2017-12", "2018-01", "2018-02"]
    assert resp["results"]["downloads"] == [0, 2, 2]
    assert resp["results"]["views"] == [0, 3, 0]
    assert resp["results"]["citations"] == [1, 0, 1]
    assert resp["resultDetails"] == {
        "totalDownloads": 4,
        "totalViews": 3,
        "totalCitations": 2,
    }


def test_dataset_by_sid(planner):
    # filtering by the series id resolves the same family
    df = planner.plan(request("dataset", ["urn:sid:A"]))
    assert _rows(df)[1] == ("2018-01", 2, 3, 2, 2, 0)


def test_repository_filter(planner):
    df = planner.plan(request("repository", ["urn:node:ARCTIC"]))
    by_bucket = {r[0]: tuple(r) for r in df.collect()}
    # only the two B1 events, one DATA one METADATA, both in Feb
    assert by_bucket["2018-02"][1:3] == (1, 1)
    assert by_bucket["2018-01"][1:3] == (0, 0)


def test_portal_filter(planner):
    df = planner.plan(request("portal", ["urn:sid:portalX"]))
    by_bucket = {r[0]: tuple(r) for r in df.collect()}
    assert by_bucket["2018-01"][1] == 1  # e02 only (e03/e04 are robots)
    assert by_bucket["2018-02"][1] == 1  # e12


def test_user_path_public_only(planner):
    # alice owns public family A
    df = planner.plan(request("user", ["uid=alice"]))
    assert {r[0]: r[1] for r in df.collect()}["2018-01"] == 2
    # bob's family is non-public -> nothing
    df_bob = planner.plan(request("user", ["uid=bob"]))
    assert all(r[1] == 0 and r[2] == 0 for r in df_bob.collect())


ZERO_SPINE = [("2018-01", 0, 0, 0, 0, 0), ("2018-02", 0, 0, 0, 0, 0)]


def test_unknown_pid_yields_zero_spine(planner):
    # an id no identifier row matches resolves to an EMPTY family: the
    # event IN-list and the citation literal array are both empty, and
    # the reply is the zero-filled spine with no citations
    assert planner.family_pids("dataset", ["doi:10.5063/UNKNOWN"]) == []
    df = planner.plan(request("dataset", ["doi:10.5063/UNKNOWN"]))
    assert _rows(df) == ZERO_SPINE


def test_user_with_only_private_datasets_yields_zero_spine(planner):
    # bob's only dataset (B1) is private, so his family is empty
    assert planner.family_pids("user", ["uid=bob"]) == []
    assert _rows(planner.plan(request("user", ["uid=bob"]))) == ZERO_SPINE


def test_family_map_splits_families_by_seed(planner):
    # each seed keeps its own sorted family (a SID matches its series'
    # rows); the request's family is their union
    from metrics_service_spark.testing.fixtures import A1, A2, AMAP, B1

    fams = planner.family_map("dataset", ["urn:sid:A", B1, "doi:10.5063/UNKNOWN"])
    assert fams == {
        "urn:sid:A": sorted([A1, A2, AMAP]),
        B1: [B1],
        "doi:10.5063/UNKNOWN": [],
    }
    assert planner.family_pids("dataset", ["urn:sid:A", B1]) == sorted([A1, A2, AMAP, B1])


def test_request_job_budget(planner, count_jobs):
    """A dataset-scoped month-range request runs 8 Spark jobs: the one
    driver collect of the identifier family, two event shuffles, two
    citation shuffles, the spine's shuffle onto the bucket key, the
    merged aggregates' shuffle onto it, and the result.  No broadcast
    theta-join of the family and no range-partitioned final sort.  The
    fixture's tables come from `createDataFrame`, whose size Spark does
    not know, so this is the distributed plan: an input of unknown size
    never takes the one-partition path (see
    `test_parquet_landing_request_job_budget`)."""
    req = request("dataset", ["doi:10.5063/A1"])
    out = {}

    def run():
        out["df"] = planner.plan(req)
        out["rows"] = out["df"].collect()

    assert count_jobs(run) == 8
    assert [r[0] for r in out["rows"]] == ["2017-12", "2018-01", "2018-02"]
    executed = out["df"]._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in executed
    assert "rangepartitioning" not in executed


def test_day_aggregation(planner):
    df = planner.plan(
        request("dataset", ["doi:10.5063/A1"], start="01/02/2018", end="01/06/2018", group_by=["day"])
    )
    rows = _rows(df)
    # spine is the request days [start, end) — the 6th is excluded by
    # the end-exclusive spine AND its event e05 (METADATA, 12:00 on the
    # 6th) is excluded by the lte-midnight end bound (reference parses
    # MM/dd/yyyy to 00:00).  Citation-only buckets outside the range
    # are appended (J6 unseen-citation-month semantics).
    assert [r[0] for r in rows] == [
        "2017-12-01",
        "2018-01-02", "2018-01-03", "2018-01-04", "2018-01-05",
        "2018-02-15",
    ]
    assert [r[1] for r in rows] == [0, 1, 1, 0, 0, 0]
    assert [r[2] for r in rows] == [0, 0, 0, 0, 0, 0]
    assert [r[5] for r in rows] == [1, 0, 0, 0, 0, 1]


def test_start_bound_is_strict(spark, planner):
    """The reference filters dateLogged with strict gt on the start
    instant (metricselasticsearch.py:261): an event logged exactly at
    start-day midnight is NOT counted."""
    from metrics_service_spark.testing.fixtures import make_tables
    import datetime as dt

    tables = make_tables(spark)
    midnight = tables.events.limit(1).collect()[0].asDict()
    midnight.update(
        eventId="e_mid",
        dateLogged=dt.datetime(2018, 1, 2, 0, 0, 0),
        formatType="DATA",
    )
    ev2 = tables.events.union(
        spark.createDataFrame([tuple(midnight.values())], tables.events.schema)
    )
    p = MetricsRequestPlanner(
        spark, type(tables)(ev2, tables.identifiers, tables.citations)
    )
    df = p.plan(
        request("dataset", ["doi:10.5063/A1"], start="01/02/2018", end="01/06/2018", group_by=["day"])
    )
    by_day = {r[0]: r[1] for r in df.collect()}
    assert by_day["2018-01-02"] == 1  # e01 at 12:00 only; e_mid excluded


def test_full_text_scope_yields_empty(planner):
    """interpretAs values other than 'list' on a scope filter fall
    through every reference dispatcher branch (metricsreader.py:126-156)
    and return empty results; mirrored as a scope matching nothing."""
    req = request("dataset", ["doi:10.5063/A1"])
    req["filterBy"][0]["interpretAs"] = "full_text"
    df = planner.plan(req)
    assert all(
        r["downloads"] == 0 and r["views"] == 0 for r in df.collect()
    )


def test_month_filter_with_list_interpret_is_ignored(planner):
    """A date filter not flagged interpretAs=range is ignored by the
    reference (metricsreader.py:282): no range filter, no spine."""
    req = request("dataset", ["doi:10.5063/A1"])
    req["filterBy"][1]["interpretAs"] = "list"
    df = planner.plan(req)
    months = [r["bucket"] for r in df.collect()]
    assert months == ["2017-12", "2018-01", "2018-02"]  # data-driven, no spine


def test_country_grouping(planner):
    df = planner.plan(request("dataset", ["doi:10.5063/A1"], group_by=["month", "country"]))
    rows = {(r["bucket"], r["country"]): r["downloads"] for r in df.collect()}
    assert rows[("2018-02", "DE")] == 1
    assert rows[("2018-02", "US")] == 1


# --- golden: the documented catalog-page request/response pair -------------
# /root/reference notes.rst documents one verbatim request from the search
# UI browse page (25 catalog PIDs + month range, groupBy month) and its
# response.  The fixture below realizes exactly the documented per-dataset
# unique counts; the response must reproduce the documented structure and
# the documented pid -> count mapping (the reference's array order came
# from a pre-3.7 dict; ours is request order, so compare as mappings).

NOTES_RST_REQUEST_VALUES = [
    "p1161.ds2423_20181010_0300", "p1151.ds2412_20181010_0300",
    "urn:uuid:2e9143a6-2623-46be-9cc5-788c238f27ea", "PPBioMA.50.4",
    "https://pasta.lternet.edu/package/metadata/eml/knb-lter-nwt/93/1",
    "https://pasta.lternet.edu/package/metadata/eml/knb-lter-nwt/45/1",
    "doi:10.6067:XCV8446794_meta$v=1538938553701",
    "doi:10.6067:XCV8446793_meta$v=1538934411225",
    "p10.ds237_20181007_0300", "p17.ds2553_20181006_0302",
    "p1284.ds2551_20181006_0302", "p1284.ds2550_20181006_0302",
    "p17.ds2547_20181006_0302", "p17.ds2546_20181006_0301",
    "p17.ds2545_20181006_0301", "p1229.ds2543_20181006_0301",
    "p1279.ds2539_20181006_0301", "p1279.ds2538_20181006_0301",
    "p1278.ds2537_20181006_0301", "p1278.ds2536_20181006_0301",
    "p1278.ds2535_20181006_0301", "p1278.ds2534_20181006_0301",
    "p1278.ds2533_20181006_0301", "p1278.ds2532_20181006_0301",
    "p43.ds2520_20181006_0301",
]

NOTES_RST_DATASETS = [
    "p1278.ds2534_20181006_0301", "p17.ds2546_20181006_0301",
    "p1278.ds2537_20181006_0301", "p10.ds237_20181007_0300",
    "urn:uuid:2e9143a6-2623-46be-9cc5-788c238f27ea",
    "doi:10.6067:XCV8446794_meta$v=1538938553701",
    "p1279.ds2538_20181006_0301",
    "https://pasta.lternet.edu/package/metadata/eml/knb-lter-nwt/93/1",
    "p1278.ds2535_20181006_0301", "p17.ds2545_20181006_0301",
    "p1151.ds2412_20181010_0300", "p1278.ds2533_20181006_0301",
    "p17.ds2553_20181006_0302", "p1284.ds2551_20181006_0302",
    "p43.ds2520_20181006_0301", "p1284.ds2550_20181006_0302",
    "p1279.ds2539_20181006_0301", "p1229.ds2543_20181006_0301",
    "https://pasta.lternet.edu/package/metadata/eml/knb-lter-nwt/45/1",
    "doi:10.6067:XCV8446793_meta$v=1538934411225", "PPBioMA.50.4",
    "p1161.ds2423_20181010_0300", "p1278.ds2536_20181006_0301",
    "p1278.ds2532_20181006_0301", "p17.ds2547_20181006_0302",
]
NOTES_RST_VIEWS = [3, 3, 3, 5, 13, 0, 3, 3, 3, 3, 2, 3, 5, 3, 3, 3, 3, 3, 3, 0, 3, 4, 3, 3, 3]
NOTES_RST_DOWNLOADS = [0, 0, 0, 0, 15, 0, 0, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 4, 0, 0, 0, 0, 0, 0]

NOTES_RST_REQUEST = {
    "metricsPage": {"total": 0, "start": 0, "count": 0},
    "metrics": ["citations", "downloads", "views"],
    "filterBy": [
        {
            "filterType": "catalog",
            "values": NOTES_RST_REQUEST_VALUES,
            "interpretAs": "list",
        },
        {
            "filterType": "month",
            "values": ["01/01/2000", "10/16/2018"],
            "interpretAs": "range",
        },
    ],
    "groupBy": ["month"],
}


@pytest.fixture(scope="module")
def notes_rst_planner(spark):
    from metrics_service_spark.schemas import (
        CITATION_SCHEMA,
        EVENT_SCHEMA,
        IDENTIFIER_SCHEMA,
    )
    from metrics_service_spark.plans.metrics_request import MetricsTables
    from metrics_service_spark.testing.fixtures import _ev

    doc_views = dict(zip(NOTES_RST_DATASETS, NOTES_RST_VIEWS))
    doc_downloads = dict(zip(NOTES_RST_DATASETS, NOTES_RST_DOWNLOADS))
    events, identifiers = [], []
    for i, pid in enumerate(NOTES_RST_REQUEST_VALUES):
        identifiers.append((pid, None, [pid], True, "METADATA", ["uid=u"], [pid]))
        for j in range(doc_views[pid]):
            events.append(_ev(f"v{i}_{j}", pid, (j % 27) + 1, fmt="METADATA"))
        for j in range(doc_downloads[pid]):
            events.append(_ev(f"d{i}_{j}", pid, (j % 27) + 1, fmt="DATA"))
    tables = MetricsTables(
        events=spark.createDataFrame(events, EVENT_SCHEMA),
        identifiers=spark.createDataFrame(identifiers, IDENTIFIER_SCHEMA),
        citations=spark.createDataFrame([], CITATION_SCHEMA),
    )
    return MetricsRequestPlanner(spark, tables)


def test_notes_rst_catalog_golden_pair(notes_rst_planner):
    resp = notes_rst_planner.response(NOTES_RST_REQUEST)
    # top-level and results structure exactly as documented
    assert set(resp) == {"results", "metricsRequest", "resultDetails"}
    assert resp["metricsRequest"] == NOTES_RST_REQUEST
    assert resp["resultDetails"] == {}
    results = resp["results"]
    assert set(results) == {
        "views", "country", "citations", "datasets", "downloads", "months",
    }
    assert results["country"] == [] and results["months"] == []
    # parallel arrays: one entry per requested dataset, request order
    assert results["datasets"] == NOTES_RST_REQUEST_VALUES
    for key in ("views", "downloads", "citations"):
        assert len(results[key]) == len(NOTES_RST_REQUEST_VALUES)
    # per-dataset values match the documented pairing
    got_views = dict(zip(results["datasets"], results["views"]))
    got_downloads = dict(zip(results["datasets"], results["downloads"]))
    assert got_views == dict(zip(NOTES_RST_DATASETS, NOTES_RST_VIEWS))
    assert got_downloads == dict(zip(NOTES_RST_DATASETS, NOTES_RST_DOWNLOADS))
    assert results["citations"] == [0] * 25


def test_oracle_mx_guard_fires_loudly():
    # ADVICE r14: if the synthetic pid suffix domain ever exceeds the
    # over-generated series bound, the oracle must ERROR, not silently
    # under-cover.  Force the measured bound past the guard and prove
    # the DuckDB error() actually fires (and short-circuits when not).
    import re

    import duckdb
    import pytest

    from metrics_service_spark.catalog.request import ORACLE_USER_REQUEST

    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_id INT, ts TIMESTAMP, user_id INT, event_type VARCHAR, value INT, props VARCHAR)")
    con.execute("INSERT INTO events VALUES (1, TIMESTAMP '2024-01-05 00:00:00', 3, 'view', 5, '{\"k\": \"7\"}')")
    # sanity: with mx <= 9999 the query runs (guard short-circuits)
    con.execute(ORACLE_USER_REQUEST).fetchall()
    breached = re.sub(
        r"bound AS \(\n.*?\n\)", "bound AS (SELECT 10000 AS mx)",
        ORACLE_USER_REQUEST, count=1, flags=re.S,
    )
    assert "SELECT 10000 AS mx" in breached
    with pytest.raises(Exception, match="series guard"):
        con.execute(breached).fetchall()


# --- one-partition plans vs the distributed plan ---------------------------
# `plan` and `catalog_summary_frame` move request-sized inputs into one
# partition (ONE_PARTITION_BYTES).  Parquet-backed tables report their
# size, so the gate fires on them; at bound 0 the same code runs
# distributed.  Both must return the same rows.

ADV_FAMILY = [("doi:10.5063/A1", "urn:sid:A", ["doi:10.5063/A1"], True, "METADATA",
               ["uid=alice"], ["doi:10.5063/A1", "doi:10.5063/A2?ver=1"])]


def _adv_event(eid, day, *, fmt="DATA", month=1, country="US", pid="doi:10.5063/A1"):
    from metrics_service_spark.testing.fixtures import _ev

    row = list(_ev(eid, pid, day, fmt=fmt, month=month))
    row[16] = (country, "city", 1.0, 2.0)
    return tuple(row)


ADV_EVENTS = [
    # Jan DATA: two NULL eventIds (totals only), k1, and k2 twice
    _adv_event(None, 2),
    _adv_event(None, 3),
    _adv_event("k1", 4),
    _adv_event("k2", 6),
    _adv_event("k2", 6),
    # Jan METADATA: k1 again, so one eventId is both a download and a view
    _adv_event("k1", 5, fmt="METADATA"),
    # Feb: a DATA row in DE and a METADATA row with a NULL country
    _adv_event("k4", 11, month=2, country="DE"),
    _adv_event("k3", 10, month=2, fmt="METADATA", country=None, pid="doi:10.5063/A2?ver=1"),
]
ADV_CITATIONS = [
    # 2017-11 is a citation-only month; the Feb citation is listed twice
    ("10.5063/a1", "doi:10.1000/src1", None, "2017-11-05", None, "t1", None, None, 2017, "cites"),
    ("10.5063/a1", "doi:10.1000/src2", None, "2018-02-20", None, "t2", None, None, 2018, "cites"),
    ("10.5063/a1", "doi:10.1000/src2", None, "2018-02-20", None, "t2", None, None, 2018, "cites"),
]


@pytest.fixture(scope="module")
def parquet_planner(spark, tmp_path_factory):
    """The adversarial events and citations, written to and read back
    from parquet so Spark knows their size."""
    from pyspark.sql import types as T

    from metrics_service_spark.plans.metrics_request import MetricsTables
    from metrics_service_spark.schemas import CITATION_SCHEMA, EVENT_SCHEMA, IDENTIFIER_SCHEMA

    base = tmp_path_factory.mktemp("adv")
    nullable = T.StructType([T.StructField(f.name, f.dataType, True) for f in EVENT_SCHEMA])
    spark.createDataFrame(ADV_EVENTS, nullable).write.parquet(str(base / "events"))
    spark.createDataFrame(ADV_CITATIONS, CITATION_SCHEMA).write.parquet(str(base / "cites"))
    tables = MetricsTables(
        events=spark.read.parquet(str(base / "events")),
        identifiers=spark.createDataFrame(ADV_FAMILY, IDENTIFIER_SCHEMA),
        citations=spark.read.parquet(str(base / "cites")),
    )
    return MetricsRequestPlanner(spark, tables)


def _final_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def _both_bounds(monkeypatch, build):
    """`build()`'s collected rows and final plan at the default bound and
    at bound 0."""
    from metrics_service_spark.plans import metrics_request

    out = []
    for bound in (metrics_request.ONE_PARTITION_BYTES, 0):
        monkeypatch.setattr(metrics_request, "ONE_PARTITION_BYTES", bound)
        df = build()
        out.append(([tuple(r) for r in df.collect()], _final_plan(df)))
    monkeypatch.undo()
    return out


ADV_REQUESTS = {
    "month": request("dataset", ["doi:10.5063/A1"]),
    "month_country": request("dataset", ["doi:10.5063/A1"], group_by=["month", "country"]),
    "day_country": request("dataset", ["doi:10.5063/A1"], group_by=["day", "country"]),
    "no_range": {**request("dataset", ["doi:10.5063/A1"]), "filterBy": [
        {"filterType": "dataset", "values": ["doi:10.5063/A1"], "interpretAs": "list"}]},
    "repository": request("repository", ["urn:node:KNB"], group_by=["year"]),
    "user": request("user", ["uid=alice"]),
}


@pytest.mark.parametrize("name", sorted(ADV_REQUESTS))
def test_one_partition_plan_equals_distributed(parquet_planner, monkeypatch, name):
    (one, one_plan), (dist, dist_plan) = _both_bounds(
        monkeypatch, lambda: parquet_planner.plan(ADV_REQUESTS[name])
    )
    assert sorted(one, key=repr) == sorted(dist, key=repr)
    assert "SinglePartition, REPARTITION_BY_NUM" in one_plan
    assert "REPARTITION_BY_NUM" not in dist_plan


def test_one_partition_uniques_by_hand(parquet_planner):
    """NULL eventIds count toward totals only, an eventId read as DATA
    and as METADATA is unique on both sides, a repeated row is one
    unique, and the citation-only month and the deduplicated citation
    are outer-merged."""
    rows = _rows(parquet_planner.plan(ADV_REQUESTS["month"]))
    # (bucket, downloads, views, unique_downloads, unique_views, citations)
    assert rows == [
        ("2017-11", 0, 0, 0, 0, 1),
        ("2018-01", 5, 1, 2, 1, 0),
        ("2018-02", 1, 1, 1, 1, 1),
    ]
    by_country = [
        r for r in _rows(parquet_planner.plan(ADV_REQUESTS["month_country"])) if any(r[2:])
    ]
    assert sorted(by_country, key=repr) == sorted([
        ("2017-11", None, 0, 0, 0, 0, 1),
        ("2018-01", "US", 5, 1, 2, 1, 0),
        ("2018-02", None, 0, 1, 0, 1, 1),
        ("2018-02", "DE", 1, 0, 1, 0, 1),
    ], key=repr)


def test_one_partition_catalog_summary_equals_distributed(parquet_planner, monkeypatch):
    req = {"filterBy": [{"filterType": "catalog", "interpretAs": "list",
                         "values": ["doi:10.5063/A1", "urn:sid:A", "doi:10.5063/NONE"]}]}
    (one, one_plan), (dist, dist_plan) = _both_bounds(
        monkeypatch, lambda: parquet_planner.catalog_summary_frame(req)
    )
    # (seed, downloads, views, citations): uniques of the whole family
    want = [("doi:10.5063/A1", 3, 2, 2), ("doi:10.5063/NONE", 0, 0, 0), ("urn:sid:A", 3, 2, 2)]
    assert sorted(one) == sorted(dist) == want
    assert "SinglePartition, REPARTITION_BY_NUM" in one_plan
    assert "REPARTITION_BY_NUM" not in dist_plan


REQUEST_ENTRIES = [
    "metrics_request_landing",
    "metrics_request_daily_country",
    "metrics_request_user",
    "metrics_request_repository",
    "metrics_request_portal",
    "metrics_request_group",
    "metrics_request_package",
    "metrics_request_catalog_summary",
]


@pytest.mark.parametrize("name", REQUEST_ENTRIES)
def test_request_entries_equal_at_both_bounds(spark, sf_dir, monkeypatch, name):
    from metrics_service_spark.catalog import all_queries

    fn = all_queries()[name].fn
    (one, one_plan), (dist, dist_plan) = _both_bounds(monkeypatch, lambda: fn(spark, sf_dir))
    assert sorted(one, key=repr) == sorted(dist, key=repr)
    assert "SinglePartition, REPARTITION_BY_NUM" in one_plan
    assert "REPARTITION_BY_NUM" not in dist_plan


def test_parquet_landing_request_job_budget(spark, sf_dir, count_jobs):
    """The landing request over parquet-backed tables runs 3 Spark jobs:
    the family collect, the one shuffle that moves the scoped events
    into one partition, and the result.  The final plan holds exactly
    that one Exchange."""
    from metrics_service_spark.catalog.request import LANDING_REQUEST, _tables
    from metrics_service_spark.plans.metrics_request import run_metrics_request

    tables = _tables(spark, sf_dir)
    out = {}

    def run():
        out["df"] = run_metrics_request(spark, LANDING_REQUEST, tables)
        out["rows"] = out["df"].collect()

    assert count_jobs(run) == 3
    assert len(out["rows"]) == 3
    final = _final_plan(out["df"])
    assert final.count("Exchange ") == 1
    assert "Exchange SinglePartition" in final


def test_family_collect_is_bounded(planner, monkeypatch):
    """Past FAMILY_ROWS matched identifier rows the family resolution
    raises instead of collecting an unbounded family."""
    from metrics_service_spark.plans import metrics_request

    monkeypatch.setattr(metrics_request, "FAMILY_ROWS", 1)
    assert planner.family_map("dataset", ["doi:10.5063/B1"]) == {"doi:10.5063/B1": ["doi:10.5063/B1"]}
    with pytest.raises(ValueError, match="more than 1 identifier rows"):
        planner.family_map("dataset", ["doi:10.5063/A1", "doi:10.5063/B1"])


def test_null_country_is_one_row(spark, sf_dir, tmp_path, monkeypatch):
    """A METADATA event with a NULL country (user_id -6: -6 % 5 names
    no country in the engine's adapter nor in the oracle's) makes one
    (day, NULL) row in the daily-country request, equal to the oracle's
    reply at both `ONE_PARTITION_BYTES` bounds, and the day's
    by-country counts sum to its per-day counts."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from metrics_service_spark.catalog.request import (
        DAILY_COUNTRY_REQUEST,
        ORACLE_DAILY_COUNTRY_REQUEST,
        _tables,
    )
    from metrics_service_spark.plans import metrics_request
    from metrics_service_spark.plans.metrics_request import run_metrics_request
    from metrics_service_spark.testing.oracle import compare_query

    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    extra = pa.table({
        "event_id": [pc.max(ev["event_id"]).as_py() + 1],
        "ts": [dt.datetime(2024, 1, 15, 12)], "user_id": [-6], "event_type": ["view"],
        "value": [10.0], "props": ['{"k": 7}'],
    }, schema=ev.schema)
    pq.write_table(pa.concat_tables([ev, extra]), str(tmp_path / "events.parquet"))
    per_day = {**DAILY_COUNTRY_REQUEST, "groupBy": ["day"]}
    counts = ["downloads", "views", "unique_downloads", "unique_views"]
    for bound in (metrics_request.ONE_PARTITION_BYTES, 0):
        monkeypatch.setattr(metrics_request, "ONE_PARTITION_BYTES", bound)
        tables = _tables(spark, str(tmp_path))
        df = run_metrics_request(spark, DAILY_COUNTRY_REQUEST, tables)
        compare_query(df, ORACLE_DAILY_COUNTRY_REQUEST, str(tmp_path), name="null_country")
        rows = df.collect()
        null_day = [r for r in rows if r["bucket"] == "2024-01-15" and r["country"] is None]
        assert [(r["views"], r["unique_views"]) for r in null_day] == [(1, 1)]
        days = {(r["bucket"], r["country"]) for r in rows}
        assert len(days) == len(rows)
        for r in run_metrics_request(spark, per_day, tables).collect():
            day = [x for x in rows if x["bucket"] == r["bucket"]]
            assert [sum(x[c] for x in day) for c in counts] == [r[c] for c in counts]
