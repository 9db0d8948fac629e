"""Fixture-drift guard for sources/tables.load_table: the round driver
regenerates the parquet fixtures and has switched timestamp physical
types between rounds (TIMESTAMP(NANOS) in r1-r3, un-adjusted
TIMESTAMP(MICROS)/NTZ in r4 — the latter crashed BENCH_r04 before the
loader normalized it).  These tests pin the loader's contract: every
loaded column is session-tz TIMESTAMP, never TIMESTAMP_NTZ, whichever
way the fixture was written.  They also pin that the loader reads its
schema from the parquet footer: no Spark job, and the schema Spark's
own inference gives."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from metrics_service_spark.sources.tables import TABLES, _normalize_ntz, load_table


@pytest.mark.parametrize("name", TABLES)
def test_no_ntz_columns_survive_load(spark, sf_dir, name):
    df = load_table(spark, sf_dir, name)
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    assert not ntz, f"{name}: NTZ columns leaked through load_table: {ntz}"


def test_timestamp_functions_work_on_loaded_events(spark, sf_dir):
    # unix_micros rejects TIMESTAMP_NTZ — this is exactly the call
    # shape that crashed BENCH_r04 before normalization
    df = load_table(spark, sf_dir, "events")
    n = df.select(F.unix_micros("ts").alias("us")).filter(
        F.col("us").isNotNull()
    )
    assert n.count() == df.count()


def test_ntz_fixture_normalized(spark, tmp_path):
    # synthesize an NTZ-typed parquet the way the r4 fixtures were
    # written and check the cast preserves wall-clock values under the
    # pinned UTC session
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime

    path = str(tmp_path / "events.parquet")
    ts = [datetime(2024, 1, 1, 12, 0, 0), datetime(2024, 1, 2, 3, 4, 5)]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),  # no tz => NTZ
        }
    )
    pq.write_table(table, path)
    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r["ts"] for r in df.collect())
    assert got == ts


@pytest.mark.parametrize("name", TABLES)
def test_load_table_launches_no_job(spark, sf_dir, name, count_jobs):
    assert count_jobs(lambda: load_table(spark, sf_dir, name)) == 0


def _inferred(spark, path, name):
    """The table load_table gave when Spark inferred the schema from
    the file: the same nanos and NTZ handling on an inferring read."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _normalize_ntz(df)


def _assert_same(got, want, name):
    assert got.schema == want.schema, name
    # every column is scanned, so a type the reader cannot convert fails
    assert got.exceptAll(want).isEmpty(), name
    assert want.exceptAll(got).isEmpty(), name


def test_footer_schema_matches_inference(spark, sf_dir, tmp_path):
    """For every fixture table, read as the single file it is and as a
    Spark-written directory of two part files (timestamps as INT96,
    Spark's default, as the scale-probe copies are written), load_table
    gives the schema and the rows an inferring read gives."""
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        _assert_same(load_table(spark, sf_dir, name), _inferred(spark, path, name), name)
        split = str(tmp_path / f"{name}.parquet")
        load_table(spark, sf_dir, name).repartition(2).write.parquet(split)
        assert len([f for f in os.listdir(split) if f.endswith(".parquet")]) == 2
        _assert_same(
            load_table(spark, str(tmp_path), name), _inferred(spark, split, name), name
        )


def test_int96_events_load_as_timestamps(spark, tmp_path):
    # Spark writes a session-tz TIMESTAMP as INT96 by default, which
    # Arrow shows as timestamp[ns]; it must load as the same instants,
    # not as nanos-as-bigint
    import pyarrow.parquet as pq

    us = [1_704_110_400_123_456, 1_704_164_645_000_000]
    src = spark.createDataFrame([(1, us[0]), (2, us[1])], "event_id long, us long")
    path = str(tmp_path / "events.parquet")
    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        src.select("event_id", F.timestamp_micros("us").alias("ts")).write.parquet(path)
    finally:
        spark.conf.set(key, before)
    part = next(f for f in sorted(os.listdir(path)) if f.endswith(".parquet"))
    footer = pq.ParquetFile(os.path.join(path, part)).schema
    assert {c.path: c.physical_type for c in footer}["ts"] == "INT96"
    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r["us"] for r in df.select(F.unix_micros("ts").alias("us")).collect())
    assert got == us


def test_nanos_fixture_truncated_to_micros(spark, tmp_path):
    # synthesize a TIMESTAMP(NANOS) events file the way the r1-r3
    # fixtures were written: ts loads as the µs-truncated instant
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "events.parquet")
    nanos = [1_704_110_400_123_456_789, 1_704_164_645_000_000_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(nanos, pa.timestamp("ns")),
            }
        ),
        path,
    )
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    df = load_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r["us"] for r in df.select(F.unix_micros("ts").alias("us")).collect())
    assert got == [n // 1000 for n in nanos]
