"""Snapshot reads on the driver (`merge_table._driver_read`): a small
snapshot is read by pyarrow into a one-partition local relation, with
the same rows and the same schema as the Spark read, which runs at
`ONE_TASK_BYTES` 0 and for every snapshot the driver read
rejects.  The gold refresh and the landing request over such a
snapshot lose their shuffle jobs."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from metrics_service_spark.sources import merge_table as mt
from metrics_service_spark.sources.merge_table import (
    merge_table,
    overwrite_table,
    read_table,
)


def _reads(spark, monkeypatch, tdir, **kw):
    """`read_table` at the default bound and at bound 0 (the Spark read)."""
    driver = read_table(spark, tdir, **kw)
    with monkeypatch.context() as m:
        m.setattr(mt, "ONE_TASK_BYTES", 0)
        spark_read = read_table(spark, tdir, **kw)
    assert spark_read.inputFiles()
    return driver, spark_read


def _same(spark, monkeypatch, tdir, *, on_driver=True, **kw):
    """Both reads of `tdir` give identical schemas and rows (compared
    by repr, so -0.0, NaN and NULL count); `on_driver` says which path
    the default bound takes.  Returns the rows."""
    driver, spark_read = _reads(spark, monkeypatch, tdir, **kw)
    assert driver.schema == spark_read.schema
    rows = sorted(driver.collect(), key=repr)
    assert [repr(r) for r in rows] == sorted(repr(r) for r in spark_read.collect())
    assert (not driver.inputFiles()) is on_driver
    if on_driver:
        assert driver.rdd.getNumPartitions() == 1
    return rows


def _values(spark):
    """Nullable long, double (NaN and -0.0), string and boolean columns,
    arrays of floats, longs and strings (NULL elements and empty
    arrays), and a timestamp, over 3 partitions of `part`."""
    return spark.range(30).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("part"),
        F.when(F.col("id") % 4 != 0, F.col("id") * 7).alias("n"),
        F.when(F.col("id") % 5 == 1, F.lit(float("nan")))
        .when(F.col("id") % 5 == 2, F.lit(-0.0))
        .when(F.col("id") % 5 != 3, F.col("id") / 3).alias("x"),
        F.when(F.col("id") % 6 != 0, F.concat(F.lit("s"), F.col("id").cast("string"))).alias("s"),
        F.when(F.col("id") % 7 != 0, F.col("id") % 2 == 0).alias("b"),
        F.when(F.col("id") % 8 != 0, F.array(F.col("id").cast("float"), F.lit(None).cast("float")))
        .alias("fa"),
        F.when(F.col("id") % 9 != 0, F.sequence(F.lit(0), F.col("id") % 3).cast("array<long>"))
        .alias("la"),
        F.array(F.col("id").cast("string"), F.lit(None).cast("string")).alias("sa"),
        F.when(F.col("id") % 10 != 0, F.timestamp_micros(F.col("id") * 86_400_000_001 + 7))
        .alias("ts"),
    )


@pytest.mark.parametrize("encoding", ["INT96", "TIMESTAMP_MICROS"])
def test_driver_read_equals_spark_read(spark, tmp_path, monkeypatch, encoding):
    """NULLs, floats, arrays and timestamps written as INT96 (Spark's
    default) or as microseconds read the same on both paths; so do the
    `partitions=` pruned reads, by a scalar and by a list, and an older
    version."""
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, encoding)
    try:
        tdir = str(tmp_path / "t")
        overwrite_table(_values(spark), tdir, partition_cols=["part"])
        upd = _values(spark).filter(F.col("k") < 4).withColumn("s", F.lit("new"))
        merge_table(spark, tdir, upd, key_cols=["k"], partition_cols=["part"])
    finally:
        spark.conf.set(key, prev)
    rows = _same(spark, monkeypatch, tdir)
    assert len(rows) == 30 and sum(r["s"] == "new" for r in rows) == 4
    assert any(r["ts"] is None for r in rows) and any(r["fa"] is None for r in rows)
    one = _same(spark, monkeypatch, tdir, partitions={"part": 1})
    assert {r["part"] for r in one} == {1}
    two = _same(spark, monkeypatch, tdir, partitions={"part": [0, 2]})
    assert {r["part"] for r in two} == {0, 2}
    old = _same(spark, monkeypatch, tdir, version=0)
    assert all(r["s"] != "new" for r in old)


def _partition_frame(spark):
    """An integer, a date-looking string, a zero-padded string and a
    boolean partition column over 12 rows."""
    return spark.range(12).select(
        F.col("id").alias("k"),
        (F.col("id") % 3 - 1).alias("i"),
        F.date_format(F.date_add(F.lit("2024-01-30").cast("date"), (F.col("id") % 4).cast("int")),
                      "yyyy-MM-dd").alias("d"),
        F.when(F.col("id") % 2 == 0, "01").otherwise("x/y z").alias("z"),
        (F.col("id") % 2 == 0).alias("flag"),
    )


def test_partition_types_read_as_written(spark, tmp_path, monkeypatch):
    """Partition columns read back in the types they were written, on
    both paths, after a MERGE as after the first write: the long as a
    long, the date-looking string as a string (not a date) and the
    boolean as a boolean (not the strings 'true'/'false')."""
    tdir = str(tmp_path / "t")
    df = _partition_frame(spark)
    merge_table(spark, tdir, df, key_cols=["k"], partition_cols=["i", "d", "z", "flag"])
    merge_table(spark, tdir, df.filter("k < 5"), key_cols=["k"],
                partition_cols=["i", "d", "z", "flag"])
    rows = _same(spark, monkeypatch, tdir)
    types = dict(read_table(spark, tdir).dtypes)
    assert (types["i"], types["d"], types["z"], types["flag"]) == (
        "bigint", "string", "string", "boolean",
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, df.collect()))
    assert {r["d"] for r in rows} == {"2024-01-30", "2024-01-31", "2024-02-01", "2024-02-02"}
    _same(spark, monkeypatch, tdir, partitions={"flag": "true", "d": ["2024-01-31", "2024-02-01"]})


def test_partition_types_read_as_spark_infers(spark, tmp_path, monkeypatch):
    """A manifest written before partition types were recorded reads
    integer, date-looking, zero-padded string and boolean partition
    values as Spark infers them from the paths, on both paths: an int,
    a date, the string kept as written where another value is not a
    number, and a boolean as the strings 'true'/'false' (Spark's
    partition inference has no boolean type)."""
    tdir = str(tmp_path / "t")
    overwrite_table(_partition_frame(spark), tdir, partition_cols=["i", "d", "z", "flag"])
    m = _manifest(tdir)
    for schema in m["schemas"].values():
        del schema["partitions"]
    with open(os.path.join(tdir, "_manifests", "v0.json"), "w") as fh:
        json.dump(m, fh)
    rows = _same(spark, monkeypatch, tdir)
    types = dict(read_table(spark, tdir).dtypes)
    assert (types["i"], types["d"], types["z"], types["flag"]) == (
        "int", "date", "string", "string",
    )
    assert {r["flag"] for r in rows} == {"true", "false"}
    assert {r["z"] for r in rows} == {"01", "x/y z"}
    _same(spark, monkeypatch, tdir, partitions={"flag": "true", "d": ["2024-01-31", "2024-02-01"]})


def _manifest(tdir):
    with open(os.path.join(tdir, "_manifests", f"v{mt.current_version(tdir)}.json")) as fh:
        return json.load(fh)


def test_rejected_snapshots_take_the_spark_read(spark, tmp_path, monkeypatch):
    """An evolved schema, a manifest without recorded `rows`/schemas
    and a decimal column each keep the Spark read at the default bound,
    with the rows the bound-0 read gives."""
    evolved = str(tmp_path / "evolved")
    base = spark.range(6).select(F.col("id").alias("k"), (F.col("id") % 2).alias("part"))
    overwrite_table(base, evolved, partition_cols=["part"])
    merge_table(
        spark, evolved, base.filter("k < 2").withColumn("v", F.lit("b")),
        key_cols=["k"], partition_cols=["part"],
    )
    assert len(set(map(json.dumps, _manifest(evolved)["schemas"].values()))) == 2
    _same(spark, monkeypatch, evolved, on_driver=False)

    legacy = str(tmp_path / "legacy")
    overwrite_table(base, legacy, partition_cols=["part"])
    _same(spark, monkeypatch, legacy)
    # as code that recorded no stats wrote it (test_merge_table's
    # `_strip_stats`)
    m = _manifest(legacy)
    m["files"] = [{"path": e["path"], "partition": e["partition"]} for e in m["files"]]
    with open(os.path.join(legacy, "_manifests", "v0.json"), "w") as fh:
        json.dump(m, fh)
    _same(spark, monkeypatch, legacy, on_driver=False)

    dec = str(tmp_path / "dec")
    overwrite_table(base.withColumn("amount", (F.col("k") / 4).cast("decimal(10,2)")), dec)
    _same(spark, monkeypatch, dec, on_driver=False)


def test_empty_files_keep_the_rows_after_them(spark, tmp_path, monkeypatch):
    """A snapshot whose write left an empty file (a local relation of 3
    rows in 4 slices) reads every row with the empty file listed second:
    an empty Arrow batch sent to `createDataFrame` lost the batches
    after it."""
    tdir = str(tmp_path / "t")
    overwrite_table(spark.createDataFrame([(0,), (1,), (2,)], "k long"), tdir)
    m = _manifest(tdir)
    m["files"].sort(key=lambda e: e["rows"])
    assert m["files"][0]["rows"] == 0
    m["files"][:2] = m["files"][1::-1]
    with open(os.path.join(tdir, "_manifests", "v0.json"), "w") as fh:
        json.dump(m, fh)
    assert [r["k"] for r in _same(spark, monkeypatch, tdir)] == [0, 1, 2]


def test_driver_read_bound(spark, tmp_path, monkeypatch):
    """The bound is Spark's size estimate of the local relation (rows
    times its row-size estimate), which the result reports: a snapshot
    just within it reads on the driver, one row more does not."""
    tdir = str(tmp_path / "t")
    overwrite_table(spark.range(40).select(F.col("id").alias("k")), tdir)
    size = read_table(spark, tdir)._jdf.queryExecution().analyzed().stats().sizeInBytes()
    assert size == 40 * (8 + 8)
    monkeypatch.setattr(mt, "ONE_TASK_BYTES", size)
    assert not read_table(spark, tdir).inputFiles()
    monkeypatch.setattr(mt, "ONE_TASK_BYTES", size - 1)
    assert read_table(spark, tdir).inputFiles()


@pytest.fixture(scope="module")
def snapshot(spark, sf_dir, tmp_path_factory):
    """The fixture events as a day-partitioned manifest table, the
    benchmark's table layout."""
    from metrics_service_spark.sources.tables import load_table

    tdir = str(tmp_path_factory.mktemp("snap") / "events")
    events = load_table(spark, sf_dir, "events")
    overwrite_table(
        events.withColumn("day", F.date_format("ts", "yyyy-MM-dd")), tdir,
        partition_cols=["day"],
    )
    return tdir


def test_snapshot_job_pins(spark, sf_dir, snapshot, tmp_path, monkeypatch, count_jobs):
    """At the default bound a small snapshot reads with no Spark job;
    the gold star refresh over it is one job, the write; the landing
    request is two, the family collect and the result.  Both give what
    they give over the Spark read."""
    from metrics_service_spark.catalog.request import (
        LANDING_REQUEST,
        _tables,
        metrics_event_view,
    )
    from metrics_service_spark.plans.gold import metrics_star
    from metrics_service_spark.plans.metrics_request import (
        MetricsTables,
        run_metrics_request,
    )
    from metrics_service_spark.sources.eventlog import eventlog_view

    assert count_jobs(lambda: read_table(spark, snapshot)) == 0
    ref = _tables(spark, sf_dir)

    def outputs(bound):
        got = {}
        with monkeypatch.context() as m:
            m.setattr(mt, "ONE_TASK_BYTES", bound)
            gold = str(tmp_path / f"gold{bound}")

            def refresh():
                snap = read_table(spark, snapshot).drop("day")
                overwrite_table(metrics_star(eventlog_view(snap)), gold)

            def request():
                tables = MetricsTables(
                    events=metrics_event_view(read_table(spark, snapshot).drop("day")),
                    identifiers=ref.identifiers,
                    citations=ref.citations,
                )
                got["request"] = run_metrics_request(spark, LANDING_REQUEST, tables).collect()

            got["jobs"] = count_jobs(refresh), count_jobs(request)
            got["gold"] = sorted(read_table(spark, gold).collect(), key=repr)
        return got

    driver, spark_read = outputs(mt.ONE_TASK_BYTES), outputs(0)
    assert driver["jobs"] == (1, 2)
    assert spark_read["jobs"][0] > 1 and spark_read["jobs"][1] > 2
    assert driver["gold"] == spark_read["gold"] and driver["gold"]
    assert driver["request"] == spark_read["request"] and driver["request"]
