"""MERGE and DELETE rewrite small hit files on the driver.

`merge_table._rewrite` rewrites the files that hold a key with pyarrow
when `_rewrite_on_driver` allows, and with one Spark job otherwise (and
always at `PROBE_ROWS` 0).  Spark must read back the same rows either
way, and a driver-written file must carry the physical parquet schema
Spark wrote for its stage.  Each commit's `op` record says which path
ran.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from metrics_service_spark.sources import merge_table as mt
from metrics_service_spark.sources.merge_table import (
    current_version,
    delete_from_table,
    merge_table,
    overwrite_table,
    read_table,
)


def _manifest(tdir, version=None):
    version = current_version(tdir) if version is None else version
    with open(os.path.join(tdir, "_manifests", f"v{version}.json")) as fh:
        return json.load(fh)


def _rows(spark, tdir):
    df = read_table(spark, tdir)
    return sorted((tuple(r) for r in df.select(*sorted(df.columns)).collect()), key=repr)


def _base(spark, n=30):
    """k 0..n-1 in three partitions, a string and an INT96 timestamp
    (Spark's default parquet timestamp output)."""
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("part"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
        F.timestamp_micros(F.lit(1_700_000_000_000_000) + F.col("id") * 1_000_003).alias("ts"),
    )


def _int96(spark, tdir):
    overwrite_table(_base(spark), tdir, partition_cols=["part"])


def _pairs(spark, tdir):
    """(year, month) keys, NULL months among them."""
    df = spark.range(24).select(
        (F.lit(2020) + F.col("id") % 4).cast("int").alias("year"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id") % 12 + 1)
        .cast("int").alias("month"),
        (F.col("id") % 2).cast("int").alias("part"),
        F.col("id").cast("string").alias("v"),
    )
    overwrite_table(df, tdir, partition_cols=["part"])


def _strings(spark, tdir):
    overwrite_table(_base(spark).withColumn("s", F.col("k").cast("string")), tdir,
                    partition_cols=["part"])


def _evolved(spark, tdir):
    """A second commit adds column `u` to partition 0's keys: the table's
    stages record two schemas."""
    overwrite_table(_base(spark), tdir, partition_cols=["part"])
    merge_table(spark, tdir, _base(spark).filter("part = 0").withColumn("u", F.lit(1)),
                key_cols=["k"], partition_cols=["part"])


def _unpartitioned(spark, tdir):
    overwrite_table(_base(spark).repartition(3, "part").drop("part"), tdir)


def _arrays(spark, tdir):
    overwrite_table(
        _base(spark).withColumn("a", F.array("k", F.col("k") + 1))
        .withColumn("sa", F.array(F.col("v"), F.lit(None).cast("string"))),
        tdir, partition_cols=["part"],
    )


def _decimals(spark, tdir):
    overwrite_table(_base(spark).withColumn("d", (F.col("k") / 4).cast("decimal(10,2)")),
                    tdir, partition_cols=["part"])


# name: (table builder, key columns, key rows, their schema, whether the
# table is partitioned by `part`, the rewrite paths MERGE and DELETE
# take at the default bounds)
CASES = {
    "int96": (_int96, ["k"], [(1,), (4,), (9,)], "k long", True, ("driver", "driver")),
    "pairs": (_pairs, ["year", "month"], [(2021, 2), (2022, 3), (2020, None)],
              "year int, month int", True, ("driver", "driver")),
    "string_key": (_strings, ["s"], [("1",), ("4",)], "s string", True, ("spark", "spark")),
    # MERGE hits partition 0's file of the second stage and partition 1's
    # of the first, whose schemas differ; DELETE then finds both keys in
    # the stage MERGE wrote
    "evolved": (_evolved, ["k"], [(3,), (4,)], "k long", True, ("spark", "driver")),
    # both keys in partition 0's file of the second stage
    "evolved_one_stage": (_evolved, ["k"], [(3,), (6,)], "k long", True,
                          ("driver", "driver")),
    "unpartitioned": (_unpartitioned, ["k"], [(1,), (2,), (28,)], "k long", False,
                      ("driver", "driver")),
    # every key of partition 2: MERGE leaves its file no surviving row
    "emptied": (_int96, ["k"], [(k,) for k in range(2, 30, 3)], "k long", True,
                ("driver", "driver")),
    "arrays": (_arrays, ["k"], [(1,), (5,)], "k long", True, ("driver", "driver")),
    "decimal": (_decimals, ["k"], [(1,), (5,)], "k long", True, ("spark", "spark")),
}


def _physical_schemas_agree(tdir):
    """Every live file has the physical parquet schema of the other
    files of its recorded schema, and Spark's schema metadata."""
    m = _manifest(tdir)
    by_schema = {}
    for e in m["files"]:
        recorded = json.dumps(m["schemas"][e["path"].split(os.sep, 1)[0]], sort_keys=True)
        path = os.path.join(tdir, e["path"])
        assert b"org.apache.spark.sql.parquet.row.metadata" in pq.read_metadata(path).metadata
        first = by_schema.setdefault(recorded, pq.ParquetFile(path).schema)
        assert pq.ParquetFile(path).schema.equals(first), path


def _upkeep(spark, tdir, build, key_cols, keys, partitioned):
    """Build the table, MERGE the keys' rows back with a new `v` (into
    partition 0), then DELETE the keys; returns the rows and `op`
    record after each."""
    build(spark, tdir)
    moved = read_table(spark, tdir).join(keys, key_cols, "left_semi").withColumn(
        "v", F.lit("moved")
    )
    if partitioned:
        moved = moved.withColumn("part", F.lit(0))
    merge_table(spark, tdir, moved, key_cols=key_cols,
                partition_cols=["part"] if partitioned else [])
    out = [(_rows(spark, tdir), _manifest(tdir)["op"])]
    _physical_schemas_agree(tdir)
    delete_from_table(spark, tdir, keys, key_cols=key_cols)
    out.append((_rows(spark, tdir), _manifest(tdir)["op"]))
    _physical_schemas_agree(tdir)
    return out


@pytest.mark.parametrize("name", sorted(CASES))
def test_driver_rewrite_equals_spark_rewrite(spark, tmp_path, monkeypatch, name):
    """MERGE and DELETE leave the same rows, as Spark reads them, and
    remove as many, whether the driver or Spark rewrites the hit files
    (`PROBE_ROWS` 0); the `op` record names the path each took."""
    build, key_cols, key_rows, key_schema, partitioned, paths = CASES[name]
    keys = spark.createDataFrame(key_rows, key_schema)
    default = mt.PROBE_ROWS
    got = []
    for bound in (default, 0):
        monkeypatch.setattr(mt, "PROBE_ROWS", bound)
        got.append(_upkeep(spark, str(tmp_path / f"b{bound}"), build, key_cols, keys,
                           partitioned))
    driver, spark_side = got
    for step, ((rows, op), (spark_rows, spark_op), path) in enumerate(
        zip(driver, spark_side, paths)
    ):
        assert rows == spark_rows
        assert op["rewrite"] == path and spark_op["rewrite"] == "spark"
        assert op["rows_removed"] == spark_op["rows_removed"]
        if name == "string_key" and step == 0:
            # a MERGE that collects its keys from the batch writes its
            # rows and the kept ones together, and counts no removed rows
            assert op["rows_removed"] is None
        else:
            assert op["rows_removed"] > 0
        assert op["files_rewritten"] == spark_op["files_rewritten"] > 0
    if name == "emptied":
        # partition 2 had no surviving row, so no file is left there
        merged = _manifest(str(tmp_path / f"b{default}"), 1)
        assert all(e["partition"] != {"part": "2"} for e in merged["files"])


def test_op_record(spark, tmp_path, monkeypatch):
    """Each commit records its own operation, rewrite path, file counts
    and removed rows; none carries into the next version.  MERGE's kept
    rows land in the update's own stage when the schemas match."""
    tdir = str(tmp_path / "t")
    overwrite_table(_base(spark, 6).coalesce(1), tdir, partition_cols=["part"])
    # 3 lives in partition 0 with 0
    merge_table(spark, tdir, _base(spark, 6).filter("k = 3"), key_cols=["k"],
                partition_cols=["part"])
    # 4 lives in partition 1 with 1
    delete_from_table(spark, tdir, spark.createDataFrame([(4,)], "k long"), key_cols=["k"])
    ops = [_manifest(tdir, v)["op"] for v in range(3)]
    counts = ["files_added", "files_rewritten", "files_carried", "rows_removed"]
    assert [op["operation"] for op in ops] == ["overwrite", "merge", "delete"]
    assert [op["rewrite"] for op in ops] == [None, "driver", "driver"]
    assert [[op[c] for c in counts] for op in ops] == [
        [3, 0, 0, None], [2, 1, 2, 1], [1, 1, 3, 1],
    ]
    merged = _manifest(tdir, 1)
    assert len(merged["schemas"]) == 2
    part0 = {e["path"].split(os.sep, 1)[0] for e in merged["files"]
             if e["partition"] == {"part": "0"}}
    assert part0 == set(merged["schemas"]) - set(_manifest(tdir, 0)["schemas"])

    monkeypatch.setattr(mt, "PROBE_ROWS", 0)
    merge_table(spark, tdir, _base(spark, 6).filter("k = 0"), key_cols=["k"],
                partition_cols=["part"])
    op = _manifest(tdir)["op"]
    assert (op["rewrite"], op["files_rewritten"], op["rows_removed"]) == ("spark", 2, 1)
    assert sorted(r["k"] for r in read_table(spark, tdir).collect()) == [0, 1, 2, 3, 5]


@pytest.mark.parametrize("key_type", ["long", "string"])
@pytest.mark.parametrize("from_key", [True, False])
def test_merge_matches_boolean_partitions(spark, tmp_path, from_key, key_type):
    """A boolean partition value of the update matches the table's, as
    the manifest records it ('true', the path Spark wrote), not as
    Python prints it ('True'), whether MERGE reads its keys from the
    files it wrote (long) or collects them from the batch (string).
    The table reads the partition back as a string: Spark infers no
    boolean partition type."""
    schema = f"k {key_type}, flag boolean, v string"
    tdir = str(tmp_path / "t")
    overwrite_table(spark.createDataFrame([(1, True, "a"), (2, False, "b")], schema), tdir,
                    partition_cols=["flag"])
    merge_table(spark, tdir, spark.createDataFrame([(1, True, "a2")], schema),
                key_cols=["k"], partition_cols=["flag"], partition_from_key=from_key)
    got = sorted(
        (int(r.k), r.flag, r.v) for r in read_table(spark, tdir).select("k", "flag", "v").collect()
    )
    assert got == [(1, "true", "a2"), (2, "false", "b")]
