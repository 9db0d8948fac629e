"""CLI surface: list / query / request subcommands."""

from __future__ import annotations

import json
import os

from metrics_service_spark.__main__ import main
from metrics_service_spark.testing.fixtures import make_tables


def test_list_and_query(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "landing_page_daily" in out and "[oracle]" in out

    assert (
        main(["query", "ev_day_spine", "--sf-dir", "/root/testdata/sf0.001", "--limit", "2"])
        == 0
    )
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 2 and "day" in lines[0]


def test_request_roundtrip(spark, tmp_path, capsys):
    tables = make_tables(spark)
    for name in ("events", "identifiers", "citations"):
        getattr(tables, name).write.parquet(str(tmp_path / name))
    req = {
        "metricsPage": {"total": 0, "start": 0, "count": 0},
        "metrics": ["citations", "downloads", "views"],
        "filterBy": [
            {"filterType": "dataset", "values": ["doi:10.5063/A1"], "interpretAs": "list"},
            {
                "filterType": "month",
                "values": ["01/01/2018", "03/01/2018"],
                "interpretAs": "range",
            },
        ],
        "groupBy": ["month"],
    }
    (tmp_path / "req.json").write_text(json.dumps(req))
    rc = main(
        [
            "request",
            str(tmp_path / "req.json"),
            "--events", str(tmp_path / "events"),
            "--identifiers", str(tmp_path / "identifiers"),
            "--citations", str(tmp_path / "citations"),
        ]
    )
    assert rc == 0
    resp = json.loads(capsys.readouterr().out)
    # end-exclusive spine: a range ending 03/01 has no March bucket
    assert resp["results"]["months"] == ["2017-12", "2018-01", "2018-02"]
    assert resp["resultDetails"]["totalDownloads"] == 4


def test_sql_subcommand(capsys):
    rc = main(
        [
            "sql",
            "SELECT metrics_name, CAST(sum(metrics_value) AS BIGINT) AS total "
            "FROM metrics GROUP BY 1 ORDER BY 1",
            "--sf-dir", "/root/testdata/sf0.001",
        ]
    )
    assert rc == 0
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert {r["metrics_name"] for r in lines} == {"total_views", "total_downloads"}


def test_table_versions_prints_recorded_rows(spark, tmp_path, capsys, count_jobs):
    """`table versions` prints each version's live row total from the
    recorded per-file counts without a Spark job, and null for a version
    whose entries carry none."""
    from pyspark.sql import functions as F

    from metrics_service_spark.sources.merge_table import delete_from_table, overwrite_table

    tdir = str(tmp_path / "t")
    df = spark.range(6).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("int").alias("part")
    ).coalesce(1)
    overwrite_table(df, tdir, partition_cols=["part"])
    delete_from_table(spark, tdir, spark.createDataFrame([(0,), (3,)], "k long"), key_cols=["k"])
    v0 = os.path.join(tdir, "_manifests", "v0.json")
    with open(v0) as fh:
        m = json.load(fh)
    m["files"] = [{"path": e["path"], "partition": e["partition"]} for e in m["files"]]
    with open(v0, "w") as fh:
        json.dump(m, fh)

    assert count_jobs(lambda: main(["table", "versions", tdir])) == 0
    vers = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert vers == [
        {"version": 0, "files": 2, "rows": None},
        {"version": 1, "files": 2, "rows": 4},
    ]


def test_table_subcommand_roundtrip(spark, tmp_path, capsys):
    """table read/versions/compact/vacuum over a manifest table,
    including a time-travel read of the pre-merge version."""
    from pyspark.sql import functions as F

    from metrics_service_spark.sources.merge_table import (
        merge_table,
        overwrite_table,
    )

    tdir = str(tmp_path / "t")
    df = spark.range(6).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("int").alias("part"),
        F.lit("a").alias("v"),
    )
    overwrite_table(df, tdir, partition_cols=["part"])
    merge_table(
        spark,
        tdir,
        df.filter(F.col("part") == 0).withColumn("v", F.lit("b")),
        key_cols=["k"],
        partition_cols=["part"],
    )

    assert main(["table", "versions", tdir]) == 0
    vers = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert [v["version"] for v in vers] == [0, 1]

    assert main(["table", "read", tdir]) == 0
    rows = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert {r["v"] for r in rows if r["part"] == 0} == {"b"}

    # time travel: version 0 still has the original values
    assert main(["table", "read", tdir, "--version", "0"]) == 0
    rows0 = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert {r["v"] for r in rows0} == {"a"}

    # compact infers the partition layout from the manifest
    assert main(["table", "compact", tdir]) == 0
    assert json.loads(capsys.readouterr().out)["compacted_to_version"] == 2
    assert main(["table", "vacuum", tdir]) == 0
    assert json.loads(capsys.readouterr().out)["files_removed"] > 0
    assert main(["table", "read", tdir]) == 0
    rows2 = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert sorted((r["k"], r["v"]) for r in rows2) == sorted(
        (r["k"], r["v"]) for r in rows
    )


def test_table_delete_subcommand(spark, tmp_path, capsys):
    """table delete: rows vanish from the new snapshot, survive in the
    old one (until vacuum) — the CLI face of the GDPR expunge."""
    from pyspark.sql import functions as F

    from metrics_service_spark.sources.merge_table import overwrite_table

    tdir = str(tmp_path / "t")
    df = spark.range(6).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("int").alias("part"),
        F.lit("a").alias("v"),
    )
    overwrite_table(df, tdir, partition_cols=["part"])

    assert main(["table", "delete", tdir, "--key-col", "k", "--keys", "1,4"]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out == {"deleted_to_version": 1}

    assert main(["table", "read", tdir]) == 0
    rows = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert sorted(r["k"] for r in rows) == [0, 2, 3, 5]
    assert main(["table", "read", tdir, "--version", "0"]) == 0
    rows0 = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert len(rows0) == 6

    # missing args fail loudly
    assert main(["table", "delete", tdir, "--key-col", "k"]) == 2


def test_admit_subcommand(spark, tmp_path, capsys):
    batch1 = str(tmp_path / "b1")
    batch2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    ).write.parquet(batch1)
    spark.createDataFrame(
        [(3, [0.99, 0.01, 0.0, 0.0]), (4, [0.0, 0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    ).write.parquet(batch2)
    tdir = str(tmp_path / "semidx")

    assert main(["admit", tdir, "--batch", batch1, "--n-cells", "2"]) == 0
    rows = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert {r["vec_id"]: r["kept"] for r in rows} == {1: True, 2: True}

    assert main(["admit", tdir, "--batch", batch2, "--n-cells", "2"]) == 0
    rows = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    # 3 near-dups vector 1 already in the index; 4 is new
    assert {r["vec_id"]: r["kept"] for r in rows} == {3: False, 4: True}


def test_refresh_subcommand(spark, tmp_path, capsys):
    import itertools
    import math as m

    pairs = list(itertools.permutations(range(4), 2))
    rows = []
    for kk in range(24):
        a, b = pairs[kk % len(pairs)]
        th = m.radians(20 + 25 * ((kk // len(pairs)) % 3))
        v = [0.0] * 4
        v[a] = round(m.cos(th), 4)
        v[b] = round(m.sin(th), 4)
        rows.append((kk, v))
    batch = str(tmp_path / "b")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(batch)
    tdir = str(tmp_path / "semidx")
    # 10/11 = 0.909 admits everything here (max pairwise cos ~0.906)
    # while staying inside the int64 tau envelope — 99/100 would raise
    # (see test_admit_tau_out_of_bounds)
    assert main(
        ["admit", tdir, "--batch", batch, "--n-cells", "2",
         "--tau-num", "10", "--tau-den", "11"]
    ) == 0
    capsys.readouterr()

    # under budget: no-op (null version)
    assert main(["refresh", tdir, "--target-cell-size", "1000"]) == 0
    assert json.loads(capsys.readouterr().out.strip())["refreshed_to_version"] is None

    # over budget: migrates to a new version with more cells
    assert main(["refresh", tdir, "--target-cell-size", "4"]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert isinstance(out["refreshed_to_version"], int)
