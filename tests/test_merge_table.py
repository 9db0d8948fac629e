"""Manifest-committed parquet table (sources/merge_table): atomic
MERGE commits, snapshot isolation for concurrent readers, optimistic
concurrency, vacuum — the Delta/Iceberg semantics SURVEY §1 maps the
reference's versioned ES bulk upserts (es_eventlog_sync.py:485-547)
and transactional mat-view refreshes to."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from metrics_service_spark.plans.gold import metrics_star
from metrics_service_spark.sources.eventlog import eventlog_view
from metrics_service_spark.sources import merge_table as mt
from metrics_service_spark.sources.merge_table import (
    ConflictError,
    current_version,
    delete_from_table,
    merge_table,
    overwrite_table,
    read_table,
    _collect_keys,
    _distinct_keys,
    _files_holding_keys,
    _may_hold_keys,
    _member,
    vacuum,
)
from metrics_service_spark.sources.tables import load_table
from metrics_service_spark.streaming.gold_refresh import incremental_star_refresh


def _state(spark, n, tag):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("part"),
        F.lit(tag).alias("v"),
    )


def _rows(df):
    return sorted((r["k"], r["part"], r["v"]) for r in df.collect())


def test_overwrite_and_read_roundtrip(spark, tmp_path):
    tdir = str(tmp_path / "t")
    v = overwrite_table(_state(spark, 10, "a"), tdir, partition_cols=["part"])
    assert v == 0
    assert _rows(read_table(spark, tdir)) == _rows(_state(spark, 10, "a"))


def test_merge_upserts_and_carries_untouched_files(spark, tmp_path):
    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 9, "a"), tdir, partition_cols=["part"])
    # update keys 0,3 (both part=0) + insert key 90 (part=0): only the
    # part=0 files may be rewritten
    updates = _state(spark, 9, "b").filter(F.col("k").isin(0, 3)).unionByName(
        spark.createDataFrame([(90, 0, "b")], "k long, part int, v string")
    )
    merge_table(spark, tdir, updates, key_cols=["k"], partition_cols=["part"])

    got = _rows(read_table(spark, tdir))
    want = sorted(
        [(k, int(k % 3), "b" if k in (0, 3) else "a") for k in range(9)]
        + [(90, 0, "b")]
    )
    assert got == want

    # untouched partitions (part=1,2) carry the SAME file paths across
    # versions — merge cost is proportional to touched partitions
    mdir = os.path.join(tdir, "_manifests")
    with open(os.path.join(mdir, "v0.json")) as fh:
        v0 = {e["path"] for e in json.load(fh)["files"] if e["partition"]["part"] != "0"}
    with open(os.path.join(mdir, "v1.json")) as fh:
        v1 = {e["path"] for e in json.load(fh)["files"] if e["partition"]["part"] != "0"}
    assert v0 == v1 and v0


def test_snapshot_isolation_for_concurrent_readers(spark, tmp_path):
    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 6, "a"), tdir, partition_cols=["part"])
    snapshot = read_table(spark, tdir)  # resolved at v0
    merge_table(
        spark,
        tdir,
        _state(spark, 6, "b"),
        key_cols=["k"],
        partition_cols=["part"],
    )
    # the pre-commit reader still sees v0 in full; a fresh resolve sees v1
    assert _rows(snapshot) == _rows(_state(spark, 6, "a"))
    assert _rows(read_table(spark, tdir)) == _rows(_state(spark, 6, "b"))
    assert _rows(read_table(spark, tdir, version=0)) == _rows(_state(spark, 6, "a"))


def test_commit_conflict_raises(spark, tmp_path):
    from metrics_service_spark.sources.merge_table import _commit

    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 3, "a"), tdir)
    # two committers computed rewrites against v0 and race on v1:
    # the first wins, the second must see ConflictError (not silently
    # clobber or skip to v2 — its rewrite is based on a stale snapshot)
    assert _commit(tdir, [], 1) == 1
    with pytest.raises(ConflictError):
        _commit(tdir, [], 1)


def test_vacuum_reclaims_only_unreferenced(spark, tmp_path):
    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 6, "a"), tdir, partition_cols=["part"])
    merge_table(
        spark,
        tdir,
        _state(spark, 6, "b").filter(F.col("part") == 0),
        key_cols=["k"],
        partition_cols=["part"],
    )
    removed = vacuum(tdir)
    assert removed > 0  # the replaced part=0 files from v0
    # newest snapshot intact after vacuum
    want = sorted(
        (k, int(k % 3), "b" if k % 3 == 0 else "a") for k in range(6)
    )
    assert _rows(read_table(spark, tdir)) == want


def test_gold_refresh_manifest_format_converges(spark, sf_dir, tmp_path):
    ev = eventlog_view(load_table(spark, sf_dir, "events")).cache()
    # the regenerated fixtures span a single month; split by day so
    # the second batch is non-empty and re-touches the month partition
    jan = ev.filter(F.dayofmonth("dateLogged") <= 15)
    rest = ev.filter(F.dayofmonth("dateLogged") > 15)
    silver = str(tmp_path / "silver")
    star = str(tmp_path / "star")
    ckpt = str(tmp_path / "ckpt")

    key = [
        "dataset_id", "user_id", "repository", "award_number",
        "day", "month", "year", "country_code", "metrics_name",
    ]

    def rows(df):
        return sorted(
            tuple(r[c] for c in key + ["metrics_value"]) for r in df.collect()
        )

    jan.write.mode("append").parquet(silver)
    q = incremental_star_refresh(
        spark, silver, star, ckpt, table_format="manifest"
    )
    q.awaitTermination(120)
    assert rows(read_table(spark, star)) == rows(metrics_star(jan))
    v_after_b1 = current_version(star)

    # a reader resolved before batch 2 keeps its snapshot through the
    # concurrent refresh commit
    snapshot = read_table(spark, star)
    rest.write.mode("append").parquet(silver)
    q = incremental_star_refresh(
        spark, silver, star, ckpt, table_format="manifest"
    )
    q.awaitTermination(120)
    assert current_version(star) > v_after_b1
    assert rows(read_table(spark, star)) == rows(metrics_star(ev))
    assert rows(snapshot) == rows(metrics_star(jan))


def test_compact_bin_packs_fragmented_partitions(spark, tmp_path):
    from metrics_service_spark.sources.merge_table import compact_table

    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 9, "a"), tdir, partition_cols=["part"])
    # two merges against part=0 accrete two extra file sets there
    for tag in ("b", "c"):
        merge_table(
            spark,
            tdir,
            _state(spark, 9, tag).filter(F.col("part") == 0),
            key_cols=["k"],
            partition_cols=["part"],
        )
    before = _rows(read_table(spark, tdir))

    v = compact_table(spark, tdir, partition_cols=["part"])
    assert v == current_version(tdir)
    entries = json.load(
        open(os.path.join(tdir, "_manifests", f"v{v}.json"))
    )["files"]
    per_part: dict[str, int] = {}
    for e in entries:
        per_part[e["partition"]["part"]] = per_part.get(e["partition"]["part"], 0) + 1
    assert all(n == 1 for n in per_part.values()), per_part
    # data unchanged, older snapshots intact
    assert _rows(read_table(spark, tdir)) == before
    assert _rows(read_table(spark, tdir, version=0)) == _rows(_state(spark, 9, "a"))
    # already compact -> no new version
    assert compact_table(spark, tdir, partition_cols=["part"]) == v


def test_upsert_state_table_skips_unchanged_and_buckets(spark, tmp_path):
    """ST6 end-to-end: hash-diff upsert into the manifest table —
    replays commit nothing, changed families rewrite only their hash
    bucket's files."""
    from metrics_service_spark.streaming.sessions import upsert_state_table

    tdir = str(tmp_path / "state")

    def state(pairs):
        df = spark.createDataFrame(pairs, "user_id long, family array<string>")
        return df.withColumn(
            "bucket", F.pmod(F.xxhash64("user_id"), F.lit(4)).cast("int")
        )

    b1 = state([(1, ["a", "b"]), (2, ["x"]), (3, ["q", "r"])])
    v0 = upsert_state_table(
        spark, tdir, b1, key="user_id", members_col="family",
        partition_cols=["bucket"],
    )
    assert v0 == 0

    # replay: every hash unchanged -> no new version
    assert (
        upsert_state_table(
            spark, tdir, b1, key="user_id", members_col="family",
            partition_cols=["bucket"],
        )
        == v0
    )

    # user 2's family changes -> exactly one new version; the table
    # reflects the change and keeps the untouched families
    b2 = state([(1, ["a", "b"]), (2, ["x", "y"]), (3, ["q", "r"])])
    v1 = upsert_state_table(
        spark, tdir, b2, key="user_id", members_col="family",
        partition_cols=["bucket"],
    )
    assert v1 == v0 + 1
    got = {
        r["user_id"]: sorted(r["family"])
        for r in read_table(spark, tdir).collect()
    }
    assert got == {1: ["a", "b"], 2: ["x", "y"], 3: ["q", "r"]}


def test_upsert_state_table_retries_on_conflict(spark, tmp_path, monkeypatch):
    """A racing writer between snapshot read and commit triggers
    ConflictError; the upsert recomputes against the fresh version and
    lands — the reference's retry_on_conflict at table granularity."""
    from metrics_service_spark.sources import merge_table as mt
    from metrics_service_spark.streaming import sessions as ss

    tdir = str(tmp_path / "state")
    df1 = spark.createDataFrame(
        [(1, ["a"]), (2, ["b"])], "user_id long, family array<string>"
    )
    ss.upsert_state_table(
        spark, tdir, df1, key="user_id", members_col="family"
    )

    real_commit = mt._commit
    raced = {"done": False}

    def racing_commit(table_dir, files, version, **kw):
        # a competing writer lands the contested version first, once
        # (carrying the previous version's files, as a no-op merge would)
        if not raced["done"]:
            raced["done"] = True
            real_commit(table_dir, mt._load_manifest(table_dir, version - 1), version)
        return real_commit(table_dir, files, version, **kw)

    monkeypatch.setattr(mt, "_commit", racing_commit)
    df2 = spark.createDataFrame(
        [(1, ["a", "z"]), (2, ["b"])], "user_id long, family array<string>"
    )
    v = ss.upsert_state_table(
        spark, tdir, df2, key="user_id", members_col="family"
    )
    assert raced["done"] and v == 2  # v1 went to the racer, retry took v2
    got = {
        r["user_id"]: sorted(r["family"])
        for r in read_table(spark, tdir).collect()
    }
    assert got == {1: ["a", "z"], 2: ["b"]}


def test_merge_schema_evolution(spark, tmp_path):
    """An update batch may add columns (Delta mergeSchema semantics):
    surviving old rows and carried-forward partitions read NULL for
    the new column; old snapshots are untouched."""
    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 6, "a"), tdir, partition_cols=["part"])
    evolved = (
        _state(spark, 6, "b")
        .filter(F.col("part") == 0)
        .withColumn("score", F.col("k") * 10)
    )
    merge_table(
        spark, tdir, evolved, key_cols=["k"], partition_cols=["part"]
    )
    got = {
        r["k"]: (r["v"], r["score"])
        for r in read_table(spark, tdir).collect()
    }
    assert got == {
        0: ("b", 0),
        3: ("b", 30),
        1: ("a", None),
        4: ("a", None),
        2: ("a", None),
        5: ("a", None),
    }
    # time travel to the pre-evolution version still has the old schema
    assert "score" not in read_table(spark, tdir, version=0).columns


def test_read_table_partition_pruning(spark, tmp_path, monkeypatch):
    """partitions= prunes at the manifest level: the scan plan lists
    only the surviving files — file skipping without touching parquet
    footers of other partitions.  The Spark read (`ONE_TASK_BYTES`
    0), whose plan names its files; see the driver read below."""
    monkeypatch.setattr(mt, "ONE_TASK_BYTES", 0)
    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 9, "a"), tdir, partition_cols=["part"])
    df = read_table(spark, tdir, partitions={"part": 1})
    assert sorted(r["k"] for r in df.collect()) == [1, 4, 7]
    # the pruned scan's file list excludes the other partitions
    files = df.inputFiles()
    assert files and all("part=1" in f for f in files)
    with pytest.raises(ValueError, match="no files match"):
        read_table(spark, tdir, partitions={"part": 99})


def test_driver_read_partition_pruning(spark, tmp_path):
    """The driver read of a pruned snapshot opens only the surviving
    files: with every other partition's files gone from disk it still
    reads, and gives the pruned rows."""
    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 9, "a"), tdir, partition_cols=["part"])
    for e in _manifest(tdir)["files"]:
        if e["partition"]["part"] != "1":
            os.remove(os.path.join(tdir, e["path"]))
    df = read_table(spark, tdir, partitions={"part": 1})
    assert not df.inputFiles()
    assert sorted(r["k"] for r in df.collect()) == [1, 4, 7]


def test_merge_global_key_match_rewrites_moved_key(spark, tmp_path):
    """Delta MERGE matches keys globally: when an updated key arrives
    with a NEW partition value, its old row in the old partition is
    rewritten out (key-probe of carried files), not duplicated."""
    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 9, "a"), tdir, partition_cols=["part"])
    # key 5 lived in part=2 (5 % 3); it moves to part=0
    moved = spark.createDataFrame([(5, 0, "moved")], "k long, part int, v string")
    merge_table(spark, tdir, moved, key_cols=["k"], partition_cols=["part"])
    got = [(k, p, v) for k, p, v in _rows(read_table(spark, tdir)) if k == 5]
    assert got == [(5, 0, "moved")]


def test_merge_partition_from_key_contract(spark, tmp_path):
    """partition_from_key=True skips the carried-file key probe — the
    caller asserts partition values are a function of the key.  When
    the key stays in its derived partition the merge is exact; the
    probe-skip is the documented trade, not silent."""
    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 9, "a"), tdir, partition_cols=["part"])
    upd = _state(spark, 9, "b").filter(F.col("k") == 4)  # part = 4 % 3 = 1
    merge_table(
        spark, tdir, upd, key_cols=["k"], partition_cols=["part"],
        partition_from_key=True,
    )
    got = [(k, p, v) for k, p, v in _rows(read_table(spark, tdir)) if k == 4]
    assert got == [(4, 1, "b")]


def test_merge_expected_base_detects_intervening_commit(spark, tmp_path):
    """expected_base pins the snapshot a read-modify-write was computed
    against: an intervening commit raises ConflictError before any
    rewrite (no silent lost update)."""
    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 6, "a"), tdir, partition_cols=["part"])
    observed = current_version(tdir)
    # a racer lands v1
    merge_table(
        spark, tdir, _state(spark, 6, "b").filter(F.col("part") == 0),
        key_cols=["k"], partition_cols=["part"],
    )
    with pytest.raises(ConflictError, match="expected base"):
        merge_table(
            spark, tdir, _state(spark, 6, "c").filter(F.col("part") == 1),
            key_cols=["k"], partition_cols=["part"], expected_base=observed,
        )


def test_vacuum_spares_inflight_stage_until_retention(spark, tmp_path):
    """Files referenced by NO manifest may belong to an in-flight
    merge that has staged data but not committed — vacuum must not
    delete them inside the retention window (the concurrent writer's
    commit would otherwise reference deleted files)."""
    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 6, "a"), tdir, partition_cols=["part"])
    merge_table(
        spark, tdir, _state(spark, 6, "b").filter(F.col("part") == 0),
        key_cols=["k"], partition_cols=["part"],
    )
    # simulate an in-flight writer: staged parquet, no manifest yet
    from metrics_service_spark.sources.merge_table import _write_files

    staged = _write_files(
        _state(spark, 3, "inflight"), tdir, ["part"]
    )
    staged_paths = [os.path.join(tdir, e["path"]) for e in staged]

    removed = vacuum(tdir)  # default 1h retention
    assert removed > 0  # superseded v0 part=0 files reclaimed at once
    assert all(os.path.exists(p) for p in staged_paths)  # stage spared

    # past the retention window the aborted stage is reclaimable
    assert vacuum(tdir, retention_seconds=0.0) == len(staged_paths)
    assert not any(os.path.exists(p) for p in staged_paths)


def test_partition_values_hive_escaped_roundtrip(spark, tmp_path):
    """String partition values with chars Spark %XX-escapes in
    directory names (space, '=', '/') still match in merge's
    touched-set and read_table's partitions= filter — manifests store
    the unescaped value."""
    tdir = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "us west", "a"), (2, "a=b", "a"), (3, "x/y", "a")],
        "k long, region string, v string",
    )
    overwrite_table(df, tdir, partition_cols=["region"])
    # update key 1 in the escaped partition: the stale row must be
    # rewritten out, not carried forward as a duplicate
    upd = spark.createDataFrame([(1, "us west", "b")], "k long, region string, v string")
    merge_table(spark, tdir, upd, key_cols=["k"], partition_cols=["region"])
    got = sorted((r["k"], r["region"], r["v"]) for r in read_table(spark, tdir).collect())
    assert got == [(1, "us west", "b"), (2, "a=b", "a"), (3, "x/y", "a")]
    pruned = read_table(spark, tdir, partitions={"region": "us west"})
    assert [(r["k"], r["v"]) for r in pruned.collect()] == [(1, "b")]


def test_null_partition_value_rejected(spark, tmp_path):
    """NULL partition values (__HIVE_DEFAULT_PARTITION__) are not
    representable in the manifest matching contract — fail fast."""
    tdir = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, None, "a")], "k long, region string, v string"
    )
    with pytest.raises(ValueError, match="non-null"):
        overwrite_table(df, tdir, partition_cols=["region"])


def test_two_writer_race_real_conflict_then_linear_history(spark, tmp_path):
    """A true two-writer race: both writers snapshot the SAME base
    version (barrier), merge disjoint key sets, and commit — exactly
    one wins the contested version, the loser sees a real
    ConflictError and retries against the fresh snapshot.  Both
    batches land; version history is linear (v0..v2, no gaps)."""
    import threading

    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 6, "base"), tdir, partition_cols=["part"])

    barrier = threading.Barrier(2, timeout=60)
    conflicts: list[str] = []
    errors: list[BaseException] = []

    def writer(tag: str, lo: int):
        batch = spark.createDataFrame(
            [(lo + i, (lo + i) % 3, tag) for i in range(3)],
            "k long, part int, v string",
        )
        first = True
        try:
            for _ in range(5):
                observed = current_version(tdir)
                if first:
                    barrier.wait()
                    first = False
                try:
                    merge_table(
                        spark, tdir, batch, key_cols=["k"],
                        partition_cols=["part"], expected_base=observed,
                    )
                    return
                except ConflictError:
                    conflicts.append(tag)
            raise AssertionError(f"writer {tag} never landed")
        except BaseException as ex:  # surface thread failures to the test
            errors.append(ex)

    t1 = threading.Thread(target=writer, args=("w1", 100))
    t2 = threading.Thread(target=writer, args=("w2", 200))
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errors, errors
    assert conflicts, "race never produced a real ConflictError"

    assert current_version(tdir) == 2  # linear: v0 + one commit each
    got = _rows(read_table(spark, tdir))
    w1 = [(k, p, v) for k, p, v in got if v == "w1"]
    w2 = [(k, p, v) for k, p, v in got if v == "w2"]
    assert len(w1) == 3 and len(w2) == 3
    base_rows = [(k, p, v) for k, p, v in got if v == "base"]
    assert len(base_rows) == 6


def test_merge_moved_key_numeric_string_partition(spark, tmp_path):
    """The global key probe must survive Hive partition-type
    inference: a string partition value '01' reads back from the path
    as int 1, so any value-based match would miss — the probe matches
    part-file paths instead.  A key moving out of such a partition
    still gets its stale row rewritten."""
    tdir = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "01", "a"), (2, "01", "a"), (3, "002", "a")],
        "k long, grp string, v string",
    )
    overwrite_table(df, tdir, partition_cols=["grp"])
    # key 3 moves from grp='002' to grp='01'
    upd = spark.createDataFrame(
        [(3, "01", "moved")], "k long, grp string, v string"
    )
    merge_table(spark, tdir, upd, key_cols=["k"], partition_cols=["grp"])
    got = sorted(
        (r["k"], str(r["grp"]), r["v"])
        for r in read_table(spark, tdir).collect()
    )
    # no duplicate row for key 3; grp read back via Hive inference
    # (string '01'/'002' may come back as int — compare the key set)
    ks = [k for k, _, _ in got]
    assert sorted(ks) == [1, 2, 3]
    assert [v for k, _, v in got if k == 3] == ["moved"]


def test_delete_from_table_rewrites_only_touched_files(spark, tmp_path):
    """DELETE by key: rows vanish from the new snapshot; files without
    a matching key carry by reference; old versions still time-travel
    to the pre-delete state until vacuum."""
    from metrics_service_spark.sources.merge_table import delete_from_table

    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 9, "a"), tdir, partition_cols=["part"])
    keys = spark.createDataFrame([(0,), (4,)], "k long")  # parts 0 and 1
    v = delete_from_table(spark, tdir, keys, key_cols=["k"])
    assert v == 1
    got = sorted(k for k, _, _ in _rows(read_table(spark, tdir)))
    assert got == [1, 2, 3, 5, 6, 7, 8]
    # untouched partition (part=2) carries the same file paths
    v0 = {e["path"] for e in json.load(open(os.path.join(tdir, "_manifests", "v0.json")))["files"] if e["partition"]["part"] == "2"}
    v1 = {e["path"] for e in json.load(open(os.path.join(tdir, "_manifests", "v1.json")))["files"] if e["partition"]["part"] == "2"}
    assert v0 == v1 and v0
    # time travel still sees the deleted rows; no-match delete is a no-op
    assert len(_rows(read_table(spark, tdir, version=0))) == 9
    assert delete_from_table(
        spark, tdir, spark.createDataFrame([(999,)], "k long"), key_cols=["k"]
    ) == 1


def test_delete_entire_table_contents(spark, tmp_path):
    """Deleting every key leaves a valid committed version whose reads
    fail loudly on the empty manifest (documented read_table contract)
    while older versions stay readable."""
    from metrics_service_spark.sources.merge_table import delete_from_table

    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 3, "a"), tdir, partition_cols=["part"])
    all_keys = spark.createDataFrame([(0,), (1,), (2,)], "k long")
    v = delete_from_table(spark, tdir, all_keys, key_cols=["k"])
    assert v == 1
    with pytest.raises(ValueError, match="empty manifest"):
        read_table(spark, tdir)
    assert len(_rows(read_table(spark, tdir, version=0))) == 3


def test_manifest_meta_set_inherit_replace(spark, tmp_path):
    """Commit-scoped table metadata: set by one commit, inherited by
    meta-less commits (ordinary upserts must not drop table
    properties), replaced when passed explicitly, versioned with the
    snapshot."""
    from metrics_service_spark.sources.merge_table import (
        manifest_meta,
        merge_table,
        overwrite_table,
    )

    tdir = str(tmp_path / "meta_t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, p string")
    v0 = overwrite_table(df, tdir, partition_cols=["p"], meta={"gen": "g0"})
    assert manifest_meta(tdir, v0) == {"gen": "g0"}

    up = spark.createDataFrame([(2, "b")], "k long, p string")
    v1 = merge_table(spark, tdir, up, key_cols=["k"], partition_cols=["p"])
    assert manifest_meta(tdir, v1) == {"gen": "g0"}  # inherited
    assert manifest_meta(tdir) == {"gen": "g0"}      # newest by default

    v2 = overwrite_table(df, tdir, partition_cols=["p"], meta={"gen": "g1"})
    assert manifest_meta(tdir, v2) == {"gen": "g1"}
    assert manifest_meta(tdir, v0) == {"gen": "g0"}  # old version keeps its own


def _null_key_rows(spark, tdir):
    return sorted(((r["k"], r["part"], r["v"]) for r in read_table(spark, tdir).collect()),
                  key=str)


def _null_key_table(spark, tdir):
    df = spark.createDataFrame(
        [(None, 0, "a"), (1, 0, "a"), (2, 1, "a"), (4, 1, "a")],
        "k long, part int, v string",
    )
    overwrite_table(df, tdir, partition_cols=["part"])


def test_null_table_key_survives_merge_and_delete(spark, tmp_path):
    """A table row whose key is NULL matches no key: MERGE and DELETE
    keep it, whatever the batch holds (an equi-join never matches
    NULL)."""
    tdir = str(tmp_path / "t")
    _null_key_table(spark, tdir)
    upd = spark.createDataFrame([(1, 0, "b"), (2, 0, "b")], "k long, part int, v string")
    merge_table(spark, tdir, upd, key_cols=["k"], partition_cols=["part"])
    want = [(None, 0, "a"), (1, 0, "b"), (2, 0, "b"), (4, 1, "a")]
    assert _null_key_rows(spark, tdir) == sorted(want, key=str)

    keys = spark.createDataFrame([(2,), (None,)], "k long")
    delete_from_table(spark, tdir, keys, key_cols=["k"])
    want = [(None, 0, "a"), (1, 0, "b"), (4, 1, "a")]
    assert _null_key_rows(spark, tdir) == sorted(want, key=str)


def test_null_batch_key_inserts_and_replaces_nothing(spark, tmp_path):
    """A batch row whose key is NULL is inserted and replaces no row,
    not even the table's own NULL-key row."""
    tdir = str(tmp_path / "t")
    _null_key_table(spark, tdir)
    upd = spark.createDataFrame([(None, 0, "n"), (None, 1, "n")], "k long, part int, v string")
    merge_table(spark, tdir, upd, key_cols=["k"], partition_cols=["part"])
    want = [(None, 0, "a"), (None, 0, "n"), (None, 1, "n"),
            (1, 0, "a"), (2, 1, "a"), (4, 1, "a")]
    assert _null_key_rows(spark, tdir) == sorted(want, key=str)


def test_two_column_key_merge_and_delete(spark, tmp_path):
    """A (year, month) key matches on the pair: rows sharing only the
    year or only the month with a batch key stay, and so does a row
    whose month is NULL, even against a key whose month is NULL."""
    tdir = str(tmp_path / "t")
    schema = "year int, month int, part int, v string"
    df = spark.createDataFrame(
        [(2023, 1, 0, "a"), (2023, 2, 1, "a"), (2024, 1, 0, "a"),
         (2024, 2, 1, "a"), (2024, 3, 0, "a"), (2024, None, 1, "a")],
        schema,
    )
    overwrite_table(df, tdir, partition_cols=["part"])

    def rows():
        return sorted(
            tuple(r[c] for c in ("year", "month", "part", "v"))
            for r in read_table(spark, tdir).where("month IS NOT NULL").collect()
        )

    def null_month_rows():
        return read_table(spark, tdir).where("month IS NULL").count()

    # (2023, 2) moves to part 0 (found by the carried-file probe),
    # (2024, 1) is replaced in place, (2025, 1) is new
    upd = spark.createDataFrame(
        [(2023, 2, 0, "b"), (2024, 1, 0, "b"), (2025, 1, 0, "b")], schema
    )
    merge_table(spark, tdir, upd, key_cols=["year", "month"], partition_cols=["part"])
    assert null_month_rows() == 1
    assert rows() == [
        (2023, 1, 0, "a"), (2023, 2, 0, "b"), (2024, 1, 0, "b"),
        (2024, 2, 1, "a"), (2024, 3, 0, "a"), (2025, 1, 0, "b"),
    ]

    keys = spark.createDataFrame(
        [(2024, 2), (2023, 3), (2024, None)], "year int, month int"
    )
    delete_from_table(spark, tdir, keys, key_cols=["year", "month"])
    assert null_month_rows() == 1
    assert rows() == [
        (2023, 1, 0, "a"), (2023, 2, 0, "b"), (2024, 1, 0, "b"),
        (2024, 3, 0, "a"), (2025, 1, 0, "b"),
    ]


def test_membership_literals_for_every_key_type(spark):
    """The membership filter's SQL literals equal the collected key
    values for each column type a key may have, and the key set that
    MERGE and DELETE collect through Arrow holds the values and gives
    the literals that `collect()` gives: quotes and backslashes
    in strings, dates, both timestamp kinds, decimals, bytes, floats,
    booleans.  A struct key of narrower literals matches wider
    columns, as when a batch's key types are narrower than the
    table's."""
    import datetime as dt
    from decimal import Decimal

    df = spark.createDataFrame(
        [
            (1, 2, 3, 4, "a'b\\c", dt.date(2020, 1, 2),
             dt.datetime(2020, 1, 2, 3, 4, 5, 6), dt.datetime(2020, 1, 2, 3, 4),
             Decimal("1.50"), b"\x00'\xff", 0.1, True),
            (5, 6, 7, 8, "a'b", dt.date(1999, 12, 31),
             dt.datetime(1970, 1, 1), dt.datetime(1970, 1, 1),
             Decimal("-2.25"), b"", -1e300, False),
        ],
        "b byte, h short, i int, l long, s string, d date, t timestamp, "
        "n timestamp_ntz, m decimal(6,2), x binary, f double, z boolean",
    )
    rows = df.collect()
    first = rows[0]

    def collected(cols):
        """The key set as MERGE and DELETE collect it."""
        fields = [df.schema[c] for c in cols]
        return fields, _distinct_keys(_collect_keys(df, cols), fields)

    for c in df.columns:
        fields, keys = collected([c])
        assert keys == {(r[c],) for r in rows}, c
        member = _member(fields, {(first[c],)})
        assert str(_member(fields, {k for k in keys if k == (first[c],)})) == str(member), c
        assert df.filter(member).collect() == [first], c
    fields, keys = collected(["i", "s"])
    assert keys == {(3, "a'b\\c"), (7, "a'b")}
    pair = _member(fields, {(3, "a'b\\c"), (7, "b")})
    assert df.filter(pair).collect() == [first]
    wide = df.selectExpr("CAST(h AS long) AS h", "CAST(i AS long) AS i")
    narrow = _member([df.schema["h"], df.schema["i"]], {(2, 3), (6, 3)})
    assert wide.filter(narrow).count() == 1
    assert df.filter(_member([df.schema["i"]], set())).count() == 0


def _manifest(tdir, version=None):
    version = current_version(tdir) if version is None else version
    with open(os.path.join(tdir, "_manifests", f"v{version}.json")) as fh:
        return json.load(fh)


def test_path_match_when_one_task_writes_many_partitions(spark, tmp_path):
    """One write task gives its file the same name in every partition it
    writes, and "a b/c" is Hive-escaped on disk and %-encoded again in
    input_file_name: MERGE's probe and DELETE must still rewrite only
    the one file holding the key."""
    tdir = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a b/c", "a"), (2, "a b/c", "a"), (3, "x", "a"), (4, "y", "a")],
        "k long, region string, v string",
    ).coalesce(1)
    overwrite_table(df, tdir, partition_cols=["region"])
    v0 = {e["partition"]["region"]: e["path"] for e in _manifest(tdir)["files"]}
    assert len({os.path.basename(p) for p in v0.values()}) == 1

    # key 1 moves out of "a b/c": the probe must pick that file alone
    upd = spark.createDataFrame([(1, "x", "b")], "k long, region string, v string")
    merge_table(spark, tdir, upd, key_cols=["k"], partition_cols=["region"])
    v1 = {e["path"] for e in _manifest(tdir)["files"]}
    assert v0["y"] in v1
    assert v0["a b/c"] not in v1 and v0["x"] not in v1

    # key 2 lives in "a b/c" alone: only that partition's file is rewritten
    before = {e["path"] for e in _manifest(tdir)["files"]}
    delete_from_table(
        spark, tdir, spark.createDataFrame([(2,)], "k long"), key_cols=["k"]
    )
    after = {e["path"] for e in _manifest(tdir)["files"]}
    gone = before - after
    assert len(gone) == 1 and "a b%2Fc" in next(iter(gone))
    got = sorted(tuple(r) for r in read_table(spark, tdir).collect())
    assert got == [(1, "b", "x"), (3, "a", "x"), (4, "a", "y")]


@pytest.mark.parametrize("partition_cols", [["p"], []])
def test_delete_keeps_column_order(spark, tmp_path, partition_cols):
    """DELETE's rewrite must keep the table's column order, or the read
    order would depend on which commit directory sorts first."""
    tdir = str(tmp_path / "t")
    df = spark.range(12).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("u"),
        (F.col("id") % 2).cast("int").alias("p"),
    )
    overwrite_table(df, tdir, partition_cols=partition_cols)
    for u in (0, 1, 2):
        delete_from_table(
            spark, tdir, spark.createDataFrame([(u,)], "u long"), key_cols=["u"]
        )
        assert read_table(spark, tdir).columns == ["k", "u", "p"]
        data_cols = ["k", "u"] if partition_cols else ["k", "u", "p"]
        for schema in _manifest(tdir)["schemas"].values():
            assert [f["name"] for f in schema["fields"]] == data_cols
    assert sorted(r["k"] for r in read_table(spark, tdir).collect()) == [3, 7, 11]


def test_delete_entire_unpartitioned_table(spark, tmp_path):
    """An unpartitioned write of no rows leaves one empty part file; it
    must not enter the manifest."""
    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 4, "a"), tdir)
    all_keys = spark.createDataFrame([(k,) for k in range(4)], "k long")
    assert delete_from_table(spark, tdir, all_keys, key_cols=["k"]) == 1
    assert _manifest(tdir)["files"] == [] and _manifest(tdir)["schemas"] == {}
    with pytest.raises(ValueError, match="empty manifest"):
        read_table(spark, tdir)


def test_manifest_records_one_schema_per_live_stage(spark, tmp_path):
    """Each commit records its data schema (partition columns excluded)
    once; a stage's schema stays while the version references its files
    and goes with its last file."""
    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 6, "a"), tdir, partition_cols=["part"])
    merge_table(
        spark, tdir, _state(spark, 6, "b").filter(F.col("part") == 0),
        key_cols=["k"], partition_cols=["part"],
    )
    m = _manifest(tdir)
    stages = {e["path"].split(os.sep, 1)[0] for e in m["files"]}
    assert set(m["schemas"]) == stages and len(stages) == 2
    assert all(set(e) == {"path", "partition", "rows", "min", "max"} for e in m["files"])
    # stats cover the integral data column only; partition columns and
    # strings record none
    assert all(set(e["min"]) == set(e["max"]) == {"k"} for e in m["files"])
    assert sum(e["rows"] for e in m["files"]) == 6
    for schema in m["schemas"].values():
        assert [f["name"] for f in schema["fields"]] == ["k", "v"]
    # rewriting every partition drops the first commit's stage and schema
    merge_table(
        spark, tdir, _state(spark, 6, "c"), key_cols=["k"], partition_cols=["part"]
    )
    m = _manifest(tdir)
    assert len(m["schemas"]) == 1
    assert set(m["schemas"]) == {e["path"].split(os.sep, 1)[0] for e in m["files"]}


def test_read_without_recorded_schema_falls_back_to_inference(
    spark, tmp_path, count_jobs
):
    """A manifest written before schemas were recorded still reads: its
    stages infer their schema (a Spark job), and the result has the same
    schema and rows as a read of the recorded schema — partition types
    are inferred from the paths either way ("01" reads back as int)."""
    tdir = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "01", 1.5, ["a"]), (2, "02", None, [])],
        "k long, grp string, x double, tags array<string>",
    ).withColumn("ts", F.timestamp_seconds(F.col("k")))
    overwrite_table(df, tdir, partition_cols=["grp"])
    recorded = read_table(spark, tdir)

    path = os.path.join(tdir, "_manifests", "v0.json")
    legacy = _manifest(tdir)
    del legacy["schemas"]
    with open(path, "w") as fh:
        json.dump(legacy, fh)
    assert count_jobs(lambda: read_table(spark, tdir)) > 0
    inferred = read_table(spark, tdir)
    assert inferred.schema == recorded.schema
    assert dict(inferred.dtypes)["grp"] == "int"
    assert sorted(inferred.collect()) == sorted(recorded.collect())

    # a commit on top records the stages it wrote only (the update's
    # and the Spark rewrite's: the legacy stage records no schema to
    # rewrite on the driver by); the mixed table reads
    legacy_stage = legacy["files"][0]["path"].split(os.sep, 1)[0]
    upd = spark.createDataFrame([(3, "01", 2.5, ["c"])], df.drop("ts").schema)
    merge_table(
        spark, tdir, upd.withColumn("ts", F.timestamp_seconds(F.col("k"))),
        key_cols=["k"], partition_cols=["grp"],
    )
    m = _manifest(tdir)
    assert m["op"]["rewrite"] == "spark"
    assert set(m["schemas"]) == {e["path"].split(os.sep, 1)[0] for e in m["files"]} - {
        legacy_stage
    }
    assert sorted(r["k"] for r in read_table(spark, tdir).collect()) == [1, 2, 3]


def _commits(spark, tdir, n):
    """A table of `n` live commits, each inserting keys of its own
    partition."""
    for i in range(n):
        batch = spark.createDataFrame(
            [(10 * i + j, i, "a") for j in range(3)], "k long, part int, v string"
        )
        merge_table(spark, tdir, batch, key_cols=["k"], partition_cols=["part"])


def test_manifest_layer_job_budget(spark, tmp_path, count_jobs):
    _manifest_layer_job_budget(spark, tmp_path, count_jobs)


def test_manifest_layer_job_budget_spark_probe(spark, tmp_path, count_jobs, monkeypatch):
    """The same budget with the key probe on Spark (`PROBE_ROWS` 0)."""
    monkeypatch.setattr(mt, "PROBE_ROWS", 0)
    _manifest_layer_job_budget(spark, tmp_path, count_jobs)


def _manifest_layer_job_budget(spark, tmp_path, count_jobs):
    """Reads plan from the manifest: no Spark job on a table of several
    commits (see `test_manifest_reads_list_files_on_the_driver` for
    tables past Spark's parallel-listing threshold).  MERGE and DELETE
    cost the same number of jobs at 2 and at 5 live commits, with and
    without a key probe, so cost does not grow with the commit count.
    A merge whose keys fall outside every carried file's recorded key
    range launches no probe job: it costs what a merge that skips the
    probe by contract costs.  A merge whose key needs the probe costs
    the same on the driver probe and more on the Spark probe
    (`PROBE_ROWS` 0).  At the default bounds the probe and the rewrite
    run on the driver: MERGE is 1 job, its write, and DELETE 1, its
    key collect."""
    _commits(spark, str(tmp_path / "r"), 3)
    assert count_jobs(lambda: read_table(spark, str(tmp_path / "r"))) == 0

    def merge_jobs(n, keys=(0, 99), **kw):
        tdir = str(tmp_path / f"m{n}-{'-'.join(map(str, keys))}-{len(kw)}")
        _commits(spark, tdir, n)
        upd = spark.createDataFrame(
            [(k, 0, "b") for k in keys], "k long, part int, v string"
        )
        return count_jobs(
            lambda: merge_table(
                spark, tdir, upd, key_cols=["k"], partition_cols=["part"], **kw
            )
        )

    def delete_jobs(n):
        tdir = str(tmp_path / f"d{n}")
        _commits(spark, tdir, n)
        keys = spark.createDataFrame([(1,)], "k long")
        return count_jobs(lambda: delete_from_table(spark, tdir, keys, key_cols=["k"]))

    # keys 0 and 99 lie outside the carried ranges [10i, 10i + 2]
    pruned = merge_jobs(5)
    assert pruned == merge_jobs(2)
    assert pruned == merge_jobs(5, partition_from_key=True)
    # key 11 (21) lies in part 1's (part 2's) range only: those merges
    # probe one carried file each, at the same cost at 2 and 5 commits
    probed = merge_jobs(5, keys=(0, 21))
    assert probed == merge_jobs(2, keys=(0, 11))
    assert delete_jobs(2) == delete_jobs(5)
    if mt.PROBE_ROWS:
        assert probed == pruned == 1
        assert delete_jobs(3) == 1
    else:
        assert probed > pruned


def _wide(spark, tdir, n_parts):
    """A one-commit table of `n_parts` files, one per partition; every
    file's recorded key range [p, p + 400 - n_parts] holds key 200."""
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") % n_parts).alias("part")
    )
    overwrite_table(df.coalesce(1), tdir, partition_cols=["part"])
    assert len(_manifest(tdir)["files"]) == n_parts


def test_manifest_reads_list_files_on_the_driver(spark, tmp_path, count_jobs):
    _manifest_reads_list_files_on_the_driver(spark, tmp_path, count_jobs)


def test_manifest_reads_list_files_on_the_driver_spark_probe(
    spark, tmp_path, count_jobs, monkeypatch
):
    """The same listing with the key probe on Spark (`PROBE_ROWS` 0)."""
    monkeypatch.setattr(mt, "PROBE_ROWS", 0)
    _manifest_reads_list_files_on_the_driver(spark, tmp_path, count_jobs)


def _manifest_reads_list_files_on_the_driver(spark, tmp_path, count_jobs):
    """A read of more than 32 files (Spark's parallel-listing threshold)
    plans without any Spark job, and MERGE and DELETE, whose key probe
    reads every file but the touched one, cost the same at 20 and at 40
    live files, on the driver probe and on the Spark probe.  Every read
    leaves the session's listing threshold as it found it, also one
    that raises on a file the manifest names but the disk lacks."""
    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(threshold)
    wide = str(tmp_path / "wide")
    _wide(spark, wide, 40)
    assert count_jobs(lambda: read_table(spark, wide)) == 0
    assert spark.conf.get(threshold) == before

    def merge_jobs(n):
        tdir = str(tmp_path / f"m{n}")
        _wide(spark, tdir, n)
        upd = spark.createDataFrame([(200, 0)], "k long, part long")
        return count_jobs(
            lambda: merge_table(spark, tdir, upd, key_cols=["k"], partition_cols=["part"])
        )

    def delete_jobs(n):
        tdir = str(tmp_path / f"d{n}")
        _wide(spark, tdir, n)
        keys = spark.createDataFrame([(200,)], "k long")
        return count_jobs(lambda: delete_from_table(spark, tdir, keys, key_cols=["k"]))

    assert merge_jobs(40) == merge_jobs(20)
    assert delete_jobs(40) == delete_jobs(20)

    os.remove(os.path.join(wide, _manifest(wide)["files"][7]["path"]))
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        read_table(spark, wide)
    assert spark.conf.get(threshold) == before


def test_concurrent_reads_restore_listing_threshold(spark, tmp_path, monkeypatch):
    """Concurrent reads from 8 threads, each raising the session's
    listing threshold for its own file count, leave it as they found
    it: a restore that interleaved with another read's would keep a
    raised value.  On the Spark read (`ONE_TASK_BYTES` 0), whose
    plans name their files."""
    import sys

    monkeypatch.setattr(mt, "ONE_TASK_BYTES", 0)
    from concurrent.futures import ThreadPoolExecutor

    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(threshold)
    tables = [str(tmp_path / f"t{n}") for n in (33, 40, 47)]
    for t, n in zip(tables, (33, 40, 47)):
        _wide(spark, t, n)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [
                pool.submit(read_table, spark, tables[i % 3]) for i in range(24)
            ]
            counts = {len(f.result(timeout=120).inputFiles()) for f in futures}
    finally:
        sys.setswitchinterval(interval)
    assert counts == {33, 40, 47}
    assert spark.conf.get(threshold) == before


def _strip_stats(tdir):
    """Rewrite every manifest without the recorded `rows`/`min`/`max`,
    as code that did not record them wrote it."""
    mdir = os.path.join(tdir, "_manifests")
    for name in os.listdir(mdir):
        path = os.path.join(mdir, name)
        with open(path) as fh:
            m = json.load(fh)
        m["files"] = [{"path": e["path"], "partition": e["partition"]} for e in m["files"]]
        with open(path, "w") as fh:
            json.dump(m, fh)


def test_merge_and_delete_without_recorded_stats(spark, tmp_path):
    """Entries without stats may hold any key: MERGE (with a key moving
    partitions) and DELETE leave the same rows on a manifest stripped of
    its stats as on one that has them."""
    got = []
    for strip in (False, True):
        tdir = str(tmp_path / f"t{strip}")
        _commits(spark, tdir, 4)
        if strip:
            _strip_stats(tdir)
        # key 21 moves from part 2 to part 0; key 5 is new
        upd = spark.createDataFrame(
            [(21, 0, "moved"), (5, 0, "b"), (0, 0, "b")], "k long, part int, v string"
        )
        merge_table(spark, tdir, upd, key_cols=["k"], partition_cols=["part"])
        after_merge = _rows(read_table(spark, tdir))
        # 22 and 30 sit on a file's recorded max and min
        keys = spark.createDataFrame([(11,), (22,), (30,), (77,)], "k long")
        delete_from_table(spark, tdir, keys, key_cols=["k"])
        got.append((after_merge, _rows(read_table(spark, tdir))))
    assert got[0] == got[1]
    after_merge, after_delete = got[0]
    assert [(p, v) for k, p, v in after_merge if k == 21] == [(0, "moved")]
    assert {k for k, _, _ in after_merge} - {k for k, _, _ in after_delete} == {11, 22, 30}


# --- the key probe on the driver vs the Spark probe ------------------------
# `_files_holding_keys` reads small probes' key columns with pyarrow
# (`PROBE_ROWS`); at bound 0 the Spark probe runs.  Both must find the
# same files, and MERGE and DELETE must leave the same rows.  Every
# table has a `part` partition column and a string `v`.


def _integral(spark, tdir):
    """Byte, short, int and long keys, each NULL on some rows, in files
    of several row groups.  Partition 0 holds even bytes and shorts
    only, the others odd ones, so every file's key range admits both."""
    p = F.col("id") % 3
    odd = (p != 0).cast("int")

    def nulled(every, value):
        return F.when(F.col("id") % every == 0, None).otherwise(value)

    df = spark.range(3000).select(
        nulled(11, F.col("id") % 50 * 2 + odd).cast("byte").alias("b"),
        nulled(13, F.col("id") % 500 * 2 + odd).cast("short").alias("h"),
        nulled(17, F.col("id")).cast("int").alias("i"),
        nulled(19, F.col("id") * 10**9).alias("l"),
        p.cast("int").alias("part"),
        F.lit("a").alias("v"),
    )
    spark.conf.set("parquet.block.size", "2048")
    try:
        overwrite_table(df.repartition(2, "i"), tdir, partition_cols=["part"])
    finally:
        spark.conf.unset("parquet.block.size")
    assert all(
        pq.read_metadata(os.path.join(tdir, e["path"])).num_row_groups > 1
        for e in _manifest(tdir)["files"]
    )


def _pairs(spark, tdir):
    """(year, month) keys, a NULL month among them, over two commits."""
    schema = "year int, month int, part int, v string"
    overwrite_table(spark.createDataFrame(
        [(2023, 1, 0, "a"), (2023, 2, 1, "a"), (2024, 1, 0, "a"), (2024, None, 1, "a")],
        schema,
    ), tdir, partition_cols=["part"])
    merge_table(spark, tdir, spark.createDataFrame(
        [(2024, 2, 2, "a"), (2024, 3, 2, "a"), (2025, None, 2, "a")], schema,
    ), key_cols=["year", "month"], partition_cols=["part"])


def _evolved(spark, tdir):
    """Key `u` arrives in the second commit: the first commit's files,
    and its stage's recorded schema, lack it."""
    overwrite_table(_state(spark, 9, "a"), tdir, partition_cols=["part"])
    merge_table(spark, tdir, _state(spark, 12, "b").filter("k = 9").withColumn(
        "u", F.col("k") % 2
    ), key_cols=["k"], partition_cols=["part"])


def _cased(spark, tdir):
    overwrite_table(_state(spark, 9, "a").withColumnRenamed("k", "K"), tdir,
                    partition_cols=["part"])


def _three_commits(spark, tdir):
    _commits(spark, tdir, 3)


def _stripped(spark, tdir):
    _three_commits(spark, tdir)
    _strip_stats(tdir)


def _schemaless(spark, tdir):
    _three_commits(spark, tdir)
    for name in os.listdir(os.path.join(tdir, "_manifests")):
        path = os.path.join(tdir, "_manifests", name)
        with open(path) as fh:
            m = json.load(fh)
        del m["schemas"]
        with open(path, "w") as fh:
            json.dump(m, fh)


def _texts(spark, tdir):
    overwrite_table(_state(spark, 9, "a").withColumn("s", F.col("k").cast("string")),
                    tdir, partition_cols=["part"])


# name: (table builder, key columns, key rows, their schema, whether
# the probe runs no Spark job)
PROBE_CASES = {
    "byte": (_integral, ["b"], [(3,), (77,), (None,)], "b byte", True),
    "short": (_integral, ["h"], [(5,), (999,), (None,)], "h short", True),
    "int": (_integral, ["i"], [(7,), (1150,), (None,)], "i int", True),
    # an int batch key against a long column
    "long": (_integral, ["l"], [(10**9,), (2 * 10**9,), (None,)], "l int", True),
    "long_wide": (_integral, ["l"], [(4 * 10**9,), (10**15,)], "l long", True),
    "pair": (_pairs, ["year", "month"],
             [(2024, 2), (2023, 1), (2024, None), (2025, None)], "year int, month int", True),
    "evolved": (_evolved, ["u"], [(1,)], "u long", True),
    "partition_key": (_three_commits, ["part"], [(1,)], "part int", False),
    "string_key": (_texts, ["s"], [("4",), ("x",)], "s string", False),
    "case_mismatch": (_cased, ["k"], [(4,), (8,)], "k long", False),
    "no_stats": (_stripped, ["k"], [(11,), (22,)], "k long", False),
    "no_schema": (_schemaless, ["k"], [(11,), (22,)], "k long", False),
    # outside every recorded key range: no entry is admitted
    "empty": (_three_commits, ["k"], [(5,), (99,)], "k long", True),
}


def _probe_args(spark, tdir, keys, key_cols):
    """`_files_holding_keys`' arguments as DELETE passes them."""
    m = _manifest(tdir)
    tbl = _collect_keys(keys, key_cols)
    fields = [keys.schema[c] for c in key_cols]
    keyset = _distinct_keys(tbl, fields)
    admitted = _may_hold_keys(m["files"], key_cols, keyset)
    return spark, tdir, admitted, m.get("schemas", {}), tbl, _member(fields, keyset)


def _table_rows(spark, tdir):
    df = read_table(spark, tdir)
    return sorted((tuple(r) for r in df.select(*sorted(df.columns)).collect()), key=repr)


@pytest.mark.parametrize("name", sorted(PROBE_CASES))
def test_driver_probe_equals_spark_probe(spark, tmp_path, count_jobs, monkeypatch, name):
    """The driver probe finds the same files as the Spark probe, with no
    Spark job, and MERGE (moving the keys' rows to partition 0) and
    DELETE leave the same rows; where the driver cannot read the keys
    as Spark does, the Spark probe runs at either bound."""
    build, key_cols, key_rows, key_schema, driver = PROBE_CASES[name]
    default = mt.PROBE_ROWS
    keys = spark.createDataFrame(key_rows, key_schema)
    tdir = str(tmp_path / "probe")
    build(spark, tdir)
    args = _probe_args(spark, tdir, keys, key_cols)
    hits = []
    jobs = count_jobs(lambda: hits.extend(_files_holding_keys(*args)))
    assert (jobs == 0) == driver
    if name == "empty":
        assert args[2] == hits == []
    else:
        assert 0 < len(hits) < len(_manifest(tdir)["files"])
    monkeypatch.setattr(mt, "PROBE_ROWS", 0)
    assert _files_holding_keys(*args) == hits

    got = []
    for bound in (default, 0):
        monkeypatch.setattr(mt, "PROBE_ROWS", bound)
        tdir = str(tmp_path / f"b{bound}")
        build(spark, tdir)
        moved = (
            read_table(spark, tdir).join(keys, key_cols, "left_semi")
            .withColumnsRenamed({c: c for c in key_cols})
            .withColumn("v", F.lit("moved")).withColumn("part", F.lit(0))
        )
        merge_table(spark, tdir, moved, key_cols=key_cols, partition_cols=["part"])
        after_merge = _table_rows(spark, tdir)
        delete_from_table(spark, tdir, keys, key_cols=key_cols)
        got.append((after_merge, _table_rows(spark, tdir)))
    assert got[0] == got[1]


def test_key_collect_is_one_bounded_job(spark, tmp_path, count_jobs, monkeypatch):
    """MERGE and DELETE collect their keys in one Spark job, as many as
    a plain `collect()` of the same columns, from a one-file parquet
    batch and from a frame of 4 partitions; a batch of more than
    `KEY_ROWS` rows raises with nothing committed, and the stage MERGE
    wrote before it counted the rows is removed."""
    path = str(tmp_path / "batch")
    rows = [(i, i % 3) for i in range(50)]
    spark.createDataFrame(rows, "k long, part int").coalesce(1).write.parquet(path)
    frames = [
        spark.read.parquet(path),
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), "k long, part int"),
    ]
    for df in frames:
        assert count_jobs(lambda: _collect_keys(df, ["part", "k"])) == 1
        assert count_jobs(lambda: df.select("part", "k").collect()) == 1

    tdir = str(tmp_path / "t")
    overwrite_table(_state(spark, 6, "a"), tdir, partition_cols=["part"])
    monkeypatch.setattr(mt, "KEY_ROWS", 2)
    batch = _state(spark, 3, "b")
    stages = sorted(os.listdir(tdir))
    with pytest.raises(ValueError, match="more than 2 rows"):
        merge_table(spark, tdir, batch, key_cols=["k"], partition_cols=["part"])
    assert sorted(os.listdir(tdir)) == stages
    with pytest.raises(ValueError, match="more than 2 rows"):
        delete_from_table(spark, tdir, batch, key_cols=["k"])
    assert current_version(tdir) == 0
    delete_from_table(spark, tdir, _state(spark, 2, "b"), key_cols=["k"])
    assert _rows(read_table(spark, tdir)) == [(k, k % 3, "a") for k in range(2, 6)]
