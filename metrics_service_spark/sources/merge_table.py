"""Manifest-committed parquet table: transactional MERGE for gold state.

Reference analog: `es_eventlog_sync` upserts session/family state into
an ES index with per-document versioned bulk updates and
`retry_on_conflict` (es_eventlog_sync.py:485-547,640-661); the
Postgres materialized views are refreshed wholesale inside a
transaction (02-metrics-materialized-views.sql).  SURVEY §1 maps both
to a transactional table format (Delta/Iceberg MERGE).  This container
has neither package, so this module implements the same commit
protocol those formats use, from parquet + JSON primitives only:

- Data files are immutable `part-*.parquet`, each pinned to one value
  of the partition columns.  The manifest records each file's partition
  values, its row count and the min/max of its integral columns, read
  from the footer at commit (file-skipping metadata, like Delta's
  add-file stats).
- A table VERSION is a JSON manifest (`_manifests/v{N}.json`) listing
  its data files.  Commits write the next-version manifest with
  O_EXCL create — two concurrent committers race on the version
  number and exactly one wins (optimistic concurrency, the loser
  retries on fresh state).
- The manifest also records each commit's data schema (partition
  columns excluded), once per commit directory ("stage") that still
  has live files: Spark never samples a footer to infer the schema
  (Delta keeps its schema in the log for the same reason).  Spark
  lists the files a manifest names on the driver, one local stat each,
  never with its parallel listing job, so a read of any file count
  plans without any Spark job.  This bounds the layer to POSIX paths
  (see `_driver_listing`).
- Old data files are never mutated or deleted by a commit, so a
  reader that resolved version N keeps a consistent snapshot while
  version N+1 lands (snapshot isolation for concurrent reads);
  `vacuum` reclaims files unreferenced by the newest manifest.
- `merge` is an upsert by key: only data files whose partition value
  appears in the update batch, or that hold an updated key, are
  rewritten (filter out the updated keys; the new rows are written
  beside them); untouched partitions carry their files forward by
  reference.  Replaying the same batch converges to the same state, so
  foreachBatch retries are safe.  Every commit records what it did
  (`op`: operation, where the rewrite ran, file and row counts).
- MERGE and DELETE hold the batch's keys on the driver once, one Arrow
  table of at most `KEY_ROWS` rows (past it they raise), and use them
  three times: recorded key ranges skip files before the key probe, the
  probe tests the remaining files for a key, and the rewrite drops the
  keys' rows.  The key set of one batch must fit on the driver (a
  broadcast join of it would need the same).  DELETE collects its keys
  in one Spark job.  MERGE with integral data key columns writes the
  batch first, its plan's only run, and reads the key columns of the
  files it wrote with pyarrow, no job.  Other keys (and a key in a
  partition column) are collected from the batch with its partition
  values in one job, and the batch plan runs again in the one write of
  its rows and the kept ones (`_keys_in_files`).
- The key probe and the rewrite run on the driver, with no Spark job,
  when the files involved record at most `PROBE_ROWS` rows in all and
  their integral key columns are data columns pyarrow reads as Spark
  does; the rewrite also needs one recorded schema of types pyarrow
  writes back as Spark wrote them (`_rewrite_on_driver`).  Otherwise a
  column-pruned Spark scan probes the files (`_files_holding_keys`),
  and a Spark job filters the hit files with a literal IN list and
  writes the rest.
- A snapshot read (`read_table`) always plans the Spark scan, job-free,
  for its schema.  When the recorded rows times Spark's row-size
  estimate fit `ONE_TASK_BYTES` and the driver can read the files
  as Spark does, pyarrow reads them on driver threads into a
  one-partition local relation of known size in that schema
  (`_driver_read`): a plan over it needs no exchange and no task opens
  a file, so a gold refresh is its write job alone.  Otherwise the
  Spark scan is the result.

At 100 TB the manifest lists file paths, partition values and a few
integers of stats per file (KBs per thousand files) and the MERGE
cost is proportional to the touched partitions and the files whose key
ranges admit an updated key, not the table — the same contract as
Delta MERGE with data skipping and dynamic file pruning.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
import uuid
from bisect import bisect_left
from contextlib import contextmanager
from datetime import date
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyarrow.fs import LocalFileSystem
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    ByteType,
    DataType,
    DateType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from metrics_service_spark.operators.driver import ONE_TASK_BYTES, _bounded_arrow

_MANIFEST_DIR = "_manifests"

#: Batch rows MERGE and DELETE collect to the driver for their key set
#: (MERGE's with its partition values); past it they raise.
KEY_ROWS = 1_000_000

#: Recorded rows of the range-admitted files up to which the key probe
#: reads their key columns on the driver instead of launching a Spark
#: job (SCALE.md crossover).
PROBE_ROWS = 10_000_000

# Spark/Hive encode special chars in partition directory names as %XX
# (escapePathName) and NULL as this sentinel.  Manifest entries store
# the UNESCAPED value so `merge`/`read_table(partitions=...)` compare
# against the caller's actual value, not the path encoding.
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_ESCAPE_RE = re.compile(r"%([0-9A-Fa-f]{2})")
_DIGITS = re.compile(r"[+-]?[0-9]+")

#: How the driver read opens a data file: INT96 timestamps (Spark's
#: default timestamp encoding) as microseconds, the unit Spark reads.
_PARQUET = ds.ParquetFileFormat(
    read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)


def _unescape_partition_value(raw: str) -> str:
    """Invert Spark's escapePathName: %XX hex escapes -> the char."""
    return _ESCAPE_RE.sub(lambda m: chr(int(m.group(1), 16)), raw)


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _MANIFEST_DIR, f"v{version}.json")


def current_version(table_dir: str) -> int:
    """Newest committed version, or -1 for an empty/new table."""
    mdir = os.path.join(table_dir, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return -1
    versions = [
        int(name[1:-5])
        for name in os.listdir(mdir)
        if name.startswith("v") and name.endswith(".json")
    ]
    return max(versions, default=-1)


def _read_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as fh:
        manifest = json.load(fh)
    # a manifest written before schemas were recorded has none
    manifest.setdefault("schemas", {})
    return manifest


def _load_manifest(table_dir: str, version: int) -> list[dict]:
    return _read_manifest(table_dir, version)["files"]


def _stage_of(entry: dict) -> str:
    return entry["path"].split(os.sep, 1)[0]


#: The integral types, which record min/max stats, with their SQL
#: literal suffixes.
_INTEGRAL = {ByteType: "Y", ShortType: "S", IntegerType: "", LongType: "L"}
#: Their type names in a recorded schema.
_INTEGRAL_NAMES = {t.typeName() for t in _INTEGRAL}


def _footer_stats(path: str, integral: set[str]) -> dict:
    """The recorded stats of one data file, from its parquet footer:
    `rows`, and `min`/`max` of each integral column whose every row
    group carries both (a column missing from either map may hold any
    value)."""
    md = pq.read_metadata(path)
    lo: dict[str, int] = {}
    hi: dict[str, int] = {}
    unknown: set[str] = set()
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            col = rg.column(c)
            name = col.path_in_schema
            if name not in integral:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                unknown.add(name)
                continue
            lo[name] = min(lo.get(name, st.min), st.min)
            hi[name] = max(hi.get(name, st.max), st.max)
    return {
        "rows": md.num_rows,
        "min": {k: v for k, v in lo.items() if k not in unknown},
        "max": {k: v for k, v in hi.items() if k not in unknown},
    }


def _write_files(
    df: DataFrame, table_dir: str, partition_cols: list[str]
) -> list[dict]:
    """Write df as immutable parquet files, one directory per commit,
    and return manifest entries [{path, partition: {col: value}, rows,
    min, max}].  `rows`, `min` and `max` come from each file's footer,
    read on the driver: `min`/`max` cover the integral (int8-int64)
    columns only, the ones MERGE and DELETE skip files by.

    Each entry also carries the commit's data schema (partition columns
    excluded) under "schema"; `_commit` moves it into the manifest's
    per-stage "schemas" map.  Partition columns stay out so that reads
    infer their types from the paths exactly as without a recorded
    schema."""
    stage = os.path.join(table_dir, f"stage-{uuid.uuid4().hex}")
    data = StructType([f for f in df.schema.fields if f.name not in partition_cols])
    schema = data.jsonValue()
    integral = {f.name for f in data.fields if type(f.dataType) in _INTEGRAL}
    if partition_cols:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(stage)
    else:
        df.write.mode("overwrite").parquet(stage)
    entries: list[dict] = []
    for root, _dirs, files in os.walk(stage):
        for name in files:
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, table_dir)
            part = {}
            for piece in os.path.relpath(root, stage).split(os.sep):
                if "=" in piece:
                    k, v = piece.split("=", 1)
                    if v == _HIVE_NULL:
                        raise ValueError(
                            f"NULL value in partition column {k!r}: manifest "
                            "partition values must be non-null (filter or "
                            "coalesce before writing)"
                        )
                    part[k] = _unescape_partition_value(v)
            entries.append(
                {"path": rel, "partition": part, **_footer_stats(path, integral),
                 "schema": schema}
            )
    return entries


def _commit(
    table_dir: str,
    files: list[dict],
    version: int,
    meta: dict | None = None,
    op: dict | None = None,
) -> int:
    """Commit `files` at exactly `version` (the version the committer
    computed its rewrite against, +1).  O_EXCL create makes exactly one
    of two racing committers win; the loser gets ConflictError and must
    recompute against the new current_version and retry.

    `meta` is small commit-scoped table metadata (Delta's
    commitInfo/table-properties analog — e.g. the semantic gate's
    centroid-file pointer).  When None, the PREVIOUS version's meta
    carries forward, so ordinary upserts never drop table properties
    set by an earlier commit; pass a dict (possibly {}) to replace.

    `op` records what this commit did, for this version only (never
    carried forward; see `_op`): the `operation`, where the `rewrite`
    of its hit files ran ("driver", "spark", or None when it rewrote
    none), and its `files_added`, `files_rewritten`, `files_carried`
    and `rows_removed` (None where the rows were not counted).  The
    new entries of `files` are those with a "schema"; the rest are
    carried.

    Entries keep their recorded stats (`rows`, `min`, `max`), carried
    or new.  The manifest keeps one data schema per stage `files`
    references:
    new entries bring theirs (see `_write_files`), carried ones keep
    the previous version's, and a stage's schema goes with its last
    file.  A stage written before schemas were recorded has none."""
    os.makedirs(os.path.join(table_dir, _MANIFEST_DIR), exist_ok=True)
    prev: dict = {}
    if version > 0:
        try:
            prev = _read_manifest(table_dir, version - 1)
        except FileNotFoundError:
            pass
    if meta is None:
        meta = prev.get("meta", {})
    known = prev.get("schemas", {})
    schemas: dict[str, dict] = {}
    committed: list[dict] = []
    for e in files:
        stage = _stage_of(e)
        if "schema" in e:
            schemas[stage] = e["schema"]
        elif stage in known:
            schemas[stage] = known[stage]
        committed.append({k: v for k, v in e.items() if k != "schema"})
    try:
        with open(_manifest_path(table_dir, version), "x") as fh:
            json.dump(
                {
                    "version": version,
                    "files": committed,
                    "schemas": schemas,
                    "meta": meta,
                    "op": {
                        "files_added": sum("schema" in e for e in files),
                        "files_carried": sum("schema" not in e for e in files),
                        **(op or _op(None)),
                    },
                },
                fh,
            )
        return version
    except FileExistsError:
        # lost the race; surface to the caller, whose rewrite was
        # computed against a stale snapshot
        raise ConflictError(
            f"version {version} already committed under {table_dir}"
        ) from None


def manifest_meta(table_dir: str, version: int | None = None) -> dict:
    """Commit-scoped metadata of `version` (newest by default).
    Versioned like the data: a reader that resolved version N reads
    N's meta and stays consistent while N+1 lands."""
    if version is None:
        version = current_version(table_dir)
    if version < 0:
        return {}
    return _read_manifest(table_dir, version).get("meta", {})


class ConflictError(RuntimeError):
    """Optimistic-concurrency conflict: recompute against the new
    current version and retry (the reference's retry_on_conflict)."""


_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_listing_lock = threading.Lock()


@contextmanager
def _driver_listing(spark: SparkSession, n_paths: int):
    """Within the block, Spark lists up to `n_paths` paths on the
    driver, not with its parallel listing job (one task per path, the
    default above 32 paths).  The session's threshold is restored
    after, under one module lock, so concurrent reads never restore
    each other's value.

    The bound: the manifest layer works on POSIX paths only.  The
    driver already touches every file the layer writes (`_write_files`
    walks the stage and reads each footer, `_commit` creates the
    manifest with O_EXCL), so one more local stat per read file is of
    the same order.  On an object store at 10^5 files per read, a
    driver stat per file would cost more than the job."""
    with _listing_lock:
        prev = spark.conf.get(_LISTING_THRESHOLD)
        spark.conf.set(_LISTING_THRESHOLD, str(max(int(prev), n_paths)))
        try:
            yield
        finally:
            spark.conf.set(_LISTING_THRESHOLD, prev)


def _stage_scans(
    spark: SparkSession,
    table_dir: str,
    entries: list[dict],
    schemas: dict[str, dict],
) -> list[DataFrame]:
    """One Spark scan per stage of the manifest entries (see
    `_read_files`), in stage order."""
    by_stage: dict[str, list[str]] = {}
    for e in entries:
        by_stage.setdefault(_stage_of(e), []).append(
            os.path.join(table_dir, e["path"])
        )
    parts = []
    # the listing is eager: it runs inside reader.parquet
    with _driver_listing(spark, max(map(len, by_stage.values()))):
        for stage, paths in sorted(by_stage.items()):
            reader = spark.read.option("basePath", os.path.join(table_dir, stage))
            if stage in schemas:
                reader = reader.schema(StructType.fromJson(schemas[stage]))
            parts.append(reader.parquet(*paths))
    return parts


def _read_files(
    spark: SparkSession,
    table_dir: str,
    entries: list[dict],
    schemas: dict[str, dict],
    parts: list[DataFrame] | None = None,
) -> DataFrame:
    """Read manifest entries.  Files from different commits live under
    different stage roots, so partition discovery runs per-stage (each
    stage is internally consistent) and the scans union — a commit's
    worth of files is one scan, so the union width is bounded by the
    number of versions still contributing files, not file count.

    Each stage is read with the data schema its manifest recorded
    (`schemas`), and Spark lists the files the manifest names on the
    driver (`_driver_listing`), so planning launches no Spark job; only
    a stage written before schemas were recorded falls back to
    inference.  Partition column types are inferred from the paths
    either way.  `parts` are the stage scans when the caller planned
    them already (`_stage_scans`)."""
    parts = parts or _stage_scans(spark, table_dir, entries, schemas)
    out = parts[0]
    for p in parts[1:]:
        # allowMissingColumns: commits may evolve the schema (Delta
        # mergeSchema semantics) — rows from pre-evolution files read
        # NULL for columns they predate
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _collect_keys(df: DataFrame, cols: list[str]) -> pa.Table:
    """`df`'s `cols` as one Arrow table, in one Spark job; raises past
    `KEY_ROWS` rows rather than collect an unbounded batch."""
    tbl = _bounded_arrow(df.select(*cols), KEY_ROWS)
    if tbl is None:
        raise _too_many_keys()
    return tbl


def _py_values(tbl: pa.Table, field: StructField) -> list:
    """Column `field` of a collected `tbl` as `collect()` gives its
    values: a timestamp as a naive local datetime."""
    col = tbl.column(field.name)
    if isinstance(field.dataType, TimestampType):
        return [field.dataType.fromInternal(v) for v in col.cast(pa.int64()).to_pylist()]
    return col.to_pylist()


def _distinct_keys(tbl: pa.Table, fields: list[StructField]) -> set[tuple]:
    """The distinct key tuples, the columns `fields`, of a collected
    `tbl`, less those with a NULL component: an equi-join never
    matches them."""
    keys = set(zip(*(_py_values(tbl, f) for f in fields)))
    return {k for k in keys if None not in k}


def _sql_quote(s: str) -> str:
    """`s` as a Spark SQL string literal, with the backslash escapes the
    default parser reads."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_literal(v, dtype: DataType) -> str:
    """`v`, collected from a column of `dtype`, as a Spark SQL literal
    of that type."""
    if type(dtype) in _INTEGRAL:
        return f"{v}{_INTEGRAL[type(dtype)]}"
    if isinstance(dtype, StringType):
        return _sql_quote(v)
    if isinstance(dtype, BinaryType):
        return f"X'{bytes(v).hex()}'"
    if isinstance(dtype, TimestampType):
        # collected as a naive local datetime: back to the same instant
        return f"timestamp_micros({dtype.toInternal(v)})"
    return f"CAST({_sql_quote(str(v))} AS {dtype.simpleString()})"


def _member(fields: list[StructField], keys: set[tuple]) -> Column:
    """Whether a row's key, the columns `fields`, is one of `keys`, as a
    literal IN list (a multi-column key compares as a struct).  Never
    true for a row whose key holds a NULL, exactly as an equi-join.
    The list is one parsed SQL string: `isin`/`F.lit` would make one
    JVM call per literal (about 0.4 ms each)."""
    if not keys:
        return F.lit(False)
    names = ["`" + f.name.replace("`", "``") + "`" for f in fields]
    if len(fields) == 1:
        value = names[0]
        lits = [_sql_literal(k[0], fields[0].dataType) for k in keys]
    else:
        def struct(vals: list[str]) -> str:
            return "named_struct(" + ", ".join(
                f"{_sql_quote(f.name)}, {v}" for f, v in zip(fields, vals)
            ) + ")"

        value = struct(names)
        lits = [
            struct([_sql_literal(v, f.dataType) for f, v in zip(fields, k)])
            for k in keys
        ]
    return F.expr(f"{value} IN ({', '.join(lits)})")


def _unmatched(member: Column) -> Column:
    """The rewrite's keep filter: true unless `member` is, so a row
    whose key holds a NULL stays, as in a left anti join."""
    return F.coalesce(~member, F.lit(True))


def _may_hold_keys(
    entries: list[dict], key_cols: list[str], keys: set[tuple]
) -> list[dict]:
    """The entries whose recorded min/max admit some of `keys`: per
    integer-valued key column, a bisect over its sorted values for one
    inside the entry's range.  A column without recorded stats
    (non-integral, or a manifest written before stats were recorded)
    admits any key; no keys admit no entry."""
    if not keys:
        return []
    values = {}
    for i, c in enumerate(key_cols):
        vals = {k[i] for k in keys}
        if all(type(v) is int for v in vals):
            values[c] = sorted(vals)

    def admits(e: dict) -> bool:
        lo, hi = e.get("min", {}), e.get("max", {})
        for c, vals in values.items():
            if c in lo:
                j = bisect_left(vals, lo[c])
                if j == len(vals) or vals[j] > hi[c]:
                    return False
        return True

    return [e for e in entries if admits(e)]


def _lacks_keys(entry: dict, schemas: dict[str, dict], key_cols: list[str]) -> bool:
    """Whether `entry`'s stage recorded a schema without some key
    column (partition columns aside): a read fills the column with
    NULL there, so the file holds no key."""
    stage = _stage_of(entry)
    if stage not in schemas:
        return False
    names = {f["name"].lower() for f in schemas[stage]["fields"]}
    names |= {p.lower() for p in entry["partition"]}
    return any(c.lower() not in names for c in key_cols)


def _probe_on_driver(entries: list[dict], schemas: dict[str, dict], keys: pa.Table) -> bool:
    """Whether the driver can probe `entries` for `keys` exactly as
    Spark reads them: at most `PROBE_ROWS` recorded rows in all,
    integral key columns in the batch and in every stage's recorded
    schema, under the key's own name (Spark would also resolve a name
    that matches only case-insensitively), and no key in a partition
    column."""
    if any("rows" not in e for e in entries):
        return False
    if sum(e["rows"] for e in entries) > PROBE_ROWS:
        return False
    if not all(pa.types.is_integer(t) for t in keys.schema.types):
        return False
    cols = keys.column_names
    folded = {c.lower() for c in cols}
    if any(p.lower() in folded for e in entries for p in e["partition"]):
        return False
    for stage in {_stage_of(e) for e in entries}:
        if stage not in schemas:
            return False
        named = [f for f in schemas[stage]["fields"] if f["name"].lower() in folded]
        if sorted(f["name"] for f in named) != sorted(cols):
            return False
        if any(f["type"] not in _INTEGRAL_NAMES for f in named):
            return False
    return True


def _files_holding_keys(
    spark: SparkSession,
    table_dir: str,
    entries: list[dict],
    schemas: dict[str, dict],
    keys: pa.Table,
    member: Column,
) -> list[dict]:
    """The entries whose files hold one of `keys` (the collected key
    columns, one row per batch row; `member` is their membership
    filter), in manifest order.  The callers first narrow `entries`
    with `_may_hold_keys`; a stage whose recorded schema lacks a key
    column holds none; with no entry left nothing runs.

    Small probes run on the driver (see `_probe_on_driver`): pyarrow
    reads the key columns of each file and semi-joins them with `keys`,
    cast to int64, with no Spark job.  Otherwise one column-pruned
    key-probe scan (key columns only — the touched-file scan Delta
    MERGE runs) filtered by `member` matches rows to files by
    input_file_name, not partition value, which sidesteps Hive
    partition-type inference (a string partition "01" reads back as
    int 1 and would never match its manifest string).  The match is on
    the path relative to the table directory: one write task gives its
    file the same name in every partition it writes, so a basename
    would match them all."""
    key_cols = keys.column_names
    entries = [e for e in entries if not _lacks_keys(e, schemas, key_cols)]
    if not entries:
        return []
    if _probe_on_driver(entries, schemas, keys):
        as_long = pa.schema([(c, pa.int64()) for c in key_cols])
        wanted = keys.drop_null().cast(as_long)

        def holds(e: dict) -> bool:
            path = os.path.join(table_dir, e["path"])
            got = pq.ParquetFile(path).read(columns=key_cols).select(key_cols)
            return got.cast(as_long).join(wanted, key_cols, join_type="left semi").num_rows > 0

        return [e for e in entries if holds(e)]
    probe = (
        _read_files(spark, table_dir, entries, schemas)
        .select(*key_cols, F.input_file_name().alias("__file"))
        .filter(member)
        .select("__file")
        .distinct()
        .collect()
    )
    # input_file_name is a URI: undo its %-encoding to get the path on
    # disk, whose Hive escapes the manifest paths keep as written
    root = os.path.abspath(table_dir)
    matched = {
        os.path.relpath(unquote(urlparse(r["__file"]).path), root)
        for r in probe
    }
    return [e for e in entries if e["path"] in matched]


#: The recorded types whose parquet form pyarrow writes back exactly as
#: Spark wrote it, physical and logical type alike (a decimal would come
#: back as a fixed-length array, a TIMESTAMP_NTZ as INT96); arrays of
#: them too.
_ROUND_TRIP = {
    "byte", "short", "integer", "long", "float", "double", "boolean",
    "string", "binary", "date", "timestamp",
}


def _round_trips(dtype) -> bool:
    """Whether a recorded (JSON) column type is one of `_ROUND_TRIP`'s."""
    if isinstance(dtype, str):
        return dtype in _ROUND_TRIP
    return dtype["type"] == "array" and _round_trips(dtype["elementType"])


def _rewrite_on_driver(entries: list[dict], schemas: dict[str, dict], keys: pa.Table) -> bool:
    """Whether the driver can rewrite `entries` without `keys` (see
    `_driver_rewrite`): the driver probe's conditions hold
    (`_probe_on_driver`: at most `PROBE_ROWS` recorded rows, integral
    data key columns), every stage recorded the same schema, and its
    columns all round-trip through pyarrow."""
    if not _probe_on_driver(entries, schemas, keys):
        return False
    recorded = [schemas[_stage_of(e)] for e in entries]
    if any(s != recorded[0] for s in recorded):
        return False
    return all(_round_trips(f["type"]) for f in recorded[0]["fields"])


def _driver_rewrite(
    table_dir: str, entries: list[dict], schema: dict, keys: pa.Table, stage: str
) -> tuple[list[dict], int]:
    """Rewrite `entries` without the rows whose key is one of `keys`, on
    the driver with pyarrow and no Spark job, where `_rewrite_on_driver`
    allows.  Each file's surviving rows (a NULL key survives, as in
    `_unmatched`) become at most one file in its own partition directory
    under `stage`, written with the source's physical types (INT96
    timestamps where Spark wrote them) and its Spark schema metadata.
    Returns the new entries, with their footer stats, the source's
    partition values and `schema`, and the rows removed."""
    key_cols = keys.column_names
    as_long = pa.schema([(c, pa.int64()) for c in key_cols])
    wanted = keys.drop_null().cast(as_long)
    integral = {
        f["name"] for f in schema["fields"]
        if isinstance(f["type"], str) and f["type"] in _INTEGRAL_NAMES
    }
    new: list[dict] = []
    removed = 0
    for e in entries:
        pf = pq.ParquetFile(
            os.path.join(table_dir, e["path"]), coerce_int96_timestamp_unit="us"
        )
        int96 = any(c.physical_type == "INT96" for c in pf.schema)
        tbl = pf.read()
        rows = pa.array(range(tbl.num_rows), pa.int64())
        hit = (
            tbl.select(key_cols).cast(as_long).append_column("__row", rows)
            .join(wanted, key_cols, join_type="left semi")
        )
        kept = tbl.filter(pc.invert(pc.is_in(rows, value_set=hit["__row"])))
        removed += tbl.num_rows - kept.num_rows
        if not kept.num_rows:
            continue
        part_dir = os.path.relpath(os.path.dirname(e["path"]), _stage_of(e))
        rel = os.path.normpath(
            os.path.join(stage, part_dir, f"part-{uuid.uuid4().hex}.parquet")
        )
        path = os.path.join(table_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(kept, path, use_deprecated_int96_timestamps=int96)
        new.append({"path": rel, "partition": dict(e["partition"]),
                    **_footer_stats(path, integral), "schema": schema})
    return new, removed


def _rewrite(
    spark: SparkSession,
    table_dir: str,
    hit: list[dict],
    schemas: dict[str, dict],
    keys: pa.Table,
    member: Column,
    partition_cols: list[str],
    stage: str | None = None,
) -> tuple[list[dict], dict]:
    """The copy-on-write step MERGE and DELETE share: `hit`'s rows less
    those whose key is one of `keys` (`member` their membership
    filter), as new entries (none for a file left empty), and the
    commit's `op` fields that say how.  The driver rewrites them into
    `stage` (a new one by default) where `_rewrite_on_driver` allows;
    otherwise one Spark job reads the files filtered and writes the
    rest, partitioned by `partition_cols`, into a new stage."""
    if not hit:
        return [], {"rewrite": None, "files_rewritten": 0, "rows_removed": 0}
    if _rewrite_on_driver(hit, schemas, keys):
        new, removed = _driver_rewrite(
            table_dir, hit, schemas[_stage_of(hit[0])], keys,
            stage or f"stage-{uuid.uuid4().hex}",
        )
        how = "driver"
    else:
        kept = _read_files(spark, table_dir, hit, schemas).filter(_unmatched(member))
        # the write is the emptiness test: a partitioned write of no
        # rows makes no file, an unpartitioned one a single empty file,
        # which its recorded row count keeps out of the manifest
        new = [e for e in _write_files(kept, table_dir, partition_cols) if e["rows"]]
        removed = None
        if all("rows" in e for e in hit):
            removed = sum(e["rows"] for e in hit) - sum(e["rows"] for e in new)
        how = "spark"
    return new, {"rewrite": how, "files_rewritten": len(hit), "rows_removed": removed}


def _partition_value(raw: str, dtype: DataType):
    """The value Spark reads from the partition directory value `raw`
    (as the manifest records it, unescaped) for a partition column it
    inferred as `dtype`, or None where the driver read does not follow
    Spark: a type other than string, int, long and date, or a spelling
    Spark might parse differently (only plain ASCII digits and
    yyyy-MM-dd dates are taken)."""
    if isinstance(dtype, StringType):
        return raw
    if isinstance(dtype, (IntegerType, LongType)):
        return int(raw) if _DIGITS.fullmatch(raw) else None
    if isinstance(dtype, DateType):
        try:
            day = date.fromisoformat(raw)
        except ValueError:
            return None
        return day if day.isoformat() == raw else None
    return None


def _driver_read(
    spark: SparkSession,
    table_dir: str,
    entries: list[dict],
    schemas: dict[str, dict],
    parts: list[DataFrame],
    scan: DataFrame,
) -> DataFrame | None:
    """`scan`, the Spark read of `entries` (`parts` its stage scans),
    read instead by pyarrow on the driver into a one-partition local
    relation, or None where `read_table` keeps the Spark read.

    It runs when Spark's own size estimate of the result, the recorded
    rows times Spark's row-size estimate of `scan`'s schema (what the
    local relation reports), is within `ONE_TASK_BYTES`; every
    entry records its rows, every stage its schema, and every stage
    scan plans to `scan`'s schema (no evolved schema, the same
    partition columns, and per-stage partition inference agrees with
    the union's); the data columns are of `_ROUND_TRIP` types; and
    every partition value converts as Spark infers it
    (`_partition_value`).  One threaded pyarrow.dataset scan reads the
    files (INT96 as microseconds) and fills the partition columns from
    the manifest, and the relation takes `scan`'s schema.  Past
    `ONE_TASK_BYTES` of Arrow data (strings or arrays longer than
    Spark's per-value estimate) the Spark read runs after all, so the
    bound holds for what the driver holds and one task processes too."""
    if any("rows" not in e or _stage_of(e) not in schemas for e in entries):
        return None
    schema = scan.schema
    if any(p.schema != schema for p in parts):
        return None
    part_names = set(entries[0]["partition"])
    fields = schema.jsonValue()["fields"]
    if not all(_round_trips(f["type"]) for f in fields if f["name"] not in part_names):
        return None
    row_bytes = 8 + scan._jdf.schema().defaultSize()
    if sum(e["rows"] for e in entries) * row_bytes > ONE_TASK_BYTES:
        return None
    arrow = to_arrow_schema(schema)
    part_fields = [(f.name, arrow.field(f.name).type, f.dataType)
                   for f in schema.fields if f.name in part_names]
    filters = []
    for e in entries:
        cond = ds.scalar(True)
        for name, atype, dtype in part_fields:
            value = _partition_value(e["partition"][name], dtype)
            if value is None:
                return None
            cond = cond & (ds.field(name) == pa.scalar(value, atype))
        filters.append(cond)
    files = ds.FileSystemDataset.from_paths(
        [os.path.join(table_dir, e["path"]) for e in entries],
        schema=arrow, format=_PARQUET, filesystem=LocalFileSystem(),
        partitions=filters,
    )
    # one chunk per column: `createDataFrame` sends a batch per chunk,
    # and the empty batch of an empty file loses the batches after it
    tbl = files.to_table(use_threads=True).combine_chunks()
    if tbl.nbytes > ONE_TASK_BYTES:
        return None
    return spark.createDataFrame(tbl, schema=schema).coalesce(1)


def read_table(
    spark: SparkSession,
    table_dir: str,
    *,
    version: int | None = None,
    partitions: dict[str, object] | None = None,
) -> DataFrame:
    """Read a snapshot (newest version by default).  The returned
    DataFrame stays valid while later versions commit — files are
    immutable and vacuum only drops unreferenced ones.

    `partitions={"year": 2024, "month": 1}` prunes at the MANIFEST
    level: files whose recorded partition values don't match are never
    even listed to Spark (Delta-style file skipping — the scan plan
    contains only the surviving files, no I/O or footer reads for the
    rest).  Values compare as strings, matching the manifest encoding;
    a list/tuple/set value matches ANY of its members (IN-list
    pruning, e.g. `partitions={"cell": touched_cells}`).

    A small snapshot is read on the driver (`_driver_read`): pyarrow
    reads its files and the result is a one-partition local relation of
    known size in the Spark read's schema, so planning on it runs no
    job and needs no exchange, and its frame opens no file
    (`inputFiles()` is empty).  Larger snapshots, and those the driver
    read cannot read as Spark does (no recorded `rows` or schema, an
    evolved schema, a decimal or other type outside `_ROUND_TRIP`), are
    a Spark scan; either way the rows and the schema are the same.
    Both paths read a boolean partition column as the strings
    'true'/'false': Spark's partition inference has no boolean type
    (ORACLE_COMPAT.md)."""
    if version is None:
        version = current_version(table_dir)
    if version < 0:
        raise FileNotFoundError(f"no committed version under {table_dir}")
    manifest = _read_manifest(table_dir, version)
    entries = manifest["files"]
    if partitions:
        allowed = {
            k: {str(x) for x in (v if isinstance(v, (list, tuple, set)) else [v])}
            for k, v in partitions.items()
        }
        entries = [
            e
            for e in entries
            if all(e["partition"].get(k) in vs for k, vs in allowed.items())
        ]
        if not entries:
            raise ValueError(
                f"no files match partitions {partitions} in v{version} "
                f"under {table_dir}"
            )
    if not entries:
        raise ValueError(f"empty manifest v{version} under {table_dir}")
    schemas = manifest["schemas"]
    parts = _stage_scans(spark, table_dir, entries, schemas)
    scan = _read_files(spark, table_dir, entries, schemas, parts)
    return _driver_read(spark, table_dir, entries, schemas, parts, scan) or scan


def _op(
    operation: str | None,
    *,
    rewrite: str | None = None,
    files_rewritten: int = 0,
    rows_removed: int | None = None,
) -> dict:
    """A commit's `op` record less the file counts `_commit` adds."""
    return {
        "operation": operation,
        "rewrite": rewrite,
        "files_rewritten": files_rewritten,
        "rows_removed": rows_removed,
    }


def _too_many_keys() -> ValueError:
    return ValueError(
        f"the key batch holds more than {KEY_ROWS} rows; MERGE and "
        "DELETE hold a batch's keys on the driver, so split the batch"
    )


def _keys_in_files(fields: list[StructField], partition_cols: list[str]) -> bool:
    """Whether MERGE can read its keys, the columns `fields`, from the
    files it writes: integral data columns, none a partition column
    (whose type a read infers from the path)."""
    return all(type(f.dataType) in _INTEGRAL for f in fields) and not (
        {f.name for f in fields} & set(partition_cols)
    )


def _written_keys(table_dir: str, written: list[dict], key_cols: list[str]) -> pa.Table:
    """MERGE's key columns, one row per batch row, read with pyarrow
    from the files it just wrote (`written`), with no Spark job; past
    `KEY_ROWS` recorded rows it raises before reading any key."""
    if sum(e["rows"] for e in written) > KEY_ROWS:
        raise _too_many_keys()
    if not written:
        return pa.table({c: pa.array([], pa.int64()) for c in key_cols})
    return pa.concat_tables(
        pq.ParquetFile(os.path.join(table_dir, e["path"])).read(columns=key_cols)
        for e in written
    )


def _path_value(v) -> str:
    """A collected partition value as the manifest records it, the
    string Spark writes in its path: a boolean is 'true' or 'false'."""
    return str(v).lower() if isinstance(v, bool) else str(v)


def _merge_hits(
    spark: SparkSession,
    table_dir: str,
    entries: list[dict],
    schemas: dict[str, dict],
    touched: set[tuple],
    keys: pa.Table,
    fields: list[StructField],
    partition_cols: list[str],
    partition_from_key: bool,
) -> tuple[list[dict], list[dict], Column]:
    """MERGE's hit and carried entries, and the membership filter of
    `keys` (the batch's key columns `fields`).  The hit files are those
    of the `touched` partitions (tuples of `partition_cols` values as
    the manifest records them) and the other files that hold a key,
    found by the key probe unless `partition_from_key` rules them out."""
    keyset = _distinct_keys(keys, fields)
    member = _member(fields, keyset)
    hit = [
        e
        for e in entries
        if partition_cols
        and tuple(e["partition"].get(c) for c in partition_cols) in touched
    ]
    carried = [e for e in entries if e not in hit]
    if carried and not (partition_cols and partition_from_key):
        # global key matching: pull exactly the carried FILES holding an
        # updated key into the rewrite set
        extra_hit = _files_holding_keys(
            spark, table_dir, _may_hold_keys(carried, keys.column_names, keyset),
            schemas, keys, member,
        )
        hit += extra_hit
        carried = [e for e in carried if e not in extra_hit]
    return hit, carried, member


def overwrite_table(
    df: DataFrame,
    table_dir: str,
    *,
    partition_cols: list[str] | None = None,
    expected_base: int | None = None,
    meta: dict | None = None,
) -> int:
    """Full-table replace as a single atomic commit.  `expected_base`
    pins the snapshot the replacement was computed from (ConflictError
    before any write if another commit landed); `meta` replaces the
    table metadata for this and subsequent versions (None = carry the
    previous version's forward)."""
    base = current_version(table_dir)
    if expected_base is not None and base != expected_base:
        raise ConflictError(
            f"expected base version {expected_base} but found {base} "
            f"under {table_dir}"
        )
    files = _write_files(df, table_dir, partition_cols or [])
    return _commit(table_dir, files, base + 1, meta=meta, op=_op("overwrite"))


def merge_table(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    *,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
    partition_from_key: bool = False,
    expected_base: int | None = None,
) -> int:
    """MERGE (upsert): rows matching `key_cols` are replaced by the
    update rows, new keys are inserted.  Keys match GLOBALLY (Delta
    MERGE semantics): if an existing key arrives with a NEW partition
    value, its old row in the old partition is rewritten out, not
    carried forward as a duplicate.  The files rewritten are those of
    (a) the partitions the update's written files landed in and (b) the
    other files that hold an updated key — (b) is found with the key
    probe of the files whose recorded key ranges admit an updated key
    (no Spark job when none does, or the driver probes them; see
    `_files_holding_keys`).  An unpartitioned table has no (a).  Pass
    `partition_from_key=True` when every partition value is a
    deterministic function of the key (an updated key can then only
    live in its update-batch partition) to skip the probe — the common
    state-table layout.  Idempotent under replay.  A batch row whose
    key holds a NULL is inserted and replaces nothing.

    With integral data key columns the update is written first, the
    one run of its plan, the key set is read from the written files
    (`_written_keys`) and the rewrite of the hit files follows
    (`_rewrite`); with small hit files the probe and the rewrite run on
    the driver, so the write is MERGE's one Spark job.  Other keys are
    collected from `updates` with its partition values, and one write
    holds the update rows and the hit files' kept rows: two jobs, the
    batch plan run twice.  Driver bound: a batch of more than
    `KEY_ROWS` rows raises ValueError (after removing the update's
    written files); the batch's keys must fit there (a broadcast of its
    key set would need the same).

    `expected_base` pins the snapshot the caller computed `updates`
    against: if another writer committed in between (current version
    != expected_base), ConflictError is raised BEFORE any rewrite, so
    read-modify-write callers can't silently lose the racer's update."""
    partition_cols = partition_cols or []
    base = current_version(table_dir)
    if expected_base is not None and base != expected_base:
        raise ConflictError(
            f"expected base version {expected_base} but found {base} "
            f"under {table_dir}"
        )
    if base < 0:
        if expected_base is not None:
            # keep the pin through bootstrap: commit at exactly
            # expected_base+1 instead of re-resolving, so a racer that
            # created v0 in between gets ConflictError (O_EXCL), never
            # a silent full replace of its commit
            files = _write_files(updates, table_dir, partition_cols)
            return _commit(table_dir, files, expected_base + 1, op=_op("overwrite"))
        return overwrite_table(updates, table_dir, partition_cols=partition_cols)

    manifest = _read_manifest(table_dir, base)
    entries, schemas = manifest["files"], manifest["schemas"]
    fields = [updates.schema[c] for c in key_cols]
    if not _keys_in_files(fields, partition_cols):
        # one collect gives both the touched partitions and the key set;
        # the batch plan runs again in the one write of its rows and the
        # kept ones (writing first and reading the write back costs a
        # third job, and measured slower on the paragraph-index fold:
        # SCALE.md "MERGE/DELETE rewrite")
        tbl = _collect_keys(updates, list(dict.fromkeys(partition_cols + key_cols)))
        touched = set(zip(*(
            map(_path_value, _py_values(tbl, updates.schema[c])) for c in partition_cols
        )))
        hit, carried, member = _merge_hits(
            spark, table_dir, entries, schemas, touched, tbl.select(key_cols), fields,
            partition_cols, partition_from_key,
        )
        merged = updates
        if hit:
            kept = _read_files(spark, table_dir, hit, schemas).filter(_unmatched(member))
            # allowMissingColumns = schema evolution (Delta mergeSchema):
            # an update batch may add columns; surviving old rows read
            # NULL for them
            merged = updates.unionByName(kept, allowMissingColumns=True)
        op = _op("merge", rewrite="spark" if hit else None, files_rewritten=len(hit))
        new_files = _write_files(merged, table_dir, partition_cols)
        return _commit(table_dir, carried + new_files, base + 1, op=op)

    # the write is the batch plan's one run: the keys and the touched
    # partitions come from the files it leaves
    written = _write_files(updates, table_dir, partition_cols)
    stage = _stage_of(written[0]) if written else None
    try:
        tbl = _written_keys(table_dir, written, key_cols)
        touched = {tuple(e["partition"][c] for c in partition_cols) for e in written}
        hit, carried, member = _merge_hits(
            spark, table_dir, entries, schemas, touched, tbl, fields,
            partition_cols, partition_from_key,
        )
        # the kept rows join the update's own stage where they share its
        # schema and partition layout, so a snapshot read gains no stage
        same = written and all(
            schemas.get(_stage_of(e)) == written[0]["schema"]
            and list(e["partition"]) == partition_cols
            for e in hit
        )
        kept, op = _rewrite(
            spark, table_dir, hit, schemas, tbl, member, partition_cols,
            stage if same else None,
        )
    except BaseException:
        if stage:
            shutil.rmtree(os.path.join(table_dir, stage), ignore_errors=True)
        raise
    new_files = [e for e in written if e["rows"]] + kept
    return _commit(table_dir, carried + new_files, base + 1, op=_op("merge", **op))


def delete_from_table(
    spark: SparkSession,
    table_dir: str,
    keys: DataFrame,
    *,
    key_cols: list[str],
    expected_base: int | None = None,
) -> int:
    """DELETE by key (the GDPR-expunge primitive, Delta DELETE
    semantics): rewrite exactly the data files holding a matching key
    with those rows filtered out; every other file carries into the new
    manifest by reference.  The touched-file set comes from the
    key-probe MERGE uses, matched on each file's path in the table, so
    cost tracks the files containing deleted keys, not the table, and
    the rewrite is MERGE's too (`_rewrite`: on the driver for small hit
    files and integral keys, so the key collect is DELETE's one Spark
    job).  The `keys` are collected to the driver once and must fit
    there, as MERGE's do: more than `KEY_ROWS` rows raise ValueError.  Old
    versions still contain the rows — run `vacuum` after the retention
    window to physically reclaim them (the same two-step contract as
    Delta DELETE + VACUUM).  Returns the
    new version (the current one if no key matched)."""
    base = current_version(table_dir)
    if expected_base is not None and base != expected_base:
        raise ConflictError(
            f"expected base version {expected_base} but found {base} "
            f"under {table_dir}"
        )
    if base < 0:
        raise FileNotFoundError(f"no committed version under {table_dir}")
    manifest = _read_manifest(table_dir, base)
    entries, schemas = manifest["files"], manifest["schemas"]
    tbl = _collect_keys(keys, key_cols)
    fields = [keys.schema[c] for c in key_cols]
    keyset = _distinct_keys(tbl, fields)
    member = _member(fields, keyset)
    hit = _files_holding_keys(
        spark, table_dir, _may_hold_keys(entries, key_cols, keyset),
        schemas, tbl, member,
    )
    if not hit:
        return base
    carried = [e for e in entries if e not in hit]
    new_files, op = _rewrite(
        spark, table_dir, hit, schemas, tbl, member, sorted(hit[0]["partition"])
    )
    return _commit(table_dir, carried + new_files, base + 1, op=_op("delete", **op))


def compact_table(
    spark: SparkSession,
    table_dir: str,
    *,
    partition_cols: list[str] | None = None,
    min_files_per_partition: int = 2,
) -> int:
    """OPTIMIZE: bin-pack partitions fragmented across many small
    files (every MERGE adds a commit's worth of files to the touched
    partitions; a streaming refresh touching the same partition each
    batch accretes one file set per batch — the classic small-file
    problem).  Rewrites each partition held in >= min_files_per_
    partition files into a single coalesced file set and commits; data
    is unchanged, so readers of older versions are unaffected.  Run
    vacuum afterwards to reclaim the replaced files.

    partition_cols defaults to the partition keys recorded in the
    manifest (every commit writes them), so callers — e.g. the CLI —
    need not repeat the table's layout."""
    base = current_version(table_dir)
    if base < 0:
        raise FileNotFoundError(f"no committed version under {table_dir}")
    manifest = _read_manifest(table_dir, base)
    entries, schemas = manifest["files"], manifest["schemas"]
    if partition_cols is None:
        partition_cols = sorted(entries[0]["partition"]) if entries else []

    by_part: dict[tuple, list[dict]] = {}
    for e in entries:
        key = tuple(e["partition"].get(c) for c in partition_cols)
        by_part.setdefault(key, []).append(e)
    fragmented = [
        e
        for group in by_part.values()
        if len(group) >= min_files_per_partition
        for e in group
    ]
    if not fragmented:
        return base  # nothing to do; current version stands
    carried = [e for e in entries if e not in fragmented]
    packed = _read_files(spark, table_dir, fragmented, schemas)
    if partition_cols:
        # one output file per partition value: route all rows of a
        # partition to one task before the partitioned write
        packed = packed.repartition(*[F.col(c) for c in partition_cols])
    else:
        packed = packed.coalesce(1)
    new_files = _write_files(packed, table_dir, partition_cols)
    op = _op("compact", rewrite="spark", files_rewritten=len(fragmented), rows_removed=0)
    return _commit(table_dir, carried + new_files, base + 1, op=op)


def vacuum(table_dir: str, *, retention_seconds: float = 3600.0) -> int:
    """Delete data files unreferenced by the NEWEST manifest (breaks
    older snapshots, like Delta VACUUM).  Returns files removed.

    Files referenced by SOME older manifest are superseded commits and
    always reclaimable.  Files referenced by NO manifest at all may be
    the staged-but-uncommitted output of an IN-FLIGHT merge — deleting
    them would corrupt that writer's commit — so they are only removed
    once older than `retention_seconds` (Delta's retention-window
    guard; an aborted stage is reclaimed on the next vacuum after the
    window)."""
    version = current_version(table_dir)
    if version < 0:
        return 0
    live = {
        os.path.normpath(os.path.join(table_dir, e["path"]))
        for e in _load_manifest(table_dir, version)
    }
    ever_committed: set[str] = set()
    mdir = os.path.join(table_dir, _MANIFEST_DIR)
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            for e in _load_manifest(table_dir, int(name[1:-5])):
                ever_committed.add(
                    os.path.normpath(os.path.join(table_dir, e["path"]))
                )
    cutoff = time.time() - retention_seconds
    removed = 0
    for root, _dirs, files in os.walk(table_dir):
        if _MANIFEST_DIR in root:
            continue
        for name in files:
            path = os.path.normpath(os.path.join(root, name))
            if not name.endswith(".parquet") or path in live:
                continue
            if path not in ever_committed and os.path.getmtime(path) > cutoff:
                continue  # possibly an in-flight commit's staged data
            os.remove(path)
            removed += 1
    return removed
