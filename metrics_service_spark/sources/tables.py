"""Parquet table loaders for the driver-generated test datasets.

Reference analog: the reference scans Solr pages (eventprocessor.py:75-154)
and ES scrolls (metricselasticsearch.py:52-141) with hand-written cursors;
here a scan is `spark.read.parquet` — Spark partitions the scan, pushes
predicates into the parquet reader, and prunes columns (SURVEY.md S1/S2).
The scan's schema comes from the footer of the table's first parquet
file, read on the driver, so no schema-inference job runs before a
query does (Dremel, VLDB 2020: at interactive sizes fixed per-query
costs, not the data read, set the latency).

At 100 TB the event table would be written partitioned by event date
(`.partitionBy("event_date")`) so the per-query date-range filter
(metricselasticsearch.py:1115-1122) prunes whole partitions; the loaders
here read the flat driver-provided files but all downstream operators
filter on raw columns so partition pruning engages automatically once the
layout is partitioned.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def sf_dir_from_env(default: str = DEFAULT_SF_DIR) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP (session-tz, pinned UTC).

    The driver regenerates the parquet fixtures between rounds and has
    emitted timestamps both as TIMESTAMP(NANOS) and as un-adjusted
    TIMESTAMP(MICROS); Spark 4 reads the latter as TIMESTAMP_NTZ, which
    functions like unix_micros() reject.  Normalizing here keeps every
    downstream operator on a single timestamp type regardless of how the
    fixtures were written — with the session timezone pinned to UTC the
    wall-clock values are bit-identical to the NTZ reading.
    """
    from pyspark.sql import functions as F

    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz_cols:
        return df
    return df.withColumns(
        {c: F.col(c).cast("timestamp") for c in ntz_cols}
    )


def rowcount_bound(
    sf_dir: str,
    name: str,
    ranges: dict[str, tuple[object, object]] | None = None,
) -> int:
    """Driver-side UPPER BOUND on the rows of `name` matching
    conjunctive range predicates, read from the parquet footer's
    row-group statistics — zero Spark jobs (the footer read is a few
    KB of metadata).  `ranges` maps column -> (lo, hi) inclusive
    bounds (either side None = unbounded); a row group counts toward
    the bound unless its min/max stats PROVE no row can match.

    This is the statistics feed for structures sized from a dim
    cardinality (e.g. `bloom.sized_m_bits`, which documents that any
    upper bound is valid — oversizing only costs plan literals): at
    warehouse scale the manifest/footer already knows the count, so a
    dedicated `dim.count()` job per build is pure added latency.  On a
    single-row-group file the bound degrades to the table row count —
    still correct, still jobless."""
    import pyarrow.parquet as pq

    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    total = 0
    for p in _parquet_files(os.path.join(sf_dir, f"{name}.parquet")):
        md = pq.ParquetFile(p).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for col in ranges or ():
            if col not in names:
                raise KeyError(f"no column {col!r} in {name}")
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            include = True
            for col, (lo, hi) in (ranges or {}).items():
                st = rg.column(names[col]).statistics
                if st is None or not st.has_min_max:
                    continue  # no stats -> cannot exclude
                if (hi is not None and st.min > hi) or (
                    lo is not None and st.max < lo
                ):
                    include = False
                    break
            if include:
                total += rg.num_rows
    return total


def _parquet_files(path: str) -> list[str]:
    """The parquet files of a table path.  The fixture tables are
    single files; a Spark-written table (e.g. the scale-probe scratch
    dirs) is a DIRECTORY of part files, listed in sorted order."""
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return [path]


def _footer_schema(path: str) -> StructType:
    """The Spark schema of the parquet table at `path`, read on the
    driver from the footer of its first file — the schema Spark infers
    with a one-task job, without the job.  Un-adjusted timestamps map
    to TIMESTAMP_NTZ and adjusted ones to TIMESTAMP, as Spark reads
    them; INT64 TIMESTAMP(NANOS) maps to bigint, as Spark reads it
    under `spark.sql.legacy.parquet.nanosAsLong`.  INT96, which Spark
    writes timestamps as by default and Arrow also shows as
    `timestamp[ns]`, maps to TIMESTAMP, as Spark reads it.  A type
    Spark's Arrow conversion cannot map raises: there is no inference
    fallback."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    files = _parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet file under {path}")
    footer = pq.ParquetFile(files[0])
    physical = {c.path: c.physical_type for c in footer.schema}

    def spark_view(f):
        if not (pa.types.is_timestamp(f.type) and f.type.unit == "ns"):
            return f
        if physical.get(f.name) == "INT96":
            return f.with_type(pa.timestamp("us", tz="UTC"))
        return f.with_type(pa.int64())

    arrow = pa.schema(spark_view(f) for f in footer.schema_arrow)
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table `name` of the fixture directory `sf_dir`, with every
    timestamp column a session-tz TIMESTAMP.  The read takes its
    schema from the parquet footer (`_footer_schema`), so loading a
    table launches no Spark job."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _footer_schema(path)
    if name == "events":
        # events.ts has been parquet TIMESTAMP(NANOS) in some fixture
        # generations, which Spark's vectorized reader rejects; read it
        # as int64 nanos and truncate to microseconds — exactly what
        # DuckDB does when it surfaces the column as TIMESTAMP (µs).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(schema).parquet(path)
        from pyspark.sql import functions as F

        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _normalize_ntz(df)
    return _normalize_ntz(spark.read.schema(schema).parquet(path))


def register_views(
    spark: SparkSession, sf_dir: str, *, derived: bool = False
) -> dict[str, DataFrame]:
    """Load every table and register it as a temp view for spark.sql
    use.  With `derived=True` also register the engine's adapter views:
    `eventlog` (reference event-log schema over events) and `metrics`
    (the COUNTER-filtered star fact) — the SQL-user migration surface:
    any reference-side SQL written against those shapes runs as-is."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    if derived:
        from metrics_service_spark.plans.gold import metrics_star
        from metrics_service_spark.sources.eventlog import eventlog_view

        ev = eventlog_view(out["events"])
        ev.createOrReplaceTempView("eventlog")
        out["eventlog"] = ev
        star = metrics_star(ev)
        star.createOrReplaceTempView("metrics")
        out["metrics"] = star
    return out
