"""DuckDB differential oracle harness.

Mirrors the driver's correctness gate (BASELINE.json): for each declared
query, run the Spark DataFrame AND the equivalent ANSI SQL in DuckDB over
the same parquet tables, then compare row count, column names, and an
order-insensitive canonicalization of every value. Stricter than the
driver (bitwise float equality after canonicalization) so that anything
passing here passes there.

The reference repo ships no automated tests (SURVEY.md §5); this harness
is the differential-oracle strategy we adopt instead.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import tempfile

import duckdb
from pyspark.sql import DataFrame

from metrics_service_spark.sources.tables import TABLES


class OracleMismatch(AssertionError):
    pass


def run_oracle(sql: str, sf_dir: str) -> list[tuple]:
    # an in-memory DuckDB spills to `./.tmp` of the working directory by
    # default, where two connections delete each other's temp blocks:
    # each connection spills to a directory of its own instead
    with tempfile.TemporaryDirectory(prefix="duckdb-oracle-") as spill, duckdb.connect(
        config={"temp_directory": spill}
    ) as con:
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
                )
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cols, cur.fetchall()


def _canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon_value(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def _canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def compare_query(spark_df: DataFrame, oracle_query: str, sf_dir: str, name: str = "?"):
    """Raise OracleMismatch unless the Spark result matches the DuckDB result."""
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    o_cols, o_rows = run_oracle(oracle_query, sf_dir)

    if sorted(s_cols) != sorted(o_cols):
        raise OracleMismatch(
            f"[{name}] column mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}"
        )
    if len(s_rows) != len(o_rows):
        raise OracleMismatch(
            f"[{name}] row count mismatch: spark={len(s_rows)} oracle={len(o_rows)}"
        )
    cs, co = _canon_rows(s_cols, s_rows), _canon_rows(o_cols, o_rows)
    for i, (a, b) in enumerate(zip(cs, co)):
        if a != b:
            raise OracleMismatch(
                f"[{name}] first differing row (sorted) #{i}:\n  spark : {a}\n  oracle: {b}"
            )
    return len(s_rows)
