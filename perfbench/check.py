"""Output checks: DuckDB oracle comparison and order-insensitive digests.

Oracle-backed results are compared with the package's own comparator
(`metrics_service_spark.testing.oracle.compare_query`), fed rows that
were already collected in the timed region so the check adds no Spark
work.  Every other result gets an order-insensitive digest; a
`DigestBook` keeps digests across runs in the checkout, keyed by a hash
of the engine and benchmark sources, so two runs of the same code with
the same seed must produce identical digests.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os


class Collected:
    """Already-collected rows in the shape `compare_query` reads."""

    def __init__(self, columns: list[str], rows: list):
        self.columns = list(columns)
        self._rows = rows

    def collect(self) -> list:
        return self._rows


def _canon(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    return f"{type(v).__name__}:{v}"


def digest(columns: list[str], rows: list) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    rows canonicalized and sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:32]


def source_hash(dirs: list[str]) -> str:
    """Hash of every .py file under `dirs` (the code whose outputs are
    digested)."""
    h = hashlib.sha256()
    for d in dirs:
        for root, subdirs, files in os.walk(d):
            subdirs[:] = sorted(x for x in subdirs if x != "__pycache__")
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(root, name)
                    h.update(os.path.relpath(path, d).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


class DigestBook:
    """Digests of one (code, workload, seed), persisted between runs.

    `check(key, value)` returns False when an earlier run of the same
    code and seed recorded a different digest under `key`, or when this
    run already saw `key` with another value."""

    def __init__(self, path: str):
        self.path = path
        self.book: dict[str, str] = {}
        if os.path.exists(path):
            with open(path) as fh:
                self.book = json.load(fh)
        self.mismatches: list[str] = []

    def check(self, key: str, value: str) -> bool:
        seen = self.book.setdefault(key, value)
        if seen != value:
            self.mismatches.append(key)
            return False
        return True

    def save(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.book, fh, indent=0, sort_keys=True)
        os.replace(tmp, self.path)


def oracle_check(columns, rows, oracle_sql: str, sf_dir: str, name: str) -> str | None:
    """None when the collected Spark rows match the DuckDB oracle over
    the parquet tables in `sf_dir`, else the mismatch message."""
    from metrics_service_spark.testing.oracle import OracleMismatch, compare_query

    try:
        compare_query(Collected(columns, rows), oracle_sql, sf_dir, name)
    except OracleMismatch as ex:
        return str(ex)
    return None
