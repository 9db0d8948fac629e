"""Command-line surface for the engine.

    python -m metrics_service_spark list
        List every catalog query with its one-line description.

    python -m metrics_service_spark query <name> [--sf-dir DIR] [--limit N]
        Run a catalog query against the parquet tables in --sf-dir and
        print the result as JSON lines.

    python -m metrics_service_spark request FILE.json \
        --events P --identifiers P --citations P
        Run a MetricsRequest (the reference's POST body, SURVEY.md P10)
        against parquet tables in the FIXTURES.md schemas and print the
        reference-shaped response JSON — the engine-side equivalent of
        the reference's /metrics endpoint (the REST layer itself stays
        out of engine scope by design, SURVEY.md §1/S9).

Uses the engine-tuned session (AQE, broadcast thresholds); results go
to stdout, logs to stderr.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark():
    from metrics_service_spark.session import get_spark

    spark = get_spark("msspark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_list() -> int:
    from metrics_service_spark.catalog import all_queries

    for name, spec in sorted(all_queries().items()):
        oracle = "oracle" if spec.oracle else "rows-only"
        print(f"{name:32s} [{oracle}] {spec.doc}")
    return 0


def cmd_query(name: str, sf_dir: str, limit: int | None, explain: bool) -> int:
    from metrics_service_spark.catalog import all_queries

    cat = all_queries()
    if name not in cat:
        print(f"unknown query {name!r}; see `list`", file=sys.stderr)
        return 2
    df = cat[name].fn(_spark(), sf_dir)
    if explain:
        df.explain("formatted")
        return 0
    if limit is not None:
        df = df.limit(limit)
    for row in df.toJSON().toLocalIterator():
        print(row)
    return 0


def cmd_sql(statement: str, sf_dir: str, limit: int | None) -> int:
    from metrics_service_spark.sources.tables import register_views

    spark = _spark()
    register_views(spark, sf_dir, derived=True)
    df = spark.sql(statement)
    if limit is not None:
        df = df.limit(limit)
    for row in df.toJSON().toLocalIterator():
        print(row)
    return 0


def cmd_request(path: str, events: str, identifiers: str, citations: str) -> int:
    from metrics_service_spark.plans.metrics_request import (
        MetricsRequestPlanner,
        MetricsTables,
    )

    spark = _spark()
    with open(path, encoding="utf-8") as fh:
        request = json.load(fh)
    tables = MetricsTables(
        events=spark.read.parquet(events),
        identifiers=spark.read.parquet(identifiers),
        citations=spark.read.parquet(citations),
    )
    resp = MetricsRequestPlanner(spark, tables).response(request)
    print(json.dumps(resp, indent=2))
    return 0


def cmd_table(
    action: str,
    table_dir: str,
    version: int | None,
    limit: int | None,
    keys: str | None = None,
    key_col: str | None = None,
) -> int:
    """Operate on a manifest-committed table (sources/merge_table):
    `read` prints a snapshot (newest or --version N — time travel),
    `versions` lists committed versions with their file count and live
    row total (from the manifest, no Spark job), `compact` bin-packs
    fragmented partitions, `vacuum` reclaims unreferenced files,
    `delete --key-col k --keys a,b` removes rows by key (GDPR expunge;
    old versions keep the rows until vacuum)."""
    import os

    from metrics_service_spark.sources import merge_table as mt

    if action == "versions":
        cur = mt.current_version(table_dir)
        if cur < 0:
            print(f"no committed versions under {table_dir}", file=sys.stderr)
            return 2
        for v in range(cur + 1):
            path = os.path.join(table_dir, "_manifests", f"v{v}.json")
            if os.path.exists(path):
                with open(path) as fh:
                    files = json.load(fh)["files"]
                # live rows from the recorded per-file counts; null when
                # an entry predates them (no Spark job either way)
                rows = None
                if all("rows" in e for e in files):
                    rows = sum(e["rows"] for e in files)
                print(json.dumps({"version": v, "files": len(files), "rows": rows}))
        return 0
    if action == "read":
        df = mt.read_table(_spark(), table_dir, version=version)
        if limit is not None:
            df = df.limit(limit)
        for row in df.toJSON().toLocalIterator():
            print(row)
        return 0
    if action == "compact":
        v = mt.compact_table(_spark(), table_dir)
        print(json.dumps({"compacted_to_version": v}))
        return 0
    if action == "vacuum":
        removed = mt.vacuum(table_dir)
        print(json.dumps({"files_removed": removed}))
        return 0
    if action == "delete":
        if not keys or not key_col:
            print("delete requires --keys and --key-col", file=sys.stderr)
            return 2
        from pyspark.sql import functions as F

        spark = _spark()
        tbl = mt.read_table(spark, table_dir)
        kdf = spark.createDataFrame(
            [(v,) for v in keys.split(",") if v], f"{key_col} string"
        ).select(F.col(key_col).cast(tbl.schema[key_col].dataType))
        v = mt.delete_from_table(spark, table_dir, kdf, key_cols=[key_col])
        print(json.dumps({"deleted_to_version": v}))
        return 0
    print(f"unknown table action {action!r}", file=sys.stderr)
    return 2


def cmd_admit(
    table_dir: str, batch_path: str, n_cells: int, tau_num: int, tau_den: int
) -> int:
    """Admit an embedding batch (parquet with vec_id, embedding)
    against the semantic index at table_dir (streaming/semantic_gate):
    prints one JSON verdict row per batch vector; admitted vectors are
    committed before the verdicts print."""
    from metrics_service_spark.streaming.semantic_gate import admit_batch

    spark = _spark()
    batch = spark.read.parquet(batch_path)
    res = admit_batch(
        spark, table_dir, batch, n_cells=n_cells, tau_num=tau_num, tau_den=tau_den
    )
    for row in res.toJSON().toLocalIterator():
        print(row)
    return 0


def cmd_refresh(table_dir: str, target_cell_size: int, iters: int) -> int:
    """Maintenance: re-cluster the semantic index's cell geometry when
    the corpus has outgrown it (streaming/semantic_gate
    refresh_centroids) — reassigned rows + new centroid pointer land
    as one pinned commit; prints the new version (null = not needed)."""
    from metrics_service_spark.streaming.semantic_gate import refresh_centroids

    spark = _spark()
    v = refresh_centroids(
        spark, table_dir, target_cell_size=target_cell_size, iters=iters
    )
    print(json.dumps({"refreshed_to_version": v}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="metrics_service_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list")
    q = sub.add_parser("query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=None)
    q.add_argument(
        "--explain", action="store_true", help="print the formatted physical plan"
    )
    s = sub.add_parser("sql")
    s.add_argument("statement")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    s.add_argument("--limit", type=int, default=None)
    r = sub.add_parser("request")
    r.add_argument("file")
    r.add_argument("--events", required=True)
    r.add_argument("--identifiers", required=True)
    r.add_argument("--citations", required=True)
    t = sub.add_parser("table")
    t.add_argument(
        "action", choices=["read", "versions", "compact", "vacuum", "delete"]
    )
    t.add_argument("table_dir")
    t.add_argument("--version", type=int, default=None, help="time-travel read")
    t.add_argument("--limit", type=int, default=None)
    t.add_argument("--keys", default=None, help="comma-separated key values (delete)")
    t.add_argument("--key-col", default=None, help="key column name (delete)")
    a = sub.add_parser("admit")
    a.add_argument("table_dir")
    a.add_argument("--batch", required=True, help="parquet path: vec_id, embedding")
    a.add_argument("--n-cells", type=int, default=16)
    a.add_argument("--tau-num", type=int, default=3)
    a.add_argument("--tau-den", type=int, default=10)
    rf = sub.add_parser("refresh")
    rf.add_argument("table_dir")
    rf.add_argument("--target-cell-size", type=int, default=1000)
    rf.add_argument("--iters", type=int, default=2)
    args = ap.parse_args(argv)
    if args.cmd == "list":
        return cmd_list()
    if args.cmd == "query":
        return cmd_query(args.name, args.sf_dir, args.limit, args.explain)
    if args.cmd == "sql":
        return cmd_sql(args.statement, args.sf_dir, args.limit)
    if args.cmd == "table":
        return cmd_table(
            args.action, args.table_dir, args.version, args.limit,
            args.keys, args.key_col,
        )
    if args.cmd == "admit":
        return cmd_admit(
            args.table_dir, args.batch, args.n_cells, args.tau_num, args.tau_den
        )
    if args.cmd == "refresh":
        return cmd_refresh(args.table_dir, args.target_cell_size, args.iters)
    return cmd_request(args.file, args.events, args.identifiers, args.citations)


if __name__ == "__main__":
    raise SystemExit(main())
