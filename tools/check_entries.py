"""Ad-hoc differential check for selected catalog entries.

Usage:
  python tools/check_entries.py [sf_dir] name1 name2 ...
  python tools/check_entries.py [sf_dir] --all [--json OUT.json]
  python tools/check_entries.py --diff BEFORE.json AFTER.json

Runs each entry's Spark query and DuckDB oracle at sf_dir (default
/root/testdata/sf0.01) through the same bitwise comparator the test
suite uses, printing per-entry PASS/FAIL and the Spark jobs the entry
launched (query build, execution and the comparator's collect),
counted under a job group of its own as the tests' `count_jobs` does.
``--all`` sweeps the whole catalog, running each computation once: an
alias (`catalog.ALIASES`) takes its entry's verdict, rows and jobs
under its own name.  ``--json`` additionally writes a
machine-readable artifact (name -> {status, rows, seconds, jobs}) that
makes "stale entries are locally bitwise-green" auditable without
re-running the 10-minute sweep.  Each entry's record also holds
``aqe_stage_jobs``: how many of its jobs were AQE stage
materializations (a job name containing ``withThreadLocalCaptured``,
run on its own ahead of the action that needs the stage), so a
barrier can be told from an action.  ``--diff`` prints the per-entry
job counts of two such artifacts side by side, as a markdown table,
with the AQE stage jobs of each, then the entries whose count rose,
the entries known to vary on unchanged code with their measured
ranges (`VARYING_JOBS`), and each artifact's total jobs and its PASS
and rows-only counts.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from metrics_service_spark.catalog import all_queries  # noqa: E402
from metrics_service_spark.session import get_spark  # noqa: E402
from metrics_service_spark.testing.oracle import OracleMismatch, compare_query  # noqa: E402


#: the call site Spark names a job after when AQE materializes a query
#: stage on its own (a lazy localCheckpoint's planning, a stage of a
#: later action), as opposed to the action's own job
AQE_STAGE_JOB = "withThreadLocalCaptured"

#: entries whose job count varies from run to run on unchanged code at
#: sf0.01, with the range measured there: a count inside it is no change
VARYING_JOBS = {
    "emb_knn_pagerank_conserving": (28, 29),
    "ev_sessionize_bucketed": (5, 6),
}


def diff(before_path: str, after_path: str) -> None:
    """Print the per-entry jobs of two `--json` artifacts as a markdown
    table, then the entries whose count rose (less those that stayed
    inside their `VARYING_JOBS` range), then the varying entries with
    their counts and ranges on a line of their own, then each
    artifact's total jobs and PASS / rows-only counts."""
    with open(before_path) as f:
        before = json.load(f)["results"]
    with open(after_path) as f:
        after = json.load(f)["results"]
    print(
        "| entry | before | after | delta | AQE stage jobs before | after |"
        "\n|---|---|---|---|---|---|"
    )
    rose = []
    for name in sorted(before.keys() & after.keys()):
        b, a = before[name].get("jobs"), after[name].get("jobs")
        sb, sa = (r[name].get("aqe_stage_jobs") for r in (before, after))
        delta = "" if b is None or a is None else f"{a - b:+d}"
        print(f"| {name} | {b} | {a} | {delta} | {sb} | {sa} |")
        lo, hi = VARYING_JOBS.get(name, (None, None))
        if delta and a > b and not (lo is not None and lo <= b and a <= hi):
            rose.append(name)
    print(f"\n{len(rose)} entries rose: {', '.join(rose)}")
    varying = [
        f"{name} {before[name].get('jobs')} -> {after[name].get('jobs')} (varies {lo}-{hi})"
        for name, (lo, hi) in sorted(VARYING_JOBS.items())
        if name in before and name in after
    ]
    print(f"known to vary on unchanged code: {', '.join(varying) or 'none compared'}")
    for label, runs in (("before", before), ("after", after)):
        status = [r["status"] for r in runs.values()]
        print(
            f"{label}: {sum(r.get('jobs') or 0 for r in runs.values())} jobs,"
            f" {status.count('pass')} PASS, {status.count('rows-only')} rows-only"
            f" of {len(runs)} entries"
        )


def main() -> None:
    args = sys.argv[1:]
    if args[:1] == ["--diff"]:
        diff(args[1], args[2])
        return
    sf_dir = "/root/testdata/sf0.01"
    json_out = None
    if "--json" in args:
        json_out = args[args.index("--json") + 1]
        del args[args.index("--json") : args.index("--json") + 2]
    vanilla = "--vanilla" in args
    if vanilla:
        args.remove("--vanilla")
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    # the mapInPandas entries' Python workers import the package as
    # well; they take PYTHONPATH from the environment the session
    # starts with
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if vanilla:
        # driver-parity mode: the round driver builds its own PLAIN
        # session (no engine-tuned confs) — sweeping under the same
        # conditions catches any accidental conf-dependence
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check-entries-vanilla")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("check-entries")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    store = sc._jsc.sc().statusStore()
    catalog = all_queries()
    if args == ["--all"]:
        args = list(catalog)
    failed = []
    results: dict[str, dict] = {}
    # an alias shares its entry's QuerySpec: each spec runs once, and
    # its record and line stand under every name it serves
    ran: dict[int, tuple[str, str]] = {}
    for name in args:
        spec = catalog[name]
        if id(spec) in ran:
            first, line = ran[id(spec)]
            results[name] = results[first]
            if first in failed:
                failed.append(name)
            print(f"{name}: {line} (the run of {first})")
            continue
        group = f"check-entries-{name}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            if spec.oracle is None:
                n = spec.fn(spark, sf_dir).count()
                status, line = "rows-only", f"rows-only ({n} rows)"
            else:
                n = compare_query(spec.fn(spark, sf_dir), spec.oracle, sf_dir, name)
                status, line = "pass", f"PASS ({n} rows)"
        except OracleMismatch as e:
            failed.append(name)
            status, n, line = "fail", None, f"FAIL {e}"
        except Exception as e:  # driver-sim realism: record, keep sweeping
            failed.append(name)
            status, n, line = "error", None, f"ERROR {type(e).__name__}: {e}"
        finally:
            sc._jsc.clearJobGroup()
        seconds = time.perf_counter() - t0
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
        stage_jobs = sum(
            AQE_STAGE_JOB in store.job(j).name() for j in job_ids
        )
        line = f"{line} {seconds:.1f}s {len(job_ids)} jobs ({stage_jobs} AQE stage)"
        ran[id(spec)] = name, line
        print(f"{name}: {line}")
        results[name] = {
            "status": status,
            "rows": n,
            "seconds": round(seconds, 2),
            "jobs": len(job_ids),
            "aqe_stage_jobs": stage_jobs,
        }
    if json_out:
        summary = {
            "sf_dir": sf_dir,
            "entries": len(results),
            "pass": sum(1 for r in results.values() if r["status"] == "pass"),
            "rows_only": sum(
                1 for r in results.values() if r["status"] == "rows-only"
            ),
            "fail": sorted(failed),
            "results": results,
        }
        with open(json_out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
