"""Benchmark entry point.

    python3 perfbench/run.py --workload curation_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  It starts one Spark session pinned to
the machine's core count, builds the workload's inputs from the seed,
measures for `--seconds`, checks the outputs, and prints one JSON line
as the last line of stdout: the
end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`.  Everything it writes lives under
`.perfbench/` in the repository root: the run's scratch directory
(removed at exit), the span dumps of traced runs, and the output
digests that later runs with the same seed and code must reproduce.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
LAYERS = (
    "bench",
    "sources.tables",
    "sources.eventlog",
    "sources.merge_table",
    "plans.metrics_request",
    "plans.gold",
    "catalog",
    "streaming.semantic_gate",
    "streaming.linkage_gate",
)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _heap_after_gc_mb(spark) -> float:
    """JVM heap in use after full collections: what the run still holds
    (cached blocks, indexes), whatever size the collector grew the heap
    to.  Spark's cleaner frees shuffle and broadcast blocks only some
    time after a collection found their owners unreachable, so the
    collections repeat (after dropping Python's handles to JVM objects)
    until the lowest reading has held for three rounds."""
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    low, held = float("inf"), 0
    while held < 3:
        gc.collect()
        jvm.java.lang.System.gc()
        used = heap.getHeapMemoryUsage().getUsed() / 2**20
        held = held + 1 if used > 0.99 * low else 0
        low = min(low, used)
        time.sleep(0.5)
    return low


def _environment(work: str) -> dict[str, str]:
    """Pin the core count and keep every Spark and temp file in `work`."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    tempfile.tempdir = tmp
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # The engine's own driver memory and heap sizing.  One departure
        # from the engine's runtime: C1 only.  On a 4-core machine the C2
        # compiler's background compiles used about two thirds of the
        # CPU of an operation, and runs grew past the benchmark's time
        # budget; at this size operations are bound by job launch, not
        # rows.  C1 alone defaults to a 48 MB code cache, which Spark
        # fills (the JVM then fails), so keep the tiered size.
        "spark.driver.extraJavaOptions": (
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
    }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - a JVM that already died cannot stop
        print("perfbench: the Spark JVM was gone at stop", file=sys.stderr)
    # a later session in this process starts a fresh JVM
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "metrics_service_spark", "__init__.py")):
        print("perfbench: metrics_service_spark not found next to perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[:0] = [ROOT, HERE]
    from check import source_hash
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(STATE, f"work-{os.getpid()}")
    code = source_hash([os.path.join(ROOT, "metrics_service_spark"), HERE])
    run = Run(
        work=work,
        digests=os.path.join(STATE, "digests", code),
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        traced=bool(args.trace),
    )
    spark = None
    try:
        conf = _environment(work)
        from metrics_service_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        run.setup["get_spark_s"] = time.perf_counter() - t0
        # the lazy localCheckpoint cleanup logs benign "non-existent
        # accumulator" ERROR lines; failures are counted from exceptions
        spark.sparkContext.setLogLevel("FATAL")
        run.spark = spark
        WORKLOADS[args.workload](run)
        run.book.save()
        run.layer["peak_rss_mb"] = _vm_hwm_mb("self") + _vm_hwm_mb(
            spark.sparkContext._gateway.proc.pid
        )
        heap_mb = _heap_after_gc_mb(spark)
        if run.traced:
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            run.tracer.dump(
                os.path.join(STATE, "traces", f"{args.workload}-{args.seed}.json")
            )
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    setup_s = run.setup["get_spark_s"] + run.setup["fixtures_s"] + run.setup.get("bootstrap_s", 0.0)
    values = {
        "setup_s": setup_s,
        "op_jobs": statistics.median(run.op_jobs),
        "heap_after_gc_mb": heap_mb,
        "ok_ops_frac": 1.0 - run.failed / max(1, run.attempted),
    }
    # every per-layer metric is reported on every workload; a layer the
    # workload does not exercise reads 0
    layer = {m["name"]: 0.0 for m in spec["per_layer"]}
    layer.update(run.layer)
    layer["session.get_spark_s"] = run.setup["get_spark_s"]
    layer["session.warmup_s"] = run.setup.get("warmup_s", 0.0)
    if run.traced:
        layer["trace.op_s"] = run.traced_op_s
        layer["trace.op_cpu_s"] = run.traced_op_cpu_s
        layer["trace.overhead_s"] = run.tracer.overhead_s
        self_s = run.tracer.self_times()
        for name in LAYERS:
            layer[f"{name}.self_s"] = self_s.get(name, 0.0)

    group = spec["per_layer"] if run.traced else spec["end_to_end"]
    source = layer if run.traced else values
    missing = [m["name"] for m in group if m["name"] not in source]
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 1
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
                    for m in group
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
