"""The benchmark's workloads, driving the engine only through public calls.

Each workload has a set-up (fixtures; the upkeep table), an operation
that the measured window repeats, and an output check after the window:

- `curation_batch`: one operation is a pass of two iterative catalog
  entries (record-linkage clusters, order-chain connected components)
  on a seeded row permutation and file split of the corpus.  A traced
  run also bootstraps the semantic and linkage gate indexes and traces
  one admission into each; the gates stay out of the timed operation,
  which the run time budget of the benchmark cannot afford.
- `table_upkeep`: one operation is a write/read cycle on a
  day-partitioned manifest table of the event stream: an upsert, a user
  expunge, a gold star refresh, and the documented landing-page
  MetricsRequest against the fresh snapshot.  After each cycle the
  harness applies the same upsert and expunge to its own pyarrow copy
  of the events and checks the table's rows, the gold star and the
  request reply against it (the last two through the DuckDB oracle).  A
  traced run also traces one compaction after its cycles; compaction
  stays out of the operation for the same budget reason as the gates.

An untraced run starts measuring on a cold JVM: its end-to-end figures
(jobs per operation, memory, failures, set-up time) do not depend on
warm code.  A traced run first runs one operation as a warm pass, then
one traced operation, so its wall times are warm.  An operation returns
its own wall time, the sum of its engine calls; harness work such as
writing the next input batch is not timed, and the output checks run
after the operation, outside its job group.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from check import DigestBook, digest, oracle_check
from spans import COUNTERS, Tracer

CURATION_ENTRIES = ("doc_linkage_clusters", "order_components")
CURATION_SCALE = 0.02
UPKEEP_SCALE = 0.02
GATE_CORPUS_SCALE = 0.01
GATE_BATCH = 16
N_SPLIT_FILES = 4
TRACED_OP = "traced"


class Run:
    """One benchmark run: the session, tracer, counters, and the figures
    the workload fills in."""

    def __init__(self, *, work, digests, workload, seed, seconds, traced):
        self.work = work
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced = traced
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.op_jobs: list[int] = []
        self.traced_op_s = 0.0
        self.traced_op_cpu_s = 0.0
        self.setup: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.book = DigestBook(os.path.join(digests, f"{workload}-{seed}.json"))

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def attempt(self, what: str, fn, *args, **kw):
        """Run one operation; an exception counts it failed and yields None."""
        try:
            out = fn(*args, **kw)
        except Exception:  # noqa: BLE001 - counted as a failed op; the run goes on
            print(f"[perfbench] {what} failed:", file=sys.stderr)
            traceback.print_exc()
            self.verdict(what, False)
            return None
        self.verdict(what, True)
        return out

    def verdict(self, what: str, ok: bool, detail: str = "") -> None:
        """Count one operation or output check; a mismatch is a failed op."""
        self.attempted += 1
        self.failed += not ok
        if not ok and detail:
            print(f"[perfbench] check {what} failed: {detail}", file=sys.stderr)

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and the Spark JVM."""
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        ticks = int(fields[11]) + int(fields[12])  # utime + stime
        return time.process_time() + ticks / os.sysconf("SC_CLK_TCK")

    def _untraced(self, op, i: int) -> float:
        """Run op `i` under one job group; count its jobs, return its wall."""
        sc = self.spark.sparkContext
        group = f"perfbench-op-{i}"
        sc.setJobGroup(group, group)
        wall = op(i)
        sc._jsc.clearJobGroup()
        self.op_jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return wall

    def measure(self, op, check) -> None:
        """Untraced: repeat `op(i)` until `seconds` have passed (at least
        once).  Traced: op 0 is the warm pass and op 1 runs with spans
        and job groups on.  `check(i)` checks the outputs of op `i`
        after it, outside the timed region and its job group."""
        if not self.traced:
            t_end = time.perf_counter() + self.seconds
            i = 0
            while True:
                self._untraced(op, i)
                check(i)
                i += 1
                if time.perf_counter() >= t_end:
                    return
        self.setup["warmup_s"] = self._untraced(op, 0)
        check(0)
        c0 = self.cpu_s()
        with self.tracer.traced(self.spark, TRACED_OP), self.tracer.span("bench", "op"):
            self.traced_op_s = op(1)
        self.traced_op_cpu_s = self.cpu_s() - c0
        check(1)

    def span_counts(self, name: str, trace_id: str = TRACED_OP) -> tuple[float, dict]:
        """Summed wall and counters of the traced spans called `name`."""
        spans = self.tracer.named(name, trace_id)
        acc = {k: sum(s.counts.get(k, 0) for s in spans) for k in COUNTERS}
        return sum(s.duration for s in spans), acc

    def oracle(self, name: str, spec, columns, rows, sf_dir: str) -> None:
        err = oracle_check(columns, rows, spec.oracle, sf_dir, name)
        self.verdict(f"oracle:{name}", err is None, err or "")


def _fixtures(run: Run, build) -> None:
    """Build the fixtures once; set-up counts the build."""
    t0 = time.perf_counter()
    build()
    run.setup["fixtures_s"] = time.perf_counter() - t0


def _check_outputs(run: Run, prefix: str, outs: dict) -> None:
    """Digest each non-failed output, a (columns, rows) pair."""
    for key, out in outs.items():
        if out is not None:
            run.book.check(f"{prefix}.{key}", digest(*out))


# ---------------------------------------------------------------------------
# curation_batch
# ---------------------------------------------------------------------------


class Gates:
    """The semantic and linkage admission gates over persistent indexes."""

    def __init__(self, run: Run, base: str, embeddings: pa.Table, documents: pa.Table):
        self.run, self.base = run, base
        self.embeddings, self.documents = embeddings, documents
        self.semantic = os.path.join(run.work, "gates", "semantic")
        self.linkage = os.path.join(run.work, "gates", "linkage")

    def bootstrap_semantic(self) -> None:
        from metrics_service_spark.streaming.semantic_gate import admit_batch

        self._bootstrap(admit_batch, self.semantic, "embeddings", ["vec_id", "embedding"],
                        n_cells=16)

    def bootstrap_linkage(self) -> None:
        from metrics_service_spark.streaming.linkage_gate import admit_batch_linkage

        self._bootstrap(admit_batch_linkage, self.linkage, "documents",
                        ["doc_id", "text", "lang"], block_cols=["lang"])

    def _bootstrap(self, admit, path, table, cols, **kw):
        # in two halves: the first admits into an empty index and the
        # second against a populated one, so both paths are warm
        from pyspark.sql import functions as F

        from metrics_service_spark.sources.tables import load_table

        corpus = load_table(self.run.spark, self.base, table).select(*cols)
        for half in (0, 1):
            admit(self.run.spark, path, corpus.filter(F.col(cols[0]) % 2 == half), **kw).count()

    def admit(self, i: int, outs: dict) -> None:
        """Admit batch `i` into each gate: half near-duplicates of corpus
        rows (expected rejections), half fresh rows."""
        from metrics_service_spark.streaming.linkage_gate import admit_batch_linkage
        from metrics_service_spark.streaming.semantic_gate import admit_batch

        run, spark, tr = self.run, self.run.spark, self.run.tracer
        emb_path, doc_path = self._batches(i)

        def semantic():
            out = admit_batch(spark, self.semantic, spark.read.parquet(emb_path), n_cells=16)
            return out.columns, out.collect()

        def linkage():
            batch = spark.read.parquet(doc_path)
            out = admit_batch_linkage(spark, self.linkage, batch, block_cols=["lang"])
            return out.columns, out.collect()

        for key, layer, name, fn in (
            ("admit_semantic", "streaming.semantic_gate", "admit_batch", semantic),
            ("admit_linkage", "streaming.linkage_gate", "admit_batch_linkage", linkage),
        ):
            with tr.span(layer, name):
                outs[key] = run.attempt(name, fn)

    def _batches(self, i: int) -> tuple[str, str]:
        rng = np.random.default_rng([self.run.seed, 41, i])
        out = self.run.dir("gates", f"b{i}")
        half = GATE_BATCH // 2
        ids = np.arange(GATE_BATCH, dtype=np.int64) + 10_000_000 + i * 1000

        vecs = self.embeddings.column("embedding").to_numpy(zero_copy_only=False)
        src = np.stack(vecs[rng.integers(0, len(vecs), half)])
        batch = np.vstack(
            [src + rng.normal(0.0, 0.01, src.shape), rng.standard_normal((half, src.shape[1]))]
        ).astype(np.float32)
        batch /= np.linalg.norm(batch, axis=1, keepdims=True)
        emb_path = os.path.join(out, "emb.parquet")
        pq.write_table(
            pa.table({"vec_id": ids, "embedding": pa.array(list(batch), pa.list_(pa.float32()))}),
            emb_path,
        )

        texts = self.documents.column("text").to_pylist()
        langs = self.documents.column("lang").to_pylist()
        vocab = np.asarray(datagen.WORDS)
        pick = rng.integers(0, len(texts), GATE_BATCH)
        out_text = [
            texts[k] + " " + vocab[rng.integers(0, len(vocab))]
            if j < half
            else " ".join(vocab[rng.integers(0, len(vocab), 40)])
            for j, k in enumerate(pick)
        ]
        doc_path = os.path.join(out, "docs.parquet")
        pq.write_table(
            pa.table({"doc_id": ids, "text": out_text, "lang": [langs[k] for k in pick]}),
            doc_path,
        )
        return emb_path, doc_path


def curation_batch(run: Run) -> None:
    from metrics_service_spark.catalog import all_queries

    spark, tr = run.spark, run.tracer
    queries = all_queries()
    sf, oracle_dir, gate_dir = run.dir("cur", "sf"), run.dir("cur", "oracle"), run.dir("cur", "gates")
    fx: dict[str, pa.Table] = {}

    def build():
        for name in ("documents", "orders"):
            table = datagen.MAKERS[name](CURATION_SCALE)
            datagen.permute_and_split(
                table, run.seed, os.path.join(sf, f"{name}.parquet"), N_SPLIT_FILES
            )
            pq.write_table(table, os.path.join(oracle_dir, f"{name}.parquet"))
        for name in ("embeddings", "documents"):
            fx[name] = datagen.MAKERS[name](GATE_CORPUS_SCALE)
            pq.write_table(fx[name], os.path.join(gate_dir, f"{name}.parquet"))

    _fixtures(run, build)
    results: dict[str, tuple[list, list]] = {}

    def entry(name):
        with tr.span("catalog", f"catalog.{name}"):
            df = queries[name].fn(spark, sf)
            results[name] = (df.columns, df.collect())

    def one_pass(i):
        results.clear()
        t0 = time.perf_counter()
        for name in CURATION_ENTRIES:
            run.attempt(name, entry, name)
        return time.perf_counter() - t0

    run.measure(one_pass, lambda i: _check_outputs(run, "entry", results))

    for name in CURATION_ENTRIES:
        if queries[name].oracle is not None and name in results:
            run.oracle(name, queries[name], *results[name], oracle_dir)

    L = run.layer
    for name in CURATION_ENTRIES:
        wall, c = run.span_counts(f"catalog.{name}")
        pre = f"catalog.{name}"
        L[f"{pre}.wall_s"] = wall
        for k in ("jobs", "stages", "shuffle_write_bytes", "executor_run_s", "spill_bytes"):
            L[f"{pre}.{k}"] = c[k]

    if run.traced:
        gates = Gates(run, gate_dir, fx["embeddings"], fx["documents"])
        gates.bootstrap_semantic()
        gates.bootstrap_linkage()
        outs: dict = {}
        with tr.traced(spark, "gates"):
            gates.admit(0, outs)
        _check_outputs(run, "gates", outs)
        for layer, name, key in (
            ("streaming.semantic_gate", "admit_batch", "admit_semantic"),
            ("streaming.linkage_gate", "admit_batch_linkage", "admit_linkage"),
        ):
            wall, c = run.span_counts(name, "gates")
            L[f"{layer}.admit_s"], L[f"{layer}.jobs"] = wall, c["jobs"]
            if outs.get(key):
                rows = outs[key][1]
                L[f"{layer}.admitted_frac"] = sum(r["kept"] for r in rows) / len(rows)
    run.verdict("digests", not run.book.mismatches, str(run.book.mismatches))


# ---------------------------------------------------------------------------
# table_upkeep
# ---------------------------------------------------------------------------


def _live_files(table_dir: str) -> list[str]:
    """Data files of the newest manifest version, read from its JSON."""
    from metrics_service_spark.sources.merge_table import current_version

    version = current_version(table_dir)
    with open(os.path.join(table_dir, "_manifests", f"v{version}.json")) as fh:
        return [e["path"] for e in json.load(fh)["files"]]


def _read_live(table_dir: str, columns: list[str] | None = None) -> pa.Table:
    """A manifest table's newest version, read with pyarrow alone."""
    return pa.concat_tables(
        pq.read_table(os.path.join(table_dir, p), columns=columns)
        for p in _live_files(table_dir)
    )


def _files_holding(table_dir: str, paths: list[str], col: str, value: int) -> int:
    """Independent pyarrow scan: how many live files hold `col == value`."""
    n = 0
    for p in paths:
        t = pq.read_table(os.path.join(table_dir, p), columns=[col])
        n += bool(pc.any(pc.equal(t[col], value)).as_py())
    return n


def _same_rows(got: pa.Table, want: pa.Table) -> bool:
    """Whether two event tables sorted by event_id hold the same rows
    (timestamps compared as instants, whatever unit the writer chose)."""
    if got.num_rows != want.num_rows:
        return False
    for name in want.column_names:
        a, b = got[name], want[name]
        if pa.types.is_timestamp(b.type):
            a, b = a.cast(pa.timestamp("us")), b.cast(pa.timestamp("us"))
        if not a.equals(b):
            return False
    return True


def _bytes_added(table_dir: str, before: list[str], after: list[str]) -> int:
    old = set(before)
    return sum(os.path.getsize(os.path.join(table_dir, p)) for p in after if p not in old)


UPKEEP_STEPS = ("merge", "delete", "refresh", "request")


# the request every upkeep cycle serves: the documented landing-page
# request (dataset scope, monthly buckets), the same for every seed so
# that the cycle's job count depends on the engine alone
CYCLE_REQUEST = "metrics_request_landing"


def upsert_batch(events: pa.Table, plan: dict) -> pa.Table:
    """A cycle's upsert batch: the planned residue class of event ids
    inside the planned days, with the value bumped."""
    t0 = np.datetime64(datagen.EVENT_T0, "us")
    day = (events["ts"].to_numpy() - t0) // np.timedelta64(1, "D")
    ids = events["event_id"].to_numpy()
    mask = np.isin(day, plan["upsert_days"]) & (
        ids % plan["upsert_mod"] == plan["upsert_residue"]
    )
    batch = events.filter(pa.array(mask))
    bumped = pc.round(pc.add(batch["value"], plan["value_bump"]), 2)
    return batch.set_column(batch.schema.get_field_index("value"), "value", bumped)


def apply_cycle(events: pa.Table, batch: pa.Table, expunge_user: int) -> pa.Table:
    """What a cycle's writes leave in the table: `batch` replaces the rows
    with its event ids, then every row of `expunge_user` goes."""
    kept = events.filter(pc.invert(pc.is_in(events["event_id"], batch["event_id"])))
    out = pa.concat_tables([kept, batch])
    return out.filter(pc.not_equal(out["user_id"], expunge_user)).sort_by("event_id")


class Upkeep:
    """The upkeep cycle against one day-partitioned event table, and the
    pyarrow copy of the events that the cycle's outputs are checked
    against."""

    def __init__(self, run: Run, name: str, events: pa.Table):
        from metrics_service_spark.catalog import all_queries
        from metrics_service_spark.catalog.request import citations_view, identifiers_view

        self.run = run
        self.root = run.dir("up", name)
        self.table = os.path.join(self.root, "table")
        self.gold = os.path.join(self.root, "gold")
        self.expected_dir = run.dir("up", name, "expected")
        self.events = events
        self.expected = events.sort_by("event_id")
        self.queries = all_queries()
        self.ids = identifiers_view(run.spark, datagen.N_PIDS - 1)
        self.cites = citations_view(run.spark, datagen.N_PIDS - 1)

    @staticmethod
    def _with_day(df):
        from pyspark.sql import functions as F

        return df.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))

    def bootstrap(self, split_dir: str) -> None:
        from metrics_service_spark.sources.merge_table import merge_table
        from metrics_service_spark.sources.tables import load_table

        merge_table(
            self.run.spark, self.table,
            self._with_day(load_table(self.run.spark, split_dir, "events")),
            key_cols=["event_id"], partition_cols=["day"],
        )

    def compact(self) -> None:
        from metrics_service_spark.sources.merge_table import compact_table

        with self.run.tracer.span("sources.merge_table", "compact_table"):
            self.run.attempt("compact_table", compact_table, self.run.spark, self.table)

    def _step(self, st: dict, key: str, layer: str, name: str, fn) -> None:
        with self.run.tracer.span(layer, name) as s:
            st["outs"][key] = self.run.attempt(name, fn)
        st[key] = s["wall_s"]

    def writes(self, i: int, st: dict) -> None:
        """The cycle's writes: upsert, then expunge, with file counts."""
        from metrics_service_spark.sources.merge_table import delete_from_table, merge_table
        from metrics_service_spark.sources.tables import load_table

        run, spark, tdir = self.run, self.run.spark, self.table
        plan = st["plan"] = datagen.upkeep_cycle_plan(run.seed, i)
        batch = st["batch"] = upsert_batch(self.events, plan)
        upd_dir = os.path.join(self.root, f"c{i}")
        os.makedirs(upd_dir, exist_ok=True)
        pq.write_table(batch, os.path.join(upd_dir, "events.parquet"))

        def merge():
            with run.tracer.span("sources.tables", "load_table"):
                upd = self._with_day(load_table(spark, upd_dir, "events"))
            return merge_table(spark, tdir, upd, key_cols=["event_id"], partition_cols=["day"])

        def delete():
            keys = spark.createDataFrame([(plan["expunge_user"],)], "user_id long")
            return delete_from_table(spark, tdir, keys, key_cols=["user_id"])

        before = _live_files(tdir)
        self._step(st, "merge", "sources.merge_table", "merge_table", merge)
        merged = _live_files(tdir)
        st["holding"] = _files_holding(tdir, merged, "user_id", plan["expunge_user"])
        self._step(st, "delete", "sources.merge_table", "delete_from_table", delete)
        deleted = _live_files(tdir)
        st["rewritten"] = len(set(merged) - set(deleted))
        st["bytes"] = _bytes_added(tdir, before, merged) + _bytes_added(tdir, merged, deleted)
        st["live"] = len(deleted)

    def reads(self, i: int, st: dict) -> None:
        """The cycle's reads of the fresh snapshot: gold refresh, then the
        landing-page MetricsRequest."""
        from metrics_service_spark.catalog.request import LANDING_REQUEST, metrics_event_view
        from metrics_service_spark.plans.gold import metrics_star
        from metrics_service_spark.plans.metrics_request import (
            MetricsTables,
            run_metrics_request,
        )
        from metrics_service_spark.sources.eventlog import eventlog_view
        from metrics_service_spark.sources.merge_table import overwrite_table, read_table

        run, spark, tr = self.run, self.run.spark, self.run.tracer

        def snapshot():
            with tr.span("sources.merge_table", "read_table"):
                return read_table(spark, self.table).drop("day")

        def refresh():
            snap = snapshot()
            with tr.span("sources.eventlog", "eventlog_view"):
                el = eventlog_view(snap)
            return overwrite_table(metrics_star(el), self.gold)

        def request():
            tables = MetricsTables(
                events=metrics_event_view(snapshot()),
                identifiers=self.ids,
                citations=self.cites,
            )
            with tr.span("plans.metrics_request", "run_metrics_request"):
                df = run_metrics_request(spark, LANDING_REQUEST, tables)
            with tr.span("plans.metrics_request", "collect"):
                rows = df.collect()
            return df.columns, rows

        self._step(st, "refresh", "plans.gold", "metrics_star", refresh)
        self._step(st, "request", "bench", "request", request)

    def cycle(self, i: int) -> dict:
        """Run cycle `i`; returns its step walls, file counts and outputs."""
        st: dict = {"outs": {}}
        self.writes(i, st)
        self.reads(i, st)
        st["wall"] = sum(st[k] for k in UPKEEP_STEPS)
        return st

    def check(self, i: int, st: dict) -> None:
        """Check cycle `i` against the expected events: the table's rows
        (read with pyarrow), the refreshed gold star and the request reply
        (both against the DuckDB oracle over the expected events)."""
        run = self.run
        self.expected = apply_cycle(self.expected, st["batch"], st["plan"]["expunge_user"])
        pq.write_table(self.expected, os.path.join(self.expected_dir, "events.parquet"))
        got = _read_live(self.table, self.expected.column_names).sort_by("event_id")
        run.verdict(f"c{i}:table", _same_rows(got, self.expected),
                    "table rows differ from the expected upsert and expunge")
        if st["outs"]["refresh"] is not None:
            gold = _read_live(self.gold)
            rows = list(zip(*(c.to_pylist() for c in gold.columns)))
            run.oracle("metrics_star", self.queries["metrics_star"], gold.column_names,
                       rows, self.expected_dir)
        if st["outs"]["request"] is not None:
            run.oracle(CYCLE_REQUEST, self.queries[CYCLE_REQUEST], *st["outs"]["request"],
                       self.expected_dir)


def table_upkeep(run: Run) -> None:
    spark = run.spark
    split = run.dir("up", "split")
    fx: dict[str, pa.Table] = {}

    def build():
        fx["events"] = datagen.make_events(UPKEEP_SCALE)
        datagen.permute_and_split(
            fx["events"], run.seed, os.path.join(split, "events.parquet"), N_SPLIT_FILES
        )

    _fixtures(run, build)
    t0 = time.perf_counter()
    main = Upkeep(run, "main", fx["events"])
    main.bootstrap(split)
    run.setup["bootstrap_s"] = time.perf_counter() - t0

    cycles: list[dict] = []

    def op(i):
        cycles.append(main.cycle(i))
        return cycles[-1]["wall"]

    run.measure(op, lambda i: main.check(i, cycles[i]))
    if run.traced:
        with run.tracer.traced(spark, "compact"):
            main.compact()

    # per-layer figures come from the traced cycle, the last one
    st = cycles[-1]
    L = run.layer
    pre = "sources.merge_table"
    L[f"{pre}.files_rewritten"] = st["rewritten"]
    L[f"{pre}.files_holding_keys"] = st["holding"]
    L[f"{pre}.delete_rewrite_ratio"] = st["rewritten"] / st["holding"] if st["holding"] else 0.0
    L[f"{pre}.bytes_written"] = st["bytes"]
    L[f"{pre}.live_files"] = st["live"]
    for key, name, trace_id in (("merge", "merge_table", TRACED_OP),
                                ("delete", "delete_from_table", TRACED_OP),
                                ("compact", "compact_table", "compact")):
        wall, c = run.span_counts(name, trace_id)
        L[f"{pre}.{key}_s"] = wall
        L[f"{pre}.jobs_per_{key}"] = c["jobs"]
    wall, c = run.span_counts("metrics_star")
    L["plans.gold.metrics_star_s"], L["plans.gold.jobs"] = wall, c["jobs"]
    plan_s, pc_ = run.span_counts("run_metrics_request")
    collect_s, cc = run.span_counts("collect")
    pre = "plans.metrics_request"
    L[f"{pre}.plan_s"], L[f"{pre}.collect_s"] = plan_s, collect_s
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "executor_run_s"):
        L[f"{pre}.{k}"] = pc_[k] + cc[k]


WORKLOADS = {"curation_batch": curation_batch, "table_upkeep": table_upkeep}
