"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py          # input checks and tiny end-to-end runs
    python3 perfbench/selftest.py --quick  # input checks only (no Spark)

Checks that the same seed gives the same inputs and another seed gives
other inputs, and, with every workload shrunk to a tiny size, that each
run (untraced and traced) prints every metric BENCHMARK.json declares,
with its unit, and that the layers a workload drives report work.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import datagen  # noqa: E402
import run as bench  # noqa: E402
import workloads  # noqa: E402


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"selftest FAILED: {what}")


def _files_digest(d: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


def _inputs(seed: int, tmp: str) -> dict[str, str]:
    """Digest of every seeded input the workloads generate."""
    out: dict[str, str] = {}
    docs = datagen.make_documents(0.002)
    split = os.path.join(tmp, f"split-{seed}")
    datagen.permute_and_split(docs, seed, split, workloads.N_SPLIT_FILES)
    out["split"] = _files_digest(split)
    events = datagen.make_events(0.002)
    plans = [datagen.upkeep_cycle_plan(seed, i) for i in range(4)]
    out["plans"] = json.dumps(plans)
    out["upserts"] = "".join(
        hashlib.sha256(str(workloads.upsert_batch(events, p).to_pydict()).encode()).hexdigest()
        for p in plans
    )
    run = workloads.Run(
        work=os.path.join(tmp, f"work-{seed}"), digests=tmp, workload="selftest",
        seed=seed, seconds=1, traced=False,
    )
    gates = workloads.Gates(
        run, tmp, datagen.make_embeddings(0.002), datagen.make_documents(0.002)
    )
    out["gate_batches"] = _files_digest(os.path.dirname(gates._batches(0)[0]))
    return out


def check_inputs(tmp: str) -> None:
    a, a2, b = _inputs(1, tmp), _inputs(1, tmp), _inputs(2, tmp)
    _expect(a == a2, "same seed must give the same inputs")
    for key in a:
        _expect(a[key] != b[key], f"a different seed must change the {key}")
    for name, make in datagen.MAKERS.items():
        _expect(make(0.002).equals(make(0.002)), f"the base {name} table must be fixed")
    print("selftest: seeded inputs ok")


def check_expected_events() -> None:
    """The upkeep check's own model of a cycle: the upsert replaces
    values, the expunge removes exactly the user's rows."""
    events = datagen.make_events(0.002)
    plan = datagen.upkeep_cycle_plan(1, 0)
    batch = workloads.upsert_batch(events, plan)
    user = plan["expunge_user"]
    out = workloads.apply_cycle(events, batch, user).to_pydict()
    before = events.to_pydict()
    gone = sum(u == user for u in before["user_id"])
    _expect(batch.num_rows > 0 and gone > 0, "the cycle plan must touch rows")
    _expect(len(out["event_id"]) == events.num_rows - gone, "expunge row count")
    _expect(user not in out["user_id"], "expunged user left in the expected events")
    value = dict(zip(out["event_id"], out["value"]))
    for eid, v, u in zip(*(batch[c].to_pylist() for c in ("event_id", "value", "user_id"))):
        _expect(u == user or value[eid] == v, f"upsert of event {eid} not applied")
    print("selftest: expected-events model ok")


# layer figures that must show work on the workload that drives the layer
OWNED = {
    "curation_batch": (
        "catalog.doc_linkage_clusters.jobs",
        "catalog.order_components.jobs",
        "streaming.semantic_gate.jobs",
        "streaming.linkage_gate.jobs",
    ),
    "table_upkeep": (
        "sources.merge_table.jobs_per_merge",
        "sources.merge_table.jobs_per_delete",
        "sources.merge_table.live_files",
        "plans.gold.jobs",
        "plans.metrics_request.jobs",
    ),
}


def check_runs(tmp: str) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    # tiny runs keep their scratch and digests apart from real runs
    bench.STATE = tmp
    for name, value in (
        ("CURATION_SCALE", 0.002), ("UPKEEP_SCALE", 0.002), ("GATE_CORPUS_SCALE", 0.002),
    ):
        setattr(workloads, name, value)
    for w in spec["workloads"]:
        for trace in (0, 1):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                rc = bench.main(["--workload", w["name"], "--seed", "7",
                                 "--seconds", "1", "--trace", str(trace)])
            _expect(rc == 0, f"{w['name']} trace={trace} exited {rc}")
            result = json.loads(buf.getvalue().strip().splitlines()[-1])
            _expect(set(result) == {"correct", "attempted", "failed", "metrics"},
                    "result keys")
            _expect(result["correct"] and result["failed"] == 0,
                    f"{w['name']} trace={trace} reported failures")
            declared = spec["per_layer"] if trace else spec["end_to_end"]
            got = result["metrics"]
            _expect(list(got) == [m["name"] for m in declared],
                    f"{w['name']} trace={trace} metric names")
            for m in declared:
                _expect(got[m["name"]]["unit"] == m["unit"], f"unit of {m['name']}")
                _expect(isinstance(got[m["name"]]["value"], (int, float)),
                        f"value of {m['name']}")
            if trace:
                for key in OWNED[w["name"]]:
                    _expect(got[key]["value"] > 0, f"{w['name']} reports no work for {key}")
            else:
                for m in declared:
                    _expect(got[m["name"]]["value"] > 0, f"{m['name']} reads 0")
            print(f"selftest: {w['name']} trace={trace} ok")


def main(argv: list[str]) -> int:
    tmp = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    try:
        check_inputs(tmp)
        check_expected_events()
        if "--quick" not in argv:
            check_runs(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
