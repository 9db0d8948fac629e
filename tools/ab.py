"""Interleaved A/B of the benchmark between two checkouts.

    python tools/ab.py PARENT_DIR CHANGE_DIR --workload table_upkeep \\
        --pairs 10 --seeds 1-10 [--seconds 10] [--trace 0] [--json OUT]

Runs `perfbench/run.py` from each checkout (each in its own process,
from its own directory) for `--pairs` pairs.  Pair i uses the i-th
seed of `--seeds` (cycled); the parent runs first in even pairs and
the change first in odd ones, so drift on the machine falls on both
sides alike.  For every metric the runs print, it reports each side's
median and quartiles and in how many pairs the change was better
(ties count for neither side), taking the better direction and the
regression bound from the change checkout's BENCHMARK.json.  A metric
is called a gain when the change wins at least nine tenths of the
pairs and the medians differ by more than the distance between the
parent's quartiles; a regression when the change's median is worse
than the parent's by more than the metric's bound.  Every run must
report `correct: true`; the tool prints each run's verdict and counts.

It only runs the benchmark: it writes nothing in either checkout but
what `perfbench/run.py` itself writes there.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def _seeds(spec: str) -> list[int]:
    """'1-10' or '1,4,7' -> the seed list."""
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run from `checkout`: its parsed last stdout line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        raise RuntimeError(f"{checkout}: {' '.join(cmd)} failed:\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict], declared: dict[str, dict]) -> list[dict]:
    """One row per metric of the paired `runs` ({"parent", "change"}
    records, one per pair): medians, quartiles, wins and the verdict."""
    names = sorted({m for r in runs for side in r.values() for m in side["metrics"]})
    rows = []
    for name in names:
        pairs = [(r["parent"]["metrics"].get(name), r["change"]["metrics"].get(name))
                 for r in runs]
        pairs = [(a["value"], b["value"]) for a, b in pairs if a and b]
        if not pairs:
            continue
        lower = declared.get(name, {}).get("better", "lower") == "lower"
        parent = [a for a, _ in pairs]
        change = [b for _, b in pairs]
        wins = sum((b < a) if lower else (b > a) for a, b in pairs)
        losses = sum((b > a) if lower else (b < a) for a, b in pairs)
        pq1, pmed, pq3 = _quartiles(parent)
        cq1, cmed, cq3 = _quartiles(change)
        diff = pmed - cmed if lower else cmed - pmed
        bound = declared.get(name, {}).get("bound")
        verdict = ""
        if wins >= 0.9 * len(pairs) and diff > pq3 - pq1:
            verdict = "gain"
        elif bound is not None and -diff > bound * abs(pmed):
            verdict = "REGRESSION"
        elif bound is not None:
            verdict = "within bound"
        rows.append({
            "metric": name, "unit": declared.get(name, {}).get("unit", ""),
            "better": "lower" if lower else "higher", "pairs": len(pairs),
            "parent": {"median": pmed, "q1": pq1, "q3": pq3},
            "change": {"median": cmed, "q1": cq1, "q3": cq3},
            "wins": wins, "losses": losses, "verdict": verdict,
        })
    return rows


def _fmt(x: float) -> str:
    return f"{x:.4g}"


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="write every run and the summary here")
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    seeds = _seeds(args.seeds)
    runs = []
    for i in range(args.pairs):
        seed = seeds[i % len(seeds)]
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {}
        for side in order:
            checkout = args.parent if side == "parent" else args.change
            pair[side] = run_once(checkout, args.workload, seed, args.seconds, args.trace)
        runs.append(pair)
        print(f"pair {i + 1}/{args.pairs} seed {seed} first={order[0]}: "
              + ", ".join(f"{s} correct={pair[s]['correct']} "
                          f"failed={pair[s]['failed']}/{pair[s]['attempted']}"
                          for s in ("parent", "change")), flush=True)

    rows = summarize(runs, declared)
    print(f"\n{args.workload}, {len(runs)} pairs, --trace {args.trace}, "
          f"--seconds {args.seconds:g}: median [q1-q3]")
    def side(s: dict) -> str:
        return f"{_fmt(s['median'])} [{_fmt(s['q1'])}-{_fmt(s['q3'])}]"

    print(f"{'metric':46} {'parent':>30} {'change':>30} {'wins':>7}  verdict")
    for r in rows:
        print(f"{r['metric']:46} {side(r['parent']):>30} {side(r['change']):>30} "
              f"{r['wins']:>3}/{r['pairs']:<3}  {r['verdict']}")
    bad = [s for r in runs for s in r.values() if not s["correct"] or s["failed"]]
    print(f"runs not correct or with failed operations: {len(bad)}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"args": vars(args), "runs": runs, "summary": rows}, fh, indent=1)


if __name__ == "__main__":
    main()
