"""Steadiness check: run every workload repeatedly, in two sets, and
report how much each end-to-end metric spreads within a set and how far
its median moves between the sets.

    python3 perfbench/steady.py --runs 10 [--first-seed 1]

Run from the repository root. Each set makes ``--runs`` untraced runs
of every workload of BENCHMARK.json, alternating between the workloads,
each as ``perfbench/run.py`` with BENCHMARK.json's ``run_seconds``. The
i-th run of set s uses seed ``first-seed + s * runs + i``, so no two runs
of a workload share a seed. Per set and metric it prints the median,
the quartiles (``statistics.quantiles(n=4)``), the spread
(q3 - q1) / median and (max - min) / median, and whether the spread is
within the metric's bound (``setup_s``'s spread is not gated). Then,
per metric, the move of the second set's median from the first's, in
the metric's worse direction, as a share of the first median, against
the bound. Every run's result line and wall time go to
``.bench_work/steady.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_work", "steady.json")
SETS = 2


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True,
    )
    lines = p.stdout.strip().splitlines()
    res = {"workload": workload, "seed": seed, "rc": p.returncode,
           "wall_s": time.monotonic() - t0,
           "log": [ln for ln in p.stderr.splitlines() if ln.startswith("[")]}
    if lines and lines[-1].startswith("{"):
        res["result"] = json.loads(lines[-1])
    return res


def values(runs: list[dict], workload: str, name: str) -> list[float]:
    return [r["result"]["metrics"][name]["value"] for r in runs
            if r["workload"] == workload and "result" in r]


def report_set(s: int, runs: list[dict], metrics: list[dict]) -> None:
    for w in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == w]
        ok = [r["result"] for r in mine if "result" in r]
        walls = [r["wall_s"] for r in mine]
        print(f"\nset {s + 1}, {w}: {len(ok)} results of {len(mine)} runs, "
              f"wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s, "
              f"all correct: {all(r['correct'] for r in ok)}")
        if len(ok) < 2:
            continue
        print(f"  {'metric':24} {'median':>12} {'q1':>12} {'q3':>12} "
              f"{'iqr/med':>8} {'rng/med':>8}  bound")
        for m in metrics:
            xs = values(mine, w, m["name"])
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4)
            iqr, rng = (q3 - q1) / med, (max(xs) - min(xs)) / med
            b = m["bound"]
            if m["name"] == "setup_s":
                flag = "spread not gated"
            else:
                flag = ("within" if iqr <= b else "OVER") + (
                    ", < bound/3" if iqr < b / 3 else "")
            print(f"  {m['name']:24} {med:12.6g} {q1:12.6g} {q3:12.6g} "
                  f"{iqr:8.3f} {rng:8.3f}  {b:.2f} {flag}")


def report_shift(sets: list[list[dict]], metrics: list[dict]) -> None:
    print("\nmedian move from set 1 to set 2, in the worse direction "
          "(negative: better)")
    for w in sorted({r["workload"] for r in sets[0]}):
        print(f"  {w}:")
        for m in metrics:
            a, b = (values(runs, w, m["name"]) for runs in sets)
            if not a or not b:
                continue
            m1, m2 = statistics.median(a), statistics.median(b)
            worse = (m2 - m1) / m1 * (1 if m["better"] == "lower" else -1)
            print(f"    {m['name']:24} {m1:12.6g} -> {m2:12.6g}  {worse:+7.3f}  "
                  f"bound {m['bound']:.2f} {'within' if worse <= m['bound'] else 'OVER'}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    workloads = [w["name"] for w in bench["workloads"]]
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    sets: list[list[dict]] = [[] for _ in range(SETS)]
    for s in range(SETS):
        for i in range(args.runs):
            for w in workloads:
                r = run_once(w, args.first_seed + s * args.runs + i,
                             bench["run_seconds"])
                sets[s].append(r)
                print(f"set {s + 1}, {w} seed {r['seed']}: rc {r['rc']}, "
                      f"{r['wall_s']:.1f} s", flush=True)
                with open(OUT, "w") as fh:
                    json.dump(sets, fh, indent=1)
    for s, runs in enumerate(sets):
        report_set(s, runs, bench["end_to_end"])
    report_shift(sets, bench["end_to_end"])
    return 0 if all(r["rc"] == 0 for runs in sets for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
