#!/usr/bin/env python3
"""Steadiness check: two sets of runs of one commit against BENCHMARK.json.

    python3 perfbench/steadiness.py

Set 0 runs seeds 101-110 and set 1 seeds 111-120; each seed runs every
workload of BENCHMARK.json once, untraced, for its ``run_seconds``. For
every end-to-end metric and workload it prints each set's median,
quartiles and spread (interquartile range over median, the quartiles
from ``statistics.quantiles(values, n=4)``), then checks:

* every set's spread is within the metric's bound, and reports whether
  it is below a third of the bound;
* the two set medians differ by no more than the bound, in either
  direction.

It names every metric that fails, also any run that failed or exited
with an error, writes all values to ``.perfbench/steadiness.json`` and
exits 1 on any failure.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN = Path(__file__).resolve().parent / "run.py"
SETS, RUNS, FIRST_SEED = 2, 10, 101


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, cwd=ROOT, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"error": f"exit {p.returncode}: {p.stderr[-400:]}",
                "wall_s": wall}
    summary = lines[-2] if len(lines) > 1 else ""
    return {**json.loads(lines[-1]), "wall_s": wall, "summary": summary}


def stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]

    results: dict[str, list[list[dict]]] = {
        w: [[] for _ in range(SETS)] for w in workloads}
    problems = []
    for k in range(SETS):
        for r in range(RUNS):
            seed = FIRST_SEED + k * RUNS + r
            for w in workloads:  # interleaved: noise hits all alike
                res = run_once(w, seed, seconds)
                results[w][k].append(res)
                state = res.get("error") or (
                    f"{res['attempted']} ops, {res['failed']} failed")
                host = res.get("summary", "").partition("; anchor ")[2]
                print(f"set {k} seed {seed} {w}: {state} "
                      f"({res['wall_s']:.0f} s; anchor {host})", flush=True)
                if "error" in res or res["failed"] or not res["correct"]:
                    problems.append(f"{w} seed {seed}: {state}")

    report = {}
    for w in workloads:
        print(f"\n{w}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = [stats([res["metrics"][name]["value"] for res in runs
                           if "metrics" in res]) for runs in results[w]]
            report[f"{w}/{name}"] = sets
            for k, s in enumerate(sets):
                steady = ("ok" if s["spread"] <= bound / 3 else
                          "within bound" if s["spread"] <= bound else "FAIL")
                print(f"  {name:24s} set {k}: median {s['median']:.6g} "
                      f"q1 {s['q1']:.6g} q3 {s['q3']:.6g} spread "
                      f"{s['spread']:.4f} (bound {bound}) {steady}")
                if steady == "FAIL":
                    problems.append(f"{w}/{name} set {k}: spread "
                                    f"{s['spread']:.4f} > bound {bound}")
                if k:
                    base, cur = sets[0]["median"], s["median"]
                    apart = abs(cur - base) / base
                    if apart > bound:
                        problems.append(
                            f"{w}/{name} set {k}: median differs from set 0"
                            f" by {apart:.4f} > bound {bound}")
    walls = [res["wall_s"] for sets in results.values() for runs in sets
             for res in runs]
    print(f"\nrun wall time: median {statistics.median(walls):.0f} s, "
          f"max {max(walls):.0f} s")
    out = ROOT / ".perfbench"
    out.mkdir(exist_ok=True)
    (out / "steadiness.json").write_text(json.dumps(
        {"runs": results, "stats": report, "problems": problems}, indent=1))
    for p in problems:
        print("FAIL", p)
    print("steady" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
