#!/usr/bin/env python3
"""Steadiness report: run two sets of ten benchmark runs of the same code
and say, for each workload and end-to-end metric, whether the figures hold
still.

    python3 perfbench/steadiness.py

Set 1 runs seeds 1-10 and set 2 seeds 101-110, each on every workload of
BENCHMARK.json at its run_seconds. Per set and metric it prints the median
and the quartile spread (Q3 - Q1) / median over the set's seeds, using
statistics.quantiles(n=4). A metric is steady when the two medians differ
by at most its bound, in either direction, and when each set's spread is
within the bound. setup_s is exempt from the spread rule, as in the
benchmark's acceptance rules: set-up is gated only on its median. Runs
interleave the workloads so slow spells on the machine hit them alike.
Raw results go to .bench_build/steadiness/. Exit code 0 means steady.
"""
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUNS = 10
FIRST_SEEDS = (1, 101)


def run(workload, seed, seconds):
    t = time.time()
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    print(f"  {workload:<14} seed {seed:<5} {time.time() - t:5.1f} s  "
          f"{'ok' if res and res['correct'] else 'FAILED rc=%d' % proc.returncode}",
          flush=True)
    return res


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in spec["workloads"]]

    results = {}  # (set, workload) -> [metrics]
    for s, first in enumerate(FIRST_SEEDS):
        print(f"set {s + 1}", flush=True)
        for seed in range(first, first + RUNS):
            for w in workloads:
                res = run(w, seed, spec["run_seconds"])
                if res is None or not res["correct"]:
                    print(f"run failed: {w} seed {seed}")
                    return 2
                results.setdefault((s, w), []).append(res["metrics"])

    out = ROOT / ".bench_build" / "steadiness"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"results-{int(time.time())}.json").write_text(json.dumps(
        {f"{s}:{w}": v for (s, w), v in results.items()}, indent=1))

    steady = True
    print(f"\n{'workload':<14} {'metric':<18} {'bound':>5}  {'median1':>11} {'spread1':>8}"
          f"  {'median2':>11} {'spread2':>8}  verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            stats = [spread([r[name]["value"] for r in results[(s, w)]]) for s in (0, 1)]
            (first, sp1), (second, sp2) = stats
            problems = []
            if name != "setup_s":
                problems += [f"spread{s + 1}" for s, sp in enumerate((sp1, sp2)) if sp > bound]
            moved = (second - first) / first
            if abs(moved) > bound:
                problems.append(f"median2 off by {moved:+.1%}")
            tight = name == "setup_s" or max(sp1, sp2) < bound / 3
            verdict = ("FAIL " + ", ".join(problems)) if problems else ("ok" if tight else "ok (spread > bound/3)")
            steady &= not problems
            print(f"{w:<14} {name:<18} {bound:>5}  {first:>11.4g} {sp1:>8.3f}"
                  f"  {second:>11.4g} {sp2:>8.3f}  {verdict}")
    print("\nsteady" if steady else "\nNOT steady")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
