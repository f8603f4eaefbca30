#!/usr/bin/env python3
"""Paired comparison of two builds on one workload and seed.

    python3 perfbench/compare.py --parent P/perfbench/.build/classpath \\
        --change C/perfbench/.build/classpath --workload batch_small --seed 7

Each classpath file is what run.py leaves in perfbench/.build/ after
building a checkout; build the parent by running the benchmark once in
a checkout of the parent commit that has this perfbench/ directory.
Both sides run with this checkout's benchmark code and inputs.

It runs --pairs pairs (at least 10), alternating which side goes
first, and prints for every end-to-end metric each side's median and
quartiles, the share of pairs the change won (ties count for neither)
and a verdict:

  gain          the change won at least 9 of 10 pairs and the medians
                differ by more than the parent's own quartile distance
  regression    the change's median is worse than the parent's by more
                than the metric's bound in BENCHMARK.json
  unresolved    the parent's quartile spread is wider than the bound,
                and not every change run beat every parent run
  within bound  none of the above
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402


def run_once(classpath, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0", "--classpath", classpath],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    if proc.returncode != 0 or not last.startswith("{"):
        sys.exit(f"run failed ({classpath}):\n{proc.stdout[-2000:]}")
    result = json.loads(last)
    return {k: v["value"] for k, v in result["metrics"].items()}


def verdict(parent, change, better, bound, wins, pairs):
    p_med, c_med = statistics.median(parent), statistics.median(change)
    q1, _, q3 = stats.quartiles(parent)
    worse = (c_med - p_med) / p_med if better == "lower" else (p_med - c_med) / p_med
    all_better = (max(change) < min(parent)) if better == "lower" else (min(change) > max(parent))
    if wins >= 0.9 * pairs and abs(c_med - p_med) > q3 - q1:
        return "gain"
    if worse > bound:
        return "regression"
    if stats.spread(parent) > bound and not all_better:
        return "unresolved"
    return "within bound"


def main():
    ap = argparse.ArgumentParser(description="paired parent/change comparison")
    ap.add_argument("--parent", required=True, help="the parent build's classpath file")
    ap.add_argument("--change", required=True, help="the change's classpath file")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()
    if a.pairs < 10:
        sys.exit("at least 10 pairs")
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            runs[side].append(run_once(getattr(a, side), a.workload, a.seed, bench["run_seconds"]))
        print(f"pair {i + 1}/{a.pairs} done ({order[0]} first)", flush=True)
    print(f"workload={a.workload} seed={a.seed} pairs={a.pairs}")
    print(f"{'metric':<14} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} {'wins':>6}  verdict")
    for name, m in metrics.items():
        p = [r[name] for r in runs["parent"]]
        c = [r[name] for r in runs["change"]]
        sign = -1 if m["better"] == "lower" else 1
        wins = sum(1 for x, y in zip(p, c) if sign * (y - x) > 0)
        fp = "/".join(f"{v:.4g}" for v in stats.quartiles(p))
        fc = "/".join(f"{v:.4g}" for v in stats.quartiles(c))
        v = verdict(p, c, m["better"], m["bound"], wins, a.pairs)
        print(f"{name:<14} {fp:>30} {fc:>30} {wins / a.pairs:>6.0%}  {v}")


if __name__ == "__main__":
    main()
