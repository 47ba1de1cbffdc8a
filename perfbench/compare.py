#!/usr/bin/env python3
"""Compare two sets of benchmark results, per workload and metric.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds result records as run.py writes them to
.bench_build/results/ (copy them aside between commits). Results measured
under different configs (cores, heap, Spark, Java, run length, ...) are not
comparable, so the comparison is refused, with the differing keys, when
any two records of one workload disagree on them. Otherwise it prints each
side's median and quartiles, the change in the median, and whether that
change is worse than the metric's bound in BENCHMARK.json.
"""
import glob
import json
import os
import statistics
import sys

# config keys that must match; seed and commit are expected to differ
CONFIG_KEYS = ["nproc", "master", "shuffle_partitions", "heap", "xmx_mb", "spark", "java",
               "seconds", "trace"]


def load(d):
    by_workload = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        by_workload.setdefault(r["config"]["workload"], []).append(r)
    return by_workload


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(base_dir, change_dir):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    base, change = load(base_dir), load(change_dir)
    status = 0
    for w in sorted(set(base) & set(change)):
        records = base[w] + change[w]
        differ = [k for k in CONFIG_KEYS
                  if len({json.dumps(r["config"].get(k)) for r in records}) > 1]
        if differ:
            print(f"{w}: refused, configs differ on {', '.join(differ)}")
            status = 2
            continue
        print(f"{w}: {len(base[w])} base runs, {len(change[w])} change runs")
        for name in sorted({k for r in records for k in r["metrics"]}):
            a = [r["metrics"][name]["value"] for r in base[w] if name in r["metrics"]]
            b = [r["metrics"][name]["value"] for r in change[w] if name in r["metrics"]]
            if not a or not b:
                continue
            qa, qb = quartiles(a), quartiles(b)
            m = metrics.get(name, {})
            delta = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
            worse = delta if m.get("better") == "lower" else -delta
            verdict = ("worse than bound" if "bound" in m and worse > m["bound"] else "")
            print(f"  {name:40s} base {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                  f"change {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  {delta:+.1%} {verdict}")
    return status


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
