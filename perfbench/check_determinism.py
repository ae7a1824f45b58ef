#!/usr/bin/env python3
"""Checks that the seed fixes the query order and that the deterministic
counters repeat exactly.

usage: python3 perfbench/check_determinism.py [--workload NAME] [--seed N] [--seconds S]

Makes three traced runs: seed N twice and seed N+1 once. Passes when the
two seed-N runs used one and the same query order in every pass, every run
reports identical counts (jobs, stages, tasks, plan exchanges, scans and
aggregates, cold and warm), while seed N+1 drew a different order.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(os.path.dirname(BENCH), ".bench_build", "out")
COUNTS = [f"{m}.{k}" for m in ("cold", "warm") for k in (
    "exec.jobs", "exec.stages", "exec.tasks", "plan.exchanges", "plan.scans",
    "plan.aggregates", "plan.broadcast_joins", "queries.construct_jobs")]
# reported for information: they only join COUNTS if they repeat exactly
BYTES = [f"{m}.exec.{k}" for m in ("cold", "warm") for k in ("shuffle_read_mb", "shuffle_write_mb")]


def traced_run(workload, seed, seconds):
    subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                   check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(OUT, f"{workload}-seed{seed}-trace1.json")) as fh:
        r = json.load(fh)
    orders = [p["order"] for p in r["raw"]["passes"]]
    return orders, {k: r["metrics"][k][0] for k in COUNTS + BYTES}, r["details"]["counts_repeat"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="isolate_typing")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    a = ap.parse_args()
    o1, c1, r1 = traced_run(a.workload, a.seed, a.seconds)
    o2, c2, r2 = traced_run(a.workload, a.seed, a.seconds)
    o3, c3, r3 = traced_run(a.workload, a.seed + 1, a.seconds)
    n = min(len(o1), len(o2))
    checks = {
        "one order in every pass of a run": all(len({tuple(x) for x in o}) == 1
                                                for o in (o1, o2, o3)),
        "same seed, same order in every pass": o1[:n] == o2[:n],
        "other seed, other order": o1[0] != o3[0],
        "counts repeat within each run": all(all(r.values()) for r in (r1, r2, r3)),
        "same seed, same counts": all(c1[k] == c2[k] for k in COUNTS),
        "other seed, same counts": all(c1[k] == c3[k] for k in COUNTS),
    }
    for k in COUNTS + BYTES:
        print(f"{k:32s} {c1[k]:>14} {c2[k]:>14} {c3[k]:>14}")
    print("shuffle bytes repeat exactly:", all(c1[k] == c2[k] == c3[k] for k in BYTES))
    for k, ok in checks.items():
        print(("PASS " if ok else "FAIL ") + k)
    sys.exit(0 if all(checks.values()) else 1)


if __name__ == "__main__":
    main()
