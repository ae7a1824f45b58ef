#!/usr/bin/env python3
"""Cold and warm, layer-by-layer benchmark of the graft query registry.

usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the benchmark harness from source into .bench_build/
(scalac from the Spark distribution; build.sbt is not used), runs one
workload in one JVM as one closed-loop client over the read-only corpus,
checks every query's rows against the DuckDB oracle, and prints one JSON
line last: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
ORACLE_CACHE = os.path.join(BUILD, "oracle")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
CORPUS = "/root/testdata/sf0.1"
SCALA_JARS = [f"{SPARK_JARS}/scala-{x}-2.13.17.jar" for x in ("compiler", "library", "reflect")]
JVM_TIMEOUT_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scalac(out, classpath, files):
    os.makedirs(out)
    args = os.path.join(out, "..", os.path.basename(out) + ".args")
    with open(args, "w") as fh:
        fh.write("\n".join(files))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(SCALA_JARS), "scala.tools.nsc.Main",
         "-nowarn", "-d", out, "-classpath", classpath, "@" + args],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail(f"compile failed:\n{r.stdout[-4000:]}")


def build(all_queries):
    """Compiles the program and the harness once per source digest, and
    fills the oracle cache for every workload query. Returns the classes
    directory and the oracle SQL by query."""
    program = scala_sources(os.path.join(ROOT, "src", "main", "scala"))
    harness = scala_sources(os.path.join(BENCH, "src"))
    if not program:
        fail("program sources (src/main/scala) not found")
    if not os.path.isdir(SPARK_JARS):
        fail(f"{SPARK_JARS} not found")
    out = os.path.join(BUILD, "classes-" + digest(program + harness))
    if not os.path.exists(os.path.join(out, "done")):
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old)
        jars = ":".join(sorted(glob.glob(f"{SPARK_JARS}/*.jar")))
        scalac(os.path.join(out, "program"), jars, program)
        scalac(os.path.join(out, "harness"), os.path.join(out, "program") + ":" + jars, harness)
        r = subprocess.run(["java", "-cp", f"{out}/harness:{out}/program:{SPARK_JARS}/*",
                            "perfbench.OracleSql", os.path.join(out, "oracle_sql.json"),
                            ",".join(all_queries)], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            fail(f"oracle SQL dump failed:\n{r.stdout[-3000:]}")
        with open(os.path.join(out, "oracle_sql.json")) as fh:
            sql = json.load(fh)
        con = oracle.connect(CORPUS)
        for q in all_queries:
            if q in sql:
                oracle.expected(con, sql[q], CORPUS, ORACLE_CACHE)
        open(os.path.join(out, "done"), "w").close()
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        return out, json.load(fh)


def cpu_seconds():
    """(busy, steal) CPU seconds summed over all CPUs, from /proc/stat
    (USER_HZ = 100 ticks a second), as Harness.cpuSeconds reads them."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / 100, f[7] / 100


def host_time(x):
    """Wall time of an interval with the host's CPU steal taken out.

    On a shared host the hypervisor withholds the guest's CPUs in bursts
    (steal), and every runnable thread waits for it. The interval's wall
    time is scaled by the share of the guest's demanded CPU time it was
    given, busy / (busy + steal), both measured over the interval. With no
    steal this is the wall time."""
    b, s = x["busy_s"], x["steal_s"]
    return x["wall_s"] * b / (b + s) if b + s > 0 else x["wall_s"]


def tmp_graft():
    """The program writes some sinks under a hard-coded /tmp/graft*."""
    return set(glob.glob("/tmp/graft*"))


def tree_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not os.path.islink(os.path.join(d, f)))


def run_jvm(classes, workload, queries, tables, seed, seconds, trace, run_dir, cores):
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", *ADD_OPENS, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           "-cp", f"{classes}/harness:{classes}/program:{SPARK_JARS}/*",
           "perfbench.Harness", f"corpus={CORPUS}", f"runDir={run_dir}", f"out={out}",
           f"workload={workload}", "queries=" + ",".join(queries),
           "tables=" + ",".join(tables), f"seed={seed}",
           f"seconds={seconds}", f"trace={trace}", f"cores={cores}"]
    cmd.append("cpuAtStart=%r,%r" % cpu_seconds())
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            # also on SIGTERM or Ctrl-C: no JVM outlives the run
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(f"harness exited with {p.returncode}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def med(xs):
    return statistics.median(xs) if xs else 0.0


def pctl(xs, q):
    """q-th percentile (inclusive interpolation)."""
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1] if len(xs) > 1 else med(xs)


def by_kind(res, kind):
    idx = {p["index"] for p in res["passes"] if p["kind"] == kind}
    return [p for p in res["passes"] if p["index"] in idx], \
        [e for e in res["execs"] if e["pass"] in idx]


def end_to_end(res, failed, attempted, t=host_time):
    """The end-to-end metrics; `t` gives an interval's time (steal taken
    out by default; the raw wall time for the record in the details)."""
    cold_p, cold_e = by_kind(res, "cold")
    warm_p, warm_e = by_kind(res, "warm")
    warm_t = [t(e) for e in warm_e]
    return {
        "setup_s": (med([t(s) for s in res["setups"]]), "s"),
        "cold_qps": (sum(e["ok"] for e in cold_e) / sum(t(p) for p in cold_p), "1/s"),
        "cold_p50_s": (med([t(e) for e in cold_e]), "s"),
        # median pass: one pass slowed by the host does not move it
        "warm_qps": (med([sum(e["ok"] for e in warm_e if e["pass"] == p["index"]) / t(p)
                          for p in warm_p]), "1/s"),
        "warm_p50_s": (med(warm_t), "s"),
        "warm_p90_s": (pctl(warm_t, 90), "s"),
        "ok_ratio": ((attempted - failed) / attempted, "ratio"),
        "heap_retained_mb": (res["end"]["heap_retained_mb"], "MB"),
        "storage_retained_mb": (res["end"]["storage_retained_mb"], "MB"),
        "disk_written_mb": (med([p["written_mb"] for p in cold_p]), "MB"),
    }


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def per_layer(res, cores, modules):
    jobs = [s for s in res["spans"] if s["name"] == "job"]
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["group"], []).append(j)
    m = {}

    def pass_values(p, execs):
        idx, wl = p["index"], res["workload"]
        v = dict.fromkeys(["construct_s", "construct_jobs", "analysis_s", "optimization_s",
                           "planning_s", "exchanges", "scans", "aggregates", "broadcast_joins",
                           "execute_s", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                           "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                           "driver_only_s"], 0.0)
        for mod in modules:
            v[mod + ".s"] = v[mod + ".jobs"] = 0.0
        for e in execs:
            js = jobs_of.get(f"{wl}/{idx}/{e['query']}", [])
            mod = res["modules"][e["query"]]
            v["construct_s"] += e["construct_s"]
            v["execute_s"] += e["execute_s"]
            v["construct_jobs"] += sum(j["parent"].endswith("/construct") for j in js)
            for k in ("analysis", "optimization", "planning"):
                v[k + "_s"] += e.get("phases", {}).get(k, 0.0)
            for k in ("exchanges", "scans", "aggregates", "broadcast_joins"):
                v[k] += e.get("plan", {}).get(k, 0)
            v["jobs"] += len(js)
            for k in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s"):
                v[k] += sum(j[k] for j in js)
            for k in ("shuffle_read", "shuffle_write", "spill"):
                v[k + "_mb"] += sum(j[k + "_b"] for j in js) / 1048576.0
            end = e["start"] + e["wall_s"]
            v["driver_only_s"] += e["wall_s"] - covered(
                [(j["start"], j["end"] if j["end"] is not None else end) for j in js],
                e["start"], end)
            v[mod + ".s"] += e["wall_s"]
            v[mod + ".jobs"] += len(js)
        v["core_busy_ratio"] = v["task_run_s"] / (p["wall_s"] * cores)
        for k in ("persisted_rdds", "storage_mb", "written_mb", "codegen_compiles", "jit_s"):
            v[k] = p[k]
        return v

    names = {"construct_s": "queries.construct_s", "construct_jobs": "queries.construct_jobs",
             "analysis_s": "catalyst.analysis_s", "optimization_s": "catalyst.optimization_s",
             "planning_s": "catalyst.planning_s", "persisted_rdds": "store.persisted_rdds",
             "storage_mb": "store.storage_mb", "written_mb": "store.written_mb",
             "codegen_compiles": "codegen.compiles", "jit_s": "jvm.jit_s"}
    for k in ("exchanges", "scans", "aggregates", "broadcast_joins"):
        names[k] = "plan." + k
    for k in ("execute_s", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "core_busy_ratio",
              "driver_only_s"):
        names[k] = "exec." + k
    units = {"jobs": "count", "stages": "count", "tasks": "count", "construct_jobs": "count",
             "exchanges": "count", "scans": "count", "aggregates": "count",
             "broadcast_joins": "count", "persisted_rdds": "count", "core_busy_ratio": "ratio",
             "codegen_compiles": "count"}
    repeat = {}
    for mode in ("cold", "warm"):
        ps, es = by_kind(res, mode)
        vals = [pass_values(p, [e for e in es if e["pass"] == p["index"]]) for p in ps]
        for k, name in names.items():
            unit = units.get(k, "MB" if k.endswith("_mb") else "s")
            m[f"{mode}.{name}"] = (med([v[k] for v in vals]), unit)
        for k in ("jobs", "stages", "tasks", "exchanges", "scans", "aggregates"):
            repeat[f"{mode}.{k}"] = len({v[k] for v in vals}) == 1
        if mode == "warm":
            for mod in modules:
                m[f"{mod}.warm_s"] = (med([v[mod + ".s"] for v in vals]), "s")
                m[f"{mod}.jobs"] = (med([v[mod + ".jobs"] for v in vals]), "count")
            m["warm.store.rdds_growth"] = (vals[-1]["persisted_rdds"] - vals[0]["persisted_rdds"],
                                           "count")
    m["Tables.load_s"] = (med([s["load_s"] for s in res["setups"]]), "s")
    m["Tables.cached_mb"] = (med([s["cached_mb"] for s in res["setups"]]), "MB")
    traced = med([host_time(p) for p in res["passes"] if p["kind"] == "warm"])
    untraced = med([host_time(p) for p in res["passes"] if p["kind"] == "warm_untraced"])
    m["trace.overhead_ratio"] = (traced / untraced - 1.0, "ratio")
    return m, repeat


def warm_evidence(res):
    """Whether passes had levelled off before they were timed: the second
    cold pass against the first, and the first timed warm pass against the
    median of the later ones, in steal-corrected time. With one untimed
    warm-up pass the first timed warm pass ran 10-25% slower than the later
    ones. With two or four, pass times still fell by about 1-2% a pass for
    ten passes and more, and four did not narrow the spread between runs,
    so two untimed warm-up passes follow the second cold pass."""
    cold = [host_time(p) for p in res["passes"] if p["kind"] == "cold"]
    warm = [host_time(p) for p in res["passes"] if p["kind"] == "warm"]
    return {"pass_times": [(p["kind"], round(host_time(p), 4), round(p["wall_s"], 4),
                            p["codegen_compiles"]) for p in res["passes"]],
            "warmup_passes": sum(p["kind"] == "warmup" for p in res["passes"]),
            "cold2_vs_cold1": cold[1] / cold[0],
            "warm1_vs_later_median": warm[0] / med(warm[1:])}


def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM is stopped and /tmp cleaned
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(BENCH, "workloads.json")) as fh:
        workloads = json.load(fh)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; one of {sorted(workloads)}")
    queries = workloads[a.workload]["queries"]
    if not all(os.path.exists(f"{CORPUS}/{t}.parquet") for t in ("lineitem", "documents")):
        fail(f"corpus {CORPUS} not found")
    classes, oracle_sql = build([q for w in workloads.values() for q in w["queries"]])
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    before = tmp_graft()
    try:
        res = run_jvm(classes, a.workload, queries, workloads[a.workload]["tables"], a.seed,
                      a.seconds, a.trace, run_dir, cores)
    finally:
        left = sorted(tmp_graft() - before)
        left_mb = sum(tree_bytes(p) for p in left) / 1048576.0
        for p in left:
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)

    unlisted = set(res["modules"].values()) - set(workloads[a.workload]["modules"])
    if unlisted:
        fail(f"workloads.json does not list the modules {sorted(unlisted)}")
    bad, rows = oracle.check(oracle.connect(CORPUS), oracle_sql, os.path.join(run_dir, "check"),
                             queries, CORPUS, ORACLE_CACHE)
    errors = res["errors"]
    thrown = {e["query"] for e in errors if e["kind"] == "check"}
    # every timed execution must return as many rows as the checked one
    wrong_rows = [(e["pass"], e["query"], e["rows"], rows[e["query"]]) for e in res["execs"]
                  if "rows" in e and e["query"] in rows and e["rows"] != rows[e["query"]]]
    attempted = len(res["execs"])
    failed = len(errors) + len(set(bad) - thrown) + len(wrong_rows)
    correct = failed == 0

    os.makedirs(os.path.join(BUILD, "out"), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    details = {"workload": a.workload, "seed": a.seed, "cores": cores, "queries": len(queries),
               "tables_used": res["tables_used"], "errors": errors, "oracle_failures": bad,
               "wrong_row_counts": wrong_rows,
               "tmp_graft_left_mb": left_mb, "tmp_graft_entries_removed": len(left),
               "first_pass_order": res["passes"][0]["order"],
               "samples": {k: len(by_kind(res, k)[1]) for k in ("cold", "warm")},
               "steal_share": sum(p["steal_s"] for p in res["passes"]) /
               sum(p["busy_s"] + p["steal_s"] for p in res["passes"]),
               **warm_evidence(res)}
    if a.trace:
        modules = sorted({m for w in workloads.values() for m in w["modules"]})
        metrics, details["counts_repeat"] = per_layer(res, cores, modules)
        details["spans"] = len(res["spans"])
        with open(os.path.join(BUILD, "out", tag + "-spans.json"), "w") as fh:
            json.dump(res["spans"], fh)
    else:
        metrics = end_to_end(res, failed, attempted)
        details["wall_clock"] = {k: v for k, (v, u) in
                                 end_to_end(res, failed, attempted, lambda x: x["wall_s"]).items()}
    with open(os.path.join(BUILD, "out", tag + ".json"), "w") as fh:
        json.dump({"details": details, "metrics": metrics, "raw": res}, fh)
    shutil.rmtree(run_dir, ignore_errors=True)

    for k, (v, u) in metrics.items():
        print(f"{k:40s} {v:14.6f} {u}")
    print(json.dumps(details))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
