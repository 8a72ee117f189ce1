#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark from
source with sbt (once per source state), generates the seeded inputs,
runs workload W as a closed loop in one JVM at local[nproc] with nproc
shuffle partitions, checks every op's output, and prints the metrics.
The last stdout line is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones of a traced run.
"""
import argparse
import ast
import glob
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("sketch_scan", "query_mix", "curation_ingest")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 700
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- host guard -----------------------------------------------------------

def host_sample():
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"t": time.time(), "loadavg": load, "total_ticks": sum(cpu),
            "steal_ticks": cpu[7] if len(cpu) > 7 else 0}


def steal_frac(a, b):
    dt = b["total_ticks"] - a["total_ticks"]
    return (b["steal_ticks"] - a["steal_ticks"]) / dt if dt > 0 else 0.0


def cpu_quota():
    """CPUs the cgroup CPU quota allows (v2 cpu.max, else v1 cfs files),
    or None when there is no quota."""
    try:
        with open("/sys/fs/cgroup/cpu.max") as f:
            quota, period = f.read().split()
    except OSError:
        try:
            with open("/sys/fs/cgroup/cpu/cpu.cfs_quota_us") as f, \
                    open("/sys/fs/cgroup/cpu/cpu.cfs_period_us") as g:
                quota, period = f.read().strip(), g.read().strip()
        except OSError:
            return None
    return None if quota in ("max", "-1") else int(quota) / int(period)


def spark_threads():
    """Spark runs nproc threads; refused when the CPU quota allows fewer."""
    nproc = len(os.sched_getaffinity(0))
    quota = cpu_quota()
    if quota is not None and nproc > quota:
        fail(f"refusing to run {nproc} Spark threads under a quota of {quota:g} CPUs", 3)
    return nproc, quota


# ---- build ----------------------------------------------------------------

def source_files():
    pats = ["build.sbt", "project/*.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build():
    """sbt-compile engine + benchmark once per source state; returns the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources next to the benchmark (build.sbt, src/main/scala/graft)", 2)
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, stdout=subprocess.PIPE, stderr=lf, text=True,
                timeout=BUILD_TIMEOUT_S, start_new_session=True)
        except subprocess.TimeoutExpired:
            fail(f"sbt build timed out; see {log}")
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"sbt build failed; see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ---- one JVM run ----------------------------------------------------------

def run_jvm(cp, workload, inputs, work, seed, seconds, threads, trace):
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed young generation: collections come at fixed allocation
    # volumes, so the heap sampled after them (peak_live_heap_mb) does not
    # move with G1's adaptive young sizing
    cmd = [java, "-Xmx3g", "-Xmn128m", "-XX:+UseG1GC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--inputs", inputs,
            "--work", work, "--seed", str(seed), "--seconds", str(seconds),
            "--threads", str(threads), "--trace", str(trace), "--out", out]
    log = os.path.join(WORK, "logs", f"{workload}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload} JVM timed out; see {log}")
    if p.returncode != 0 or not os.path.exists(out):
        fail(f"{workload} JVM exited {p.returncode}; see {log}")
    with open(out) as f:
        return json.load(f)


# ---- query_mix oracle comparison -----------------------------------------

def oracle_functions():
    """`norm` and `cells_equal` from tools/oracle_check.py, without running
    its main()."""
    path = os.path.join(ROOT, "tools", "oracle_check.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    keep = [n for n in tree.body if isinstance(n, (ast.Import, ast.ImportFrom))
            or (isinstance(n, ast.FunctionDef) and n.name in ("norm", "cells_equal"))]
    ns = {}
    exec(compile(ast.Module(body=keep, type_ignores=[]), path, "exec"), ns)
    return ns["norm"], ns["cells_equal"]


def oracle_failures(sf_dir, res_dir):
    """Gates whose Spark result differs from DuckDB running the oracle SQL,
    compared the way tools/oracle_check.py compares."""
    import duckdb
    import pandas as pd
    norm, cells_equal = oracle_functions()
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p).removesuffix(".parquet")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(os.path.join(res_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    kind = lambda s: {"i": "int", "u": "int", "f": "float"}.get(s.dtype.kind, s.dtype.kind)
    bad = {}
    for gate, sql in oracle.items():
        g = norm(pd.read_parquet(os.path.join(res_dir, gate)))
        w = norm(con.sql(sql).df())
        if list(g.columns) != list(w.columns):
            bad[gate] = f"schema {list(g.columns)} vs {list(w.columns)}"
        elif any(kind(g[c]) != kind(w[c]) for c in g.columns):
            bad[gate] = "dtype"
        elif len(g) != len(w):
            bad[gate] = f"rows {len(g)} vs {len(w)}"
        elif not all(cells_equal(g.iloc[i][c], w.iloc[i][c])
                     for i in range(len(g)) for c in g.columns):
            bad[gate] = "values"
    con.close()
    return bad


# ---- metrics --------------------------------------------------------------

def metric_units():
    """name -> unit of every end-to-end and per-layer metric, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    threads, quota = spark_threads()
    e2e_units, layer_units = metric_units()
    cp = build()
    import gen
    part = gen.WORKLOAD_PART[a.workload]
    inputs = os.path.join(WORK, "inputs", f"s{a.seed}")
    digest = gen.generate(a.seed, inputs, part)
    work = os.path.join(WORK, "run", a.workload)
    os.makedirs(work, exist_ok=True)

    before = host_sample()
    r = run_jvm(cp, a.workload, inputs, work, a.seed, a.seconds, threads, a.trace)
    after = host_sample()

    attempted, failed = r["attempted"], r["failed"]
    errors = list(r["errors"])
    if a.workload == "query_mix":
        bad = oracle_failures(os.path.join(inputs, "tpch"), os.path.join(work, "query_results"))
        gates = r["facts"]["op_gates"]
        failed = min(attempted, failed + sum(1 for g in gates if g in bad))
        errors += [f"oracle mismatch {g}: {m}" for g, m in sorted(bad.items())]

    e2e = r["end_to_end"]
    unmeasured = [k for k in e2e_units if e2e.get(k) is None]
    if unmeasured:
        fail(f"{a.workload}: no value for {', '.join(unmeasured)}")
    host = {"nproc": threads, "cpu_quota": quota,
            "loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
            "steal_frac_during": round(steal_frac(before, after), 5)}
    print(f"host: {json.dumps(host)}")
    print(f"inputs: seed={a.seed} part={part} digest={digest}")
    for k, u in e2e_units.items():
        print(f"{a.workload} {k} = {e2e[k]:.6g} {u}")
    # printed, not a metric: no workload the benchmark lists holds ten
    # samples beyond its p90 in one run
    lat = r["op_latencies_s"]
    beyond = sum(1 for x in lat if x > e2e["op_p90_s"])
    print(f"{a.workload} op_p90_s = {e2e['op_p90_s']:.6g} s ({beyond} of {len(lat)} ops beyond it)")
    heap = r["heap_after_gc_mb"]
    print(f"{a.workload} heap after GC: max {heap[-1]:.6g} MB over {len(heap)} collections in ops")
    print(f"{a.workload} failed_frac = {failed / attempted:.6g} ({failed}/{attempted} ops)")
    print(f"facts: {json.dumps({k: v for k, v in r['facts'].items() if k != 'op_gates'})}")
    for e in errors[:10]:
        print(f"error: {e}")

    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{a.workload}.trace{a.trace}.json"), "w") as f:
        json.dump({"seed": a.seed, "end_to_end": e2e, "host": host}, f)

    if a.trace:
        metrics = {k: {"value": r["per_layer"][k], "unit": u} for k, u in layer_units.items()}
        untraced = os.path.join(res_dir, f"{a.workload}.trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            over = {k: e2e[k] - base[k] for k in e2e_units}
            print(f"tracing overhead (traced minus last untraced run): {json.dumps(over)}")
        else:
            print("tracing overhead: no untraced run of this workload to compare with")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
