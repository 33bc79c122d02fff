#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <recommend|curation>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine's
sources together with the harness under perfbench/ (sbt); later runs reuse
the classes until a source changes. Each run gets its own directory under
perfbench/target/runs/ (temp dir, Spark local dir, checkpoints, inputs,
outputs), removed at exit. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones. Lines before it print every metric with its unit and sample count.
A traced run also writes its spans to perfbench/target/traces/.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "build.stamp")
WORKLOADS = ("recommend", "curation")
DEADLINE_S = 165
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source():
    newest = 0.0
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return max(newest, os.path.getmtime(os.path.join(HERE, "build.sbt")))


def build():
    """Compile engine + harness unless the classes are newer than every
    source. Exits non-zero when the engine sources are missing."""
    if not os.path.isdir(ENGINE_SRC):
        log(f"engine sources not found at {ENGINE_SRC}: "
            "run from the root of a full checkout")
        sys.exit(2)
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= newest_source():
        return
    log("compiling engine and harness (sbt)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.forcestart=false", "compile"],
                       cwd=HERE, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        log("build failed")
        sys.exit(2)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(f"{time.time() - t0:.1f}\n")
    log(f"build done in {time.time() - t0:.0f} s")


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def compare_curation(data_dir, out_dir):
    """The comparison of tools/check.py: Spark rows against the DuckDB
    oracle, columns by name, rows sorted, values compared as strings."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.sql(f"SET threads TO {cpus()}")
    con.sql(f"SET temp_directory = '{out_dir}/duckdb-tmp'")
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{data_dir}/documents.parquet/*.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    problems = []
    for name, sql in sorted(oracle.items()):
        if not glob.glob(f"{out_dir}/{name}/*.parquet"):
            problems.append(f"{name}: no spark output")
            continue
        t0 = time.time()
        got = pd.read_parquet(f"{out_dir}/{name}")
        exp = con.sql(sql).df()
        log(f"oracle {name} took {time.time() - t0:.2f} s")
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        if list(got.columns) != list(exp.columns):
            problems.append(f"{name}: cols spark={list(got.columns)} "
                            f"duck={list(exp.columns)}")
            continue
        gs = got.sort_values(by=list(got.columns), ignore_index=True).astype(str)
        es = exp.sort_values(by=list(exp.columns), ignore_index=True).astype(str)
        if len(gs) != len(es):
            problems.append(f"{name}: rows spark={len(gs)} duck={len(es)}")
        elif not gs.equals(es):
            problems.append(f"{name}: {int((gs != es).any(axis=1).sum())}"
                            f"/{len(gs)} rows differ")
        else:
            log(f"oracle ok   {name} ({len(gs)} rows)")
    return problems, len(oracle)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated runner still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build()
    start = time.time()

    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        log("SPARK_HOME must point at a Spark 4 installation")
        sys.exit(2)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"

    run_dir = os.path.join(HERE, "target", "runs", f"{a.workload}-{os.getpid()}")
    trace_dir = os.path.join(HERE, "target", "traces")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(trace_dir, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    trace_path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
    cmd = [java, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           *[x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--run-dir", run_dir, "--out", result_path,
           "--trace-out", trace_path, "--cpus", str(cpus())]
    proc = None
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                proc.wait(timeout=max(10, DEADLINE_S - (time.time() - start)))
            except subprocess.TimeoutExpired:
                log("run exceeded its deadline")
        if proc.returncode != 0 or not os.path.exists(result_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            log(f"benchmark process failed (exit {proc.returncode})")
            return 1
        log(f"benchmark process ended at {time.time() - start:.1f} s")
        with open(os.path.join(run_dir, "jvm.log")) as f:
            for line in f:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        with open(result_path) as f:
            res = json.load(f)
        errors = list(res["errors"])
        if a.workload == "curation":
            t0 = time.time()
            problems, n = compare_curation(os.path.join(run_dir, "in-2"),
                                           os.path.join(run_dir, "oracle"))
            errors += [f"oracle {p}" for p in problems]
            log(f"DuckDB oracle comparison of {n} keys took {time.time() - t0:.1f} s")
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    section = "per_layer" if a.trace else "end_to_end"
    measured = res[section]
    metrics = {}
    for m in spec[section]:
        got = measured.get(m["name"], {"value": 0.0, "unit": m["unit"], "samples": 0})
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
        print(f"{a.workload:12s} {m['name']:40s} {got['value']:>16.6g} {m['unit']:6s}"
              f" n={got['samples']}")
    for name in sorted(set(measured) - {m["name"] for m in spec[section]}):
        log(f"metric {name} is measured but not declared in BENCHMARK.json")
    for e in errors:
        log(f"CHECK FAILED: {e}")
    correct = not errors
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
