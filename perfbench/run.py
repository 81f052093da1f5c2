#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):
  python3 perfbench/run.py --workload <fhir_etl|query_mix> \
      --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt (once per source
state; the build lives in .bench_build/), runs one benchmark JVM for the
workload, checks query results against their DuckDB oracle SQL, and
prints one JSON object as the last line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics. Exits non-zero when a correctness
check fails or the run cannot complete.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

DEADLINE = 170.0  # seconds a run may take once the build exists
WORKLOADS = ("fhir_etl", "query_mix")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    for base in ("src/main", "build.sbt", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        p = os.path.join(root, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
        " -Dsbt.offline=true -Xmx2g"))
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=out,
            stderr=subprocess.STDOUT, timeout=800)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}), see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def oracle_check(root, results):
    """Compare each written query result with its DuckDB oracle, using
    the comparison of tools/verify_local.py. Returns (checked, failures)."""
    import duckdb
    import glob
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(root, "tools", "verify_local.py"))
    vl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vl)
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(os.path.join(results, "tables_dir")) as f:
        tables = f.read().strip()
    con = duckdb.connect()
    con.sql(f"SET temp_directory='{os.path.join(results, 'duckdb_tmp')}'")
    for t in vl.TABLES:
        p = os.path.join(tables, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    failures = []
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(os.path.join(results, name, "*.parquet")))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else None
        try:
            want = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            failures.append(f"{name}: oracle SQL failed: {e}")
            continue
        if got is None:
            failures.append(f"{name}: no result written")
            continue
        ordered = "order by" in sql.lower()
        gc, gr = vl.canon(got, ordered)
        wc, wr = vl.canon(want, ordered)
        if gc != wc:
            failures.append(f"{name}: columns {gc} vs oracle {wc}")
        elif gr != wr:
            failures.append(f"{name}: {len(gr)} rows vs oracle {len(wr)}, values differ")
    return len(oracles), failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_dir = os.path.join(root, ".bench_build")
    cp = build(root, build_dir)

    run_start = time.monotonic()
    work = os.path.join(build_dir, "runs",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap = max(2, min(4, int(mem_gb / 4)))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           [f"-Xmx{heap}g", f"-Xms{heap}g", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", work, "--out", out])
    log = os.path.join(build_dir, f"last-{a.workload}.log")
    try:
        with open(log, "w") as lf:
            # Spark would put its block files under SPARK_LOCAL_DIRS when set
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf,
                                    stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=max(10.0, DEADLINE - (time.monotonic() - run_start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"benchmark JVM exceeded its time budget, see {log}")
        print(f"perfbench: JVM {time.monotonic() - run_start:.3f} s", file=sys.stderr)
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM exited {proc.returncode}, see {log}")
        with open(out) as f:
            res = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        results = os.path.join(work, "results")
        if a.workload == "query_mix":
            t0 = time.monotonic()
            n, failures = oracle_check(root, results)
            print(f"perfbench: oracle compare {time.monotonic() - t0:.3f} s", file=sys.stderr)
            attempted += n
            failed += len(failures)
            for msg in failures:
                print(f"perfbench: ORACLE MISMATCH {msg}", file=sys.stderr)
    finally:
        for kept in ("spans", "kernel_checksums"):
            p = os.path.join(work, f"{kept}.json")
            if os.path.exists(p):
                shutil.copy(p, os.path.join(build_dir, f"last-{a.workload}-{kept}.json"))
        shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    got["harness.failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in got:
            metrics[name] = {"value": got[name]["value"], "unit": m["unit"]}
        elif a.trace:
            # a layer this workload does not exercise
            metrics[name] = {"value": 0.0, "unit": m["unit"]}
        else:
            print(f"perfbench: metric {name} missing", file=sys.stderr)
            failed += 1
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
