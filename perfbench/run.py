#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--sf X]

Run from the repository root. It builds the benchmark (perfbench/build.sbt,
which compiles the engine's sources unchanged alongside it) once per source
state, runs one closed-loop measurement in a fresh JVM inside a temporary
directory of its own, checks the outputs (the query mix against DuckDB),
deletes the temporary directory and prints the result as the last line of
standard output:

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (and the spans go to perfbench/out/spans-<workload>-seed<N>.jsonl).
Exits 0 only when every check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
CLASSPATH_FILE = os.path.join(BENCH, "target", "perfbench-classpath.txt")
WORKLOADS = ["convert_lineitem", "query_mix", "cdc_pipeline", "convert_fleet"]
QUERY_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents"]
TIME_LIMIT_S = 165  # of one measurement, after any build
HEAP = "3g"
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: engine sources plus the benchmark's."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(deadline):
    """Build once per source state; returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            cached_stamp, cp = fh.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    log("building the benchmark and the engine (sbt compile)")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=max(1, deadline - time.time()))
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def run_child(cmd, timeout):
    """Run the benchmark JVM; on timeout or on SIGTERM/SIGINT to this
    process, kill it and wait for it to end."""
    child = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)

    def stop(signum, _frame):
        child.kill()
        child.wait()
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        return child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        child.kill()
        child.wait()
        raise SystemExit(f"benchmark JVM exceeded {timeout} s")


def oracle_failures(in_dir, work_dir):
    """Compare every query result with its DuckDB oracle; returns the
    names that differ. Results are normalised as the DuckDB harness,
    tools/compare.py, normalises them."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from compare import norm
    with open(os.path.join(work_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")
    for t in QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet/*.parquet'")
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            e = norm(con.execute(sql).df()).reset_index(drop=True)
            g = norm(pd.read_parquet(os.path.join(work_dir, "results", name))).reset_index(drop=True)
            same = (list(e.columns) == list(g.columns) and len(e) == len(g)
                    and bool((e.eq(g) | (e.isna() & g.isna())).all().all()))
        except Exception as ex:  # a failing oracle or unreadable result
            log(f"oracle {name}: {type(ex).__name__}: {ex}")
            same = False
        if not same:
            log(f"oracle mismatch: {name}")
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale factor")
    args = ap.parse_args()
    started = time.time()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}: "
                         "run from a checkout of the repository")
    cp = classpath(started + 850)
    tmp = os.path.join(BENCH, "tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    try:
        result_file = os.path.join(tmp, "result.json")
        cmd = (["java", f"-Xmx{HEAP}"]
               + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Djava.io.tmpdir={tmp}",
                  f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", cp, "perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--work", tmp, "--out", result_file])
        if args.sf is not None:
            cmd += ["--sf", str(args.sf)]
        # the JVM's own output goes to stderr: the result is the last stdout line
        code = run_child(cmd, TIME_LIMIT_S)
        if code != 0 or not os.path.exists(result_file):
            raise SystemExit(f"benchmark JVM failed (exit {code})")
        with open(result_file) as fh:
            r = json.load(fh)
        if args.trace:
            os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
            shutil.move(os.path.join(tmp, "spans.jsonl"), os.path.join(
                BENCH, "out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
        checks = dict(r["checks"])
        if args.workload == "query_mix":
            bad = oracle_failures(r["in_dir"], r["work_dir"])
            for name in r["queries"]:
                checks[f"query.{name}.oracle"] = name not in bad
        failed_checks = sorted(k for k, ok in checks.items() if not ok)
        for k in failed_checks:
            log(f"check failed: {k}")
        failed = int(r["failed"]) + len(failed_checks)
        attempted = max(int(r["attempted"]), failed, 1)
        diag = {k: v["value"] for k, v in r["per_layer"].items()
                if k.startswith(("host.", "sentinel."))}
        diag["op_latencies_s"] = r["op_latencies_s"]
        log(f"diagnostics: {json.dumps(diag)}")
        metrics = r["per_layer"] if args.trace else r["end_to_end"]
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
