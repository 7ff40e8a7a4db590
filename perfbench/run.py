#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload serve_reference --seed 1 --seconds 8 --trace 0

Builds the engine and the benchmark from source (scalac from the Spark
distribution's jars; output under .bench_build/), runs one workload in
a fresh JVM on a scratch directory under .bench_work/ (deleted
afterwards), checks every answer, and prints one JSON object as the
last line of standard output. --trace 0 reports the end-to-end metrics,
--trace 1 the per-layer metrics of a traced run (the full report of
either is the line before it; traced runs also keep their span dump
under .bench_out/). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ["serve_reference", "serve_curation", "catalog_batch", "index_churn"]
# the metrics BENCHMARK.json names; the full per-workload set is in the report line
E2E = ["setup_s", "stmt_p50_s", "stmt_p90_s", "stmt_per_s", "rows_per_s", "heap_retained_mb"]
PER_LAYER = [
    "engine.jobs", "engine.stages", "engine.stages_skipped", "engine.tasks",
    "engine.task_run_s", "engine.task_cpu_s", "engine.task_wait_s", "engine.stage_skew_s",
    "engine.single_task_stages", "engine.gc_s", "engine.shuffle_write_bytes",
    "engine.shuffle_read_bytes", "engine.spill_bytes", "engine.exchanges",
    "engine.reused_exchanges", "engine.job_s", "engine.driver_nonjob_s", "trace.overhead_s",
]
RUN_LIMIT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    submit = shutil.which("spark-submit")
    homes = [os.environ.get("SPARK_HOME"),
             os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    die("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(root, "perfbench", "src")
    if not os.path.isdir(engine) or not os.path.isdir(bench):
        die(f"engine sources not found under {root} (run from the repository root)")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(bench, "*.scala")))
    if not files:
        die("no Scala sources found")
    return files


def build(root, jars):
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-cp", cp] + files
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("compile failed")
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def oracle_check(check_dir):
    """DuckDB oracle compare of the catalog answer pass, with
    tools/check_oracle.py's rules: columns sorted by name, rows sorted
    by every column, then exact equality per column (a float column
    that is only np.isclose-equal still fails). Returns failure lines."""
    import duckdb
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        if len(df.columns):
            df = df.sort_values(by=list(df.columns), kind="mergesort",
                                na_position="first").reset_index(drop=True)
        return df

    sf_dir = open(os.path.join(check_dir, "sf_dir")).read().strip()
    oracle = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(check_dir, 'duckdb_tmp')}'")
    con.execute("SET TimeZone = 'UTC'")
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        # the tables store instants; the oracles read them as naive UTC
        # wall times, like the engine's fixture tables
        tz = [c for c, ty, *_ in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{p}')").fetchall()
              if ty == "TIMESTAMP WITH TIME ZONE"]
        repl = f" REPLACE ({', '.join(f'CAST({c} AS TIMESTAMP) AS {c}' for c in tz)})" if tz else ""
        con.execute(f"CREATE VIEW {t} AS SELECT *{repl} FROM read_parquet('{p}')")
    fails = []
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
        if not os.path.isdir(os.path.join(check_dir, name)):
            continue  # the answer pass already counted this query as failed
        got = pq.read_table(files).to_pandas() if files else pd.DataFrame()
        try:
            exp = con.execute(sql).fetch_df()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            fails.append(f"{name}: oracle SQL error: {e}")
            continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            fails.append(f"{name}: columns {list(g.columns)} vs {list(e.columns)}")
            continue
        if len(g) != len(e):
            fails.append(f"{name}: rows {len(g)} vs {len(e)}")
            continue
        bad = []
        for c in g.columns:
            a, b = g[c], e[c]
            try:
                if a.dtype.kind == "f" or b.dtype.kind == "f":
                    same = bool(((a.isna() & b.isna()) | (a == b)).all())
                else:
                    same = bool((a.astype(str) == b.astype(str)).all())
            except Exception:  # noqa: BLE001 - incomparable columns differ
                same = False
            if not same:
                bad.append(c)
        if bad:
            fails.append(f"{name}: columns differ {bad}")
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()
    # a terminated launcher still stops its JVM and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    root = os.getcwd()
    jars = spark_jars()
    classes = build(root, jars)

    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result_path = os.path.join(work, "result.json")
        cpus = str(os.cpu_count() or 4)
        try:
            cpus = str(len(os.sched_getaffinity(0)))
        except AttributeError:
            pass
        jvm = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss4m", "-XX:ReservedCodeCacheSize=512m",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
        for p in JDK_OPENS:
            jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
        if args.trace:
            jvm.append("-Dspark.hadoop.fs.file.impl=perfbench.CountingLocalFS")
        jvm += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--work", work, "--out", result_path]
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_SCALA_VERSION="2.13",
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        log_path = os.path.join(work, "jvm.log")
        budget = max(30, RUN_LIMIT_S - (time.time() - started))
        with open(log_path, "w") as log:
            proc = subprocess.Popen(jvm, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
            try:
                code = proc.wait(timeout=budget)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or not os.path.exists(result_path):
            sys.stderr.write(open(log_path, errors="replace").read()[-6000:])
            die(f"benchmark JVM failed (exit {code})")
        with open(log_path, errors="replace") as fh:
            for line in fh:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        res = json.load(open(result_path))
        failures = list(res["failures"])
        failed = res["failed"]
        if args.workload == "catalog_batch":
            oracle_fails = oracle_check(os.path.join(work, "catalog_check"))
            failed += len(oracle_fails)
            failures += oracle_fails
        attempted = res["attempted"]
        for f in failures:
            print(f"perfbench: FAILED {f}", file=sys.stderr)
        report = dict(res["e2e"])
        report["failed_frac"] = {"value": failed / attempted if attempted else 1.0, "unit": "ratio"}
        if args.trace:
            report.update(res["layers"])
            out_dir = os.path.join(root, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                          "report": report, "notes": res["notes"]}))
        names = PER_LAYER if args.trace else E2E
        source = res["layers"] if args.trace else res["e2e"]
        missing = [n for n in names if n not in source or source[n]["value"] is None]
        if missing:
            die(f"metrics not measured: {missing}")
        metrics = {n: {"value": source[n]["value"], "unit": source[n]["unit"]} for n in names}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
