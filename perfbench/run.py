#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the program from source (perfbench/build.py), then runs one closed-loop
JVM on local[<half the CPUs>] that stages the seeded input, sets up a Spark session
several times, measures the workload for --seconds, and checks its outputs.
For dedup_ann the query outputs are further compared here against the
DuckDB oracle (`SparkEntry.oracleSql`). The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer
list. Everything is read and written under the repository root
(.bench_build/). Exit code 0 only when every output check passed.
"""
import argparse
import datetime
import decimal
import json
import math
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORK = os.path.join(build.BUILD, "work")
JVM_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    # half the CPUs: the driver, GC, JIT and Spark's own threads keep the
    # rest, so task threads do not queue behind them
    return max(1, len(os.sched_getaffinity(0)) // 2)


def jvm(classes, main_args, log_name):
    """Run perfbench.Main; return (exit code, stdout). stderr goes to a log."""
    for d in ("tmp", "spark-local", "warehouse", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in JDK17_OPENS] + [
        "-XX:-UsePerfData",
        # a fixed heap, so heap resizing does not move the timings
        "-Xms3g", "-Xmx3g",
        "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
        "-Dspark.local.dir=" + os.path.join(WORK, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(WORK, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
    ]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = [build.java(), *opts, "-cp", cp, "perfbench.Main",
           "--work", WORK, "--cores", str(cores()), *main_args]
    log = os.path.join(WORK, "logs", log_name)
    with open(log, "w") as err:
        try:
            # SPARK_LOCAL_DIRS would override spark.local.dir
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=JVM_TIMEOUT_S, cwd=build.ROOT, env=env)
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"perfbench: JVM timed out after {JVM_TIMEOUT_S} s (log: {log})\n")
            return 124, ""
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.stderr.write(f"perfbench: JVM exited {r.returncode} (log: {log})\n")
    return r.returncode, r.stdout


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return v


def _rows(rel):
    """(sorted column names, sorted rows with columns in name order)."""
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rel.fetchall())


def duckdb_oracle(dumps):
    """Compare each dumped query output with its oracle SQL in DuckDB, as
    tools/check_oracle.py does: columns by name, rows as a multiset.
    Returns (failures, number of queries checked)."""
    import duckdb
    con = duckdb.connect()
    with open(os.path.join(dumps, "tables.json")) as f:
        for name, path in json.load(f).items():
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    with open(os.path.join(dumps, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = []
    for name, sql in sorted(oracle.items()):
        try:
            gc, got = _rows(con.sql(f"SELECT * FROM '{dumps}/{name}/*.parquet'"))
            wc, want = _rows(con.sql(sql))
        except duckdb.Error as e:
            failures.append(f"{name}: {e}")
            continue
        if gc != wc or got != want:
            failures.append(f"{name}: spark {len(got)} rows {gc}, oracle {len(want)} rows {wc}")
    return failures, len(oracle)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    spec = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    classes = build.build()
    if a.selftest:
        rc, out = jvm(classes, ["--selftest"], "selftest.log")
        print(out, end="")
        sys.exit(rc)
    workloads = [w["name"] for w in spec["workloads"]]
    if a.workload not in workloads or a.seed is None or not a.seconds:
        ap.error(f"--workload one of {workloads}, --seed and --seconds are required")

    rc, out = jvm(classes, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                  f"{a.workload}-s{a.seed}-t{a.trace}.log")
    recs = [ln[len("PERFBENCH "):] for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
    if rc != 0 or not recs:
        sys.exit(1)
    rec = json.loads(recs[-1])
    attempted, failed = rec["attempted"], rec["failed"]
    failures = list(rec["failures"])
    if rec.get("dumps") and failed == 0:
        bad, n = duckdb_oracle(rec["dumps"])
        shutil.rmtree(rec["dumps"], ignore_errors=True)
        attempted += n
        failed += len(bad)
        failures += bad

    if a.trace and "failed_frac" in rec["metrics"]:
        rec["metrics"]["failed_frac"] = failed / attempted
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = rec["metrics"].get(m["name"])
        if v is None or not math.isfinite(v):
            failures.append(f"metric {m['name']} missing")
            failed += 1
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for f in failures:
        sys.stderr.write(f"perfbench: FAILED {f}\n")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
