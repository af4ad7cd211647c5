#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop run.

usage (from the repository root):
  python3 perfbench/run.py --workload pagerank|sql_mix \
      --seed N --seconds S --trace 0|1

Builds the engine and the benchmark harness from source on first use
(sbt, in perfbench/), runs the workload in one JVM on local[4], checks
every output against an oracle that shares no code with the engine, and
prints as its last stdout line one JSON object:
  {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). The line before it names every metric
with its unit, plus fail_ratio. The full run record (what ran, inputs,
every job, spans, skipped items) goes to perfbench/results/.
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

import sqldata

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
WORKLOADS = ("pagerank", "sql_mix")
# JVM settings that keep a job's time the same from job to job and from
# run to run (perfbench/README.md, "Cost and steadiness"):
# - C1 only: with C2, job times kept falling by a quarter over the first
#   six jobs after warm-up, longer than a run can wait;
# - a fixed, pre-touched heap on transparent huge pages, with the
#   parallel collector: the same seed spread 9.3-11.9 s between runs
#   without them, 8.0-9.2 s with them.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
             "-XX:+UseTransparentHugePages", "-XX:+UseParallelGC"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every input of the build, as (path, mtime, size)."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted((f, os.stat(f).st_mtime_ns, os.stat(f).st_size) for f in files)


def spark_home():
    """$SPARK_HOME, else the first installation on PATH with a jars/ dir."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    home = next((h for h in homes if h and os.path.isdir(os.path.join(h, "jars"))), None)
    if home is None:
        die("Spark not found: set SPARK_HOME")
    return home


def build(spark):
    """Compile the engine plus harness when any source changed."""
    stamp = hashlib.sha256(repr(sources()).encode()).hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    print("perfbench: building", file=sys.stderr)
    p = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=850,
                       env=dict(os.environ, SPARK_HOME=spark))
    if p.returncode != 0:
        die("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def run_jvm(args, work, pregen_s, spark):
    out = os.path.join(work, "run.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", f"{CLASSES}:{spark}/jars/*", "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--dir", work, "--out", out, "--pregen-s", repr(pregen_s)]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)

    def stop(signum=None, frame=None):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        if signum is not None:
            shutil.rmtree(work, ignore_errors=True)
            die(f"stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        die(f"run exceeded {JVM_TIMEOUT_S} s")
    if proc.returncode != 0 or not os.path.exists(out):
        die(f"benchmark JVM exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


# ---- sql_mix: DuckDB replays SparkEntry.oracleSql on the same tables ----

def canon(v):
    """A value in a form both engines agree on: numbers as numbers,
    sequences as tuples, anything else as its string."""
    import datetime, decimal
    if v is None or isinstance(v, (bool, int, float)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):  # a struct, in field order
        return tuple(canon(x) for x in v.values())
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def sort_key(v):
    if isinstance(v, float):
        return f"{v:.6e}" if v != int(v) or abs(v) >= 2 ** 53 else str(int(v))
    if isinstance(v, tuple):
        return "(" + ",".join(sort_key(x) for x in v) + ")"
    return repr(v)


def same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def canonical(cols, rows):
    """Columns sorted by name, values canonical, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(canon(r[i]) for i in order) for r in rows]
    rows.sort(key=sort_key)
    return [cols[i] for i in order], rows


def duckdb_check(work):
    """(faults, skipped, seconds per oracle query) of the reference pass
    against DuckDB."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for t in sqldata.ROWS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{work}/tables/{t}.parquet/*.parquet')")
    result = os.path.join(work, "result")
    with open(os.path.join(result, "oracle_sql.json")) as f:
        oracles = json.load(f)
    faults, skipped, seconds = [], [], {}
    for name in sorted(n[:-5] for n in os.listdir(result) if n != "oracle_sql.json"):
        if name not in oracles:
            skipped.append(f"check {name}: no oracle SQL; checked against the first pass only")
            continue
        with open(os.path.join(result, f"{name}.json")) as f:
            ref = json.load(f)
        got_cols, got = canonical(ref["columns"], ref["rows"])
        t0 = time.time()
        try:
            cur = con.execute(oracles[name])
            want_cols, want = canonical([d[0] for d in cur.description], cur.fetchall())
        except duckdb.Error as e:
            faults.append(f"{name}: oracle SQL failed: {e}")
            continue
        seconds[name] = time.time() - t0
        if got_cols != want_cols:
            faults.append(f"{name}: columns {got_cols}, oracle {want_cols}")
        elif len(got) != len(want):
            faults.append(f"{name}: {len(got)} rows, oracle {len(want)}")
        else:
            bad = next((i for i in range(len(got)) if not same(got[i], want[i])), None)
            if bad is not None:
                faults.append(f"{name}: row {got[bad]} where the oracle has {want[bad]}")
    return faults, skipped, seconds


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the repository root")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found; run from a full checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    spark = spark_home()
    build(spark)

    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    started = time.time()
    try:
        pregen_s, table_rows, oracle_s = 0.0, None, None
        if args.workload == "sql_mix":
            t0 = time.time()
            table_rows = sqldata.generate(args.seed, os.path.join(work, "tables"))
            pregen_s = time.time() - t0
        t0 = time.time()
        run = run_jvm(args, work, pregen_s, spark)
        jvm_s = time.time() - t0
        skipped = []
        faults = list(run["faults"])
        failed = run["failed"]
        t0 = time.time()
        if args.workload == "sql_mix":
            duck_faults, duck_skipped, oracle_s = duckdb_check(work)
            skipped += duck_skipped
            if duck_faults:
                # every pass reproduced the reference pass, so all are wrong
                faults += duck_faults
                failed = run["attempted"]
        check_s = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    commit = git_commit()
    if commit is None:
        skipped.append("git commit: not a git checkout")
    measured = dict(run["per_layer"] if args.trace else run["end_to_end"])
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in measured:
            metrics[m["name"]] = {"value": measured[m["name"]], "unit": m["unit"]}
        elif args.trace:
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
            skipped.append(f"metric {m['name']}: not exercised by {args.workload}")
        else:
            die(f"end-to-end metric {m['name']} was not measured")
    correct = failed == 0 and not run["self_test_failures"]
    attempted = run["attempted"]

    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    record = dict(run, git_commit=commit, table_rows=table_rows, skipped=skipped, faults=faults, failed=failed,
                  correct=correct, metrics=metrics, pregen_s=pregen_s, jvm_s=jvm_s,
                  check_s=check_s, oracle_query_s=oracle_s, wall_s=time.time() - started)
    with open(os.path.join(HERE, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for fault in faults[:5]:
        print(f"perfbench: FAULT {fault}", file=sys.stderr)
    for s in run["self_test_failures"]:
        print(f"perfbench: SELF-TEST {s}", file=sys.stderr)
    # fail_ratio and peak_live_heap_mb are printed, not bounded: the
    # first is 0 at every healthy commit, the second moves between runs
    # with asynchronous block cleanup
    shown = [f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
    if not args.trace:
        shown.append(f"peak_live_heap_mb={run['peak_live_heap_mb']:.6g} MB")
    print(f"{args.workload} seed={args.seed}: " + " ".join(shown) +
          f" fail_ratio={failed / attempted:.6g} ratio ({failed}/{attempted} jobs)")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
