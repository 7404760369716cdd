#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--record FILE]

Run from the root of a checkout. The first run builds the engine and the
harness (`perfbench/harness`, an sbt build over the repository's own
sources); later runs reuse that build while the sources it was built
from are unchanged, and recompile when they are not. Each run then:

1. generates the workload's seeded inputs: the window table and the
   operation order (`interactive`) or the input feed (`ingest`);
2. starts one fresh JVM on `local[nproc]` with `Tables.session(nproc)`
   settings, which runs every operation once untimed for the output
   checks and then timed passes, one client thread in a closed loop,
   for `--seconds` seconds;
3. checks the outputs (DuckDB over the same inputs, or the cached oracle
   digests of the fixed sf0.1 tables);
4. prints `{"correct", "attempted", "failed", "metrics"}` as the last
   line: the end-to-end metrics with `--trace 0`, the per-layer metrics
   (listeners on) with `--trace 1`.

`--record FILE` also merges this run's metrics and its per-operation
spans into FILE, keyed by workload (see `records/`, `diff_layers.py`).
Exit status is non-zero, with no result line, when the build or the
workload cannot run at all.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
CLASSPATH_FILE = os.path.join(HARNESS, "target", "perfbench.classpath.json")
SF_DIR = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected", "sf0.1.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

# ------------------------------------------------------------ workloads

# Short analyst queries over telemetry, events and relational tables:
# fixed per-query cost (builder, planning, scheduling) dominates.
INTERACTIVE = ["s12_top_inverters", "st8_stream_gaps", "e23_conversion_delay",
               "q45_revenue_momentum"]

# Global window shapes over the seeded window table (`telemetry`), in SQL
# that Spark and DuckDB both run: the graft rules plan them as the
# two-pass GlobalRank and GlobalRunningAgg execs, one range exchange each.
# Five query operations in all: with an odd count, the median latency
# falls on one operation's samples rather than between two operations'.
WINDOWS = [
    ("w_global_rank_running_sum",
     "SELECT inverter, ts, raw, "
     "CAST(rank() OVER (ORDER BY raw NULLS FIRST) AS INT) AS rk, "
     "CAST(dense_rank() OVER (ORDER BY raw NULLS FIRST) AS INT) AS drk, "
     "CAST(sum(raw) OVER (ORDER BY ts) AS BIGINT) AS run_sum FROM telemetry"),
]

# Read-back queries over the appended MergeTree table (`readings`).
READBACK_MONTH = 202602
READBACKS = [
    ("readback_last",
     "SELECT inverter, register, max(ts) AS last_ts, max_by(raw, ts) AS last_raw "
     "FROM readings GROUP BY inverter, register"),
    ("readback_month",
     "SELECT date_trunc('hour', ts) AS hour, inverter, register, count(*) AS n, "
     "sum(raw) AS sum_raw, max(raw) AS max_raw FROM readings "
     f"WHERE month = {READBACK_MONTH} GROUP BY date_trunc('hour', ts), inverter, register"),
]

# Each ingest pass runs the read-backs this many times after its append.
# A pass has one drain and one append but several read-backs, so that
# `query_p50_ms` rests on about as many samples as on `interactive`.
READBACK_ROUNDS = 3

WORKLOADS = ("interactive", "ingest")


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def build_inputs():
    """Every file the build reads from this checkout: both sbt builds'
    definitions, the engine's main sources and the harness sources."""
    files = []
    for base in (ROOT, HARNESS):
        files += [os.path.join(base, "build.sbt")]
        proj = os.path.join(base, "project")
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, f) for f in names]
    return sorted(f for f in files if os.path.isfile(f))


def sources_sha256():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness and caches the runtime
    classpath beside a digest of the build's inputs. A run whose inputs
    match the cached digest reuses the build; any other run recompiles
    (incrementally) first, so a run always measures the sources in its
    checkout. Returns the classpath."""
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: no engine build (build.sbt) in " + ROOT)
    sha = sources_sha256()
    if os.path.exists(CLASSPATH_FILE):
        cached = json.load(open(CLASSPATH_FILE))
        if cached.get("sources_sha256") == sha:
            return cached["classpath"]
    log("perfbench: building engine and harness (sources changed or first run)")
    proc = subprocess.run(
        ["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        log(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        json.dump({"sources_sha256": sha, "classpath": classpath}, f)
    return classpath


JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
              "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
              "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs",
              "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(classpath, args, work, timeout_s):
    # java.io.tmpdir is also Spark's local (shuffle, spill) directory
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: workload JVM timed out")


# --------------------------------------------------------------- checks

def duck(work):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{work}/tmp'")
    return con


def norm(v):
    """check_oracle.py's normalisation, plus tz-aware times as naive UTC."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def result_digest(cursor):
    cols = [c[0] for c in cursor.description]
    perm = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm(r[i]) for i in perm) for r in cursor.fetchall()]
    return len(rows), metrics.digest([tuple(sorted(cols))] + rows)


def check_queries(keys, work):
    """Each query's result against its DuckDB oracle's digest. Digests
    are cached in `expected/`, keyed by the oracle SQL's SHA-256; an
    oracle whose SQL changed is run afresh. A query without an oracle
    fails its check."""
    expected = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    oracles = json.load(open(f"{work}/oracle.json"))
    con = duck(work)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    bad = []
    for key in keys:
        sql = oracles.get(key)
        if sql is None:
            bad.append(key)
            log(f"perfbench: check {key}: no oracle SQL")
            continue
        try:
            rows, got = result_digest(
                con.execute(f"SELECT * FROM '{work}/results/{key}/*.parquet'"))
        except Exception as e:  # no output: the operation failed
            bad.append(key)
            log(f"perfbench: check {key}: no output ({e})")
            continue
        sha = hashlib.sha256(sql.encode()).hexdigest()
        exp = expected.get(key)
        if exp is None or exp.get("oracle_sha256") != sha:
            exp = {"oracle_sha256": sha}
            exp["rows"], exp["digest"] = result_digest(con.execute(sql))
        if exp["rows"] != rows or exp["digest"] != got:
            bad.append(key)
            log(f"perfbench: check {key}: result differs from the oracle")
    return bad


def same_rows(con, spark_sql, oracle_sql):
    """Multiset equality of two results, computed inside DuckDB."""
    q = (f"SELECT (SELECT count(*) FROM (({spark_sql}) EXCEPT ALL ({oracle_sql}))) + "
         f"(SELECT count(*) FROM (({oracle_sql}) EXCEPT ALL ({spark_sql})))")
    return con.execute(q).fetchone()[0] == 0


def check_same(con, checks):
    """Names of the (name, Spark output SQL, oracle SQL) checks whose two
    results differ as multisets, or that could not run."""
    bad = []
    for name, spark_sql, oracle_sql in checks:
        try:
            ok = same_rows(con, spark_sql, oracle_sql)
        except Exception as e:
            log(f"perfbench: check {name}: {e}")
            ok = False
        if not ok:
            bad.append(name)
            log(f"perfbench: check {name}: result differs from DuckDB")
    return bad


def check_windows(table, work):
    """The window shapes against DuckDB over the same table; the data is
    integer-valued, so the results are exact."""
    con = duck(work)
    con.execute(f"CREATE VIEW telemetry AS SELECT * FROM '{table}'")
    return check_same(con, [(name, f"SELECT * FROM '{work}/results/{name}/*.parquet'", sql)
                            for name, sql in WINDOWS])


def check_ingest(feed_dir, catalog, work):
    """The stream's rollup against a batch groupBy of the feed, and the
    read-back queries against DuckDB over the feed."""
    con = duck(work)
    con.execute(f"CREATE VIEW feed AS SELECT * FROM '{feed_dir}/*.parquet'")
    con.execute("CREATE VIEW readings AS SELECT *, "
                "CAST(strftime(ts, '%Y%m') AS INTEGER) AS month FROM feed")
    units = ", ".join(f"('{line.split()[0]}', '{line.split()[4]}')"
                      for line in open(catalog) if line.strip())
    # Append mode emits an hourly window once the watermark (max event
    # time - 90 minutes) passes its end; the drain ends at the feed's end.
    rollup = (
        "SELECT * FROM (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour, inverter, "
        "register, unit, count(*) AS n, "
        "CAST(sum(CAST(scaled AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value, "
        "max(scaled) AS max_value "
        f"FROM feed JOIN (VALUES {units}) AS c(name, unit) ON register = name "
        "GROUP BY 1, 2, 3, 4) "
        "WHERE hour + INTERVAL 1 HOUR <= (SELECT max(ts) FROM feed) - INTERVAL 90 MINUTE")
    stream_out = ("SELECT hour, inverter, register, unit, n, avg_value, max_value "
                  f"FROM '{work}/pass0/out/*/*.parquet'")
    checks = [("drain", stream_out, rollup)] + [
        (name, f"SELECT * FROM '{work}/results/{name}/*.parquet'", sql)
        for name, sql in READBACKS]
    return check_same(con, checks)


# ------------------------------------------------------------------ run

def prepare(workload, seed, work):
    """Inputs and the operation list of one pass. Returns (ops, extra
    harness args, feed rows, check function)."""
    if workload == "interactive":
        table = gen.write_window_input(seed, f"{work}/window")
        ops = [(k, "query", k) for k in INTERACTIVE] + [
            (n, "window", s) for n, s in WINDOWS]
        random.Random(seed).shuffle(ops)
        return (ops, ["--telemetry", table], None,
                lambda: check_queries(INTERACTIVE, work) + check_windows(table, work))
    feed_dir, catalog, rows = gen.write_ingest_input(seed, f"{work}/ingest")
    ops = [("drain", "drain", "-"), ("append", "append", "-")] + [
        (n, "readback", s) for _ in range(READBACK_ROUNDS) for n, s in READBACKS]
    return (ops, ["--feed", feed_dir, "--catalog", catalog], rows,
            lambda: check_ingest(feed_dir, catalog, work))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="merge this run into a records file")
    a = ap.parse_args()

    if not os.path.isdir(SF_DIR):
        raise SystemExit("perfbench: fixed tables missing: " + SF_DIR)
    classpath = build()
    setup_start_ms = time.time() * 1000.0

    work = os.path.join(ROOT, ".perfbench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ops, extra, feed_rows, check = prepare(a.workload, a.seed, work)
    with open(f"{work}/ops.tsv", "w") as f:
        for op in ops:
            f.write("\t".join(op) + "\n")
    cpus = len(os.sched_getaffinity(0))
    rc = run_jvm(classpath, [
        "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(cpus), "--sf", SF_DIR, "--work", work,
        "--ops", f"{work}/ops.tsv", "--out", f"{work}/record.json"] + extra,
        work, timeout_s=150)
    if rc != 0 or not os.path.exists(f"{work}/record.json"):
        log(open(f"{work}/jvm.log").read()[-4000:])
        raise SystemExit(f"perfbench: workload JVM failed (exit {rc})")
    record = json.load(open(f"{work}/record.json"))

    bad = set(check())
    # every operation of the check pass and of the timed passes counts;
    # a check pass operation fails on an exception or a failed check
    attempted = len(record["ops"])
    failed = sum(1 for o in record["ops"]
                 if not o["ok"] or (o["pass"] == 0 and o["name"] in bad))
    if a.trace:
        values, counts = metrics.per_layer(record, feed_rows)
        units = {}
    else:
        values, counts = metrics.end_to_end(record, setup_start_ms, feed_rows)
        units = {"setup_s": "s", "wall_s": "s", "query_p50_ms": "ms"}
    out_metrics = {k: {"value": v, "unit": units.get(k) or layer_unit(k)}
                   for k, v in values.items()}
    result = {"correct": not bad and failed == 0, "attempted": attempted,
              "failed": failed, "metrics": out_metrics}
    if a.record:
        save_record(a.record, a, record, result, counts)
    log(f"perfbench: {a.workload} seed={a.seed} trace={a.trace} {counts} "
        f"failed checks: {sorted(bad) or 'none'}")
    print(json.dumps(result))


def layer_unit(name):
    if name == "peak_rss_mb":
        return "MB"
    if name.endswith("_ms") or name.startswith("self_ms."):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_per_s"):
        return "rows/s"
    if name in ("slot_util", "max_task_share", "trace_overhead"):
        return "ratio"
    return "count"


def save_record(path, a, record, result, counts):
    """Merges this run into `path`: per workload, its metrics, counts and
    every operation's span (without the raw listener events)."""
    data = json.load(open(path)) if os.path.exists(path) else {}
    spans = [{k: o[k] for k in ("pass", "name", "kind", "start_ms", "build_end_ms",
                                "end_ms", "ok", "traced")} for o in record["ops"]]
    data[a.workload] = {"seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                        "cpus": record["cpus"], "counts": counts, "result": result,
                        "passes": record["passes"], "spans": spans}
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
