#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload f1|corpus|live --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (sbt, into .bench_build/,
rebuilt only when a source file changes), runs one benchmark JVM, checks
what it could not check itself (the corpus outputs against their DuckDB
mirrors), and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (BENCHMARK.json lists both). The line before it carries
the run's config; the full record, and for traced runs every span, is
kept under .bench_build/results/ and .bench_build/traces/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
# a fixed, pre-touched heap keeps peak RSS from following G1's sizing, so
# it moves with native and off-heap memory (RocksDB, codegen, threads)
HEAP = "2g"
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = []
    for pattern in ["src/main/scala/**/*.scala", "perfbench/src/**/*.scala",
                    "perfbench/build.sbt", "perfbench/project/build.properties"]:
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged;
    returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), stamp
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
           "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and ":" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, stamp


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    return p.stdout.strip() or "unknown"


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args)
    p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s", 4)


# ---------------------------------------------------------------- oracle

def _cell(v):
    return repr(v) if isinstance(v, float) else v


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(
        (tuple(_cell(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(type(x)), x if x is not None else 0) for x in t))


def same_rows(got, want):
    """Exact comparison after sorting: column names, row count, values."""
    if got[0] != want[0]:
        return f"columns {got[0]} vs {want[0]}"
    if len(got[1]) != len(want[1]):
        return f"{len(got[1])} rows vs {len(want[1])}"
    bad = sum(1 for a, b in zip(got[1], want[1]) if a != b)
    return f"{bad} rows differ" if bad else None


def corrupt(rows):
    """The same rows with one cell changed."""
    cols, data = rows
    first = list(data[0])
    v = first[-1]
    first[-1] = v + "x" if isinstance(v, str) else (v or 0) + 1
    return cols, [tuple(first)] + data[1:]


def materialized(sql):
    """DuckDB 1.0 inlines a CTE at every reference, so an unrolled loop
    whose step reads the previous step twice re-evaluates 2^rounds times;
    materializing each CTE keeps the mirror linear. Recursive CTEs stay
    as written."""
    if "RECURSIVE" in sql.upper():
        return sql
    return re.sub(r"(?m)^((?:WITH )?\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def oracle_checks(oracle, work):
    """Compare each corpus output with its DuckDB mirror. Returns
    (attempted, failed, problems, checker self-check failures)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb-tmp')}'")
    con.execute("SET max_temp_directory_size = '2GB'")
    docs = glob.glob(os.path.join(oracle["documents"], "*.parquet"))
    con.execute(f"CREATE VIEW documents AS SELECT * FROM parquet_scan({docs!r})")
    attempted = failed = 0
    problems, missed = [], []
    for name, sql in sorted(oracle["sql"].items()):
        attempted += 1
        files = glob.glob(os.path.join(oracle["dir"], name, "*.parquet"))
        got = _rows(con, f"SELECT * FROM parquet_scan({files!r})")
        want = _rows(con, materialized(sql))
        diff = same_rows(got, want)
        if diff:
            failed += 1
            problems.append(f"{name}: {diff}")
        if got[1] and same_rows(corrupt(got), want) is None:
            missed.append(f"duckdb {name} checker")
    return attempted, failed, problems, missed


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the repository root: the engine sources are missing", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}", 2)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]}

    cp, stamp = build()
    work = os.path.join(OUT, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    try:
        code = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", a.trace,
                            "--work", work, "--out", result_file,
                            "--commit", git_commit()], work)
        if not os.path.exists(result_file):
            fail(f"benchmark JVM exited {code} without a result", 5)
        with open(result_file) as fh:
            r = json.load(fh)
        problems = list(r.get("failures", []))
        self_fail = list(r.get("self_check_failures", []))
        attempted, failed = r["attempted"], r["failed"]
        if r.get("ok") and "oracle" in r:
            try:
                n, f, probs, missed = oracle_checks(r["oracle"], work)
            except Exception as e:  # a mirror that cannot run fails its checks
                n = f = len(r["oracle"]["sql"])
                probs, missed = [f"duckdb: {e}"], []
            attempted, failed = attempted + n, failed + f
            problems += probs
            self_fail += missed
    finally:
        shutil.rmtree(work, ignore_errors=True)

    got = r.get("metrics", {})
    metrics = {k: {"value": got[k], "unit": u} for k, u in units.items()
               if isinstance(got.get(k), (int, float)) and math.isfinite(got[k])}
    missing = [k for k in units if k not in metrics]
    correct = bool(r.get("ok")) and failed == 0 and not self_fail and not missing
    config = dict(r["config"], source_sha=stamp, heap=HEAP)
    record = {"config": config, "correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics, "problems": problems, "self_check_failures": self_fail,
              "missing_metrics": missing, "error": r.get("error"),
              "samples": r.get("samples"),
              "untraced_pass_s": r.get("untraced_pass_s"),
              "traced_pass_s": r.get("traced_pass_s")}
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}"
    with open(os.path.join(OUT, "results", tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if "spans" in r:
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        with open(os.path.join(OUT, "traces", tag + ".json"), "w") as fh:
            json.dump({"config": config, "spans": r["spans"]}, fh)
    for p in problems + self_fail + [f"missing metric {m}" for m in missing]:
        print(f"perfbench: {p}", file=sys.stderr)
    info = {"config": config, "samples": r.get("samples")}
    if a.trace == "1":
        info["trace_overhead"] = {"untraced_pass_s": r.get("untraced_pass_s"),
                                  "traced_pass_s": r.get("traced_pass_s")}
    print(json.dumps(info))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
