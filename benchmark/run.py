#!/usr/bin/env python3
"""graft benchmark: the `wire`, `sql` and `ingest` workloads.

Usage (from the repository root):

    python3 benchmark/run.py --workload wire|sql|ingest --seed N \
        --seconds S --trace 0|1

Builds the harness (benchmark/build.sbt: the library sources plus
benchmark/src) when the build is missing or older than a source, runs one
workload in a fresh JVM, checks its outputs, prints every metric by name
with its unit, and prints as the last stdout line one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1).

`--workload all` runs the three workloads one after another and prints
each one's report (no result line).

Fixture tables are read from $GRAFT_FIXTURES/<scale> (by default the
fixture root TESTDATA.md documents): sf0.01 for `sql`, sf0.1 for `ingest`. Everything
the run writes goes under $CARGO_TARGET_DIR (default .bench_build) in the
repository root, except sbt's own build output under benchmark/target.
"""
import argparse
import importlib.util
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the fixture root TESTDATA.md documents
DEFAULT_FIXTURES = os.path.expanduser("~/testdata")
# fixture scale each workload reads (wire generates its own table)
SCALE = {"wire": "sf0.1", "sql": "sf0.01", "ingest": "sf0.1"}
WORKLOADS = ("wire", "sql", "ingest")
RUN_TIMEOUT_S = 170
# BASELINE.md: the reference client's Criterion throughput at 400 k rows
REFERENCE_ROWS_PER_S = {"query": 6.6e6, "insert": 2.0e6}

# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(1)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the harness with sbt unless target/classpath.txt is newer
    than every source; return the runtime classpath."""
    lib = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(lib, "scala", "graft")):
        fail(f"library sources not found under {lib}: run from a graft checkout")
    stamp = os.path.join(HERE, "target", "classpath.txt")
    sources = [lib, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
    if not os.path.exists(stamp) or os.path.getmtime(stamp) < newest_mtime(sources):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline" not in opts:
            opts += " -Dsbt.offline=true"
        env["SBT_OPTS"] = opts.strip()
        t0 = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile", "writeClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0 or not os.path.exists(stamp):
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
        print(f"# built in {time.time() - t0:.1f} s")
    with open(stamp) as f:
        return f.read().strip()


def run_jvm(classpath, workload, seed, seconds, trace, data, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "results", f"{workload}-seed{seed}-trace{trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dio.netty.tryReflectionSetAccessible=true"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--data", data,
            "--work", work, "--out", out]
    log = os.path.join(work, "results", f"{workload}-seed{seed}-trace{trace}.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload}: the JVM did not finish within {RUN_TIMEOUT_S} s (log: {log})")
    if code != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"{workload}: the JVM exited with code {code} (log: {log})")
    with open(out) as f:
        return json.load(f)


def oracle_check(data, results_dir):
    """Compare every recorded b_sql* result with its DuckDB oracle, using
    the canonicalisation of scripts/check.py. Returns the failing names."""
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(ROOT, "scripts", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    names = sorted(d for d in os.listdir(results_dir) if os.path.isdir(os.path.join(results_dir, d)))
    failed, checked = [], 0
    for name in names:
        spark_df = pd.read_parquet(os.path.join(results_dir, name))
        if name not in oracle:
            if len(spark_df) == 0:
                failed.append(f"{name}: empty result and no oracle")
            continue
        checked += 1
        try:
            if check.lint_oracle_types(con, oracle[name]):
                failed.append(f"{name}: oracle result types break the canonicalisation")
                continue
            a, b = check.canon(spark_df), check.canon(con.execute(oracle[name]).df())
            if list(a.columns) != list(b.columns) or len(a) != len(b):
                failed.append(f"{name}: shape {list(a.columns)}x{len(a)} vs {list(b.columns)}x{len(b)}")
                continue
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
        except Exception as e:  # a mismatch or an oracle error
            failed.append(f"{name}: {str(e).splitlines()[0] if str(e) else type(e).__name__}")
    return failed, checked, len(names)


def tracing_overhead(res, work, workload, seed):
    """Traced minus untraced geometric-mean op latency, against the
    untraced result of the same workload in this build directory (same
    seed if there is one, else the latest); 0 when there is none yet."""
    key = "op_latency_geomean_s"
    results = os.path.join(work, "results")
    bases = sorted((os.path.join(results, f) for f in os.listdir(results)
                    if f.startswith(f"{workload}-seed") and f.endswith("-trace0.json")),
                   key=lambda p: (p.endswith(f"-seed{seed}-trace0.json"), os.path.getmtime(p)))
    delta = frac = 0.0
    res["info"]["trace_overhead_base"] = "none: no untraced run of this workload yet"
    for base in reversed(bases):
        with open(base) as f:
            plain = json.load(f)["end_to_end"].get(key)
        if plain:
            delta = res["end_to_end"][key]["value"] - plain["value"]
            frac = delta / plain["value"]
            res["info"]["trace_overhead_base"] = os.path.basename(base)
            break
    res["per_layer"]["trace.overhead_s"] = delta
    res["per_layer"]["trace.overhead_frac"] = frac


def report(res, workload):
    lines = []
    for section in ("end_to_end", "details", "per_layer"):
        for name, m in res[section].items():
            lines.append(f"{workload}  {name:<38} {m['value']:>16.6g} {m['unit']}")
    for k, v in res["info"].items():
        lines.append(f"{workload}  info {k} = {v}")
    # BASELINE.md's reference figures, beside ours. Different hardware,
    # and a different protocol: HTTP + Arrow IPC to an in-process stand-in
    # server here, native TCP to ClickHouse there.
    if workload == "wire":
        ref = "reference (clickhouse-arrow, native TCP, other hardware, 400 k rows)"
        for name, kind in (("scan_rows_per_s", "query"), ("scan_lz4_rows_per_s", "query"),
                           ("insert_rows_per_s", "insert"), ("insert_lz4_rows_per_s", "insert"),
                           ("connector.arrow.decode_rows_per_s", "query"),
                           ("connector.arrow.encode_rows_per_s", "insert")):
            m = res["details"].get(name) or res["per_layer"].get(name)
            if m:
                r = REFERENCE_ROWS_PER_S[kind]
                lines.append(f"wire  vs-reference {name}: {m['value']:.4g} rows/s = "
                             f"{m['value'] / r:.3f} x {r:.3g} rows/s {ref} {kind}")
    print("\n".join(lines))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    fixtures = os.environ.get("GRAFT_FIXTURES", DEFAULT_FIXTURES)
    for workload in (WORKLOADS if a.workload == "all" else (a.workload,)):
        data = os.path.join(fixtures, SCALE[workload])
        if not os.path.isfile(os.path.join(data, "lineitem.parquet")):
            fail(f"fixture tables not found in {data} (set GRAFT_FIXTURES)")
    classpath = build()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))

    for workload in (WORKLOADS if a.workload == "all" else (a.workload,)):
        work = os.path.join(os.path.abspath(build_dir), "graft-bench", workload)
        data = os.path.join(fixtures, SCALE[workload])
        t0 = time.time()
        res = run_jvm(classpath, workload, a.seed, a.seconds, a.trace, data, work)
        res["info"]["jvm_wall_s"] = f"{time.time() - t0:.3f}"
        attempted, failed = res["attempted"], res["failed"]
        for msg in res["failures"]:
            print(f"CHECK FAILED ({workload}): {msg}", file=sys.stderr)
        if workload == "sql":
            t0 = time.time()
            bad, checked, recorded = oracle_check(data, os.path.join(work, "sql_results"))
            res["info"]["oracle_check_s"] = f"{time.time() - t0:.3f}"
            res["info"]["oracle"] = f"{checked - len(bad)}/{checked} match their DuckDB oracle " \
                                    f"({recorded} results recorded)"
            for msg in bad:
                print(f"ORACLE MISMATCH (sql): {msg}", file=sys.stderr)
            failed += len(bad)
        if a.trace:
            tracing_overhead(res, work, workload, a.seed)
            unknown = sorted(set(res["per_layer"]) - {m["name"] for m in spec["per_layer"]})
            if unknown:
                fail(f"{workload}: per-layer metrics missing from BENCHMARK.json: {unknown}")
        # every per-layer metric of BENCHMARK.json; a layer this workload
        # does not drive reads 0
        res["per_layer"] = {m["name"]: {"value": res["per_layer"].get(m["name"], 0.0), "unit": m["unit"]}
                            for m in spec["per_layer"]} if a.trace else {}
        report(res, workload)
        if a.workload == "all":
            continue
        key = "per_layer" if a.trace else "end_to_end"
        got = res[key]
        missing = [m["name"] for m in spec[key] if m["name"] not in got]
        if missing:
            fail(f"{workload}: the run did not produce {missing}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": got[m["name"]]["value"], "unit": m["unit"]} for m in spec[key]},
        }))


if __name__ == "__main__":
    main()
