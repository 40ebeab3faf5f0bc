#!/usr/bin/env python3
"""Count the OS processes one benchmark workload's JVM starts.

Usage (from the repository root):

    python3 scripts/forks.py --workload ingest [--seed N] [--seconds S] [--jfr FILE] [--no-run]

Builds the benchmark harness first (so sbt's own processes are not
recorded), then runs `benchmark/run.py` for one workload with a Java
Flight Recording (`settings=profile`, which records `jdk.ProcessStart`
with its stack) passed through JAVA_TOOL_OPTIONS. Prints the number of
processes started, by command, by starting thread and by the first
`graft.` frame on the starting stack (the innermost graft method that
led to the process; `-` when no graft frame is on it).

On a machine without libhadoop, Hadoop's local FileSystem forks `ls -ld`
to read a file's permission and `chmod` to set one; this script shows
where a workload pays for that.
"""
import argparse
import collections
import importlib.util
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_run_module():
    spec = importlib.util.spec_from_file_location(
        "graft_bench_run", os.path.join(ROOT, "benchmark", "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def process_starts(jfr):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "256",
                          "--events", "jdk.ProcessStart", jfr],
                         stdout=subprocess.PIPE, check=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def first_graft_frame(event):
    frames = ((event["values"].get("stackTrace") or {}).get("frames")) or []
    for fr in frames:
        m = fr["method"]
        cls = m["type"]["name"].replace("/", ".")
        if cls.startswith("graft."):
            return f"{cls}.{m['name']}"
    return "-"


def table(title, counter):
    print(f"{title}:")
    for key, n in counter.most_common():
        print(f"  {n:6d}  {key}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("wire", "sql", "ingest"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--jfr", help="recording file (default: <bench build dir>/forks-<workload>.jfr)")
    ap.add_argument("--no-run", action="store_true", help="only read an existing recording")
    a = ap.parse_args()

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jfr = os.path.abspath(a.jfr or os.path.join(build_dir, f"forks-{a.workload}.jfr"))
    if not a.no_run:
        load_run_module().build()
        os.makedirs(os.path.dirname(jfr), exist_ok=True)
        if os.path.exists(jfr):
            os.remove(jfr)
        env = dict(os.environ)
        env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") +
                                    f" -XX:StartFlightRecording=filename={jfr},settings=profile"
                                    " -XX:FlightRecorderOptions=stackdepth=256").strip()
        r = subprocess.run([sys.executable, os.path.join(ROOT, "benchmark", "run.py"),
                            "--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds)], env=env, cwd=ROOT)
        if r.returncode != 0 or not os.path.exists(jfr):
            sys.exit(f"forks: the {a.workload} run failed (exit {r.returncode})")

    events = process_starts(jfr)
    by_command = collections.Counter(e["values"]["command"].split()[0] for e in events)
    by_thread = collections.Counter((e["values"].get("eventThread") or {}).get("javaName", "?")
                                    for e in events)
    by_frame = collections.Counter(first_graft_frame(e) for e in events)
    by_main_frame = collections.Counter(
        first_graft_frame(e) for e in events
        if (e["values"].get("eventThread") or {}).get("javaName") == "main")
    print(f"processes started: {len(events)} ({jfr})")
    table("by command", by_command)
    table("by thread", by_thread)
    table("by first graft frame", by_frame)
    table("main thread, by first graft frame", by_main_frame)


if __name__ == "__main__":
    main()
