#!/usr/bin/env python3
"""Count the OS processes and generated classes one benchmark workload's JVM starts.

Usage (from the repository root):

    python3 scripts/forks.py --workload ingest [--seed N] [--seconds S] [--jfr FILE] [--no-run]

Builds the benchmark harness first (so sbt's own processes are not
recorded), then runs `benchmark/run.py` for one workload with a Java
Flight Recording (`settings=profile`, which records `jdk.ProcessStart`
with its stack, plus `jdk.ClassDefine`) passed through JAVA_TOOL_OPTIONS.
Prints the number of processes started, by command, by starting thread,
by the first `graft.` frame on the starting stack (the innermost graft
method that led to the process; `-` when no graft frame is on it) and by
benchmark phase. Then prints the classes Spark's code generator compiled
(`GeneratedClass`, one per Janino compile; its nested classes counted
apart), by phase: a compile in the measured phase is a plan the warm-up
compiled and the codegen cache did not keep.

A phase (set-up, warm-up, measured ops, final checks) is read from the
main thread's stacks; an event on another thread belongs to the phase
the main thread was in at that moment. `scripts/JfrEvents.java` reads
the recording.

On a machine without libhadoop, Hadoop's stock local FileSystem forks
`ls -ld` to read a file's permission and `chmod` to set one; this script
shows where a workload pays for that.
"""
import argparse
import collections
import importlib.util
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GENERATED = "org.apache.spark.sql.catalyst.expressions.GeneratedClass"


def load_run_module():
    spec = importlib.util.spec_from_file_location(
        "graft_bench_run", os.path.join(ROOT, "benchmark", "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def read_events(jfr):
    """(kind, nanos, thread, phase, first graft frame, detail) tuples."""
    out = subprocess.run(["java", os.path.join(ROOT, "scripts", "JfrEvents.java"), jfr],
                         stdout=subprocess.PIPE, check=True, text=True).stdout
    events = [tuple(line.split("\t")) for line in out.splitlines() if line]
    return [(k, int(t), th, ph, fr, d) for k, t, th, ph, fr, d in events]


def phase_of(events):
    """Map an event to the phase the main thread was in when it fired."""
    starts = {}
    for kind, t, thread, phase, _, _ in events:
        if thread == "main" and phase != "-":
            starts[phase] = min(t, starts.get(phase, t))
    timeline = sorted((t, p) for p, t in starts.items())

    def of(t):
        current = "start-up"
        for start, p in timeline:
            if start <= t:
                current = p
        return current
    return of


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
                                    f" -XX:StartFlightRecording=filename={jfr},settings=profile,"
                                    "jdk.ClassDefine#enabled=true"
                                    " -XX:FlightRecorderOptions=stackdepth=256").strip()
        r = subprocess.run([sys.executable, os.path.join(ROOT, "benchmark", "run.py"),
                            "--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds)], env=env, cwd=ROOT)
        if r.returncode != 0 or not os.path.exists(jfr):
            sys.exit(f"forks: the {a.workload} run failed (exit {r.returncode})")

    events = read_events(jfr)
    phase = phase_of(events)
    procs = [e for e in events if e[0] == "process"]
    print(f"processes started: {len(procs)} ({jfr})")
    table("by command", collections.Counter(e[5].split()[0] for e in procs))
    table("by thread", collections.Counter(e[2] for e in procs))
    table("by first graft frame", collections.Counter(e[4] for e in procs))
    table("main thread, by first graft frame",
          collections.Counter(e[4] for e in procs if e[2] == "main"))
    table("by phase", collections.Counter(phase(e[1]) for e in procs))
    generated = [e for e in events if e[0] == "generated"]
    compiles = [e for e in generated if e[5] == GENERATED]
    print(f"generated classes compiled: {len(compiles)} "
          f"(+{len(generated) - len(compiles)} nested classes)")
    table("compiled, by phase", collections.Counter(phase(e[1]) for e in compiles))


if __name__ == "__main__":
    main()
