"""Benchmark of the flagship matcher: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload ref_stream|wide_exact|wide_blocked \
        --seed N --seconds S --trace 0|1

Run from the repository root.  Builds the program and the harness with scalac
when their sources changed (perfbench/build.py), derives the expected answers
from the fixtures with DuckDB, lays out the seed's inputs, runs the workload on
local[nproc] in one JVM and prints, as the last line of standard output, one
JSON object with `correct`, `attempted`, `failed` and `metrics`.  `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones and writes the
run's spans under .bench_build/traces/.  See perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("ref_stream", "wide_exact", "wide_blocked")
HEAP = "3g"
# a run (after any build) must end within 180 s
DEADLINE_S = 170

# Spark on JDK 17 outside spark-submit (the same list as build.sbt)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for path in (build.PROGRAM_SRC, inputs.GOLDEN, inputs.WIDE):
        if not os.path.exists(path):
            fail(f"{path} not found; run from the repository root")
    classpath = build.build()
    t0 = time.monotonic()

    answers = inputs.expected(a.workload, os.path.join(build.BUILD_DIR, "answers"))
    run_dir = os.path.abspath(os.path.join(
        build.BUILD_DIR, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir = os.path.join(run_dir, "inputs")
    out_dir = os.path.join(run_dir, "out")
    tmp_dir = os.path.join(run_dir, "tmp")
    for d in (out_dir, tmp_dir):
        os.makedirs(d)
    inputs.write_inputs(a.workload, a.seed, answers, in_dir)

    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir}",
           *ADD_OPENS, "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cpus", str(cpus), "--inputs", in_dir, "--answers", os.path.abspath(answers),
           "--out", out_dir]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    with open(log_path) as log:
        lines = log.read().splitlines()
    for line in lines:
        if line.startswith("[perfbench]"):
            sys.stderr.write(line + "\n")
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("timed out" if rc is None else f"JVM exited with {rc}; log in {log_path}")
    with open(os.path.join(out_dir, "result.json")) as f:
        result = json.load(f)

    if a.trace:
        trace_dir = os.path.join(build.BUILD_DIR, "traces", f"{a.workload}-seed{a.seed}")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
        for name in ("spans.jsonl", "spans_summary.txt"):
            shutil.copy(os.path.join(out_dir, name), trace_dir)
        with open(os.path.join(trace_dir, "spans_summary.txt")) as f:
            sys.stderr.write(f.read())
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
