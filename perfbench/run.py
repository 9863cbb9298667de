#!/usr/bin/env python3
"""Benchmark of the unique-users stream pipeline and the streaming-gate set.

Run from the repository root:

    python3 perfbench/run.py --workload stream|gates --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

It builds the program from source (perfbench/build.py), runs one workload in
a fresh JVM, checks the program's output, prints every metric by name and
unit, and ends with one JSON line:
{"correct": .., "attempted": .., "failed": .., "metrics": {name: {value, unit}}}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones and
writes the run's spans to .bench_build/perfbench/traces/. See README.md.
"""
import argparse
import contextlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

# Per-run limit after the build, kept under the 180 s a run may take.
RUN_LIMIT_S = 170
# Few JIT and GC threads, so that they leave the cores to the program.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xss8m", "-XX:CICompilerCount=2",
            "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
# Spark on JDK 17 outside spark-submit (as in the repository's build.sbt).
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, log=None):
    print(f"perfbench: {msg}", file=sys.stderr)
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    sys.exit(1)


def run_jvm(root, classes, args, run_dir, deadline):
    """Run perfbench.Main; returns (echoed report lines, result dict)."""
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = (["java"] + JVM_OPTS + [f"--add-opens={p}" for p in ADD_OPENS] +
           [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-cp", cp,
            "perfbench.Main"] + args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("the run did not finish in time", log)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if p.returncode != 0 or result is None:
        fail(f"the benchmark JVM exited with {p.returncode}", log)
    return result


def oracle_failures(root, data_dir, out_dir):
    """Check the gate outputs with the repository's oracle checker,
    tools/check_oracle.py (SparkEntry.oracleSql in DuckDB over the same
    tables); returns the names of the queries it failed."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(data_dir, out_dir)
    failed = set()
    for line in buf.getvalue().splitlines():
        print(f"[perfbench] oracle {line}")
        if line.startswith("FAIL "):
            failed.add(line[5:].split(":")[0].split(".")[0])
    return failed


def run(root, workload, seed, seconds, trace, perturb=False):
    t0 = time.time()
    classes = build.build(root)
    built_s = time.time() - t0
    # a run that compiled first gets its compile time on top of the limit
    deadline = t0 + RUN_LIMIT_S + (built_s if built_s > 5 else 0.0)
    work = os.path.join(root, build.BUILD_ROOT)
    run_dir = os.path.join(work, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", "1" if trace else "0", "--run-dir", run_dir,
                "--perturb", "1" if perturb else "0",
                "--trace-file", os.path.join(work, "traces", f"{workload}-seed{seed}.json")]
        if workload == "gates":
            import gatedata
            data = os.path.join(run_dir, "data")
            gatedata.write(data, seed)
            # the tables of the untimed warm-up pass (Gates.scala)
            gatedata.write(os.path.join(data, "warm"), seed, scale=0.1)
            args += ["--data-dir", data]
        result = run_jvm(root, classes, args, run_dir, deadline)
        if workload == "gates":
            result["failed"] += len(oracle_failures(root, data, os.path.join(run_dir, "gates-out")))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    result["correct"] = result["failed"] == 0
    return result


def selftest(root):
    """A tiny steady run must pass, and the same run with one expected window
    count perturbed must fail its check."""
    ok = run(root, "stream", 7, 1, False)
    bad = run(root, "stream", 7, 1, False, perturb=True)
    # the perturbed window is checked in both the steady and the bulk phase
    passed = ok["correct"] and not bad["correct"] and bad["failed"] == 2
    print(f"[perfbench] selftest clean={ok['correct']} "
          f"perturbed_failed={bad['failed']}: {'PASS' if passed else 'FAIL'}")
    return passed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["stream", "gates"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, build.PROGRAM_SRC)):
        fail(f"{build.PROGRAM_SRC} not found: run from the root of a repository checkout")
    if a.selftest:
        sys.exit(0 if selftest(root) else 1)
    if not a.workload:
        ap.error("--workload is required")
    result = run(root, a.workload, a.seed, a.seconds, a.trace == 1)
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": result["metrics"]}))


if __name__ == "__main__":
    main()
