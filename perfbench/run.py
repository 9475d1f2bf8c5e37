#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the checkout root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and harness if needed (perfbench/build.py), then runs the
harness JVM on a local[nproc] Spark session. The result line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones, and the
traced spans and jobs are kept in <build dir>/traces/<workload>-seed<n>.jsonl.
Every other file the run writes stays under the build directory and is
removed at exit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("submission_queue", "corpus_dedup")
TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


# C1 only. Under C2 the harness was still getting faster after 30
# submissions and 5 chain passes, longer than a run can warm up, so its
# figures depended on how far the JIT had got; C1 levels off within a few
# operations. C1 alone sizes the code cache for a small program, which Spark
# overflows, so it is set back to the tiered default.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]


def heap_gb():
    """Half of physical memory in GiB, clamped to [2, 8] (the Tier-1 rule)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    classpath = build.ensure()
    scratch = os.path.join(build.build_dir(), f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    log4j = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")
    cmd += JIT + [f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            f"-Dlog4j2.configurationFile={log4j}",
            "-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--scratch", scratch]
    if a.trace == "1":
        traces = os.path.join(build.build_dir(), "traces")
        os.makedirs(traces, exist_ok=True)
        cmd += ["--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: {a.workload} did not finish within {TIMEOUT_S} s")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: harness exited with {proc.returncode} and no result")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
