#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage:
  python3 perfbench/run.py --workload <lakehouse|corpus_curate>
      --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use (see
build.py), then runs one JVM (Spark local[nproc]) that makes the
workload's inputs from the seed under .bench_build/work, runs passes for
--seconds (at least one, after the workload's warm-up if it has one), and
checks every output.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1 (listeners on, spans
written to .bench_build/results/*.trace.json). The line before it is a
summary: environment, input sizes, per-pass times, latency sample count,
and the workload's own figures (failed_ratio among them).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # keep the benchmark's directory source-only
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("lakehouse", "corpus_curate")
# One run must end within 180 s; the JVM gets what is left after the build.
RUN_LIMIT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    os.makedirs(build.OUT, exist_ok=True)
    try:
        build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    tag = f"{a.workload}-{a.seed}-{'trace' if a.trace else 'timed'}-{os.getpid()}"
    work = os.path.join(build.OUT, "work", tag)
    out = os.path.join(build.OUT, "results", tag + ".json")
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory;
    # every file a run writes stays under .bench_build.
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", out])
    if os.path.exists(out):
        os.remove(out)
    # The JVM's stdout goes to our stderr: our stdout carries only the
    # summary and the result line.
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        print(f"[perfbench] run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        return 3
    if code != 0 or not os.path.exists(out):
        print(f"[perfbench] benchmark JVM failed (exit {code})", file=sys.stderr)
        return 1
    with open(out) as f:
        doc = json.load(f)
    doc["summary"]["env"]["git_commit"] = git_commit()
    doc["summary"]["env"]["driver_heap"] = HEAP
    with open(out, "w") as f:
        json.dump(doc, f)
    print(json.dumps({"summary": doc["summary"]}))
    print(json.dumps(doc["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
