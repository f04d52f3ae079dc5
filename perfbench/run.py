#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload api_serving --seed 1 --seconds 10 --trace 0

Builds the engine (../src/main/scala) together with the harness in
perfbench/src with sbt when the sources changed since the last build, then
runs one benchmark process (perfbench.Main) and prints its result as the
last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

Exit status: 0 when every output was correct, 1 on a correctness failure
(the result line is still printed), 2 when the engine sources are missing or
the build fails, 3 when the benchmark process fails or exceeds its time
limit (no result line). See perfbench/README.md for workloads and metrics.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "perfbench.stamp")
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("api_serving", "curation_rounds")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


CHILDREN = []


def start(cmd, **kw):
    """Start a child in its own process group; an interrupted or terminated
    run.py kills every group it started and waits for it."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    CHILDREN.append(proc)
    return proc


def on_signal(signum, _frame):
    for proc in CHILDREN:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    sys.exit(3)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: engine sources, harness, build files."""
    h = hashlib.sha256()
    roots = [ENGINE, os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".properties", ".sbt"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    log("building engine and harness with sbt")
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"]
    proc = start(cmd, cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr)
    if wait(proc, BUILD_TIMEOUT_S) != 0:
        log("build failed")
        sys.exit(2)
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    log(f"built in {time.time() - t0:.0f} s")


def declared_metrics(traced):
    """Metric name -> unit that BENCHMARK.json declares for this kind of run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def wait(proc, timeout):
    """Wait for a process started in its own session; on timeout kill the
    whole group and wait until it has ended. Returns the exit code, or None
    on timeout."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    if not os.path.isfile(os.path.join(ENGINE, "graft", "SparkEntry.scala")):
        log(f"engine sources not found under {ENGINE}; run from a full checkout")
        sys.exit(2)
    build()

    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-Xss4m",
           f"-Djava.io.tmpdir={run_dir}",
           "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--data", os.path.join(BENCH, "data", "sf0.1"),
           "--work", run_dir, "--cpus", str(cpus),
           "--digests", os.path.join(BENCH, "expected_digests.json"),
           "--spans", os.path.join(WORK, f"spans-{args.workload}.jsonl")]
    proc = start(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        log(f"benchmark process exceeded {RUN_TIMEOUT_S} s and was killed")
        sys.exit(3)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    prefix = "PERFBENCH_RESULT "
    lines = [l for l in out.splitlines() if l.startswith(prefix)]
    if code not in (0, 1) or len(lines) != 1:
        log(f"benchmark process failed (exit {code})")
        sys.exit(3)
    result = json.loads(lines[0][len(prefix):])
    declared = declared_metrics(args.trace == "1")
    emitted = {k: v["unit"] for k, v in result["metrics"].items()}
    if emitted != declared:
        log(f"metrics differ from BENCHMARK.json: emitted {sorted(emitted.items())}, "
            f"declared {sorted(declared.items())}")
        sys.exit(3)
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()
