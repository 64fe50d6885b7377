#!/usr/bin/env python3
"""Three-path benchmark for graft's Lambda architecture.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the benchmark (the
library's sources plus the harness under graftbench/src) with sbt; later
runs reuse the build until a source file changes. Each run starts one
local Spark JVM with one core per host CPU, sets its inputs up from the
seed, measures for the given seconds, checks the outputs, and prints one
JSON line last: {"correct", "attempted", "failed", "metrics"}. The
metrics are the end-to-end metrics of BENCHMARK.json with --trace 0 and
its per-layer metrics with --trace 1. Exit code 0 means every check
passed. Scratch data lives in graftbench/.work and is removed after the
run; traced runs leave their spans in graftbench/.traces.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main")
DATA = os.path.join(ROOT, "data")
JAR = os.path.join(HERE, "target", "graftbench.jar")
CDS = os.path.join(HERE, "target", "graftbench.jsa")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")
BUILD_TIMEOUT_S = 600
TRAIN_TIMEOUT_S = 240
RUN_TIMEOUT_S = 170
# The heap is fixed at its full size from the start: with a growing heap,
# dashboard requests took about 30 s instead of 10 s to reach steady latency.
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    print("graftbench: building (sbt package)", file=sys.stderr)
    for stale in (STAMP, CDS):
        if os.path.exists(stale):
            os.remove(stale)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                           cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if r.returncode != 0:
        fail(f"build failed with exit code {r.returncode}")
    train_cds()
    with open(STAMP, "w") as f:
        f.write(stamp)


def train_cds():
    """Archive every class a run loads (JVM class-data sharing), from one
    short pass over all workloads, so each run's JVM maps Spark's classes
    instead of parsing them again. Runs work without the archive."""
    print("graftbench: building the class-data-sharing archive", file=sys.stderr)
    work = os.path.join(HERE, ".work", f"train-{os.getpid()}")
    cmd = java_cmd(["--train", "1", "--seed", "1", "--seconds", "1", "--trace", "0"], work)
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={CDS}")
    try:
        r = subprocess.run(cmd, cwd=ROOT, env=jvm_env(), stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=TRAIN_TIMEOUT_S)
        ok = r.returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not ok and os.path.exists(CDS):
        os.remove(CDS)


def jvm_env():
    return dict(os.environ, SPARK_GRAFT_DATA_DIR=DATA)


def java_cmd(main_args, work):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark 4 install")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([JAR, os.path.join(spark_home, "jars", "*")])
    cds = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    return [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", *cds, "-Xlog:all=warning:stderr",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", *opens, "-cp", cp,
            "graftbench.Main", *main_args,
            "--work", work, "--data", DATA, "--traces", os.path.join(HERE, ".traces")]


def run_jvm(cmd, env):
    """Run the benchmark JVM, relaying its output; return the result line."""
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    result = None

    def on_timeout(*_):
        os.killpg(proc.pid, signal.SIGKILL)

    signal.signal(signal.SIGALRM, on_timeout)
    signal.alarm(RUN_TIMEOUT_S)
    try:
        for line in proc.stdout:
            if line.startswith("GRAFTBENCH-RESULT "):
                result = line[len("GRAFTBENCH-RESULT "):].strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        signal.alarm(0)
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0:
        fail(f"benchmark JVM exited with code {code}")
    if result is None:
        fail("benchmark JVM printed no result")
    return json.loads(result)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    for need in (os.path.join(LIB_SRC, "scala", "graft"),
                 os.path.join(DATA, "HDFS.log_templates.csv")):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from a full checkout")
    build()

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    main_args = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)]
    try:
        out = run_jvm(java_cmd(main_args, work), jvm_env())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    want = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    if sorted(out["metrics"]) != sorted(want):
        fail(f"metrics {sorted(out['metrics'])} do not match BENCHMARK.json {sorted(want)}")
    print(json.dumps(out))
    sys.exit(0 if out["correct"] and out["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
