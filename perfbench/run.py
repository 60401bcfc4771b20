#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload argo-pipeline --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt depends on the root
build); later runs reuse that build while no source or build file changed.
Each run is one JVM (perfbench.Main). Everything it writes stays under
perfbench/target/: the build, a per-run work directory that is deleted at
the end, the JVM log of the last run of each workload, and the span JSON of
traced runs.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. The line before it holds the run
facts (host, JVM, Spark, seed, input sizes, pass times).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
WORKLOADS = ("argo-pipeline", "text-neardup")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """The files a build depends on, relative to the checkout root."""
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    project = os.path.join(ROOT, "project")
    if os.path.isdir(project):
        paths += [os.path.join(project, f) for f in os.listdir(project)
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            paths += [os.path.join(d, f) for f in files]
    return sorted(p for p in paths if os.path.isfile(p))


def source_digest():
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def read_launch():
    with open(LAUNCH) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    return lines[0], lines[1:]


def build(digest):
    if os.path.exists(STAMP) and os.path.exists(LAUNCH):
        with open(STAMP) as f:
            if f.read().strip() == digest and all(
                    os.path.exists(p) for p in read_launch()[0].split(os.pathsep)):
                return
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "benchLaunch"]
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait(proc, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(tail(log))
        fail(f"build failed (exit {rc}); log: {log}", 3)
    with open(STAMP, "w") as f:
        f.write(digest)


def wait(proc, timeout):
    """Wait for proc; past the timeout kill its whole process group."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources under {ROOT}: run from the root of a full checkout")
    digest = source_digest()
    build(digest)
    classpath, jvm_opts = read_launch()

    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(TARGET, "work", f"{name}-{os.getpid()}")
    result = os.path.join(work, "result.json")
    trace_out = os.path.join(TARGET, "traces", f"{a.workload}-seed{a.seed}.json")
    log = os.path.join(TARGET, "logs", f"{a.workload}-trace{a.trace}.log")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.dirname(log), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *jvm_opts, HEAP, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work, "--result", result, "--trace-out", trace_out]
    # Spark would put its scratch space there instead of under the work dir
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    try:
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                    start_new_session=True)
            rc = wait(proc, RUN_TIMEOUT_S)
        if not os.path.exists(result):
            sys.stderr.write(tail(log))
            fail(f"run ended without a result (exit {rc}); log: {log}", 4)
        with open(result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    facts = dict(res["facts"], commit=commit(), source_digest=digest[:16])
    print("facts " + json.dumps(facts, sort_keys=True))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    if rc != 0 or not res["correct"]:
        sys.stderr.write(f"perfbench: failed checks: {facts.get('failed_checks')}\n")
        sys.exit(1)


if __name__ == "__main__":
    main()
