#!/usr/bin/env python3
"""Run one piqispark benchmark workload and print its result.

Usage:
    python3 piqibench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine (../src/main/scala) together with the benchmark's own
sources through the sbt project in this directory, when the sources changed
since the last build, then runs one JVM for the workload. The last line of
stdout is the result object; build and Spark logs go to stderr. Inputs,
checkpoints, Spark scratch and artifacts live under ./work, which each run
clears first.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
BUILD_STAMP = os.path.join(TARGET, "piqibench-build.json")
WORK = os.path.join(HERE, "work")
WORKLOADS = ("validate-scan", "audit-checkpoint", "ingest-dedup")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
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
    print(f"[piqibench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """SHA-256 over every file the build reads from this checkout."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE, os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(digest):
    """Compile with sbt and return the runtime classpath."""
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("source_sha256") == digest:
            return stamp["classpath"]
    print("[piqibench] building engine + benchmark with sbt", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
    sys.stderr.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"sbt build failed with exit code {proc.returncode}")
    lines = [ln.strip() for ln in proc.stdout.splitlines() if ln.strip()]
    classpath = next((ln for ln in reversed(lines)
                      if not ln.startswith("[") and os.pathsep in ln), None)
    if classpath is None:
        fail("sbt printed no runtime classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(BUILD_STAMP, "w") as fh:
        json.dump({"source_sha256": digest, "classpath": classpath}, fh)
    return classpath


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        fail(f"engine sources not found at {os.path.relpath(ENGINE)}; "
             "run from a checkout of the repository")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    digest = source_hash()
    classpath = build(digest)

    work = os.path.join(WORK, args.workload)
    tmp = os.path.join(work, "tmp")
    cmd = [java_bin(), "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-cp", classpath, "piqibench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--work", work, "--sha", git_sha(), "--source-hash", digest]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
