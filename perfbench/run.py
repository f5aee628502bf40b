#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest|search|mixed --seed N \
        --seconds S --trace 0|1

The build compiles src/main/scala and perfbench/src with the Scala
compiler shipped in $SPARK_HOME/jars into .bench_build/perfbench.jar,
then records a class-data-sharing archive of one short ingest run so
later JVMs start Spark in about a third of the time. Both are reused
while the sources are unchanged. Each run gets a fresh scratch
directory under .bench_build/runs/ that is removed when the run ends.
The last line of standard output is the result JSON object.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import uuid

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "perfbench.jar")
CDS = os.path.join(BUILD, "perfbench.jsa")
RUN_TIMEOUT_S = 170
HEAP = "3g"

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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        fail("SPARK_HOME must point at a Spark install whose jars/ holds the Scala compiler")
    return os.path.join(home, "jars", "*")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala; run from the repository root")
    return engine + sorted(glob.glob(os.path.join(BENCH, "src", "*.scala")))


def build(jars):
    srcs = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    digest = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            digest.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                digest.update(f.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(BUILD, "build.sha256")
    if os.path.exists(JAR) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return stamp
    for p in (stamp_file, JAR, CDS):
        if os.path.exists(p):
            os.remove(p)
    os.makedirs(BUILD, exist_ok=True)
    classes = os.path.join(BUILD, f"classes-{uuid.uuid4().hex}")
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    try:
        proc = subprocess.run(
            ["java", "-Xss16m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
             "-d", classes, "-classpath", jars, "-nowarn", "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr)
        if proc.returncode != 0:
            fail("compilation failed")
        if os.path.isdir(resources):
            shutil.copytree(resources, classes, dirs_exist_ok=True)
        subprocess.run(["jar", "cf", JAR, "-C", classes, "."], check=True)
    finally:
        shutil.rmtree(classes, ignore_errors=True)
    print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    # an ingest run with no timed phase loads Spark, the session and the write path
    t0 = time.time()
    code, _ = run_java(jars, ["--workload", "ingest", "--seed", "0", "--seconds", "0", "--trace", "0"],
                       stamp, [f"-XX:ArchiveClassesAtExit={CDS}"])
    if code != 0 and os.path.exists(CDS):
        os.remove(CDS)
    print(f"perfbench: class-data archive {'recorded' if os.path.exists(CDS) else 'not recorded'}"
          f" in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return stamp


def run_java(jars, args, stamp, extra):
    """Run perfbench.Main in a fresh scratch directory; (exit code, stdout lines)."""
    scratch = os.path.join(BUILD, "runs", uuid.uuid4().hex[:16])
    if os.path.exists(scratch):
        fail(f"{scratch} already exists")
    os.makedirs(os.path.dirname(scratch), exist_ok=True)
    tmp = scratch + "-tmp"
    os.makedirs(tmp)
    env = dict(os.environ, PERFBENCH_GIT_COMMIT=git_commit(), PERFBENCH_SOURCE_SHA256=stamp)
    cmd = ["java", f"-Xmx{HEAP}", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
           "-Xlog:all=warning:stderr", "-Xshare:auto", "-XX:CompileThresholdScaling=0.2",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + extra
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", JAR + os.pathsep + jars, "perfbench.Main", "--scratch", scratch] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        return proc.returncode, out.splitlines()
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "none"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "search", "mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    jars = spark_jars()
    stamp = build(jars)
    extra = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    code, lines = run_java(jars, ["--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace)], stamp, extra)
    if code != 0 or not lines:
        sys.stderr.write("\n".join(lines) + "\n")
        fail(f"benchmark exited with code {code}")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail("benchmark printed no result line")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
