#!/usr/bin/env python3
"""Run one workload of the engine's benchmark and print its result.

    python3 perfbench/run.py --workload erd_lake --seed 1 --seconds 10 --trace 0

Builds the engine from source together with the harness in this directory
(sbt, offline) on first use, then runs the harness in one JVM at
local[nproc]. The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it describes
the run (core count, session configs, per-pass times, failing steps).

`--record 1` rewrites expected/<workload>.tsv from seeds 1 and 2 instead of
measuring; a step whose digest differs between the two seeds is written as
order-dependent and reported on stderr.
"""
import argparse
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("erd_lake", "text_neardup", "media_decode")

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = os.path.getmtime(os.path.join(HERE, "build.sbt"))
    for root in (ENGINE_SRC, HARNESS_SRC):
        for d, _, files in os.walk(root):
            for f in files:
                if f.endswith((".scala", ".java")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile engine + harness; cache the runtime classpath in target/."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        fail("SPARK_HOME is not set; the build takes Spark's jars from it", 1)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not finish: {e}", 1)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 1)
    os.makedirs(TARGET, exist_ok=True)
    for w in WORKLOADS:  # archives of the old classpath no longer apply
        for suffix in (".jsa", ".jsa.tmp"):
            if os.path.exists(os.path.join(TARGET, w + suffix)):
                os.remove(os.path.join(TARGET, w + suffix))
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    if (not os.path.exists(CLASSPATH_FILE)
            or os.path.getmtime(CLASSPATH_FILE) < newest_source_mtime()):
        build()
    with open(CLASSPATH_FILE) as f:
        classpath = f.read().strip()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(OUT, f"work-{a.workload}")
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Class-data sharing: the first run of a workload in a checkout dumps the
    # classes it loaded to an archive that later runs map instead of loading
    # ~20k classes from jars again. JVM logging goes to stderr so a stale or
    # unusable archive (ignored by the JVM) never touches stdout.
    archive = os.path.join(TARGET, f"{a.workload}.jsa")
    jar = classpath.split(os.pathsep)[0]
    if os.path.exists(archive) and os.path.getmtime(archive) < os.path.getmtime(jar):
        os.remove(archive)  # the jar was repackaged since the dump
    dumping = not os.path.exists(archive)
    cds = (f"-XX:ArchiveClassesAtExit={archive}.tmp" if dumping
           else f"-XX:SharedArchiveFile={archive}")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx3g", cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--record", str(a.record), "--cores", str(cores),
            "--base", os.path.join(HERE, "data"), "--work", work,
            "--expected", os.path.join(HERE, "expected"),
            "--spans", os.path.join(OUT, f"spans-{a.workload}.json")]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    log_path = os.path.join(OUT, f"{a.workload}.log")
    with open(log_path, "w") as log:
        p = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
    sys.stdout.write(p.stdout)
    if dumping and p.returncode == 0 and os.path.exists(archive + ".tmp"):
        os.replace(archive + ".tmp", archive)
    if p.returncode != 0:
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        fail(f"harness exited with {p.returncode} (log: {log_path})", 1)


if __name__ == "__main__":
    main()
