#!/usr/bin/env python3
"""Run one workload of the metric-store benchmark.

    python3 perfbench/run.py --workload <ingest|dashboard> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the engine (with its own build) and the benchmark from source on first
use (sbt, offline), then runs the workload in one JVM. The JVM's standard
output passes through; its last line is the result object. Exits non-zero
when the build fails, an output check fails or the run does not finish in
time.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".bench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these outside spark-submit (the list spark-submit
# itself injects, JavaModuleOptions.defaultModuleOptions()).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(d, "build.sbt") for d in (ROOT, HERE)]
    files += [os.path.join(d, "project", "build.properties") for d in (ROOT, HERE)]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java"))]
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt if the sources changed; return the classpath."""
    stamp = os.path.join(STATE, "build.txt")
    want = digest(sources())
    if os.path.exists(stamp):
        with open(stamp) as fh:
            have, cp = fh.read().split("\n", 1)
        if have == want:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if "scala-2.13" in l and os.pathsep in l
           and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("perfbench: build failed")
    os.makedirs(STATE, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(want + "\n" + cps[-1].strip() + "\n")
    return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "dashboard"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: engine sources (src/main/scala) not found "
                 "next to perfbench/")
    cp = build()

    work = os.path.join(STATE, "work-%d" % os.getpid())
    for d in ("tmp", "spark"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.local.dir=" + os.path.join(work, "spark"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", os.path.join(work, "run"),
            "--results", os.path.join(STATE, "results")]
    try:
        proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE,
                              text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(proc.stdout)
    if proc.returncode != 0:
        # a failed output check still printed its result, with correct false
        sys.exit("perfbench: run failed (exit %d)" % proc.returncode)


if __name__ == "__main__":
    main()
