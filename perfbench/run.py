#!/usr/bin/env python3
"""Run the benchmark: build the engine and the benchmark from source (once
per source state), then run one workload in a fresh JVM.

    python3 perfbench/run.py --workload import_hub --seed 1 --seconds 20 --trace 0

Run it from the root of the repository. Standard output ends with one JSON
line: {"correct", "attempted", "failed", "metrics"}. Build logs go to
standard error. Inputs, tables and Spark's scratch space live under
.perfbench-work/ in the repository and are deleted when the run ends.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, "target", "perfbench-build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JVM_OPTS = ["-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    opt for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
        "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")
    for opt in ("--add-opens", pkg + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(REPO, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt and return the runtime classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail("build failed: %s" % e)
    sys.stderr.write(out.stdout)
    cps = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not cps:
        fail("build failed (sbt exit %d)" % out.returncode)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def cleanup(work):
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run uses it
    except OSError:
        pass


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["import_hub", "table_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", choices=["0", "1"], required=True)
    p.add_argument("--artifact", help="also write the run's full record (with the "
                   "spans of a traced run) as JSON to this file")
    a = p.parse_args()
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        fail("the engine's sources are not in %s" % REPO)
    cp = build()
    # fixed-width name: table paths, and so the bytes of manifests that
    # record them, must not depend on the process id's digit count
    work = os.path.join(REPO, ".perfbench-work", "run-%07d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    cmd = ["java"] + JVM_OPTS + ["-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work,
           "--cores", str(len(os.sched_getaffinity(0))), "--sha", git_sha()]
    if a.artifact:
        cmd += ["--artifact", os.path.abspath(a.artifact)]
    proc = subprocess.Popen(cmd, cwd=REPO, stdin=subprocess.DEVNULL)

    def stop(signum, _frame):
        # the JVM must not outlive this process
        proc.kill()
        proc.wait()
        cleanup(work)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = 124
    finally:
        cleanup(work)
    sys.exit(code)


if __name__ == "__main__":
    main()
