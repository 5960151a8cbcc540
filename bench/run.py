#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

usage: python3 bench/run.py --workload <pit_lookup|backfill|curation>
                            --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine's sources
together with the harness (sbt, offline) into bench/target; later runs
reuse the build while no source file changed. Each run then starts one
JVM, which sets up the workload, measures it for --seconds and prints a
JSON result; this script re-prints that result as its last stdout line.
Scratch data lives under bench/work/ and is removed after the run, except
the span traces (bench/work/traces/*.jsonl).
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-sources.sha256")
WORKLOADS = ("pit_lookup", "backfill", "curation")
HEAP = "3g"
# Processors the JVM sees, and so Spark's local[N] cores (Main.Cpus), GC
# and JIT threads. On a 4-vCPU VM whose host is shared, keeping two vCPUs
# idle made the hypervisor steal far less time from the run, and op
# latency far steadier from run to run.
CPUS = 2

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked runs).
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
    print(msg, file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout}s: {cmd[0]}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def spark_jars():
    """The Spark jar directory the engine's own build.sbt compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("no unmanagedBase in the engine's build.sbt")
    return m.group(1)


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dbench.sparkJars={spark_jars()}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                        840, cwd=BENCH, env=env, stdout=sys.stderr)
    if code != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {code})")
    with open(STAMP, "w") as f:
        f.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found at {ENGINE_SRC}: run from a full checkout")
    build()

    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    jvm = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-XX:ActiveProcessorCount={CPUS}",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = jvm + ["-cp", cp, "graftbench.Main", "--workload", a.workload,
                 "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--work", work]
    try:
        code, out = run_group(cmd, 170, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"benchmark JVM exited with {code}")
    print(lines[-1])


if __name__ == "__main__":
    main()
