#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload align_tanakh --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark with sbt on first use and again
whenever their sources or build files change (the classpath lands in
perfbench/target/classpath.txt, the digest of the sources it was built
from beside it), then runs the workload in one JVM. The last line of
standard output is the JSON result; the exit code is non-zero when the
build, an operation or a correctness gate fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
BUILT_FROM = os.path.join(HERE, "target", "classpath.digest")
WORKLOADS = ("align_tanakh", "curate_corpus", "index_rw")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

# Spark on JDK 17 outside spark-submit needs the module opens the root
# build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def err(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, cwd, limit, env=None, stdout=None):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=sys.stderr, start_new_session=True)
    try:
        return proc, proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return proc, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def source_digest():
    """SHA-1 over the engine's and the benchmark's sources and build files."""
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
                  if f.endswith((".sbt", ".scala", ".properties"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def read(path):
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return None


def build(digest):
    """Build unless the classpath was written from exactly these sources."""
    if os.path.exists(CLASSPATH) and read(BUILT_FROM) == digest:
        return True
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        err("the engine sources (build.sbt, src/main/scala/graft) are not "
            "beside perfbench/; nothing to build")
        return False
    if shutil.which("sbt") is None:
        err("sbt is not on PATH")
        return False
    err("building the engine and the benchmark (sources changed or first "
        "run in this checkout)")
    t = time.time()
    for f in (CLASSPATH, BUILT_FROM):
        if os.path.exists(f):
            os.remove(f)
    _, rc = run_group(["sbt", "-batch", "-Dsbt.server.autostart=false",
                       "writeClasspath"], HERE, BUILD_LIMIT_S,
                      stdout=sys.stderr)
    err(f"build finished in {time.time() - t:.0f} s with code {rc}")
    if rc != 0 or not os.path.exists(CLASSPATH):
        return False
    with open(BUILT_FROM, "w") as fh:
        fh.write(digest + "\n")
    return True


def commit(digest):
    """The git commit if this is a clone, else the digest of the sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + digest[:12]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    digest = source_digest()
    if not build(digest):
        return 2
    cp = read(CLASSPATH)
    work = os.path.join(HERE, "work", f"{a.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    env = dict(os.environ)
    env["PERFBENCH_COMMIT"] = commit(digest)
    env["PERFBENCH_RECORD"] = os.path.join(
        out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cmd = ["java", "-Xms1536m", "-Xmx1536m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    try:
        _, rc = run_group(cmd, ROOT, RUN_LIMIT_S, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        err(f"run exceeded {RUN_LIMIT_S} s and was stopped")
        return 3
    return rc


if __name__ == "__main__":
    sys.exit(main())
