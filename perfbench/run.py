#!/usr/bin/env python3
"""Build the linkage benchmark and run one workload.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first call builds the
benchmark package (perfbench/build.sbt, which compiles the engine's sources
with the benchmark's) with sbt and caches the classpath under .bench_build/;
later calls reuse it until a source or build file changes. The run itself is
one JVM (perfbench.Main) hosting the Spark driver and its local executors; its
stdout is passed through, and its last line is the result object.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BUILD_DIR = ".bench_build"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 178
# a fixed heap (initial = maximum) keeps peak RSS from varying with how
# far the collector happened to grow the heap
HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list as the engine's build.sbt.
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


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = ["src/main", "perfbench/src/main", "perfbench/build.sbt", "perfbench/project/build.properties"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {timeout} s and was stopped")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode


def classpath():
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD_DIR, "classpath.stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        code = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime / fullClasspath"],
            BUILD_TIMEOUT_S, cwd="perfbench", stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); full log in {log}")
    cps = [l.strip() for l in lines if "perfbench" in l and "classes" in l and not l.startswith("[")]
    if not cps:
        fail(f"build printed no classpath; see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def main():
    # a SIGTERM unwinds through run_bounded, which stops the child's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir("src/main/scala/graft") or not os.path.isfile("perfbench/build.sbt"):
        fail("run from the root of a checkout of the repository (src/main/scala/graft is missing)")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must point at a Spark distribution")
    # start clean of anything a run killed before its own clean-up left
    for d in ("tmp", "spark-local", "work"):
        shutil.rmtree(os.path.join(BUILD_DIR, d), ignore_errors=True)
        os.makedirs(os.path.join(BUILD_DIR, d))
    cp = classpath()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={BUILD_DIR}/tmp",
        f"-Dspark.local.dir={BUILD_DIR}/spark-local",
        f"-Dspark.sql.warehouse.dir={BUILD_DIR}/warehouse",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
    ] + sys.argv[1:]
    sys.exit(run_bounded(cmd, RUN_TIMEOUT_S, stdin=subprocess.DEVNULL))


if __name__ == "__main__":
    main()
