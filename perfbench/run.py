#!/usr/bin/env python3
"""Build and run the graft engine benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

The first call compiles the engine (`src/main/scala`) together with the
benchmark (`perfbench/src`) into `.bench_build/perfbench` with the Scala
compiler that ships among the Spark jars; later calls reuse the classes
while the sources are unchanged. The JVM then runs one closed-loop
workload and prints its result as the last line of standard output.
Every file the run writes lives under `.bench_build` and `.bench_work`
in the current directory.
"""

import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORK_DIR = os.path.join(ROOT, ".bench_work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# Matches javaOptions in the repository's build.sbt: Spark on JDK 17
# outside spark-submit needs these module openings.
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
    """The Spark jar directory: $SPARK_HOME/jars, else the directory the
    repository's build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME or run from the repository root")


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(jars):
    """Compile engine + benchmark unless the stamped build is current."""
    files = sources()
    stamp = digest(files)
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp,
           "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: compiled in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def main():
    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH_SRC):
        fail("run from the repository root: engine sources "
             "(src/main/scala) and perfbench/src are required")
    jars = spark_jars()
    classes = build(jars)
    os.makedirs(WORK_DIR, exist_ok=True)
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: a run writes nothing outside the current directory
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j.configurationFile=" +
           os.path.join(ROOT, "perfbench", "log4j2.properties"),
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, ENGINE_RES, os.path.join(jars, "*")]),
            "perfbench.Main"] + sys.argv[1:]
    proc = subprocess.Popen(cmd, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        code = 3
    except KeyboardInterrupt:
        code = 130
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    sys.exit(code)


if __name__ == "__main__":
    main()
