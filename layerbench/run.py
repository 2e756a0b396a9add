#!/usr/bin/env python3
"""Layered extraction benchmark: builds the program and the benchmark from
source, then runs one workload in a single JVM.

    python3 layerbench/run.py --workload html_crawl --seed 1 --seconds 20 --trace 0
    python3 layerbench/run.py generate --workload pdf_crawl --seed 1 --out <new dir>

Run it from anywhere inside a checkout; the checkout root is the parent of
this file's directory. Build output goes to layerbench/.build, run state to
layerbench/.work. The last line of standard output is the result JSON.
"""
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")

# Spark 4 on JDK 17 outside spark-submit needs these (same list as build.sbt).
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
    print("layerbench: " + msg, file=sys.stderr)
    sys.exit(2)


def jar_dir():
    """The unmanaged jar directory the repository's build.sbt compiles
    against (Spark and Scala), or $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    fail("no Spark jar directory: neither build.sbt's unmanagedBase nor $SPARK_HOME/jars exists")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH, "src", "*.scala")))
    return main, bench


def build(jars):
    main, bench = sources()
    digest = hashlib.sha256()
    for path in main + bench:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    if os.path.isfile(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        fail("scala-compiler/library/reflect jars not found next to Spark")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", os.pathsep.join(jars)]
    print(f"layerbench: compiling {len(main)} program and {len(bench)} benchmark sources",
          file=sys.stderr)
    r = subprocess.run(cmd + main + bench, stdout=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def heap():
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        gb = max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, AttributeError):
        gb = 2
    return f"{gb}g"


def main(argv):
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Extract.scala")):
        fail(f"{ROOT} holds no program sources (src/main/scala/graft); run from a full checkout")
    jd = jar_dir()
    jars = sorted(glob.glob(os.path.join(jd, "*.jar")))
    build(jars)

    generate = argv[:1] == ["generate"]
    args = argv[1:] if generate else argv
    for d in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        os.makedirs(os.path.join(WORK, d))
    env = dict(os.environ)
    if not env.get("SPARK_GRAFT_CPUS"):
        env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    cp = [CLASSES, os.path.join(ROOT, "src", "main", "resources")] + jars
    # a fixed heap and young generation: no heap resizing while timing;
    # lower JIT thresholds, so the warm-up runs reach compiled code
    cmd = (["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-Xmn1g", "-XX:+UseParallelGC",
            "-XX:CompileThresholdScaling=0.25"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              "-Dspark.local.dir=" + os.path.join(WORK, "spark-local"),
              "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
              "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
              "-cp", os.pathsep.join(cp),
              "layerbench.Gen" if generate else "layerbench.LayerBench"]
           + args + ([] if generate else ["--work", WORK]))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=175)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run exceeded 175 s and was stopped")
    sys.exit(code)


if __name__ == "__main__":
    main(sys.argv[1:])
