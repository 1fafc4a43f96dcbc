#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the benchmark's own Scala sources (perfbench/src) into
.bench_build/perfbench/classes, with the Scala compiler that ships in the
Spark distribution's jars directory ($SPARK_HOME/jars). Skips the compile
when no source changed since the last build.

    python3 perfbench/build.py        # from the root of the checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(WORK, "classes")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark distribution")
    return os.path.join(home, "jars")


def sources():
    out = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp():
    """Hash of the current build (empty before the first build)."""
    path = os.path.join(WORK, "stamp")
    return open(path).read() if os.path.exists(path) else ""


def build():
    """Compile if needed; return the runtime classpath."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit("perfbench: engine sources src/main/scala not found; "
                         "run from the root of a checkout")
    jars = spark_jars()
    compiler = [os.path.join(jars, f"scala-{p}-2.13.17.jar")
                for p in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.exists(j)]
    if missing:
        raise SystemExit(f"perfbench: Scala compiler jars not found: {missing}")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if stamp() == h.hexdigest() and os.path.isdir(CLASSES):
        return classpath
    os.makedirs(WORK, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(os.path.join(WORK, "stamp"), "w") as f:
        f.write(h.hexdigest())
    return classpath


if __name__ == "__main__":
    print(build())
