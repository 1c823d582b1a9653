"""Compile the engine sources (src/main/scala) together with the benchmark
sources (perfbench/src) into .bench_build/classes.

The Spark/Scala jars come from the directory the repo's build.sbt names as
`unmanagedBase` (or $SPARK_HOME/jars), and the Scala compiler is the
scala-compiler jar that ships among them, so no dependency is resolved.
The build is skipped when a stamp of every source file's content matches.
"""
import hashlib
import os
import re
import subprocess
import sys
import time

BUILD_DIR = ".bench_build"
ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars_dir():
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    cands = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in cands:
        if os.path.isdir(c) and any(n.startswith("spark-sql_") for n in os.listdir(c)):
            return c
    fail("no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    out = []
    for root in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(root):
            fail(f"missing source directory {root}: run from the repository root")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(jars):
    return os.path.join(BUILD_DIR, "classes") + os.pathsep + os.path.join(jars, "*")


def ensure_built():
    """Return the runtime classpath, compiling first when sources changed."""
    jars = spark_jars_dir()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [__file__]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    classes = os.path.join(BUILD_DIR, "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath(jars)
    if os.path.isdir(classes):
        subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classpath(jars)


if __name__ == "__main__":
    print(ensure_built())
