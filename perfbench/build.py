"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's Scala sources into one class directory.

The Scala compiler is the one Spark ships (scala-compiler in the Spark jars
directory), so the build needs nothing beyond a JDK and Spark. The output is
keyed by a hash of every input file, so a checkout is compiled once and later
runs reuse the classes.

    python3 perfbench/build.py        # prints the class directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """The jars directory of $SPARK_HOME, or else of the first Spark
    installation on PATH that ships a Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        homes = [os.environ["SPARK_HOME"]]
    else:
        homes = [os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
            for d in os.environ.get("PATH", "").split(os.pathsep)
            if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark with a Scala compiler; set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    if not os.path.isdir(GRAFT_SRC):
        raise SystemExit(f"build: graft sources missing ({GRAFT_SRC})")
    files = []
    for base in (GRAFT_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile when needed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + [os.path.join(HERE, "build.py")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(build_dir(), "perfbench", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + srcs
    print(f"build: compiling {len(srcs)} Scala files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited with {r.returncode}")
    open(os.path.join(out, "ok"), "w").close()
    return classes


def runtime_classpath(classes):
    return os.pathsep.join([classes, GRAFT_RESOURCES,
                            os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    print(build())
