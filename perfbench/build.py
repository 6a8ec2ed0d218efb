"""Build file of the benchmark: compiles the engine (src/main) and the
benchmark harness (perfbench/harness) with the Scala compiler that ships
in the Spark distribution, into .bench_build/ at the checkout root.

    python3 perfbench/build.py            # build if the sources changed

A stamp of the source contents skips the build when nothing changed.
Spark's jars come from $SPARK_HOME/jars, or else from the directory the
repository's build.sbt names as `unmanagedBase`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(r'unmanagedBase := file\("([^"]+)"\)', open(sbt).read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise SystemExit(f"build: no Spark jars (set SPARK_HOME); tried {jars!r}")
    return jars


def sources(top, ext=".scala"):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(ext)]
    return sorted(found)


def scalac(srcs, classpath, out):
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + out, "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + srcs
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build():
    """Compile if needed; returns the classpath the harness runs with."""
    engine_src = os.path.join(ROOT, "src", "main")
    engine = sources(os.path.join(engine_src, "scala"))
    harness = sources(os.path.join(HERE, "harness"))
    if not engine:
        raise SystemExit(f"build: no engine sources under {engine_src}")
    h = hashlib.sha256()
    for f in engine + harness:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    engine_cls, harness_cls = os.path.join(OUT, "engine"), os.path.join(OUT, "harness")
    resources = os.path.join(engine_src, "resources")
    jars = os.path.join(spark_jars(), "*")
    cp = os.pathsep.join([harness_cls, engine_cls, resources, jars])
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(OUT, ignore_errors=True)
    scalac(engine, os.pathsep.join([resources, jars]), engine_cls)
    scalac(harness, os.pathsep.join([engine_cls, jars]), harness_cls)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
