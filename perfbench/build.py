"""Build of the benchmark: compiles the engine sources (src/main/scala)
together with the harness (perfbench/src) into one class directory,
using the Scala compiler that ships in Spark's jars directory, the same
jars the repository's sbt build compiles against. A rebuild happens only
when a source file or the jar set changes.

    python3 perfbench/build.py      # from the repository root
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, or found from the
    `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError("no Scala compiler in %s" % jars)
    return jars


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        raise RuntimeError("engine sources not found under %s/src/main/scala" % root)
    harness = sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"), recursive=True))
    return engine + harness


def stamp(root, files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    return h.hexdigest()[:16]


def build(root, out):
    """Compiles into `out`/classes-<stamp> unless already built; returns
    (class directory, Spark jars directory, stamp)."""
    jars = spark_jars()
    files = sources(root)
    key = stamp(root, files, jars)
    classes = os.path.join(out, "classes-" + key)
    if os.path.isdir(classes):
        return classes, jars, key
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=840)
    os.rename(tmp, classes)
    return classes, jars, key


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.join(root, ".bench_build", "perfbench"))[0])
