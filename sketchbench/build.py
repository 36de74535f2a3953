"""Build file of the sketchbench package.

Compiles the library (``src/main/scala`` at the repository root) together
with the benchmark's own sources (``sketchbench/src``) into one class
directory, with the Scala 2.13 compiler that ships among Spark's jars.
The output directory is keyed by a digest of every source file, so a
build is reused until a source changes.

    python3 sketchbench/build.py        # build, print the class directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIBRARY = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build", "sketchbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of Spark's jars: $SPARK_HOME/jars, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME or put java on PATH")
    return exe


def sources():
    lib = sorted(glob.glob(os.path.join(LIBRARY, "**", "*.scala"), recursive=True))
    if not lib:
        raise BuildError(f"no library sources under {os.path.relpath(LIBRARY, ROOT)}")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return lib + bench


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scala_jars(jars):
    found = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = sorted(glob.glob(os.path.join(jars, f"{name}-2.13.*.jar")))
        if not hits:
            raise BuildError(f"{name} 2.13 jar not found among Spark's jars")
        found.append(hits[-1])
    return found


def build():
    """Compile if needed; return (class directory, source digest)."""
    files = sources()
    sha = digest(files)
    classes = os.path.join(OUT, f"classes-{sha[:16]}")
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes, sha
    jars = spark_jars()
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(scala_jars(jars)),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", tmp] + files
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with code {done.returncode}")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        if old != classes:  # builds of earlier sources
            shutil.rmtree(old, ignore_errors=True)
    return classes, sha


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"sketchbench build: {e}")
