"""Builds the program and the benchmark harness from source.

Compiles the library (`src/main/scala` at the repository root) together
with the harness (`perfbench/scala`), with the Scala compiler that ships
in the Spark distribution ($SPARK_HOME/jars), into
`perfbench/.build/classes`. A stamp of the sources' digest makes a second
call with unchanged sources a no-op.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(BENCH_DIR, ".build")
CLASSES = os.path.join(BUILD_DIR, "classes")


class BuildError(RuntimeError):
    pass


def spark_jars():
    """The jars directory of the Spark distribution: $SPARK_HOME/jars, or
    the one beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        raise BuildError("cannot find Spark: set SPARK_HOME")
    return os.path.join(home, "jars")


def sources(root):
    lib = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(lib):
        raise BuildError(f"no library sources at {lib}: run from the repository root")
    found = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH_DIR, "scala", "**", "*.scala"), recursive=True))
    if not found:
        raise BuildError("no Scala sources found")
    return found


def classpath():
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return os.path.join(jars, "*")


def stamp():
    """Digest of the sources of the last successful build, or None."""
    path = os.path.join(BUILD_DIR, "stamp")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return fh.read()


def ensure(root="."):
    """Compiles when the sources changed since the last build; returns the
    class directory."""
    files = sources(os.path.abspath(root))
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    if stamp() == digest.hexdigest():
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    # an explicit -classpath: scalac's default "." would read this
    # directory tree as packages
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD_DIR}",
           "-cp", classpath(), "scala.tools.nsc.Main",
           "-usejavacp", "-classpath", CLASSES, "-nowarn", "-d", CLASSES, "@" + argfile]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + (proc.stdout + proc.stderr)[-4000:])
    with open(os.path.join(BUILD_DIR, "stamp"), "w") as fh:
        fh.write(digest.hexdigest())
    return CLASSES


if __name__ == "__main__":
    try:
        print(ensure("."))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
