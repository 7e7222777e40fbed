"""Build file of the benchmark package.

Compiles the library's main sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/scala`) using the Scala compiler that
ships in Spark's `jars/` directory, into
`.bench_build/classes-<source hash>/`. A tree whose sources hash the same
is reused, so only the first run in a checkout pays for the build; the
newest few trees are kept, so alternating runs of two source trees in
one checkout reuse both builds.

    python3 perfbench/build.py      # prints the classes directory
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = (os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala"))


class BuildError(Exception):
    pass


def spark_jars():
    """`$SPARK_HOME/jars`, else the `jars/` beside `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


KEEP_TREES = 3


def prune():
    """Deletes all but the KEEP_TREES - 1 most recently used class trees."""
    trees = [os.path.join(BUILD, d) for d in os.listdir(BUILD) if d.startswith("classes-")]
    used = lambda t: os.path.getmtime(os.path.join(t, ".complete")) \
        if os.path.exists(os.path.join(t, ".complete")) else 0.0
    for old in sorted(trees, key=used, reverse=True)[KEEP_TREES - 1:]:
        shutil.rmtree(old, ignore_errors=True)


def build():
    """Returns the classes directory, compiling first if needed."""
    files = sources()
    jars = spark_jars()
    digest = source_hash(files)
    classes = os.path.join(BUILD, f"classes-{digest[:16]}")
    done = os.path.join(classes, ".complete")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(done):
            os.utime(done)
            return classes
        prune()
        shutil.rmtree(classes, ignore_errors=True)  # an interrupted build
        os.makedirs(classes)
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", classes, "-cp", cp] + files
        proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if proc.returncode != 0:
            shutil.rmtree(classes, ignore_errors=True)
            raise BuildError(f"scalac exited {proc.returncode}")
        with open(done, "w") as fh:
            fh.write(digest + "\n")
        return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
