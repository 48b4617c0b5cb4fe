"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the benchmark's own sources into .bench_build/classes with the Scala
compiler that ships with Spark, and returns the classpath to run with.

    python3 perfbench/build.py        # build if any source changed, print the classpath

A build is skipped when the digest of every source file matches the last
successful build. Spark is the one at $SPARK_HOME, else the one whose
spark-submit is on the PATH.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = [os.path.join(BENCH_DIR, "src"), os.path.join(BENCH_DIR, "test")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isfile(os.path.join(jars, "scala-compiler-2.13.17.jar")):
        raise BuildError("no Spark with Scala 2.13.17 found: set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    found = []
    for top in [ENGINE_SRC] + BENCH_SRC:
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = digest(srcs)
        stamp = os.path.join(CLASSES, ".digest")
        if os.path.isfile(stamp):
            with open(stamp) as f:
                if f.read() == want:
                    return CLASSES + os.pathsep + jars
        print(f"graftbench: compiling {len(srcs)} sources", file=log, flush=True)
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
        r = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError(f"scalac failed with exit code {r.returncode}")
        with open(os.path.join(tmp, ".digest"), "w") as f:
            f.write(want)
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
        return CLASSES + os.pathsep + jars


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
