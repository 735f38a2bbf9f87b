"""Build file of the benchmark: compiles the engine's sources together with
the benchmark driver into one class directory, with the Scala compiler and
Spark jars of the Spark distribution build.sbt compiles against.

    python3 perfbench/build.py      # from the repository root

A build is skipped when a digest of every source file matches the last one.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        return re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read()).group(1)


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def sources():
    out = []
    for root in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(root):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if the sources changed; returns the classes directory."""
    files = sources()
    if not os.path.isdir(ENGINE_SRC) or not any(
            f.startswith(BENCH_SRC) for f in files):
        raise FileNotFoundError(
            "engine or benchmark sources missing: run from the repository root")
    classes = os.path.join(build_dir(), "perfbench", "classes")
    stamp = os.path.join(build_dir(), "perfbench", "classes.digest")
    want = digest(files)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return classes
    if os.path.exists(stamp):
        os.remove(stamp)
    shutil.rmtree(classes, ignore_errors=True)   # no stale classes survive
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", cp] + files
    print(f"building {len(files)} sources into {classes}", file=log, flush=True)
    if subprocess.run(cmd, stdout=log, stderr=log).returncode != 0:
        raise RuntimeError("scalac failed")
    with open(stamp, "w") as f:
        f.write(want)
    return classes


if __name__ == "__main__":
    build()
