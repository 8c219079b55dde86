"""Build file of the benchmark: compiles graft's main sources together with
the harness under ``connbench/src`` into one class directory.

The compiler is the Scala 2.13 compiler that ships among Spark's jars, and
the classpath is Spark's jars, found where the repository's own build
finds them. The
output directory is keyed by a hash of every source file, so an unchanged
checkout compiles once and a changed one never runs stale classes.

    python3 connbench/build.py     # prints the class directory
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(BENCH_DIR, "src")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "connbench")


def spark_jars():
    """The directory the repository's own build takes Spark's jars from
    (``unmanagedBase`` in build.sbt)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase for Spark's jars")
    return m.group(1)


def _sources():
    out = []
    for top in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash():
    """Hash of every compiled source; also names the expected answers."""
    h = hashlib.sha256()
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Return the class directory for the current sources, compiling if
    needed. Raises SystemExit when the program's sources are missing or
    do not compile."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit(f"no program sources under {PROGRAM_SRC}")
    out = os.path.join(BUILD_DIR, "classes-" + source_hash())
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", tmp, "-nowarn"] + _sources()
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit(f"compilation failed ({res.returncode})")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
