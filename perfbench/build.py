"""Build file of the benchmark: compiles the program's sources
(``src/main/scala``) together with the benchmark's JVM side
(``perfbench/src``) into ``.bench_build/classes`` with the Scala compiler
that ships in Spark's jar directory.

Run ``python3 perfbench/build.py`` from the repository root; ``run.py``
calls :func:`build` itself. A stamp holding a hash of every source file
makes a second call with unchanged sources a no-op.
"""

import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
BUILD_DIR = ".bench_build"


def spark_jars(root):
    """Directory of the Spark (and Scala compiler) jars: the one the
    program's own build names (`unmanagedBase` in build.sbt), else
    $SPARK_HOME/jars."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("perfbench: no Spark jar directory in build.sbt and SPARK_HOME is unset")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise SystemExit(f"perfbench: source directory {d} is missing")
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Compile if the sources changed; return (classes dir, source hash)."""
    files = sources(root)
    stamp = source_hash(files)
    bdir = os.path.join(root, BUILD_DIR)
    os.makedirs(bdir, exist_ok=True)
    classes = os.path.join(bdir, "classes")
    stamp_file = os.path.join(bdir, "classes.stamp")
    with open(os.path.join(bdir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes, stamp
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(root), "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
        print(f"perfbench: compiling {len(files)} source files", file=log, flush=True)
        r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=log)
            raise SystemExit("perfbench: build failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return classes, stamp


if __name__ == "__main__":
    print(build(os.getcwd())[0])
