#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala of the
checkout) together with the benchmark's own Scala sources (perfbench/scala)
with the Scala compiler that ships in Spark's jars directory, so it needs
neither sbt nor a change to the repository's build.

The classes go to <build dir>/perfbench-classes/<digest>, where the build
dir is $CARGO_TARGET_DIR (default .bench_build) under the checkout root and
the digest covers every source file; an unchanged checkout is not rebuilt.

    python3 perfbench/build.py          # build (or reuse) and print the dir
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found (set JAVA_HOME or put java on PATH)")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark jars found (set SPARK_HOME)")
    return jars


def scala_sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")]
    files = []
    for d in dirs:
        found = [os.path.join(p, f) for p, _, fs in os.walk(d) for f in fs
                 if f.endswith(".scala")]
        if not found:
            raise BuildError(f"no Scala sources under {os.path.relpath(d, root)}")
        files += sorted(found)
    return files


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def ensure_built(root=ROOT):
    """Compile if needed; return the classes directory."""
    files = scala_sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    base = os.path.join(build_dir(root), "perfbench-classes")
    out = os.path.join(base, h.hexdigest()[:20])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[perfbench] compiling {len(files)} Scala files", file=sys.stderr)
    res = subprocess.run([java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                          "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile])
    if res.returncode != 0:
        raise BuildError("scalac failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, out)
    for old in os.listdir(base):  # older digests of this checkout
        if os.path.join(base, old) != out:
            shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
