#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark (perfbench/scala) with the Scala compiler that ships in the
Spark distribution's jars directory.

No build tool and no dependency resolution: the classpath is exactly the
Spark jars. Output goes to <build dir>/perfbench/classes, with a stamp of
the hashed sources so an unchanged tree is not compiled twice.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "scala")


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench")


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    one next to the spark-submit found on PATH."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in cands:
        if os.path.isdir(c) and any(f.startswith("scala-compiler")
                                    for f in os.listdir(c)):
            return c
    raise BuildError("no Spark jars directory with a Scala compiler "
                     "(set SPARK_HOME)")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}: run "
                         "from the root of a full checkout")
    out = []
    for root in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Compile if the stamped source hash differs; return
    (classes dir, classpath, source hash)."""
    jars = spark_jars()
    files = sources()
    digest = source_hash(files)
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    if os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return classes, cp, digest
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes, exist_ok=True)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with code {r.returncode}")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return classes, cp, digest


if __name__ == "__main__":
    try:
        print(ensure_built()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
