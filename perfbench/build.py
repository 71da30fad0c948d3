#!/usr/bin/env python3
"""Build the program and the benchmark from source with scalac.

The program's main sources (src/main/scala, src/main/resources) and the
benchmark's own sources (perfbench/src) are compiled against the Spark
jars, which carry the Scala 2.13 compiler and library. Outputs go to
.bench_build/ at the repository root; a source hash stamp skips a build
whose inputs did not change.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")


def spark_jars():
    """The Spark jars, which carry the Scala compiler: $SPARK_HOME/jars,
    else the `unmanagedBase` the repository's build.sbt compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit(f"build: no Spark jars with a Scala compiler in {candidates}; set SPARK_HOME")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_into(name, files, classpath, resources=None, depends=""):
    """Compile `files` into .bench_build/<name> unless its stamp matches.
    `depends` is the stamp of what `classpath` was built from."""
    res = sorted(p for p in glob.glob(os.path.join(resources, "**", "*"), recursive=True)
                 if os.path.isfile(p)) if resources else []
    key = stamp(files + res, depends)
    dest = os.path.join(OUT, name)
    stamp_file = dest + ".stamp"
    if os.path.isdir(dest) and os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return dest, key
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-classpath", classpath]
    print(f"build: compiling {len(files)} files into {os.path.relpath(dest, ROOT)}", file=sys.stderr)
    if subprocess.run(cmd + files).returncode != 0:
        raise SystemExit(f"build: scalac failed for {name}")
    for p in res:
        target = os.path.join(tmp, os.path.relpath(p, resources))
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.copy(p, target)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp_file, "w") as fh:
        fh.write(key)
    return dest, key


def build():
    """Returns the classpath entries: benchmark classes, program classes."""
    main_files = sources(MAIN_SRC)
    if not main_files:
        raise SystemExit(f"build: no program sources under {MAIN_SRC}")
    os.makedirs(OUT, exist_ok=True)
    main_dir, main_key = compile_into("main-classes", main_files, "", MAIN_RES)
    bench_dir, _ = compile_into("bench-classes", sources(BENCH_SRC), main_dir, depends=main_key)
    return [bench_dir, main_dir]


if __name__ == "__main__":
    print(":".join(build()))
