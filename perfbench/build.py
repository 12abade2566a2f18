#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library (`src/main/scala` at the repository root) together
with the benchmark's own sources (`perfbench/src`) into one class
directory, with the Scala compiler that ships in Spark's jars directory.
No dependency is fetched. A stamp of the source contents skips the build
when nothing changed.

    python3 perfbench/build.py      # from the repository root

The output goes to `$CARGO_TARGET_DIR/perfbench` when that variable is
set, else to `.bench_build/perfbench`.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """Spark's jars directory: `$SPARK_HOME/jars`, else next to the
    `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def scala_files():
    files = []
    for src in SOURCES:
        if not os.path.isdir(src):
            sys.exit(f"build: source directory missing: {os.path.relpath(src, ROOT)}")
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    files = scala_files()
    classes = os.path.join(out_dir(), "classes")
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    digest.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = os.path.join(out_dir(), "stamp")
    cp = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        sys.exit("build: scala compiler jars not found in Spark's jars directory")
    args_file = os.path.join(out_dir(), "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("build: compilation failed")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
