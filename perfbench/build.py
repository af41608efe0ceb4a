#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (``src/main/scala`` + ``src/main/resources`` of the
checkout this directory sits in) and the benchmark harness
(``perfbench/src``) with the Scala compiler that ships in Spark's jar
directory, into ``.bench_build/`` at the checkout root.  Each stage is
skipped when a stamp of its inputs is unchanged.

    python3 perfbench/build.py        # prints the runtime classpath

Spark's jars are found through ``SPARK_HOME`` or, failing that, through
the ``spark-submit`` on ``PATH``.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
BENCH_RES = os.path.join(HERE, "resources")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("build: Spark not found (set SPARK_HOME)")
    d = os.path.join(home, "jars")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))


def sources(root, ext=".scala"):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(ext)]
    return sorted(out)


def stamp(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def copy_tree(src, dst):
    if os.path.isdir(src):
        shutil.copytree(src, dst, dirs_exist_ok=True)


def compile_stage(name, srcs, classpath, res_dirs, extra_stamp=""):
    """Compile ``srcs`` into .bench_build/<name> unless its stamp matches."""
    out = os.path.join(BUILD, name)
    stamp_file = out + ".stamp"
    all_inputs = srcs + [p for r in res_dirs for p in sources(r, "")]
    want = stamp(all_inputs, extra_stamp)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return out, want
    if not srcs:
        raise SystemExit(f"build: no sources for {name}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [j for j in classpath if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(BUILD, name + ".args")
    with open(argfile, "w") as f:
        f.write("-d\n" + out + "\n-classpath\n" + os.pathsep.join(classpath) + "\n")
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "@" + argfile]
    print(f"build: compiling {name} ({len(srcs)} files)", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    for r in res_dirs:
        copy_tree(r, out)
    with open(stamp_file, "w") as f:
        f.write(want)
    return out, want


def build():
    """Build both stages; return the runtime classpath as a list."""
    os.makedirs(BUILD, exist_ok=True)
    jars = spark_jars()
    main_out, main_stamp = compile_stage("main", sources(MAIN_SRC), jars, [MAIN_RES])
    bench_out, _ = compile_stage("bench", sources(BENCH_SRC), [main_out] + jars,
                                 [BENCH_RES], extra_stamp=main_stamp)
    return [bench_out, main_out] + jars


if __name__ == "__main__":
    print(os.pathsep.join(build()))
