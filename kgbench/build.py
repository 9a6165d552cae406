"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (kgbench/src) with the Scala compiler that ships among the
Spark distribution's jars, into .bench_build/kgbench/classes-<hash>. The
hash covers every source file and the jar list, so an unchanged tree is
built once. Run directly (`python3 kgbench/build.py`) to build ahead of time.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
PROGRAM_SOURCES = os.path.join("src", "main", "scala")
BENCH_SOURCES = os.path.join(os.path.basename(BENCH_DIR), "src")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("kgbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        sys.exit(f"kgbench: no Spark jars under {home}")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def sources(root):
    out = []
    for top in (PROGRAM_SOURCES, BENCH_SOURCES):
        base = os.path.join(root, top)
        if not os.path.isdir(base):
            sys.exit(f"kgbench: missing source directory {top}; run from the repository root")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Return the class directory for the sources under `root`, compiling
    them first if this exact tree has not been built yet."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for j in jars:
        h.update(os.path.basename(j).encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out_root = os.path.join(root, ".bench_build", "kgbench")
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-classpath", cp, "-d", tmp] + srcs) + "\n")
    print(f"kgbench: compiling {len(srcs)} sources", file=sys.stderr)
    try:
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                            "@" + argfile], stdout=sys.stderr, stderr=sys.stderr)
    finally:
        os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("kgbench: compilation failed")
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
