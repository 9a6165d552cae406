"""Benchmark entry point. Run from the repository root:

    python3 kgbench/run.py --workload <kg_build|annotate> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (see build.py), runs one
workload in one JVM, and prints the result JSON as the last stdout line.
Everything the run writes stays under .bench_build/ and is removed at the
end, except the trace (.bench_build/kgbench/traces/) and the digests a later
run of the same build and seed must reproduce (.bench_build/kgbench/digests-*).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(root, main_class, args, timeout=TIMEOUT_S):
    """Build, run `main_class` with `args` plus `--work <dir>` and return its
    stdout. Its stderr passes through. Exits non-zero if the JVM fails or
    overruns `timeout` (after killing it)."""
    classes = build.build(root)
    work = os.path.join(root, ".bench_build", "kgbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss8m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for o in ADD_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes] + build.spark_jars()), main_class]
           + args + ["--work", work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"kgbench: run exceeded {timeout} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(out)
        sys.exit(f"kgbench: {main_class} exited with code {proc.returncode}")
    return out


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["kg_build", "annotate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", choices=["0", "1"], required=True)
    a = p.parse_args()
    root = os.getcwd()
    build_id = os.path.basename(build.build(root)).split("-", 1)[1]
    store = os.path.join(root, ".bench_build", "kgbench", "digests-" + build_id)
    out = run_jvm(root, "kgbench.Bench",
                  ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", a.trace, "--store", store])
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if not lines:
        sys.exit("kgbench: no result line")
    json.loads(lines[-1])  # the result line must be JSON
    print(lines[-1])


if __name__ == "__main__":
    main()
