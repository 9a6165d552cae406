"""Harness self-test at toy size. Run from the repository root:

    python3 kgbench/selftest.py

Runs every workload on toy inputs in one JVM (kgbench.SelfTest) and checks:
  - an untraced run prints every end_to_end metric of BENCHMARK.json with
    its unit, and a traced run every per_layer metric, nothing else;
  - a clean run passes (correct, 0 failed) and the trace covers >= 90% of
    the traced op's wall time;
  - the output check fails an op when one triple (or, for a request, one
    annotation) is dropped from its output.
Takes a few minutes: Spark's fixed per-job cost dominates at any size.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        "0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "1": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    names = [w["name"] for w in spec["workloads"]]
    out = run.run_jvm(root, "kgbench.SelfTest", ["--workloads", ",".join(names)], timeout=900)
    cases = [json.loads(line) for line in out.splitlines() if line.startswith('{"case"')]
    problems = []
    if len(cases) != 3 * len(names):
        problems.append(f"expected {3 * len(names)} cases, got {len(cases)}")
    for c in cases:
        label, r = c["case"], c["result"]
        got = {k: v["unit"] for k, v in r["metrics"].items()}
        if got != want[c["trace"]]:
            problems.append(f"{label}: metrics {sorted(got.items())} != {sorted(want[c['trace']].items())}")
        if c["drop"]:
            if r["correct"] or r["failed"] != c["droppable"]:
                problems.append(f"{label}: dropping one output row gave correct={r['correct']} "
                                f"failed={r['failed']}, expected failed={c['droppable']}")
        else:
            if not r["correct"] or r["failed"] != 0:
                problems.append(f"{label}: clean run gave correct={r['correct']} failed={r['failed']}")
            cov = r["metrics"].get("trace.coverage", {"value": 1.0})["value"]
            if cov < 0.9:
                problems.append(f"{label}: trace.coverage {cov} < 0.9")
        print(f"{label}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "ok")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
