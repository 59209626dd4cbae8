#!/usr/bin/env python3
"""Self-test of the benchmark's failure handling and trace.

    python3 perfbench/selftest.py

1. A run with one injected failing operation must print its metrics, name
   the operation on stderr and exit non-zero.
2. A run in a directory that holds only BENCHMARK.json and the benchmark
   (no engine sources) must exit non-zero without printing a result.
3. A traced run must report every per-layer metric of BENCHMARK.json, and
   in its trace each operation's build and action spans must add up to
   the operation's span.
"""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ARGS = ["--workload", "inverted_index", "--seed", "1", "--seconds", "1", "--trace", "0"]


def run(cwd, extra=()):
    return subprocess.run([sys.executable, "perfbench/run.py", *ARGS, *extra], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def main():
    p = run(ROOT, ["--inject-failure"])
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    result = json.loads(last)
    assert p.returncode != 0, "a run with a failed operation exited 0"
    assert result["failed"] >= 1 and not result["correct"], result
    assert result["metrics"], "a failed run must still print its metrics"
    assert "FAILED" in p.stderr and "injected_failure" in p.stderr, p.stderr[-2000:]
    print(f"injected failure: exit {p.returncode}, "
          f"{result['failed']} of {result['attempted']} failed")

    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), dirs_exist_ok=True,
                    ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
    p = run(bare)
    assert p.returncode != 0, "a run without the engine sources exited 0"
    assert not p.stdout.strip(), f"printed a result: {p.stdout!r}"
    shutil.rmtree(bare)
    print(f"bare directory: exit {p.returncode}, no result")

    p = subprocess.run([sys.executable, "perfbench/run.py", *ARGS[:-1], "1"], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = {m["name"] for m in json.load(f)["per_layer"]}
    assert set(result["metrics"]) == wanted, set(result["metrics"]) ^ wanted
    with open(os.path.join(HERE, ".work", "records", "inverted_index-seed1-trace1.trace.json")) as f:
        spans = json.load(f)["spans"]
    ops = [s for s in spans if s["parent"] == 0]
    for op in ops:
        parts = [s for s in spans
                 if s["parent"] == op["span"] and s["name"] in ("build", "action")]
        assert [s["name"] for s in parts] == ["build", "action"], parts
        total = sum(s["end_ms"] - s["start_ms"] for s in parts)
        assert abs(total - (op["end_ms"] - op["start_ms"])) < 1e-6, (op, parts)
    print(f"traced run: {len(result['metrics'])} per-layer metrics, "
          f"{len(ops)} operations whose build and action spans add up")


if __name__ == "__main__":
    main()
