#!/usr/bin/env python3
"""Quick self-test of the benchmark, from the repository root::

    python3 perfbench/selftest.py

Runs every workload at a tiny size for a couple of seconds and checks that:

- a clean run is correct with no failed op;
- a run against a corrupted reference counts every op as failed;
- a traced run reports every per-layer metric named in ``BENCHMARK.json``;
- a directory holding only ``BENCHMARK.json`` and the benchmark's own files
  makes the benchmark exit non-zero without a result line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = {
    "task_batch": ["--scale", "0.05"],
    "task_stream": ["--scale", "0.1"],
    "spark_ops": ["--keys", "q1_pricing_summary,task_pipeline"],
}


def run(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", *TINY[workload], *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return proc.returncode, result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    per_layer = {m["name"] for m in spec["per_layer"]}
    end_to_end = {m["name"] for m in spec["end_to_end"]}
    problems: list[str] = []

    def check(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for wl in TINY:
        code, r = run(wl, "--trace", "0")
        check(code == 0 and r["correct"] and r["failed"] == 0 and r["attempted"] > 0
              and set(r["metrics"]) == end_to_end, f"{wl}: clean run correct, all end-to-end metrics")
        code, r = run(wl, "--trace", "0", "--corrupt-reference")
        check(code == 0 and not r["correct"] and r["failed"] == r["attempted"] > 0,
              f"{wl}: corrupted reference fails every op")
    code, r = run("task_stream", "--trace", "1")
    check(code == 0 and r["correct"] and set(r["metrics"]) == per_layer,
          "task_stream: traced run reports every per-layer metric")

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, r = run("task_batch", "--trace", "0", cwd=bare)
    shutil.rmtree(bare)
    check(code != 0 and r is None, "benchmark files alone: non-zero exit, no result")

    print("self-test " + ("passed" if not problems else f"FAILED: {problems}"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
