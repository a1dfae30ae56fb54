#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end metric's
median and spread (interquartile range as a share of the median).

    python3 perfbench/spread.py --workloads task_batch,spark_ops --seeds 1-10

Runs are sequential, from the repository root, with the ``command`` and
``run_seconds`` of ``BENCHMARK.json``. Each run's result line is appended
to ``--out`` (JSON lines) so a later call can re-summarize it with
``--summarize-only``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(rows: list[dict], bounds: dict[str, float]) -> None:
    by_wl: dict[str, list[dict]] = {}
    for r in rows:
        by_wl.setdefault(r["workload"], []).append(r)
    for wl, rs in by_wl.items():
        bad = sum(not r["result"]["correct"] or r["result"]["failed"] for r in rs)
        print(f"{wl}: {len(rs)} runs, {bad} with failures, run wall "
              f"{statistics.median(r['wall_s'] for r in rs):.1f}s median")
        for name in rs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in rs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("nan")
            flag = " <-- over bound/3" if spread > bounds.get(name, 1.0) / 3 else ""
            print(f"  {name:14s} median {med:12.5g}  spread {spread:6.3f}  "
                  f"(bound {bounds.get(name, 0):.2f}){flag}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default="task_batch,task_stream,spark_ops")
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench", "spread.jsonl"))
    ap.add_argument("--summarize-only", action="store_true")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    if not args.summarize_only:
        for wl in args.workloads.split(","):
            for seed in seeds(args.seeds):
                cmd = [*spec["command"], "--workload", wl, "--seed", str(seed),
                       "--seconds", str(spec["run_seconds"]), "--trace", "0"]
                t = time.monotonic()
                proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
                wall = time.monotonic() - t
                if proc.returncode:
                    print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                    return 1
                result = json.loads(proc.stdout.strip().splitlines()[-1])
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": wl, "seed": seed, "wall_s": wall,
                                        "result": result}) + "\n")
                print(f"{wl} seed {seed}: {wall:.1f}s "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                      flush=True)
    with open(args.out) as f:
        rows = [json.loads(line) for line in f]
    summarize([r for r in rows if r["workload"] in args.workloads.split(",")], bounds)
    return 0


if __name__ == "__main__":
    sys.exit(main())
