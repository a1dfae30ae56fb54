#!/usr/bin/env python3
"""frolyk_spark benchmark.

Usage, from the repository root::

    python3 perfbench/run.py --workload task_batch --seed 1 --seconds 15 --trace 0

Workloads (see ``workloads.py`` and ``DESIGN.md``): ``task_batch``,
``task_stream`` and ``spark_ops``. Each is one closed loop in this process
driving one ``local[n]`` Spark session, ``n = min(4, usable cores)``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
holds the details (every op latency, job counts per op). Progress goes to standard error.

All inputs, checkpoints, sinks and persisted operator artifacts live in
``.perfbench/run-<pid>`` under the repository root, removed at exit; ``--trace 1`` also writes its spans to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("task_batch", "task_stream", "spark_ops")


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def isolate(run_dir: str) -> None:
    """Point every path Spark and its Python workers write to into
    ``run_dir``, before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # no bytecode cache: the first run in a checkout would otherwise
    # compile the package while later runs load it, skewing setup_s
    sys.dont_write_bytecode = True
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join((
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ))
    from frolyk_spark.sources import streams

    # persisted operator artifacts (signatures, edges, staged drops) are
    # keyed under this root: a fresh one per run gives every run the same
    # disk state, and warm-up builds them before timing
    streams.SCRATCH = os.path.join(run_dir, "scratch")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size factor for task workloads (self-test)")
    ap.add_argument("--keys", help="spark_ops: comma-separated subset of keys (self-test)")
    ap.add_argument("--write-pins", action="store_true",
                    help="spark_ops: record each key's rows and checksum in pinned.json")
    ap.add_argument("--corrupt-reference", action="store_true",
                    help="self-test: perturb every reference so each op must fail")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "frolyk_spark", "tasks", "bridge.py")):
        print(f"perfbench: no frolyk_spark sources under {ROOT}", file=sys.stderr)
        return 2
    t0 = time.monotonic()
    sys.path.insert(0, ROOT)
    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    isolate(run_dir)

    from perfbench import workloads

    bench = workloads.Bench(args, run_dir, t0)
    try:
        result, detail = bench.run()
        if args.trace:
            bench.tracer.write(os.path.join(
                out_dir, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
