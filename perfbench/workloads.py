"""The three workloads and the closed loop that times them.

Each workload has ``prepare()`` (seeded inputs, timed three times for
``setup_s``), ``setup()`` (the rest of set-up: reference, task
declaration, untimed warm-up), ``op(i, rec)`` (one timed op, filling
``rec``) and ``layers(traced)`` (its per-layer metrics). ``Bench`` owns the
session, the tracer and the job counter, and turns op records into the
result line.
"""

from __future__ import annotations

import json
import os
import random
import resource
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

import numpy as np

from perfbench import messages, tables
from perfbench.trace import JobCounter, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))

#: queries() keys of spark_ops, by the layer they exercise
KEYS = (
    "q1_pricing_summary", "quantile_sketch",  # operators.relational, sources.catalog
    "tfidf_top_terms",                        # operators.vocab
    "dedup_minhash", "lsh_band_sweep",        # operators.dedup
    "quality_logreg",                         # operators.learn
    "components_parts",                       # operators.graph, functions.loops
    "stream_tumbling",                        # streaming.jobs
    "task_pipeline",                          # tasks.bridge in results mode
)
STREAM_PHASES = ("addBatch", "latestOffset", "getBatch", "queryPlanning",
                 "walCommit", "commitOffsets", "triggerExecution")

#: every per-layer metric a traced run reports (0 where the workload does
#: not exercise the layer)
PER_LAYER = {
    "session.get_spark_s": "s",
    "tasks.bridge.plan_s": "s",
    "tasks.bridge.action_s": "s",
    "tasks.pipeline.process_message_us": "us",
    "tasks.bridge.out_ratio": "ratio",
    "tasks.files.start_s": "s",
    "tasks.files.await_s": "s",
    "tasks.files.stop_s": "s",
    **{f"stream.{p}_ms": "ms" for p in STREAM_PHASES},
    "stream.batches_per_op": "count",
    "sink.bytes_per_op": "bytes",
    "sink.files_per_op": "count",
    "checkpoint.bytes": "bytes",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    **{f"{k}.{m}": u for k in KEYS for m, u in (("build_s", "s"), ("action_s", "s"), ("jobs", "count"))},
    "host.calib_s": "s",
    "host.driver_rss_mb": "MB",
    "host.jvm_rss_mb": "MB",
    "trace.overhead_pct": "%",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def summarize(ops: list[dict]) -> tuple[dict, dict]:
    """End-to-end metrics over the timed ops (each: kind, latency, msgs)."""
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op["kind"], []).append(op["latency"])
    wall = sum(op["latency"] for op in ops)
    medians = [statistics.median(v) for v in by_kind.values()]
    metrics = {
        "ops_per_s": (len(ops) / wall, "1/s"),
        "msgs_per_s": (sum(op["msgs"] for op in ops) / wall, "1/s"),
        "op_p50_s": (statistics.median(medians), "s"),
        "op_geomean_s": (statistics.geometric_mean(medians), "s"),
    }
    detail = {
        "latencies_s": {k: [round(x, 4) for x in v] for k, v in by_kind.items()},
        "timed_wall_s": wall,
    }
    return metrics, detail


def calibrate() -> float:
    """A fixed pure-Python loop: runs no frolyk_spark code, so its time
    witnesses the host's speed at that moment."""
    t = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    return time.perf_counter() - t


def tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) under ``path``, counting files ending in ``suffix``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(suffix):
                size += os.path.getsize(os.path.join(dirpath, name))
                files += 1
    return size, files


def med(values) -> float:
    """Median, or 0 when a failed op left no sample."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def median_of(recs: list[dict], key: str) -> float:
    return med(r[key] for r in recs if key in r)


class TaskBatch:
    """One ``Task.run_batch(emit="produced")`` over a Zipf-skewed log,
    forced by a count-and-checksum aggregate."""

    MSGS = 100_000
    WARM_MIN, WARM_MAX = 4, 8

    def __init__(self, bench: "Bench"):
        self.b = bench
        self.msgs = max(1000, int(self.MSGS * bench.args.scale))
        self.path = os.path.join(bench.run_dir, "log", "log.parquet")

    def prepare(self) -> None:
        self.cols = messages.generate(np.random.default_rng(self.b.args.seed), self.msgs)
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        messages.write_parquet(self.cols, self.path)

    def setup(self) -> None:
        from frolyk_spark.tasks import Task

        self.ref = self.b.reference(self.cols)
        self.task = Task(group="perfbench-batch")
        self.task.processor(self.task.source("log"), messages.chain_setup)
        self.df = self.b.spark.read.parquet(self.path)
        self.b.warm(self, self.WARM_MIN, self.WARM_MAX)

    def op(self, i: int, rec: dict) -> None:
        from pyspark.sql import functions as F

        tr = self.b.tracer
        t = time.perf_counter()
        with tr.span("tasks.bridge.plan"):
            out = self.task.run_batch(self.b.spark, self.df, topic="log", partition_col="part",
                                      offset_col="off", emit="produced")
        with tr.span("tasks.bridge.action"):
            row = out.agg(F.count(F.lit(1)).alias("n"),
                          F.sum(messages.checksum_column(F)).alias("c")).collect()[0]
        rec.update(kind="run_batch", latency=time.perf_counter() - t, msgs=self.msgs,
                   ok=(row.n, row.c) == self.ref, out_ratio=row.n / self.msgs)

    def layers(self, traced: list[dict]) -> dict:
        return {
            "tasks.bridge.plan_s": med(self.b.tracer.durations("tasks.bridge.plan")),
            "tasks.bridge.action_s": med(self.b.tracer.durations("tasks.bridge.action")),
            "tasks.bridge.out_ratio": median_of(traced, "out_ratio"),
            "tasks.pipeline.process_message_us": self.b.process_message_us(self.cols),
        }


class TaskStream:
    """Append one seeded file to a file topic, then resume the task with
    ``Task.start_files(available_now=True)`` until it terminates."""

    MSGS = 5_000
    RESET_EVERY = 10  # ops between resets of topic, checkpoint and sink
    WARM_MIN, WARM_MAX = 6, 12

    def __init__(self, bench: "Bench"):
        self.b = bench
        self.msgs = max(100, int(self.MSGS * bench.args.scale))
        root = os.path.join(bench.run_dir, "stream")
        self.topic = os.path.join(root, "topic")
        self.checkpoint = os.path.join(root, "checkpoint")
        self.sink = os.path.join(root, "sink")
        self.staging = os.path.join(root, "staging")
        self.rng = np.random.default_rng(bench.args.seed)

    def prepare(self) -> None:
        self.rng = np.random.default_rng(self.b.args.seed)

    def setup(self) -> None:
        from frolyk_spark.tasks import Task

        self.task = Task(group="perfbench-stream")
        self.task.processor(self.task.source("log"), messages.chain_setup)
        self.reset()
        self.b.warm(self, self.WARM_MIN, self.WARM_MAX)
        self.reset()

    def reset(self) -> None:
        for d in (self.topic, self.checkpoint, self.sink, self.staging):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        self.base = np.zeros(messages.PARTITIONS, dtype=np.int64)
        self.appended = 0

    def op(self, i: int, rec: dict) -> None:
        # untimed: bounded state, the next file and its reference
        if self.appended == self.RESET_EVERY:
            self.reset()
        cols = messages.generate(self.rng, self.msgs, self.base)
        self.base += np.bincount(cols["part"], minlength=messages.PARTITIONS)
        ref = self.b.reference(cols)
        name = f"part-{self.appended:05d}.parquet"
        messages.write_parquet(cols, os.path.join(self.staging, name))
        out_root = os.path.join(self.sink, "src=log")
        before = set(os.listdir(out_root)) if os.path.isdir(out_root) else set()

        tr = self.b.tracer
        t = time.perf_counter()
        os.rename(os.path.join(self.staging, name), os.path.join(self.topic, name))
        with tr.span("tasks.files.start"):
            queries = self.task.start_files(
                self.b.spark, topic_dirs={"log": self.topic}, schemas={"log": messages.SCHEMA},
                partition_col="part", offset_col="off", checkpoint_root=self.checkpoint,
                sink_dir=self.sink, available_now=True)
        with tr.span("tasks.files.await"):
            self.task.await_queries()
        with tr.span("tasks.files.stop"):
            self.task.stop()
        latency = time.perf_counter() - t
        self.appended += 1

        epochs = [os.path.join(out_root, d) for d in sorted(set(os.listdir(out_root)) - before)]
        got = self.read_sink(epochs)
        rec.update(kind="append_resume", latency=latency, msgs=self.msgs, ok=got == ref,
                   out_ratio=got[0] / self.msgs)
        if tr.enabled:
            progress = queries[0].recentProgress
            rec["batches"] = len(progress)
            for phase in STREAM_PHASES:
                rec[phase] = sum(p.durationMs.get(phase, 0) for p in progress)
            rec["sink_bytes"], rec["sink_files"] = 0, 0
            for d in epochs:
                nbytes, nfiles = tree_bytes(d, ".parquet")
                rec["sink_bytes"] += nbytes
                rec["sink_files"] += nfiles
            rec["checkpoint_bytes"] = tree_bytes(self.checkpoint)[0]

    @staticmethod
    def read_sink(epochs: list[str]) -> tuple[int, int]:
        import pyarrow.parquet as pq

        rows = total = 0
        for d in epochs:
            for topic_dir in sorted(os.listdir(d)):
                if not topic_dir.startswith("topic="):
                    continue
                topic = topic_dir[len("topic="):]
                t = pq.read_table(os.path.join(d, topic_dir), columns=["partition", "key", "value"])
                for part, key, value in zip(*(t.column(c).to_pylist() for c in ("partition", "key", "value"))):
                    rows += 1
                    total += messages.row_digest(topic, part, key.decode(), value.decode())
        return rows, total

    def layers(self, traced: list[dict]) -> dict:
        out = {
            "tasks.files.start_s": med(self.b.tracer.durations("tasks.files.start")),
            "tasks.files.await_s": med(self.b.tracer.durations("tasks.files.await")),
            "tasks.files.stop_s": med(self.b.tracer.durations("tasks.files.stop")),
            "tasks.bridge.out_ratio": median_of(traced, "out_ratio"),
            "stream.batches_per_op": median_of(traced, "batches"),
            "sink.bytes_per_op": median_of(traced, "sink_bytes"),
            "sink.files_per_op": median_of(traced, "sink_files"),
            "checkpoint.bytes": median_of(traced, "checkpoint_bytes"),
            "tasks.pipeline.process_message_us": self.b.process_message_us(
                messages.generate(np.random.default_rng(self.b.args.seed), 10_000)),
        }
        for phase in STREAM_PHASES:
            out[f"stream.{phase}_ms"] = median_of(traced, phase)
        return out


class SparkOps:
    """One call of one ``queries()`` key plus a checksum force, cycling
    through ``KEYS`` in a seeded order per cycle."""

    PINS = os.path.join(HERE, "pinned.json")

    def __init__(self, bench: "Bench"):
        self.b = bench
        self.sf_dir = os.path.join(bench.run_dir, "tables")
        self.keys = tuple(bench.args.keys.split(",")) if bench.args.keys else KEYS
        self.orders: list[list[str]] = []
        self.rng = random.Random(bench.args.seed)

    def prepare(self) -> None:
        tables.generate(self.sf_dir)

    def setup(self) -> None:
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.pins = {}
        if not self.b.args.write_pins:
            with open(self.PINS) as f:
                self.pins = json.load(f)
        # one untimed cycle: first touch of every key's code paths and of
        # the persisted artifacts it reads (signatures, co-purchase edges,
        # staged stream drops), so timed calls take the reuse path
        self.observed: dict[str, tuple[int, int]] = {}
        for key in self.keys:
            t = time.perf_counter()
            self.observed[key] = self.force(self.queries[key](self.b.spark, self.sf_dir))
            log(f"warm {key}: {time.perf_counter() - t:.3f}s")
            if not self.b.args.write_pins and list(self.observed[key]) != self.pins[key]:
                self.b.warm_failures += 1
        if self.b.args.write_pins:
            self.pins = {k: list(v) for k, v in self.observed.items()}
            with open(self.PINS, "w") as f:
                json.dump(self.pins, f, indent=1)
                f.write("\n")

    @staticmethod
    def force(df) -> tuple[int, int]:
        from pyspark.sql import functions as F

        row = df.select(F.xxhash64(F.struct(*[F.col(c) for c in df.columns])).alias("h")).agg(
            F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x")).collect()[0]
        return row.n, row.x

    def done(self, i: int, elapsed: float) -> bool:
        if i % len(self.keys):
            return False  # whole cycles only
        return elapsed >= self.b.args.seconds and (not self.b.args.trace or i >= 2 * len(self.keys))

    def key_at(self, i: int) -> str:
        n = len(self.keys)
        while len(self.orders) <= i // n:
            order = list(self.keys)
            self.rng.shuffle(order)
            self.orders.append(order)
        return self.orders[i // n][i % n]

    def traced(self, i: int) -> bool:
        # over two cycles each key is traced once and untraced once
        return (i // len(self.keys) + self.keys.index(self.key_at(i))) % 2 == 0

    def op(self, i: int, rec: dict) -> None:
        key = self.key_at(i)
        tr = self.b.tracer
        t = time.perf_counter()
        with tr.span(f"{key}.build"):
            df = self.queries[key](self.b.spark, self.sf_dir)
        with tr.span(f"{key}.action"):
            got = self.force(df)
        rec.update(kind=key, latency=time.perf_counter() - t, msgs=got[0],
                   ok=list(got) == self.b.pin(self.pins[key]))

    def layers(self, traced: list[dict]) -> dict:
        out = {}
        for key in self.keys:
            out[f"{key}.build_s"] = med(self.b.tracer.durations(f"{key}.build"))
            out[f"{key}.action_s"] = med(self.b.tracer.durations(f"{key}.action"))
            out[f"{key}.jobs"] = med(r["counts"]["jobs"] for r in traced if r["kind"] == key)
        return out


class Bench:
    def __init__(self, args, run_dir: str, t0: float):
        self.args = args
        self.run_dir = run_dir
        self.t0 = t0
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.jobs: JobCounter | None = None
        self.warm_failures = 0
        self.calib: list[float] = []
        cls = {"task_batch": TaskBatch, "task_stream": TaskStream, "spark_ops": SparkOps}
        self.workload = cls[args.workload](self)

    # --- helpers the workloads share ---------------------------------
    def reference(self, cols: dict) -> tuple[int, int]:
        rows, total = messages.reference(cols)
        return rows, total + (1 if self.args.corrupt_reference else 0)

    def pin(self, pinned: list[int]) -> list[int]:
        return [pinned[0], pinned[1] + (1 if self.args.corrupt_reference else 0)]

    def warm(self, wl, lo: int, hi: int) -> None:
        """Untimed ops until op time levels off: at least ``lo``, then
        until an op is no more than 3% faster than the fastest before it,
        at most ``hi``. JIT tier-up keeps ops getting faster for several
        ops after the first; timing them would bill warm-up to the run."""
        best = None
        for i in range(hi):
            rec: dict = {}
            wl.op(-1 - i, rec)
            log(f"warm op {i}: {rec['latency']:.3f}s")
            if not rec["ok"]:
                self.warm_failures += 1
            if i + 1 >= lo and rec["latency"] >= 0.97 * best:
                break
            best = rec["latency"] if best is None else min(best, rec["latency"])

    def process_message_us(self, cols: dict) -> float:
        """Driver-side time per message of ``process_message`` through the
        benchmark chain with a ``BatchAssignmentContext`` (median of 3)."""
        from frolyk_spark.tasks.bridge import BatchAssignmentContext
        from frolyk_spark.tasks.pipeline import build_processors, process_message

        n = min(10_000, len(cols["part"]))
        msgs = [
            {"topic": "log", "partition": p, "key": None, "offset": o, "timestamp": "",
             "high_water_offset": 1 << 40, "headers": None,
             "value": {"part": p, "off": o, "kind": k, "user": u, "amount": a}}
            for p, o, k, u, a in zip(*(cols[c][:n].tolist() for c in ("part", "off", "kind", "user", "amount")))
        ]
        runs = []
        for _ in range(3):
            ctx = BatchAssignmentContext("log", 0, "perfbench", 1 << 40)
            fns = build_processors(ctx, [messages.chain_setup])
            t = time.perf_counter()
            for m in msgs:
                process_message(m, fns, ctx)
            runs.append((time.perf_counter() - t) / n * 1e6)
        return statistics.median(runs)

    # --- the run -------------------------------------------------------
    @contextmanager
    def op_scope(self, i: int, traced: bool):
        """Timed op ``i``; a traced op runs under its own job group and
        ``op`` span, and its counts are taken after the op has ended."""
        rec: dict = {"traced": traced}
        self.tracer.enabled = traced
        self.tracer.op_id = i
        if not traced:
            yield rec
            return
        with self.jobs.group(i, self.args.workload) as counts:
            with self.tracer.span("op"):
                yield rec
        rec["counts"] = counts

    def run(self) -> tuple[dict, dict]:
        from frolyk_spark.session import get_spark

        wl = self.workload
        reps = []
        for _ in range(3):
            t = time.monotonic()
            wl.prepare()
            reps.append(time.monotonic() - t)
        t = time.monotonic()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        session_s = time.monotonic() - t
        if self.args.trace:
            self.jobs = JobCounter(self.spark)
        self.tracer.enabled = False
        wl.setup()
        setup_s = time.monotonic() - self.t0 - sum(reps) + statistics.median(reps)
        log(f"setup {setup_s:.3f}s (session {session_s:.3f}s, inputs {reps})")

        done = getattr(wl, "done", lambda i, elapsed: elapsed >= self.args.seconds)
        traced_at = getattr(wl, "traced", lambda i: i % 2 == 0)
        ops: list[dict] = []
        errors = 0
        start = time.monotonic()
        while not done(len(ops) + errors, time.monotonic() - start):
            i = len(ops) + errors
            traced = bool(self.args.trace) and traced_at(i)
            if self.args.trace:
                self.calib.append(calibrate())
            try:
                with self.op_scope(i, traced) as rec:
                    wl.op(i, rec)
            except Exception as exc:  # noqa: BLE001 — a raising op counts as failed
                log(f"op {i} raised: {exc!r}")
                errors += 1
                continue
            ops.append(rec)
            if not rec["ok"]:
                log(f"op {i} ({rec['kind']}) failed its output check")
        self.tracer.enabled = False

        attempted = len(ops) + errors
        failed = errors + sum(not r["ok"] for r in ops)
        correct = failed == 0 and self.warm_failures == 0 and attempted > 0
        detail = {"workload": self.args.workload, "seed": self.args.seed, "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
                  "setup_session_s": session_s, "warm_failures": self.warm_failures}
        if self.args.trace:
            values = self.layer_metrics(ops, session_s)
            metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
            detail["jobs_per_op"] = sorted({json.dumps(r["counts"], sort_keys=True)
                                            for r in ops if "counts" in r})
        else:
            if ops:
                e2e, more = summarize(ops)
                detail.update(more)
            else:
                e2e = {k: (0.0, u) for k, u in (("ops_per_s", "1/s"), ("msgs_per_s", "1/s"),
                       ("op_p50_s", "s"), ("op_geomean_s", "s"))}
            metrics = {"setup_s": {"value": setup_s, "unit": "s"}}
            metrics.update({k: {"value": v, "unit": u} for k, (v, u) in e2e.items()})
        return ({"correct": correct, "attempted": attempted, "failed": failed,
                 "metrics": metrics}, detail)

    def layer_metrics(self, ops: list[dict], session_s: float) -> dict:
        traced = [r for r in ops if r["traced"]]
        plain = [r for r in ops if not r["traced"]]
        values = self.workload.layers(traced)
        values["session.get_spark_s"] = session_s
        # per-kind median, averaged over kinds: the per-op count for the
        # task workloads, the mean over the cycle's keys for spark_ops
        for field in ("jobs", "stages", "tasks"):
            per_kind: dict[str, list[int]] = {}
            for r in traced:
                per_kind.setdefault(r["kind"], []).append(r["counts"][field])
            values[f"spark.{field}_per_op"] = statistics.fmean(
                [med(v) for v in per_kind.values()] or [0.0])
        # tracing overhead: traced vs untraced latency of the same kind,
        # interleaved in this run, as a geometric mean over kinds
        ratios = []
        for kind in {r["kind"] for r in traced}:
            a = [r["latency"] for r in traced if r["kind"] == kind]
            b = [r["latency"] for r in plain if r["kind"] == kind]
            if a and b:
                ratios.append(statistics.median(a) / statistics.median(b))
        values["trace.overhead_pct"] = 100.0 * (statistics.geometric_mean(ratios) - 1.0) if ratios else 0.0
        values["host.calib_s"] = med(self.calib)
        values["host.driver_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        values["host.jvm_rss_mb"] = self.jvm_peak_rss_mb()
        return values

    def jvm_peak_rss_mb(self) -> float:
        try:
            pid = self.spark.sparkContext._gateway.proc.pid
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except (AttributeError, OSError):
            pass
        return 0.0

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit (it exits when
        its stdin closes)."""
        if self.jobs is not None:
            self.jobs.close()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
