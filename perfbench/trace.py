"""Spans and Spark job counts at the benchmark's call boundaries.

Both are recorded only in a traced run; an untraced run pays one attribute
check per boundary. Spans (name, start, end, parent span, op id) stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent index, op id]
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2] is not None]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        covered by child spans (children never overlap: one thread)."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent is not None and end is not None:
                child[parent] += end - start
        out: dict[str, float] = {}
        for i, (name, start, end, _, _) in enumerate(self.spans):
            if end is not None:
                out[name] = out.get(name, 0.0) + (end - start) - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "fields": ["name", "start", "end", "parent", "op"],
                "spans": self.spans,
                "self_s": self.self_times(),
            }, f)


class JobCounter:
    """Jobs, stages and tasks launched during one op, from
    ``statusTracker()``: the caller's job group plus the run-id group of
    every streaming query started meanwhile (micro-batch jobs run under
    their query's run id, not the caller's group)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.sc = spark.sparkContext
        self.started: list[str] = []
        self.terminated = 0
        counter = self

        class _RunIds(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                counter.started.append(str(event.runId))

            def onQueryProgress(self, event) -> None:
                pass

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                counter.terminated += 1

        self._listener = _RunIds()
        spark.streams.addListener(self._listener)
        self._spark = spark

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    @contextmanager
    def group(self, op_id: int, label: str):
        """Count the jobs of the block; yields a dict filled on exit with
        ``jobs``, ``stages``, ``tasks`` and ``queries``."""
        gid = f"perfbench-{op_id}"
        mark = len(self.started)
        self.sc.setJobGroup(gid, label)
        counts: dict[str, int] = {}
        try:
            yield counts
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        # listener events arrive asynchronously: wait until every query
        # seen to start has also been seen to terminate
        deadline = time.monotonic() + 5.0
        while self.terminated < len(self.started) and time.monotonic() < deadline:
            time.sleep(0.01)
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for g in [gid, *self.started[mark:]]:
            for job_id in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(job_id)
                jobs += 1
                if info is None:
                    continue
                for stage_id in info.stageIds:
                    stage = tracker.getStageInfo(stage_id)
                    if stage is not None:  # None once evicted from the status store
                        stages += 1
                        tasks += stage.numTasks
        counts.update(jobs=jobs, stages=stages, tasks=tasks,
                      queries=len(self.started) - mark)
