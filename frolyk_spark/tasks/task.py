"""Task — the processor-topology construct (parity with reference src/task.ts).

A Task declares sources (topics) and processor setups, exactly like the
reference. Three execution paths:

- ``inject()`` — local in-memory assignment contexts for tests
  (reference task.ts:86-105).
- ``run_batch(spark, df, ...)`` — the Spark-native scale path: the same
  processor chain executed distributed over a DataFrame's partitions via
  ``mapInPandas`` (see frolyk_spark.tasks.bridge).
- ``start(spark)`` — Structured Streaming execution against Kafka
  (reference task.ts:107-155); requires a broker, gated in this image
  (see frolyk_spark.tasks.kafka).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

from frolyk_spark.tasks.events import EventEmitter
from frolyk_spark.tasks.local import AssignmentTestInterface, create_local_assignment_context
from frolyk_spark.tasks.offsets import LogicalOffset
from frolyk_spark.tasks.pipeline import ABANDON  # re-export for users

_id_seq = itertools.count()


@dataclass
class Source:
    """Reference src/source.ts."""

    topic_name: str
    processors: list = field(default_factory=list)
    offset_reset: object = LogicalOffset.LATEST


class Task:
    def __init__(self, group: str, connection: dict | None = None,
                 consumer: dict | None = None, admin: dict | None = None):
        self.id = next(_id_seq)
        self.group = group
        self.sources: list[Source] = []
        self.options = {"connection": connection, "consumer": consumer, "admin": admin}
        self._streaming_queries = []
        # lifecycle observability (reference task.ts:18,38 EventEmitter):
        # 'assignment-receive' (sources list), 'session-start' (seq),
        # 'session-stop', 'error' (exception), 'stop', plus 'log'
        # (tags, payload) forwarded from inject contexts' context.log
        self.events = EventEmitter()
        self._session_seq = 0

    # --- topology (task.ts:52-84) ---
    def source(self, topic_name: str, offset_reset=LogicalOffset.LATEST) -> Source:
        existing = next((s for s in self.sources if s.topic_name == topic_name), None)
        if existing is not None:
            return existing
        new = Source(topic_name=topic_name, offset_reset=offset_reset)
        self.sources.append(new)
        return new

    def processor(self, source: Source, setup_processing) -> Source:
        existing = next(
            (s for s in self.sources if s.topic_name == source.topic_name), None
        )
        if existing is None:
            raise ValueError("Source must be created through same task that processes it")
        existing.processors.append(setup_processing)
        return existing

    # --- local test execution (task.ts:86-105) ---
    def inject(self, assignments):
        multiple = isinstance(assignments, (list, tuple))
        normalized = list(assignments) if multiple else [assignments]
        contexts = []
        for a in normalized:
            source = next(
                (s for s in self.sources if s.topic_name == a["topic"]), None
            )
            processors = source.processors if source else []
            offset_reset = source.offset_reset if source else LogicalOffset.LATEST
            contexts.append(
                create_local_assignment_context(
                    assignment={
                        "topic": a["topic"],
                        "partition": a["partition"],
                        "group": self.group,
                    },
                    processors=processors,
                    offset_reset=offset_reset,
                    # context.log forwards to the task's event surface
                    # (reference forwards to the task logger; the port's
                    # logger IS the events registry)
                    on_log=lambda tags, payload: self.events.emit(
                        "log", tags, payload
                    ),
                )
            )
        return contexts if multiple else contexts[0]

    # --- distributed batch execution over Spark ---
    def run_batch(self, spark, df, topic: str, partition_col: str,
                  offset_col: str, output_schema: str | None = None,
                  num_partitions: int | None = None, **kwargs):
        """Extra kwargs pass through to bridge.run_task_batch
        (value_col/key_col/timestamp_col, emit, starting_offsets)."""
        from frolyk_spark.tasks.bridge import run_task_batch

        return run_task_batch(
            self, spark, df, topic=topic, partition_col=partition_col,
            offset_col=offset_col, output_schema=output_schema,
            num_partitions=num_partitions, **kwargs,
        )

    # --- streaming execution over file topics (broker-free task.start) ---
    def start_files(self, spark, **kwargs):
        """Run this topology as Structured Streaming queries over parquet
        directory "topics" — same lifecycle as the Kafka path, CI-runnable
        (see frolyk_spark.tasks.files.start_file_task)."""
        from frolyk_spark.tasks.files import start_file_task

        return self._start_session(lambda: start_file_task(self, spark, **kwargs))

    # --- streaming execution (Kafka-gated) ---
    def start(self, spark, checkpoint_dir: str | None = None):
        if not self.options.get("connection"):
            raise ValueError("Task must be configured with kafka connection options to start")
        from frolyk_spark.tasks.kafka import start_kafka_task

        return self._start_session(
            lambda: start_kafka_task(self, spark, checkpoint_dir)
        )

    def _start_session(self, launch):
        """Shared lifecycle around query launch (reference task.ts:169-241):
        'assignment-receive' on new assignments, 'session-stop' when a
        previous session is replaced, 'session-start' with the session
        sequence once the new queries run, 'error' if launch fails."""
        self.events.emit(
            "assignment-receive", [s.topic_name for s in self.sources]
        )
        if self._streaming_queries:
            for q in self._streaming_queries:
                q.stop()
            self._streaming_queries = []
            self.events.emit("session-stop")
        self._session_seq += 1
        try:
            self._streaming_queries = launch()
        except Exception as err:  # noqa: BLE001 — error surface is the contract
            self.events.emit("error", err)
            raise
        self.events.emit("session-start", self._session_seq)
        return self._streaming_queries

    def attach_listener(self, spark):
        """Wire Spark's StreamingQueryListener to this task's event surface:
        a termination WITH an exception for one of this task's queries emits
        'error' (the async production analog of await_queries' inline
        surfacing — listener callbacks arrive on Spark's listener thread).
        Returns the listener; detach with spark.streams.removeListener."""
        from pyspark.sql.streaming import StreamingQueryListener

        task = self

        class _TaskListener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                pass

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                ids = {str(q.id) for q in task._streaming_queries}
                if str(event.id) in ids and event.exception is not None:
                    task.events.emit("error", RuntimeError(event.exception))

        listener = _TaskListener()
        spark.streams.addListener(listener)
        return listener

    def await_queries(self) -> None:
        """Await every running query; a failed query emits 'error' with the
        underlying exception (reference processingSession.catch ->
        events.emit('error'), task.ts:241) and re-raises."""
        for q in self._streaming_queries:
            try:
                q.awaitTermination()
            except Exception as err:  # noqa: BLE001
                self.events.emit("error", err)
                raise

    def stop(self) -> None:
        for q in self._streaming_queries:
            q.stop()
        self._streaming_queries = []
        # only 'stop' here: the reference reserves 'session-stop' for a
        # session replaced by a reassignment (task.ts:194); a full stop
        # emits 'stop' unconditionally (task.ts:165)
        self.events.emit("stop")


def create_task(config: dict) -> Task:
    """Factory mirroring reference createTask (task.ts:259-261)."""
    return Task(
        group=config["group"],
        connection=config.get("connection"),
        consumer=config.get("consumer"),
        admin=config.get("admin"),
    )


__all__ = ["Task", "Source", "create_task", "ABANDON", "AssignmentTestInterface"]
