"""Distributed execution of a Task's processor chain over Spark.

This is the scale path the reference cannot express: the same
``setup(assignment) -> fn(value, context)`` processors that run in the local
inject harness execute across a cluster. Rows stream through ``mapInPandas``
as an iterator of Arrow batches — a partition group is never materialized
as one pandas DataFrame, so group size is bounded by batch size, not
executor memory. Per-partition ordering — frolyk's core guarantee
(reference src/streams.ts: one ordered stream per topic-partition) — holds
because each log partition is placed whole on one Spark task and rows are
sorted within each Spark partition on (partition, offset): every group's
rows are contiguous and offset-ordered inside the iterator.

``num_partitions`` is the parallelism knob at 100 TB: it sizes the single
shuffle. Like a consumer group assigning partitions to members, the bridge
places each log partition whole on one task — by counted size, not by hash
of the partition value: per call, one stats row per log partition (row
count, max offset) is collected, LPT puts the largest partition first onto
the least-loaded task, and a small broadcast lookup tags each row with a
key whose Spark hash lands on its task, plus the high-water offset that
``caught_up``/``watermarks`` read.

Two emit modes mirror the reference's two outputs:
- ``emit="results"``: the chain's per-message return values
  (reference ``processingResults``) with a caller-declared schema.
- ``emit="produced"``: messages produced via ``context.send`` (reference
  ``producedMessages`` — kafka.ts producer.send), as Kafka-shaped rows
  (topic, partition, key, value) for a Kafka/file sink.
"""

from __future__ import annotations

import heapq
from typing import Any, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, _parse_datatype_string

from frolyk_spark.tasks.pipeline import build_processors, is_abandoned, process_message

# Spark's native Kafka header shape (source since 3.0 with
# includeHeaders, sink accepts the same column) — so produced rows are
# directly Kafka-sink-writable, headers included
PRODUCED_SCHEMA = (
    "topic string, partition int, key binary, value binary, "
    "headers array<struct<key:string,value:binary>>"
)


class BatchAssignmentContext:
    """AssignmentContext for distributed batch runs.

    Offset bookkeeping is local to the partition group; ``send`` collects
    into ``produced``, surfaced by ``run_task_batch(emit="produced")``.
    """

    def __init__(self, topic: str, partition: int, group: str, high_offset: int):
        self.topic = topic
        self.partition = partition
        self.group = group
        self._high_offset = high_offset
        self._committed = {"offset": -1, "metadata": None}
        # bounded: only the latest commit (the committed watermark) is
        # kept — a per-message commit pattern must not grow executor
        # memory with rows-per-group. The attribute is deliberately NAMED
        # differently from the local harness's committed_offsets history
        # list: code written against the local context that reads the full
        # history gets a loud AttributeError here instead of silently
        # seeing a truncated one (r8 advice).
        self.last_commit: dict | None = None
        self.produced: list[dict] = []

    def caught_up(self, offset: int) -> bool:
        return offset + 1 >= self._high_offset

    def commit_offset(self, new_offset: int, metadata: str | None = None) -> None:
        entry = {"offset": new_offset, "metadata": metadata}
        self._committed = entry
        self.last_commit = entry

    def committed(self) -> dict:
        return dict(self._committed)

    def is_empty(self) -> bool:
        return self._high_offset <= 0

    def log(self, tags, payload) -> None:
        pass

    def seek(self, offset) -> None:
        # Spark owns offset progression in distributed mode (the reference
        # seeks live per-partition streams, src/streams.ts:80-97; the Spark
        # equivalent is restarting from a chosen checkpoint/startingOffsets).
        raise NotImplementedError("seek is not available in distributed batch mode")

    def send(self, messages) -> list[dict]:
        if not isinstance(messages, (list, tuple)):
            messages = [messages]
        self.produced.extend(messages)
        return [
            {"topic_name": m.get("topic"), "partition": m.get("partition"), "error_code": 0}
            for m in messages
        ]

    def watermarks(self) -> dict:
        return {"high_offset": self._high_offset, "low_offset": 0}


def _to_bytes(value) -> bytes | None:
    """Kafka-wire encoding: bytes pass through, strings are raw utf-8 (the
    reference's producer sends string keys/values as plain bytes, not
    JSON-quoted), structured values JSON-encode."""
    if value is None:
        return None
    if isinstance(value, (bytes, bytearray)):
        return bytes(value)
    if isinstance(value, str):
        return value.encode()
    import json

    return json.dumps(value).encode()


def _headers_in(raw) -> dict | None:
    """Kafka-shaped headers cell (array<struct<key,value>> as Arrow hands it
    to pandas: a sequence of {key, value} mappings, or None) -> the
    reference's IHeaders dict ({name: bytes}), which is what processors see
    on ``message['headers']`` (reference src/streams.ts:15,
    src/assignment-contexts/index.ts:37-40)."""
    if raw is None:
        return None
    try:
        items = list(raw)
    except TypeError:  # scalar NaN from a null cell in a non-object column
        return None
    return {h["key"]: h["value"] for h in items}


def _headers_out(headers) -> list[dict] | None:
    """Producer headers ({name: bytes|str} per NewMessage.headers, or an
    already Kafka-shaped sequence) -> Spark's sink column shape
    (array<struct<key string, value binary>>)."""
    if headers is None:
        return None
    if isinstance(headers, dict):
        return [{"key": str(k), "value": _to_bytes(v)} for k, v in headers.items()]
    return [{"key": str(h["key"]), "value": _to_bytes(h["value"])} for h in headers]


def _spark_hash_int(value: int) -> int:
    """Spark's ``hash()`` of an int column (Murmur3_x86_32.hashInt, seed
    42), the hash ``repartition(n, col)`` takes ``pmod(·, n)`` of."""
    m = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & m

    k = rotl(value * 0xCC9E2D51 & m, 15) * 0x1B873593 & m
    h = (rotl(42 ^ k, 13) * 5 + 0xE6546B64) & m ^ 4
    h = (h ^ h >> 16) * 0x85EBCA6B & m
    h = (h ^ h >> 13) * 0xC2B2AE35 & m
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


def _place(counts: dict, n_parts: int) -> dict:
    """Place log partitions (partition -> row count) on ``n_parts`` Spark
    tasks by LPT (Graham 1969): largest first, ties by partition id, each
    onto the least-loaded task, so every partition stays whole on one task.
    A task is named by the first int key whose Spark hash lands on it;
    returns partition -> that key, for ``repartition(n_parts, key)``."""
    tasks: dict[int, int] = {}
    k = 0
    while len(tasks) < min(n_parts, len(counts)):
        tasks.setdefault(_spark_hash_int(k) % n_parts, k)
        k += 1
    loads = [(0, key) for key in tasks.values()]  # ascending: already a heap
    placed = {}
    for p, n in sorted(counts.items(), key=lambda pn: (-pn[1], pn[0])):
        load, key = heapq.heappop(loads)
        placed[p] = key
        heapq.heappush(loads, (load + n, key))
    return placed


def run_task_batch(
    task,
    spark: SparkSession,
    df: DataFrame,
    *,
    topic: str,
    partition_col: str,
    offset_col: str,
    output_schema: str | None = None,
    num_partitions: int | None = None,
    value_col: str | None = None,
    key_col: str | None = None,
    timestamp_col: str | None = None,
    headers_col: str | None = None,
    emit: str = "results",
    starting_offsets: dict[int, int] | None = None,
) -> DataFrame:
    """Run ``task``'s processor chain for ``topic`` over ``df``.

    With ``value_col``/``key_col``/``timestamp_col`` set (the Kafka path),
    messages carry those columns verbatim — matching the local inject
    context's message shape (local.py _create_message: value/key bytes,
    real timestamp). Without them, ``value`` is the whole row as a dict —
    the convenience shape for DataFrame-native pipelines.

    ``headers_col`` names a Kafka-shaped headers column
    (array<struct<key,value>>, what the Kafka source emits with
    includeHeaders); processors receive it as the reference's
    ``message['headers']`` dict, and headers attached to ``context.send``
    messages flow out on the produced rows' ``headers`` column.

    ``starting_offsets`` maps partition -> first offset to process — the
    batch-replay equivalent of the reference's seek (src/streams.ts:80-97;
    local harness seek in local.py): partitions not listed replay from the
    beginning. The filter is built as a disjunction of per-partition
    simple comparisons (NOT a map lookup, which parquet can't push), so a
    replay-from-offset batch prunes at the scan instead of reading the
    full table and filtering after.

    The call itself runs one small action, the per-partition stats
    aggregate that places partitions on tasks; the returned frame is lazy.
    """
    if emit not in ("results", "produced"):
        raise ValueError(f"emit must be 'results' or 'produced', got {emit!r}")
    if emit == "results" and output_schema is None:
        raise ValueError("output_schema is required when emit='results'")
    source = next((s for s in task.sources if s.topic_name == topic), None)
    if source is None:
        raise ValueError(f"task has no source {topic!r}")
    processors = list(source.processors)
    group = task.group

    schema = _parse_datatype_string(PRODUCED_SCHEMA if emit == "produced" else output_schema)
    out_cols = [f.name for f in schema.fields]

    if starting_offsets:
        from functools import reduce
        from operator import or_

        seek = reduce(
            or_,
            (
                (F.col(partition_col) == p) & (F.col(offset_col) >= o)
                for p, o in starting_offsets.items()
            ),
        )
        # unlisted partitions replay from the beginning; null partitions
        # pass through to run_partition's loud guard (isin/negation would
        # silently drop them)
        df = df.where(
            seek
            | ~F.col(partition_col).isin(*starting_offsets)
            | F.col(partition_col).isNull()
        )

    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    # one stats row per log partition (bounded by Kafka semantics): counts
    # place partitions, maxima give high waters. It re-reads df's pruned
    # subtree; callers feeding an EXPENSIVE computed frame cut_lineage it
    # first — materializing a 100 TB batch to save this pass is the wrong trade
    stats = {
        r[0]: r for r in df.groupBy(partition_col).agg(
            F.max(offset_col).alias("high"), F.count(F.lit(1)).alias("n")
        ).collect() if r[0] is not None
    }
    keys = _place({p: r.n for p, r in stats.items()}, n_parts)
    # an Arrow table becomes a LocalRelation, so its broadcast never starts
    # a Python worker (a list of tuples would ride a pickled Python RDD)
    lookup = spark.createDataFrame(
        pa.table({partition_col: list(keys), "__slot": list(keys.values()),
                  "__high": [stats[p].high + 1 for p in keys]}),
        StructType([df.schema[partition_col],
                    *_parse_datatype_string("__slot int, __high bigint").fields]),
    )
    # LEFT join, deliberately: null partitions have no lookup row, so they
    # arrive with __high null and reach run_partition's loud guard instead
    # of being silently dropped by an inner join
    prepared = (
        df.join(F.broadcast(lookup), partition_col, "left")
        .repartition(n_parts, "__slot")
        .sortWithinPartitions(partition_col, offset_col)
        .drop("__slot")
    )

    def run_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Rows arrive (partition, offset)-sorted, so each group is
        # contiguous across the batch iterator; contexts persist across
        # batches to keep one chain per partition group.
        ctxs: dict[Any, tuple[BatchAssignmentContext, list]] = {}
        for pdf in batches:
            results: list[dict[str, Any]] = []
            for part_val, sub in pdf.groupby(partition_col, sort=True, dropna=False):
                if pd.isna(part_val):
                    raise ValueError(
                        f"null value in partition column {partition_col!r}; "
                        "partitions must be non-null ints (Kafka semantics)"
                    )
                if part_val not in ctxs:
                    high = int(sub["__high"].iloc[0])
                    ctx = BatchAssignmentContext(topic, int(part_val), group, high)
                    ctxs[part_val] = (ctx, build_processors(ctx, processors))
                ctx, fns = ctxs[part_val]
                records = sub.drop(columns=["__high"]).to_dict("records")
                for rec in records:
                    off = int(rec[offset_col])
                    # default timestamp mirrors the pre-kafka convention: a
                    # 'ts' column rides along as the message timestamp
                    ts = rec.get(timestamp_col) if timestamp_col else rec.get("ts", "")
                    message = {
                        "topic": topic,
                        "partition": ctx.partition,
                        "key": rec.get(key_col) if key_col else None,
                        "value": rec.get(value_col) if value_col else rec,
                        "headers": (
                            _headers_in(rec.get(headers_col)) if headers_col else None
                        ),
                        "offset": off,
                        "timestamp": str(ts if ts is not None else ""),
                        "high_water_offset": ctx._high_offset,
                    }
                    result, _ = process_message(message, fns, ctx)
                    if emit == "results" and not is_abandoned(result):
                        results.append(result)
            if results:
                yield pd.DataFrame(results, columns=out_cols)
            # drain sends per input batch (results mode discards them), so
            # they never accumulate for the whole partition in worker memory
            rows = []
            for ctx, _ in ctxs.values():
                if emit == "produced":
                    rows.extend(
                        {
                            "topic": m.get("topic", topic),
                            "partition": m.get("partition"),
                            "key": _to_bytes(m.get("key")),
                            "value": _to_bytes(m.get("value")),
                            "headers": _headers_out(m.get("headers")),
                        }
                        for m in ctx.produced
                    )
                ctx.produced.clear()
            if rows:
                yield pd.DataFrame(rows, columns=out_cols)

    return prepared.mapInPandas(run_partition, schema)


# --- queries() entry: the frolyk processor API compiled to Spark -----------

def task_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declare a frolyk-style task (source + chained processors with an
    ABANDON filter) and execute it distributed over the events table."""
    from frolyk_spark.sources.catalog import load_table
    from frolyk_spark.tasks.task import Task

    task = Task(group="pipeline-demo")
    events = task.source("events")

    def setup(assignment):
        def keep_commerce(message, context):
            value = message["value"]
            if value["event_type"] not in ("click", "purchase"):
                return context.abandon
            return value

        def enrich(value, context):
            # doubling a float is exact in IEEE-754, so the DuckDB oracle
            # (value * 2) matches bit-for-bit
            return {"event_id": value["event_id"], "doubled": value["value"] * 2.0}

        return [keep_commerce, enrich]

    task.processor(events, setup)

    df = load_table(spark, sf_dir, "events").withColumn(
        "part", F.pmod(F.col("user_id"), F.lit(16)).cast("int")
    )
    return task.run_batch(
        spark, df, topic="events", partition_col="part", offset_col="event_id",
        output_schema="event_id bigint, doubled double",
    )


TASK_PIPELINE_SQL = """
SELECT event_id, value * 2 AS doubled
FROM events
WHERE event_type IN ('click', 'purchase')
"""

QUERIES = {"task_pipeline": task_pipeline}
ORACLES = {"task_pipeline": TASK_PIPELINE_SQL}
