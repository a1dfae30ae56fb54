"""Distributed bridge (A13) behavior: ordering, parallelism knob, produced
messages, Kafka-shaped message mapping (SURVEY §2 A13; ADVICE r1 items)."""

from pyspark.sql import functions as F

from frolyk_spark.sources.catalog import load_table
from frolyk_spark.tasks.bridge import run_task_batch
from frolyk_spark.tasks.task import Task


def _events_with_part(spark, sf_dir, parts=8):
    return load_table(spark, sf_dir, "events").withColumn(
        "part", F.pmod(F.col("user_id"), F.lit(parts)).cast("int")
    )


def test_per_partition_order_preserved(spark, sf_dir):
    task = Task(group="order-check")
    src = task.source("events")

    def setup(assignment):
        def echo(message, context):
            return {"part": message["partition"], "offset": message["offset"]}

        return echo

    task.processor(src, setup)
    df = _events_with_part(spark, sf_dir)
    rows = run_task_batch(
        task, spark, df, topic="events", partition_col="part",
        offset_col="event_id", output_schema="part int, offset bigint",
    ).collect()
    # within each partition group, offsets must come back ascending —
    # collect() concatenates Spark partitions preserving row order
    seen = {}
    for r in rows:
        prev = seen.get(r.part, -1)
        assert r.offset > prev, f"out-of-order offset in part {r.part}"
        seen[r.part] = r.offset
    assert len(rows) == df.count()


def test_plan_one_exchange_on_partition_col(spark, sf_dir):
    """The plan shape behind the BASELINE r10 scaling curve: the bridge
    adds exactly ONE data-path exchange (per-partition order then costs
    only a within-partition sort). It is keyed on the slot key that places
    each log partition whole on one task, and the per-partition lookup
    reaches it as a BroadcastExchange — any second shuffle or a shuffled
    lookup join would break the 'chain cost scales with partitions' claim
    at 100 TB."""
    import re

    task = Task(group="plan-check")
    src = task.source("events")

    def setup(assignment):
        return lambda message, context: {"event_id": message["value"]["event_id"]}

    task.processor(src, setup)
    df = _events_with_part(spark, sf_dir)
    out = run_task_batch(
        task, spark, df, topic="events", partition_col="part",
        offset_col="event_id", output_schema="event_id bigint",
        num_partitions=8,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the ONE data-path shuffle: the explicit repartition (REPARTITION_BY_NUM)
    # on the slot key, sized by num_partitions; the stats aggregate that
    # places partitions ran at call time, so no other exchange remains
    assert plan.count("REPARTITION_BY_NUM") == 1, plan
    assert re.findall(r"Exchange hashpartitioning\((\w+)#\d+, (\d+)\)", plan) == [
        ("__slot", "8")
    ], plan
    # the lookup join must be broadcast, never a shuffled SortMergeJoin of
    # the full batch against a one-row-per-log-partition relation
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def _zipf_log(spark, n_parts=32, n_msgs=20_000):
    """A log of ``n_msgs`` messages over ``n_parts`` partitions with Zipf
    (s=1) sizes: partition k holds a share proportional to 1/(k+1), so the
    largest of 32 holds about a quarter of the messages."""
    import pandas as pd

    weights = [1.0 / (k + 1) for k in range(n_parts)]
    sizes = [max(1, round(n_msgs * w / sum(weights))) for w in weights]
    pdf = pd.DataFrame({
        "part": [p for p, n in enumerate(sizes) for _ in range(n)],
        "off": [o for n in sizes for o in range(n)],
    }).astype({"part": "int32", "off": "int64"})
    # shuffled rows: order must come from the bridge, not from the input
    return spark.createDataFrame(pdf.sample(frac=1.0, random_state=7), "part int, off bigint")


def _echo_task(group):
    task = Task(group=group)
    task.processor(task.source("log"), lambda a: (
        lambda message, context: {"part": message["partition"], "offset": message["offset"]}
    ))
    return task


def test_skewed_log_partitions_placed_by_size(spark):
    """Log partitions are placed on Spark tasks by counted size (LPT), not
    by hash of the partition value: on a 32-partition Zipf log over 4
    tasks, hash placement puts ~55% of the messages on one task; LPT keeps
    the largest task near the largest partition's ~25% share, while every
    log partition stays whole on one task, offset-ordered."""
    df = _zipf_log(spark)
    out = run_task_batch(
        _echo_task("balance-check"), spark, df, topic="log", partition_col="part",
        offset_col="off", output_schema="part int, offset bigint", num_partitions=4,
    )
    rows = out.withColumn("task", F.spark_partition_id()).collect()
    assert len(rows) == df.count()
    per_task: dict[int, int] = {}
    tasks_of: dict[int, set] = {}
    last: dict[int, int] = {}
    for r in rows:
        per_task[r.task] = per_task.get(r.task, 0) + 1
        tasks_of.setdefault(r.part, set()).add(r.task)
        assert r.offset > last.get(r.part, -1), f"out-of-order offset in part {r.part}"
        last[r.part] = r.offset
    assert max(per_task.values()) / len(rows) <= 0.30, per_task
    assert set(tasks_of) == set(range(32))
    assert all(len(t) == 1 for t in tasks_of.values()), tasks_of


def test_spark_hash_int_matches_spark_hash(spark):
    """The slot keys rely on a Python twin of Spark's int hash (the one
    ``repartition(n, col)`` takes pmod of) — negatives and the int32
    extremes included."""
    from pyspark.sql.types import IntegerType

    from frolyk_spark.tasks.bridge import _spark_hash_int

    values = list(range(-2_000, 2_000)) + [-(2**31), 2**31 - 1]
    df = spark.createDataFrame(values, IntegerType()).select(
        "value", F.hash("value").alias("h")
    )
    assert {r.value: r.h for r in df.collect()} == {v: _spark_hash_int(v) for v in values}


def test_empty_batch_keeps_declared_schema(spark):
    """A zero-row batch (the stats collect returns no rows, so the lookup
    is empty) yields an empty result with the declared schema in both
    emit modes."""
    from pyspark.sql.types import _parse_datatype_string

    from frolyk_spark.tasks.bridge import PRODUCED_SCHEMA

    df = _zipf_log(spark).limit(0)
    for emit, schema in (("results", "part int, offset bigint"), ("produced", PRODUCED_SCHEMA)):
        out = run_task_batch(
            _echo_task("empty-check"), spark, df, topic="log", partition_col="part",
            offset_col="off", output_schema=schema, emit=emit,
        )
        assert out.schema.simpleString() == _parse_datatype_string(schema).simpleString()
        assert out.collect() == []


def test_fewer_log_partitions_than_tasks(spark):
    """Three log partitions over eight Spark tasks: every message runs,
    each partition on one task, and num_partitions still sizes the
    shuffle."""
    df = _zipf_log(spark, n_parts=3, n_msgs=300)
    out = run_task_batch(
        _echo_task("few-parts"), spark, df, topic="log", partition_col="part",
        offset_col="off", output_schema="part int, offset bigint", num_partitions=8,
    )
    assert out.rdd.getNumPartitions() == 8
    rows = out.withColumn("task", F.spark_partition_id()).collect()
    assert sorted((r.part, r.offset) for r in rows) == sorted(
        (r.part, r.off) for r in df.collect()
    )
    assert len({(r.part, r.task) for r in rows}) == 3


def test_num_partitions_honored(spark, sf_dir):
    task = Task(group="np-check")
    src = task.source("events")

    def setup(assignment):
        return lambda message, context: {"event_id": message["value"]["event_id"]}

    task.processor(src, setup)
    df = _events_with_part(spark, sf_dir)
    out = run_task_batch(
        task, spark, df, topic="events", partition_col="part",
        offset_col="event_id", output_schema="event_id bigint",
        num_partitions=3,
    )
    assert out.rdd.getNumPartitions() == 3
    assert out.count() == df.count()


def test_produced_messages_surface(spark, sf_dir):
    """context.send output is a first-class result (emit='produced') —
    r1 ADVICE: sends were silently dropped."""
    task = Task(group="send-check")
    src = task.source("events")

    def setup(assignment):
        # send() lives on the assignment context (reference
        # assignment-contexts/index.ts), captured by the setup closure
        def fan_out(message, context):
            v = message["value"]
            if v["event_type"] == "purchase":
                assignment.send(
                    {"topic": "purchases", "key": str(v["user_id"]), "value": {"id": v["event_id"]}}
                )
            return v

        return fan_out

    task.processor(src, setup)
    df = _events_with_part(spark, sf_dir)
    produced = run_task_batch(
        task, spark, df, topic="events", partition_col="part",
        offset_col="event_id", emit="produced",
    )
    n_purchases = df.where(F.col("event_type") == "purchase").count()
    rows = produced.collect()
    assert len(rows) == n_purchases
    assert all(r.topic == "purchases" for r in rows)
    assert all(r.key is not None and r.value is not None for r in rows)


def test_kafka_shaped_message_mapping(spark, sf_dir):
    """value_col/key_col/timestamp_col map columns onto the message the way
    the local inject context builds them (value/key bytes, real ts)."""
    task = Task(group="kafka-shape")
    src = task.source("raw")

    def setup(assignment):
        def check(message, context):
            assert isinstance(message["value"], (bytes, bytearray))
            assert isinstance(message["key"], (bytes, bytearray))
            assert message["timestamp"] != ""
            return {
                "payload": message["value"].decode(),
                "key": message["key"].decode(),
                "ts": message["timestamp"],
            }

        return check

    task.processor(src, setup)
    data = spark.createDataFrame(
        [(0, i, f"k{i}".encode(), f"v{i}".encode(), f"2024-01-01 00:00:{i:02d}") for i in range(5)],
        "part int, offset bigint, key binary, value binary, timestamp string",
    )
    rows = run_task_batch(
        task, spark, data, topic="raw", partition_col="part", offset_col="offset",
        output_schema="payload string, key string, ts string",
        value_col="value", key_col="key", timestamp_col="timestamp",
    ).collect()
    assert {r.payload for r in rows} == {f"v{i}" for i in range(5)}
    assert all(r.ts.startswith("2024-01-01") for r in rows)


def test_output_schema_with_comma_types(spark, sf_dir):
    """DDL schemas containing commas inside types parse correctly
    (r1 ADVICE: naive split(',') broke decimal(10,2) / map types)."""
    task = Task(group="ddl-check")
    src = task.source("events")

    def setup(assignment):
        def to_decimalish(message, context):
            v = message["value"]
            return {"amount": None, "tags": {"t": int(v["event_id"])}}

        return to_decimalish

    task.processor(src, setup)
    df = _events_with_part(spark, sf_dir).limit(50)
    out = run_task_batch(
        task, spark, df, topic="events", partition_col="part",
        offset_col="event_id", output_schema="amount decimal(10,2), tags map<string,int>",
    )
    assert [f.name for f in out.schema.fields] == ["amount", "tags"]
    assert out.count() == 50


def test_starting_offsets_seek_equivalent(spark, sf_dir):
    """starting_offsets replays each partition from a chosen offset — the
    batch equivalent of the reference's seek (src/streams.ts:80-97)."""
    task = Task(group="seek-check")
    src = task.source("events")

    def setup(assignment):
        return lambda message, context: {
            "part": message["partition"], "offset": message["offset"],
        }

    task.processor(src, setup)
    df = _events_with_part(spark, sf_dir, parts=2)
    mid = df.where(F.col("part") == 0).agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    rows = run_task_batch(
        task, spark, df, topic="events", partition_col="part",
        offset_col="event_id", output_schema="part int, offset bigint",
        starting_offsets={0: int(mid)},
    ).collect()
    p0 = [r.offset for r in rows if r.part == 0]
    p1 = [r.offset for r in rows if r.part == 1]
    assert min(p0) >= int(mid), "partition 0 must start at the seek offset"
    full_p1 = df.where(F.col("part") == 1).count()
    assert len(p1) == full_p1, "unlisted partitions replay from the beginning"


def test_processor_error_propagates_distributed(spark, sf_dir):
    """A raising processor fails the job with its message surfaced — the
    distributed analog of the reference's rejected `processing` promise."""
    import pytest

    task = Task(group="err-check")
    src = task.source("events")

    def setup(assignment):
        def boom(message, context):
            raise RuntimeError("poison message rejected")

        return boom

    task.processor(src, setup)
    df = _events_with_part(spark, sf_dir).limit(10)
    out = run_task_batch(
        task, spark, df, topic="events", partition_col="part",
        offset_col="event_id", output_schema="event_id bigint",
    )
    with pytest.raises(Exception, match="poison message rejected"):
        out.collect()


def test_null_partition_fails_loudly_not_silently_dropped(spark, sf_dir):
    """r8 review regression: the highs join must be LEFT — an inner join
    silently dropped null-partition rows before the documented ValueError
    guard could ever fire."""
    import pytest

    task = Task(group="null-part")
    src = task.source("events")
    task.processor(src, lambda a: (
        lambda message, context: {"event_id": message["value"]["event_id"]}
    ))
    df = _events_with_part(spark, sf_dir).withColumn(
        "part",
        F.when(F.col("event_id") == 7, F.lit(None).cast("int")).otherwise(
            F.col("part")
        ),
    )
    out = run_task_batch(
        task, spark, df, topic="events", partition_col="part",
        offset_col="event_id", output_schema="event_id bigint",
    )
    with pytest.raises(Exception, match="null value in partition column"):
        out.collect()


def test_starting_offsets_predicate_pushes_to_scan(spark, sf_dir):
    """r8 review regression: the seek filter must be a disjunction of
    simple comparisons that reaches the parquet scan's PushedFilters, not
    a post-scan map lookup that parquet can never push. The partition
    column must be PHYSICAL for any of it to push (a Kafka topic's
    partition column is) — a computed pmod column blocks its own
    conjuncts regardless of filter form."""
    import os
    import tempfile

    from frolyk_spark.plans import plan_report

    task = Task(group="seek-push")
    src = task.source("events")
    task.processor(src, lambda a: (
        lambda message, context: {"event_id": message["value"]["event_id"]}
    ))
    tmp = tempfile.mkdtemp(prefix="bridge_seek_")
    path = os.path.join(tmp, "events_part.parquet")
    _events_with_part(spark, sf_dir).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    out = run_task_batch(
        task, spark, df, topic="events", partition_col="part",
        offset_col="event_id", output_schema="event_id bigint",
        starting_offsets={0: 50_000, 1: 50_000, 2: 50_000, 3: 50_000,
                          4: 50_000, 5: 50_000, 6: 50_000, 7: 50_000},
    )
    pushed = " ".join(plan_report(out)["pushed_filters"])
    assert "event_id" in pushed, f"seek predicate not pushed: {pushed!r}"
    # every partition is seeked to 50k, so the scan must not return the
    # sub-50k half of the table
    assert out.count() == df.where(F.col("event_id") >= 50_000).count()


def test_headers_roundtrip_distributed(spark, sf_dir):
    """Message headers parity (r8 verdict Missing #2): a Kafka-shaped
    headers column (array<struct<key,value>>) reaches processors as the
    reference's headers dict (NewMessage.headers, index.ts:37-40), and
    headers attached to context.send ride out on the produced rows'
    headers column in Spark's native sink shape."""
    task = Task(group="headers-check")
    src = task.source("raw")

    def setup(assignment):
        def route(message, context):
            hdrs = message["headers"]
            assert isinstance(hdrs, dict), f"expected dict, got {type(hdrs)}"
            # route on a header, the reference pattern this parity exists for
            if hdrs.get("kind") == b"keep":
                assignment.send(
                    {
                        "topic": "kept",
                        "key": message["key"],
                        "value": message["value"],
                        "headers": {"origin": hdrs["origin"], "hop": "bridge"},
                    }
                )
            return context.abandon

        return route

    task.processor(src, setup)
    rows = [
        (0, i, f"k{i}".encode(), f"v{i}".encode(),
         [("kind", b"keep" if i % 2 == 0 else b"drop"), ("origin", f"p{i}".encode())],
         "2024-01-01 00:00:00")
        for i in range(6)
    ]
    data = spark.createDataFrame(
        rows,
        "part int, offset bigint, key binary, value binary, "
        "headers array<struct<key:string,value:binary>>, timestamp string",
    )
    produced = run_task_batch(
        task, spark, data, topic="raw", partition_col="part", offset_col="offset",
        value_col="value", key_col="key", timestamp_col="timestamp",
        headers_col="headers", emit="produced",
    ).collect()
    assert len(produced) == 3  # even offsets only
    for r in produced:
        got = {h.key: bytes(h.value) for h in r.headers}
        assert got["hop"] == b"bridge"
        assert got["origin"].startswith(b"p")
    # rows without a headers_col still work: headers is None on the message
    task2 = Task(group="headers-none")
    src2 = task2.source("raw")
    task2.processor(src2, lambda a: (
        lambda message, context: {"has_headers": message["headers"] is not None}
    ))
    out = run_task_batch(
        task2, spark, data.drop("headers"), topic="raw", partition_col="part",
        offset_col="offset", output_schema="has_headers boolean",
    ).collect()
    assert all(not r.has_headers for r in out)
