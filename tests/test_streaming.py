"""Streaming lifecycle semantics (SURVEY §2 A14, B4, B5, B7).

Mirrors the reference's lifecycle coverage (src/task.ts:107-255 start/stop/
restart with committed-offset recovery, tested in test/tests/task.ts): here
the commit log is the Structured Streaming checkpoint, and recovery is
restart-from-checkpoint with no loss and no reprocessing.
"""

import os
import shutil
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "teststreams")


@pytest.fixture()
def workdir():
    d = os.path.join(SCRATCH, uuid.uuid4().hex[:8])
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _write_batch(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(path)


def _crash_runs(monkeypatch, batch, *, after):
    """Make every jobs.run_batches run raise at ``batch``: before its body
    runs, or ``after`` it (the window between the body and the offset
    commit) — the crash a resumable run must survive."""
    from frolyk_spark.streaming import jobs

    real = jobs.run_batches

    def crashing_runs(stream, apply, **kw):
        def crashing(batch_df, batch_id):
            if batch_id >= batch and not after:
                raise RuntimeError(f"injected crash before batch {batch_id}")
            apply(batch_df, batch_id)
            if batch_id >= batch and after:
                raise RuntimeError(f"injected crash after batch {batch_id}")

        real(stream, crashing, **kw)

    monkeypatch.setattr(jobs, "run_batches", crashing_runs)


def _record_batches(monkeypatch, probe=lambda batch_df: None):
    """Record every jobs.run_batches micro-batch as ``(batch_id,
    probe(batch_df))``, probed after the body ran. For a complete-mode
    aggregation the batch frame is the whole state after that batch."""
    from frolyk_spark.streaming import jobs

    real = jobs.run_batches
    seen = []

    def recording_runs(stream, apply, **kw):
        def recording(batch_df, batch_id):
            apply(batch_df, batch_id)
            seen.append((batch_id, probe(batch_df)))

        real(stream, recording, **kw)

    monkeypatch.setattr(jobs, "run_batches", recording_runs)
    return seen


def _run_foreach(spark, in_dir, ckpt, schema, max_files=None):
    """One availableNow run collecting every micro-batch's rows."""
    stream = spark.readStream.schema(schema)
    if max_files:
        stream = stream.option("maxFilesPerTrigger", str(max_files))
    stream = stream.parquet(in_dir)
    collected: list = []
    batches: list = []

    def sink(df, epoch_id):
        rows = df.collect()
        batches.append((epoch_id, len(rows)))
        collected.extend(rows)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return collected, batches


# --- A14 + B7: stop / restart with committed-offset recovery ----------------

def test_checkpoint_restart_no_loss_no_dupes(spark, workdir):
    in_dir = os.path.join(workdir, "in")
    ckpt = os.path.join(workdir, "ckpt")
    schema = "id bigint"

    for lo in range(0, 50, 10):
        _write_batch(spark, in_dir, [(i,) for i in range(lo, lo + 10)], schema)
    got1, batches1 = _run_foreach(spark, in_dir, ckpt, schema, max_files=2)
    assert sorted(r.id for r in got1) == list(range(50))
    assert len(batches1) > 1, "maxFilesPerTrigger should split into micro-batches"

    # "crash" between runs: new data arrives while the query is down
    _write_batch(spark, in_dir, [(i,) for i in range(50, 80)], schema)
    got2, _ = _run_foreach(spark, in_dir, ckpt, schema)
    # restart resumes from committed offsets: nothing lost, nothing replayed
    assert sorted(r.id for r in got2) == list(range(50, 80))


# --- B4: watermark drops late data ------------------------------------------

def test_watermark_drops_late_rows(spark, workdir):
    in_dir = os.path.join(workdir, "in")
    ckpt = os.path.join(workdir, "ckpt")
    schema = "ts timestamp, user bigint"

    def t(s):
        import datetime

        return datetime.datetime.fromisoformat(s)

    _write_batch(
        spark,
        in_dir,
        [(t("2024-01-01 10:00:00"), 1), (t("2024-01-01 10:20:00"), 2),
         (t("2024-01-01 10:40:00"), 3), (t("2024-01-01 12:30:00"), 4)],
        schema,
    )

    def run(name):
        agg = (
            spark.readStream.schema(schema).parquet(in_dir)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.date_format("w.start", "HH:mm").alias("start"), "n")
        )
        emitted: dict = {}

        def sink(df, epoch_id):
            emitted.update({r.start: r.n for r in df.collect()})

        q = (
            agg.writeStream.foreachBatch(sink).outputMode("append")
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return emitted

    out1 = run("wm_" + uuid.uuid4().hex[:6])
    # watermark after run 1 = 12:30 - 1h = 11:30 -> the 10:00 window closed
    assert out1 == {"10:00": 3}

    # while down: one late row (10:30 < watermark) and one fresh row
    _write_batch(
        spark, in_dir,
        [(t("2024-01-01 10:30:00"), 9), (t("2024-01-01 14:00:00"), 5)],
        schema,
    )
    out2 = run("wm_" + uuid.uuid4().hex[:6])
    # late row dropped: the closed 10:00 window is NOT re-emitted/updated;
    # watermark advances to 13:00 closing the 12:00 window
    assert out2 == {"12:00": 1}


# --- B5: custom stateful operator (applyInPandasWithState) ------------------

def test_stateful_counter_survives_restart(spark, workdir):
    from pyspark.sql.streaming.state import GroupStateTimeout

    in_dir = os.path.join(workdir, "in")
    ckpt = os.path.join(workdir, "ckpt")
    schema = "user bigint, v double"

    def counter(key, pdfs, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user": [key[0]], "n": [total]})

    def run(name):
        out = (
            spark.readStream.schema(schema).parquet(in_dir)
            .groupBy("user")
            .applyInPandasWithState(
                counter, "user bigint, n bigint", "n bigint",
                "update", GroupStateTimeout.NoTimeout,
            )
        )
        emitted: dict = {}

        def sink(df, epoch_id):
            emitted.update({r.user: r.n for r in df.collect()})

        q = (
            out.writeStream.foreachBatch(sink).outputMode("update")
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return emitted

    _write_batch(spark, in_dir, [(u, 1.0) for u in [1, 1, 1, 2, 2, 3]], schema)
    out1 = run("st_" + uuid.uuid4().hex[:6])
    assert out1 == {1: 3, 2: 2, 3: 1}

    # restart with more data: per-user state recovered from the checkpoint
    _write_batch(spark, in_dir, [(u, 1.0) for u in [1, 3, 3, 4]], schema)
    out2 = run("st_" + uuid.uuid4().hex[:6])
    assert out2 == {1: 4, 3: 3, 4: 1}


# --- B6 scale path: dropDuplicatesWithinWatermark + RocksDB state store -----

def test_dedup_within_watermark_evicts_state_rocksdb(spark, workdir):
    """The 100 TB streaming-dedup posture: RocksDB-backed state (keys on
    local disk, not executor heap) and dropDuplicatesWithinWatermark, whose
    state for a key is evicted once the watermark passes event_ts + delay —
    so a key recurring later than the delay re-emits (bounded state), while
    a duplicate inside the delay is dropped."""
    import datetime
    import glob

    from frolyk_spark.session import ROCKSDB_PROVIDER, enable_rocksdb_state_store

    in_dir = os.path.join(workdir, "in")
    ckpt = os.path.join(workdir, "ckpt")
    schema = "ts timestamp, user bigint"

    def t(s):
        return datetime.datetime.fromisoformat(s)

    def run():
        dedup = (
            spark.readStream.schema(schema).parquet(in_dir)
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["user"])
        )
        emitted: list = []

        def sink(df, epoch_id):
            emitted.extend((r.user, r.ts) for r in df.collect())

        q = (
            dedup.writeStream.foreachBatch(sink).outputMode("append")
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return emitted

    prev = enable_rocksdb_state_store(spark)
    try:
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ROCKSDB_PROVIDER
        )
        # batch 1: dup of user 1 inside the delay is dropped; user 9's row
        # drags the watermark to 11:30, past user 1's expiry (10:00 + 1h)
        _write_batch(
            spark, in_dir,
            [(t("2024-01-01 10:00:00"), 1), (t("2024-01-01 10:10:00"), 1),
             (t("2024-01-01 12:30:00"), 9)],
            schema,
        )
        out1 = run()
        assert sorted(u for u, _ in out1) == [1, 9]

        # batch 2: user 1 recurs AFTER the delay -> state was evicted ->
        # re-emitted once (its in-delay dup still dropped); user 9 is still
        # in state (expires 13:30) -> dropped
        _write_batch(
            spark, in_dir,
            [(t("2024-01-01 13:00:00"), 1), (t("2024-01-01 13:10:00"), 1),
             (t("2024-01-01 13:00:00"), 9)],
            schema,
        )
        out2 = run()
        assert [(u, ts.hour) for u, ts in out2] == [(1, 13)]

        # the state store on disk really is RocksDB: changelog/zip artifacts
        # under the checkpoint's state dir, not HDFS-provider .delta files
        state_files = glob.glob(os.path.join(ckpt, "state", "**", "*"), recursive=True)
        assert any(f.endswith((".changelog", ".zip")) for f in state_files)
        assert not any(f.endswith(".delta") for f in state_files)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


# --- B3 streaming side: session windows stream == batch ---------------------

def test_streaming_session_window_matches_batch(spark, sf_dir):
    from frolyk_spark.streaming.jobs import (
        SESSION_GAP, TS_US_FMT_SPARK, events_stream, run_available_now, sessionize,
    )

    streamed = run_available_now(
        events_stream(spark, sf_dir)
        .groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", TS_US_FMT_SPARK).alias("session_start"),
            F.date_format("sw.end", TS_US_FMT_SPARK).alias("session_end"),
            "n_events",
        ),
        mode="complete",
        prefix="sess",
    )
    batch = sessionize(spark, sf_dir).drop("sum_value")
    s_rows = {tuple(r) for r in streamed.collect()}
    b_rows = {tuple(r) for r in batch.collect()}
    assert s_rows == b_rows and len(s_rows) > 0


# --- end-to-end streaming corpus ingest (LLM-pipeline x streaming) ----------

def test_streaming_corpus_ingest_matches_batch(spark, sf_dir, workdir):
    """The production ingest shape: documents arrive as a file stream, each
    micro-batch runs the corpus filter (quality + language + exact-dedup
    keep-first) via the frame-level operator, survivors append to parquet
    under a checkpoint. availableNow over the staged single file = one
    batch, so the sink must equal the batch corpus_filter exactly."""
    from frolyk_spark.operators.text import corpus_filter, corpus_filter_frame
    from frolyk_spark.sources.streams import stage_stream_dir

    in_dir = stage_stream_dir(sf_dir, "documents")
    out_dir = os.path.join(workdir, "clean")
    ckpt = os.path.join(workdir, "ckpt")
    schema = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).schema

    def sink(batch_df, epoch_id):
        corpus_filter_frame(batch_df).write.mode("append").parquet(out_dir)

    q = (
        spark.readStream.schema(schema).parquet(in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {tuple(r) for r in spark.read.parquet(out_dir).collect()}
    want = {tuple(r) for r in corpus_filter(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


# --- B13: streaming CDC upsert sink (foreachBatch -> merge_upsert) ----------


def test_streaming_cdc_upsert_sink(spark, workdir):
    """merge_upsert as a foreachBatch body: a change stream upserts into a
    partitioned parquet table; per-key latest value wins within the run,
    siblings untouched, and a full restart-and-replay of the stream (new
    checkpoint, same input) converges to the same table — the idempotent
    at-least-once CDC sink story."""
    from frolyk_spark.sources.catalog import merge_upsert, write_partitioned

    schema = "event_id bigint, user_id bigint, event_type string, value double"
    base = spark.createDataFrame(
        [(i, i, "click" if i % 2 else "view", float(i)) for i in range(10)],
        schema,
    )
    table = os.path.join(workdir, "table")
    write_partitioned(base, table, ["event_type"])

    in_dir = os.path.join(workdir, "in")
    # two files -> with maxFilesPerTrigger=1, two micro-batches
    _write_batch(spark, in_dir, [(0, 100, "view", 0.5), (20, 20, "click", 2.0)], schema)
    _write_batch(spark, in_dir, [(0, 200, "view", 0.7), (21, 21, "view", 3.0)], schema)

    def run(name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _eid: df.count() and merge_upsert(
                    df, table, key="event_id", partition_col="event_type"
                )
            )
            .option("checkpointLocation", os.path.join(workdir, name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r.event_id: (r.user_id, r.event_type)
            for r in spark.read.parquet(table).collect()
        }

    got = run("ckpt1")
    assert len(got) == 12, "10 base keys + 2 inserts"
    assert got[0][0] == 200, "second batch's update must win (batch order)"
    assert got[20] == (20, "click") and got[21] == (21, "view")
    assert got[1] == (1, "click"), "untouched key intact"

    # replay everything against the merged table: same end state
    assert run("ckpt2") == got


def test_stream_quarantine_side_sink_partitions_input(spark, sf_dir):
    """B16 expectations routing: the quarantine side-sink (written inside
    foreachBatch via the batch_hook seam) must hold exactly the rows the
    verdict column flags, and clean + quarantined must partition the
    source with no row lost or duplicated."""
    import os

    from frolyk_spark.sources.catalog import load_table
    from frolyk_spark.streaming.jobs import _stream_quarantine_run

    rows, qdir = _stream_quarantine_run(spark, sf_dir)
    n_src = load_table(spark, sf_dir, "events").count()
    routed = rows.select("event_id", "quarantined").collect()
    assert len(routed) == n_src
    assert len({r.event_id for r in routed}) == n_src, "no dup/lost rows"
    flagged = {r.event_id for r in routed if r.quarantined == 1}
    assert flagged, "expectations must actually fire on this data"
    batch_dirs = [os.path.join(qdir, d) for d in os.listdir(qdir)]
    quarantined = {
        r.event_id for r in spark.read.parquet(*batch_dirs).collect()
    }
    assert quarantined == flagged


def test_quarantine_flag_rejects_malformed_props_both_engines(spark):
    """B16 guard: non-integer k, malformed JSON, missing props, and
    over-limit values must all QUARANTINE — identically in Spark and in
    the oracle's guard CTE (a bare cast would crash Spark's ANSI mode on
    '1.5'/'abc' and silently ROUND in DuckDB: '1.5' -> 2 -> clean)."""
    import duckdb

    from frolyk_spark.streaming.jobs import _quarantine_flag

    rows = [
        (1, 10.0, '{"k": 5}'),      # clean
        (2, 10.0, '{"k": 95}'),     # k over limit
        (3, 300.0, '{"k": 5}'),     # value over limit
        (4, 10.0, '{"k": "abc"}'),  # non-numeric k
        (5, 10.0, '{"k": 1.5}'),    # non-integer k (the DuckDB round trap)
        (6, 10.0, "not json"),      # malformed props
        (7, 10.0, None),            # missing props
        (8, 10.0, "{}"),            # no k key
        (9, 10.0, '{"k": 99999999999}'),  # 11-digit int: would crash int32 cast
        (10, 10.0, '{"k": 9999999999}'),  # 10 digits, > 2^31-1: range guard
    ]
    df = spark.createDataFrame(rows, "event_id bigint, value double, props string")
    got = {
        r.event_id: r.q
        for r in df.select("event_id", _quarantine_flag().alias("q")).collect()
    }
    expected = {1: 0, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 1, 8: 1, 9: 1, 10: 1}
    assert got == expected

    con = duckdb.connect()
    vals = ", ".join(
        f"({i}, {v}, " + ("NULL" if p is None else "'" + p.replace("'", "''") + "'") + ")"
        for i, v, p in rows
    )
    duck = dict(
        con.sql(
            f"""
            WITH events(event_id, value, props) AS (VALUES {vals}),
            g AS (
              SELECT event_id, value,
                     -- keep in sync with STREAM_QUARANTINE_SQL's guard:
                     -- digit cap + BIGINT range before the int32 cast
                     CASE WHEN raw IS NOT NULL
                            AND regexp_matches(raw, '^-?[0-9]{{1,10}}$')
                            AND CAST(raw AS BIGINT)
                                BETWEEN -2147483648 AND 2147483647
                          THEN CAST(raw AS INT) END AS k_val
              FROM (
                SELECT event_id, value,
                       CASE WHEN json_valid(props)
                            THEN json_extract_string(props, 'k') END AS raw
                FROM events
              )
            )
            SELECT event_id,
                   CASE WHEN coalesce(value <= 250.0 AND k_val <= 90, false)
                        THEN 0 ELSE 1 END
            FROM g
            """
        ).fetchall()
    )
    assert duck == expected


# --- B16 posture: the quarantine batch is cached exactly once ----------------

def test_quarantine_batch_cached_exactly_once(spark, sf_dir, monkeypatch):
    """VERDICT r7 #6: two sinks consume each quarantine micro-batch (the
    side-sink hook and the result write). The foreachBatch harness caches
    the batch ONCE for both; the hook must not persist it again (double
    cache = double memory per batch at scale) and neither sink may trigger
    an uncached recompute of the micro-batch source."""
    # Spark 4 defines persist on the *classic* DataFrame subclass, not the
    # shared pyspark.sql.DataFrame base — patch where the method lives
    from pyspark.sql.classic.dataframe import DataFrame

    from frolyk_spark.streaming.jobs import _stream_quarantine_run

    calls = {"persist": 0, "unpersist": 0}
    orig_p, orig_u = DataFrame.persist, DataFrame.unpersist

    def counting_persist(self, *a, **k):
        calls["persist"] += 1
        return orig_p(self, *a, **k)

    def counting_unpersist(self, *a, **k):
        calls["unpersist"] += 1
        return orig_u(self, *a, **k)

    monkeypatch.setattr(DataFrame, "persist", counting_persist)
    monkeypatch.setattr(DataFrame, "unpersist", counting_unpersist)

    rows, qdir = _stream_quarantine_run(spark, sf_dir)
    n = rows.count()
    assert n > 0
    # availableNow over the single staged file = one micro-batch: exactly
    # one persist (the harness's), released exactly once
    assert calls == {"persist": 1, "unpersist": 1}
    # and the side-sink actually fired under that single cache
    q = spark.read.parquet(os.path.join(qdir, "b0"))
    assert q.count() > 0
    assert q.where(F.col("quarantined") != 1).count() == 0


# --- B14 posture: stream_topk under the RocksDB state store ------------------

def test_stream_topk_rocksdb_matches_default(spark, sf_dir):
    """VERDICT r7 #6: the leaderboard state must be provider-agnostic —
    the same ranked board whether (window, user) counts live in the
    default HDFS-backed store or RocksDB (the 100 TB posture: state on
    local disk, not executor heap)."""
    from frolyk_spark.session import ROCKSDB_PROVIDER, enable_rocksdb_state_store
    from frolyk_spark.streaming.jobs import stream_topk

    base = [tuple(r) for r in stream_topk(spark, sf_dir).collect()]
    assert base, "expected a non-empty leaderboard"
    prev = enable_rocksdb_state_store(spark)
    try:
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ROCKSDB_PROVIDER
        )
        got = [tuple(r) for r in stream_topk(spark, sf_dir).collect()]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    assert got == base


# --- B17: streaming incremental dedup == one-shot batch probe ----------------

def test_stream_dedup_incremental_multibatch_equals_batch(spark, sf_dir):
    """B17 must (a) actually ingest over MULTIPLE micro-batches (the
    staged drop is 4 files at maxFilesPerTrigger=1 — a single-batch run
    would not test the accumulate-and-probe path) and (b) produce exactly
    the pair set of D28's one-shot batch-vs-corpus probe, independent of
    batching."""
    from frolyk_spark.operators.dedup import dedup_incremental
    from frolyk_spark.streaming.jobs import stream_dedup_incremental

    got_df = stream_dedup_incremental(spark, sf_dir)
    got = {(r.doc_a, r.doc_b) for r in got_df.collect()}
    want = {(r.doc_a, r.doc_b) for r in dedup_incremental(spark, sf_dir).collect()}
    assert want, "test data should produce incremental candidates"
    assert got == want
    # the run really was multi-batch: the per-batch fused sinks remain
    # (layout: batches/b{id}/side=pairs/part-*.parquet since r13)
    src = got_df.inputFiles()[0].removeprefix("file://")
    root = os.path.dirname(os.path.dirname(os.path.dirname(src)))
    batches = [d for d in os.listdir(root) if d.startswith("b")]
    assert len(batches) >= 2, f"expected multi-batch ingest, got {batches}"


def test_stream_dedup_incremental_crash_resume(spark, sf_dir, monkeypatch):
    """B17 recovery contract: crash mid-ingest (injected before batch 2 of
    4), resume under the same checkpoint identity, and the final pair set
    must equal the uninterrupted one-shot probe — the committed batches
    are not reprocessed-with-duplication and the uncommitted tail is not
    lost."""
    import uuid as _uuid

    from frolyk_spark.operators.dedup import dedup_incremental
    from frolyk_spark.sources import streams
    from frolyk_spark.streaming.jobs import stream_dedup_incremental

    name = f"sdi_resume_{_uuid.uuid4().hex[:8]}"
    # named resumable checkpoints live under named/ with an owner-pid
    # liveness file (see jobs._checkpoint_dir) so the janitor never
    # reclaims a live run and a post-crash rerun can find it cross-process
    ckpt = os.path.join(streams.SCRATCH, "checkpoints", "named", name)
    with monkeypatch.context() as m, pytest.raises(Exception, match="injected crash"):
        _crash_runs(m, 2, after=False)
        stream_dedup_incremental(spark, sf_dir, _name=name)
    # the named run must have kept its checkpoint (that's what resuming is)
    # and its owner liveness file
    assert os.path.isdir(ckpt), "checkpoint must survive the crash"
    assert os.path.exists(f"{ckpt}.owner_pid")
    got_df = stream_dedup_incremental(spark, sf_dir, _name=name)
    got = {(r.doc_a, r.doc_b) for r in got_df.collect()}
    want = {(r.doc_a, r.doc_b) for r in dedup_incremental(spark, sf_dir).collect()}
    assert want and got == want
    # success cleans the checkpoint and its owner file; the fused sinks
    # show all 4 batches ran
    assert not os.path.isdir(ckpt)
    assert not os.path.exists(f"{ckpt}.owner_pid")
    src = got_df.inputFiles()[0].removeprefix("file://")
    root = os.path.dirname(os.path.dirname(os.path.dirname(src)))
    assert len([d for d in os.listdir(root) if d.startswith("b")]) == 4


# --- B18: outer join null emission + late-row drop ---------------------------

def test_stream_outer_join_watermark_and_late_rows(spark, tmp_path):
    """B18's watermark contract on a controlled two-batch ingest. Pins the
    three behaviors the oracle arithmetic depends on:

    - an unmatched row whose join window is safely below the final
      watermark emits exactly one null row;
    - an unmatched row whose window end is NOT below the watermark is held
      in state and never emitted (no false nulls at the stream tail);
    - a LATE left row (behind the watermark on arrival) is best-effort in
      stream-stream joins (Spark's documented caveat): on this build it
      joins against remaining state and — matching right state being
      already evicted — emits its null immediately in its arrival batch.
      The driver-gate run stages events as ONE file = ONE batch, so no row
      is ever late there and the batch oracle is exact by construction."""
    import os

    from pyspark.sql import functions as F

    from frolyk_spark.streaming.jobs import run_available_now

    ld, rd = str(tmp_path / "l"), str(tmp_path / "r")
    # batch file order is by modification time per file; write left as two
    # files consumed with maxFilesPerTrigger=1
    l1 = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00"),     # unmatched, far below final wm -> null row
         (99, "2024-01-01 06:00:00")],   # clock: advances left wm to 05:50
        "k int, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("lts"))
    l2 = spark.createDataFrame(
        [(2, "2024-01-01 01:00:00")],    # LATE: behind the 05:50 watermark
        "k int, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("lts"))
    l1.coalesce(1).write.mode("append").parquet(ld)
    import time as _t
    _t.sleep(1.1)  # file-source ordering is mtime-based
    l2.coalesce(1).write.mode("append").parquet(ld)
    spark.createDataFrame(
        [(9999, "2024-01-01 06:00:00")], "k int, ts_s string"
    ).select(F.col("k").alias("rk"), F.col("ts_s").cast("timestamp").alias("rts")) \
     .write.parquet(rd)

    schema_l = spark.read.parquet(ld).schema
    schema_r = spark.read.parquet(rd).schema
    ls = (
        spark.readStream.schema(schema_l).option("maxFilesPerTrigger", "1")
        .parquet(ld).withWatermark("lts", "10 minutes")
    )
    rs = spark.readStream.schema(schema_r).parquet(rd).withWatermark("rts", "10 minutes")
    j = ls.join(
        rs,
        (F.col("k") == F.col("rk"))
        & (F.col("rts") >= F.col("lts"))
        & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 5 MINUTES")),
        "leftOuter",
    )
    got = run_available_now(j, mode="append", prefix="sojlate")
    rows = sorted((r.k, r.rk) for r in got.collect())
    assert (1, None) in rows, "old unmatched row must emit its null"
    # late row: processed best-effort, resolves to an immediate null
    # (its matching right-state horizon is already evicted) — exactly once
    assert rows.count((2, None)) == 1
    # k=99 unmatched but its window end (06:05) is above the final
    # watermark (05:50) -> held in state, never emitted
    assert all(k != 99 for k, _ in rows)
    assert rows == [(1, None), (2, None)]


# --- B19: CDC changelog apply = batch aggregate, multi-batch, idempotent -----

def test_stream_cdc_apply_multibatch_equals_batch(spark, sf_dir):
    """B19 must (a) really ingest over multiple micro-batches (4-file drop
    at maxFilesPerTrigger=1 -> >= 2 state versions) and (b) land on exactly
    the batch aggregate's final state regardless of batching; (c) a
    re-applied batch (redelivery simulation: recompute version b from its
    predecessor) reproduces the identical state version."""
    from frolyk_spark.sources.catalog import load_table
    from frolyk_spark.streaming.jobs import stream_cdc_apply

    got_df = stream_cdc_apply(spark, sf_dir)
    got = {
        (r.user_id, r.n_events, r.last_ts_us, r.last_type, r.last_value)
        for r in got_df.collect()
    }
    ev = load_table(spark, sf_dir, "events")
    # deliberately an INDEPENDENT spelling of the ordered key (not the
    # shared ordered_event_key helper): if the helper's shape ever drifts,
    # this expected-value computation diverges and fails loudly
    k = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
    )
    want = {
        (r.user_id, r.n_events, r.last_ts_us, r.last_type, r.last_value)
        for r in ev.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max_by(F.unix_micros("ts"), k).alias("last_ts_us"),
            F.max_by("event_type", k).alias("last_type"),
            F.max_by("value", k).alias("last_value"),
        ).collect()
    }
    assert want and got == want
    # multi-batch: the versioned state sinks remain
    src = got_df.inputFiles()[0].removeprefix("file://")
    root = os.path.dirname(os.path.dirname(src))
    versions = sorted(
        int(d[1:]) for d in os.listdir(root)
        if d.startswith("s") and d[1:].isdigit()
    )
    assert len(versions) >= 2, f"expected multi-batch ingest, got {versions}"

    # (c) the version filter picks each batch's true predecessor on the
    # run's own persisted versions — never itself, never a successor
    from frolyk_spark.streaming.jobs import VersionedState

    state = VersionedState(spark, root)
    assert state.versions() == versions
    assert state.prior(versions[0]) is None
    for prev, cur in zip(versions, versions[1:]):
        assert state.prior(cur) == prev, (prev, cur)


def test_versioned_state_owns_the_side_layout(spark, tmp_path):
    """VersionedState's store surface on a synthetic store: named sides
    written in one job read back with their own columns (a column only
    another side has reads as a typed null), a side present in only some
    versions, prior strictly below the batch id, a redelivered id
    overwriting its version, the named empty schema on an empty store,
    and keep >= 2 retention."""
    from frolyk_spark.streaming.jobs import VersionedState

    st = VersionedState(spark, str(tmp_path / "rows"), prefix="b")
    # empty store: the caller's schema, or None for a branching body
    empty = st.read_side("pairs", "doc_a bigint, doc_b bigint")
    assert empty.dtypes == [("doc_a", "bigint"), ("doc_b", "bigint")]
    assert empty.count() == 0
    assert st.read_latest() is None and st.read_prior(0, side="codes") is None
    assert st.read_prior(0, "doc_id bigint").columns == ["doc_id"]

    # disjoint (doc_a, doc_b / doc_id) and shared (score) columns
    pairs = spark.createDataFrame([(1, 2, 7)], "doc_a bigint, doc_b bigint, score int")
    codes = spark.createDataFrame([(1, 3), (2, 4)], "doc_id bigint, score int")
    st.write(0, pairs=pairs, codes=codes)
    st.write(1, codes=spark.createDataFrame([(5, 6)], "doc_id bigint, score int"))
    raw = st.read(0, side="pairs")
    assert dict(raw.dtypes) == {
        "doc_a": "bigint", "doc_b": "bigint", "score": "int", "doc_id": "bigint",
    }
    assert [tuple(r) for r in raw.select("doc_a", "doc_b", "score", "doc_id").collect()] == [
        (1, 2, 7, None)
    ]
    assert sorted(
        tuple(r) for r in st.read(0, side="codes")
        .select("doc_a", "doc_b", "score", "doc_id").collect()
    ) == [(None, None, 3, 1), (None, None, 4, 2)]
    assert st.read(0, "doc_id bigint, score int", side="codes").columns == ["doc_id", "score"]

    # a side present in only some versions
    assert st.versions(side="pairs") == [0] and st.versions(side="codes") == [0, 1]
    assert st.versions(sealed=True) == [0, 1]
    assert st.read_side("pairs", "doc_a bigint, doc_b bigint").count() == 1
    assert sorted(r.doc_id for r in st.read_side("codes", "doc_id bigint").collect()) == [1, 2, 5]
    assert st.read_latest("doc_a bigint", side="pairs").count() == 1

    # prior reads strictly below the batch id, per side
    assert st.prior(0) is None and st.prior(1) == 0 and st.prior(2) == 1
    assert st.prior(2, "pairs") == 0
    assert sorted(r.doc_id for r in st.read_side("codes", "doc_id bigint", below=1).collect()) == [1, 2]
    assert [r.doc_id for r in st.read_prior(2, "doc_id bigint", side="codes").collect()] == [5]

    # a redelivered id overwrites its own version, sides included
    st.write(1, pairs=pairs, codes=spark.createDataFrame([(8, 9)], "doc_id bigint, score int"))
    assert sorted(r.doc_id for r in st.read_side("codes", "doc_id bigint").collect()) == [1, 2, 8]
    assert st.versions(side="pairs") == [0, 1]

    # retention keeps the newest keep >= 2 versions; below 2 is refused
    kept = VersionedState(spark, str(tmp_path / "kept"), keep=2)
    for b in range(4):
        kept.write(b, spark.range(b + 1))
    assert kept.versions() == [2, 3]
    assert kept.read_latest("id bigint").count() == 4
    assert kept.read_prior(3, "id bigint").count() == 3
    with pytest.raises(ValueError, match="keep_versions must be >= 2"):
        VersionedState(spark, str(tmp_path / "bad"), keep=1)


def test_cdc_merge_redelivery_idempotent(spark):
    """B19's redelivery safety, isolated on a synthetic changelog: a
    redelivered batch rebuilt from its PREDECESSOR reproduces the
    identical state version, while (the bug the `< batch_id` filter
    exists to prevent) merging a batch into its OWN output double-counts."""
    from frolyk_spark.streaming.jobs import _cdc_merge, _cdc_reduce

    import datetime

    def ev(event_id, ts, user, typ, val):
        return (event_id, datetime.datetime.fromisoformat(ts), user, typ, val)

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    b0 = spark.createDataFrame(
        [ev(1, "2024-01-01 10:00:00", 7, "click", 1.0),
         ev(2, "2024-01-01 10:05:00", 7, "view", 2.0),
         ev(3, "2024-01-01 10:01:00", 8, "click", 3.0)], schema)
    b1 = spark.createDataFrame(
        [ev(4, "2024-01-01 11:00:00", 7, "purchase", 9.0),
         ev(5, "2024-01-01 09:00:00", 9, "view", 4.0)], schema)

    s0 = _cdc_reduce(b0)
    s1 = {tuple(r) for r in _cdc_merge(s0, _cdc_reduce(b1)).collect()}
    # redelivery: same predecessor + same batch -> identical version
    s1_redo = {tuple(r) for r in _cdc_merge(s0, _cdc_reduce(b1)).collect()}
    assert s1 == s1_redo
    # merged columns: (user_id, n_events, k, last_ts_us, last_type, last_value)
    by_user = {r[0]: r for r in s1}
    assert by_user[7][1] == 3 and by_user[7][4] == "purchase"
    assert by_user[8][1] == 1 and by_user[9][4] == "view"
    # the guarded-against bug: merging the batch into its own output
    # double-counts — proving the predecessor filter is load-bearing
    s1_df = spark.createDataFrame(list(s1), _cdc_merge(s0, _cdc_reduce(b1)).schema)
    double = {r[0]: r for r in _cdc_merge(s1_df, _cdc_reduce(b1)).collect()}
    assert double[7][1] == 4, "self-merge must double-count (hence the filter)"


def test_stream_outer_join_state_is_watermark_bounded(spark, tmp_path):
    """The 100 TB claim behind B10/B18 — the time-range condition lets the
    engine EVICT join state — asserted on the engine's own state-store
    metrics: after the watermark-advancing batch, the symmetricHashJoin
    state row count must DROP to the within-horizon residue, not retain
    the full stream (state bounded by the watermark window, independent
    of stream length)."""
    import os

    from pyspark.sql import functions as F

    ld, rd = str(tmp_path / "l"), str(tmp_path / "r")
    # 150 left rows over ~5h; clock row far ahead so the final watermark
    # leaves only a small residue inside the horizon
    spark.createDataFrame(
        [(i, f"2024-01-01 {i//60:02d}:{i%60:02d}:00") for i in range(0, 300, 2)],
        "k int, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("lts")).write.parquet(ld)
    spark.createDataFrame(
        [(9999, "2024-01-01 23:00:00")], "k int, ts_s string"
    ).select(F.col("k").alias("rk"), F.col("ts_s").cast("timestamp").alias("rts")) \
     .write.parquet(rd)
    ls = (
        spark.readStream.schema("k int, lts timestamp").parquet(ld)
        .withWatermark("lts", "10 minutes")
    )
    rs = (
        spark.readStream.schema("rk int, rts timestamp").parquet(rd)
        .withWatermark("rts", "10 minutes")
    )
    j = ls.join(
        rs,
        (F.col("k") == F.col("rk"))
        & (F.col("rts") >= F.col("lts"))
        & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 5 MINUTES")),
        "leftOuter",
    )
    ckpt = str(tmp_path / "ck")
    q = (
        j.writeStream.foreachBatch(lambda bdf, bid: bdf.count())
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", ckpt).start()
    )
    q.awaitTermination()
    totals = {
        p["batchId"]: so["numRowsTotal"]
        for p in q.recentProgress
        for so in p["stateOperators"]
        if so["operatorName"] == "symmetricHashJoin"
    }
    assert totals[0] > 100, f"data batch should load state, got {totals}"
    # the eviction batch leaves only the rows the watermark cannot yet
    # prove unmatched — a small residue, NOT the whole stream
    assert totals[max(totals)] < totals[0] / 5, totals


# --- B21: full-outer join 1 ms eviction margin, both sides -------------------

def test_stream_full_outer_join_boundaries_both_sides(spark, tmp_path):
    """B21's oracle arithmetic, pinned at ±1 µs on a controlled stream:
    full-outer eviction uses a 1 ms margin on BOTH sides — NOT left-outer's
    ceil-to-second-minus-1 s rule (B18) —
        left  null emitted iff lts_us <= wm_us - window_us - 1000
        right null emitted iff rts_us <= wm_us - 1000
    with wm = 05:50:00.000 (clock 06:00, 10-min delay) and a 5-min window:
    left threshold 05:44:59.999000, right threshold 05:49:59.999000."""
    from pyspark.sql import functions as F

    from frolyk_spark.streaming.jobs import run_available_now

    ld, rd = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(
        [(1, "2024-01-01 05:44:59.999000"),  # == thr_l -> emit
         (2, "2024-01-01 05:44:59.999001"),  # 1 us above -> hold
         (3, "2024-01-01 05:44:59.998999"),  # below -> emit
         (999, "2024-01-01 06:00:00.000000")],  # clock (also held: window open)
        "k int, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("lts")).write.parquet(ld)
    spark.createDataFrame(
        [(11, "2024-01-01 05:49:59.999000"),  # == thr_r -> emit
         (12, "2024-01-01 05:49:59.999001"),  # 1 us above -> hold
         (13, "2024-01-01 05:49:59.998999"),  # below -> emit
         (998, "2024-01-01 06:00:00.000000")],  # clock
        "rk int, ts_s string",
    ).select("rk", F.col("ts_s").cast("timestamp").alias("rts")).write.parquet(rd)
    ls = (
        spark.readStream.schema("k int, lts timestamp").parquet(ld)
        .withWatermark("lts", "10 minutes")
    )
    rs = (
        spark.readStream.schema("rk int, rts timestamp").parquet(rd)
        .withWatermark("rts", "10 minutes")
    )
    j = ls.join(
        rs,
        (F.col("k") == F.col("rk"))
        & (F.col("rts") >= F.col("lts"))
        & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 5 MINUTES")),
        "fullOuter",
    )
    got = run_available_now(j, mode="append", prefix="fojb")
    left_nulls = sorted(r.k for r in got.collect() if r.rk is None)
    right_nulls = sorted(r.rk for r in got.collect() if r.k is None)
    assert left_nulls == [1, 3], left_nulls
    assert right_nulls == [11, 13], right_nulls


# --- B21: full-outer join state is watermark-bounded -------------------------

def test_stream_full_outer_join_state_is_watermark_bounded(spark, tmp_path):
    """B21's 100 TB claim, like B18's: the time-range condition lets the
    engine evict BOTH sides' join state — after the watermark-advancing
    batch the symmetricHashJoin row count drops to the within-horizon
    residue, not the full stream."""
    from pyspark.sql import functions as F

    ld, rd = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(
        [(i, f"2024-01-01 {i//60:02d}:{i%60:02d}:00") for i in range(0, 300, 2)],
        "k int, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("lts")).write.parquet(ld)
    spark.createDataFrame(
        [(i, f"2024-01-01 {i//60:02d}:{i%60:02d}:30") for i in range(1, 299, 2)]
        + [(9999, "2024-01-01 23:00:00")],
        "k int, ts_s string",
    ).select(F.col("k").alias("rk"), F.col("ts_s").cast("timestamp").alias("rts")) \
     .write.parquet(rd)
    ls = (
        spark.readStream.schema("k int, lts timestamp").parquet(ld)
        .withWatermark("lts", "10 minutes")
    )
    rs = (
        spark.readStream.schema("rk int, rts timestamp").parquet(rd)
        .withWatermark("rts", "10 minutes")
    )
    j = ls.join(
        rs,
        (F.col("k") == F.col("rk"))
        & (F.col("rts") >= F.col("lts"))
        & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 5 MINUTES")),
        "fullOuter",
    )
    ckpt = str(tmp_path / "ck")
    q = (
        j.writeStream.foreachBatch(lambda bdf, bid: bdf.count())
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", ckpt).start()
    )
    q.awaitTermination()
    totals = {
        p["batchId"]: so["numRowsTotal"]
        for p in q.recentProgress
        for so in p["stateOperators"]
        if so["operatorName"] == "symmetricHashJoin"
    }
    assert totals[0] > 200, f"data batch should load both sides, got {totals}"
    assert totals[max(totals)] < totals[0] / 5, totals


# --- B22: ProcessingTimeTimeout — idle fires, active held, restart-safe ------

def _ttl_proc_fold(idle_ms):
    import pandas as pd

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            (n,) = state.get
            state.remove()
            yield pd.DataFrame({"u": [key[0]], "n": [n]})
        else:
            n = state.get[0] if state.exists else 0
            for pdf in pdfs:
                n += len(pdf)
            state.update((n,))
            state.setTimeoutDuration(idle_ms)

    return fn


def _run_ttl_proc(spark, ind, ck, idle_ms):
    """availableNow drain run of the B22 fold shape with the idle-stop
    rule (ProcessingTimeTimeout holds the trigger open forever)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from frolyk_spark.streaming.jobs import _stop_when_idle

    out = (
        spark.readStream.schema("u int, ts timestamp")
        .option("maxFilesPerTrigger", "1").parquet(ind)
        .groupBy("u")
        .applyInPandasWithState(
            _ttl_proc_fold(idle_ms), "u int, n bigint", "n bigint",
            "append", GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
    got = []
    q = (
        out.writeStream.foreachBatch(lambda bdf, bid: got.extend(
            (r.u, r.n) for r in bdf.collect()
        ))
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", ck).start()
    )
    _stop_when_idle(q, idle_batches=2)
    return got, q


def test_processing_time_timeout_fires_idle_drains_rest(spark, tmp_path):
    """B22's wall-clock contract on a controlled 2-batch ingest + drain:
    a key idle across a batch boundary fires ON the next DATA batch with
    its full accumulated count; a key with fresh data in that batch has
    its pending timeout SUPERSEDED (state keeps accumulating, no spurious
    mid-stream close); end-of-input drain closes every remaining state
    exactly once, leaving the store empty."""
    import time as _t

    from pyspark.sql import functions as F

    ind = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:01:00"),
         (2, "2024-01-01 10:02:00")],
        "u int, ts_s string",
    ).select("u", F.col("ts_s").cast("timestamp").alias("ts")) \
     .coalesce(1).write.mode("append").parquet(ind)
    _t.sleep(1.1)  # file-source ordering is mtime-based
    spark.createDataFrame(
        [(2, "2024-01-01 11:00:00"), (3, "2024-01-01 11:01:00")],
        "u int, ts_s string",
    ).select("u", F.col("ts_s").cast("timestamp").alias("ts")) \
     .coalesce(1).write.mode("append").parquet(ind)

    got, q = _run_ttl_proc(spark, ind, str(tmp_path / "ck"), idle_ms=1)
    # u1 fires at batch 1 (idle, 1 ms long elapsed) with its FULL count —
    # before any drain emission
    assert got[0] == (1, 2), got
    # u2's batch-1 data superseded its pending timeout: ONE close with the
    # accumulated n=2, never a premature (2, 1); u3 closes in the drain
    assert sorted(got) == [(1, 2), (2, 2), (3, 1)], got
    # drained store is EMPTY at the final batch
    totals = [
        so["numRowsTotal"]
        for p in q.recentProgress
        for so in p["stateOperators"]
        if "applyInPandasWithState" in so["operatorName"]
        and p["batchId"] == max(pp["batchId"] for pp in q.recentProgress)
    ]
    assert totals and totals[-1] == 0, totals


def test_processing_time_timeout_state_survives_restart(spark, tmp_path):
    """B22 recovery: state (and its pending wall-clock timeout) persists
    across a full stop/restart on the same checkpoint — run 1 ends with
    the key HELD (idle_ms not yet elapsed when the idle-stop fires), and
    the restarted run closes it with the pre-restart accumulated count."""
    import time as _t

    from pyspark.sql import functions as F

    ind, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:01:00")],
        "u int, ts_s string",
    ).select("u", F.col("ts_s").cast("timestamp").alias("ts")) \
     .coalesce(1).write.mode("append").parquet(ind)
    # idle_ms far above run-1's drain horizon: the idle-stop fires first,
    # so u1 is still open (with its pending timeout) at shutdown
    first, _ = _run_ttl_proc(spark, ind, ck, idle_ms=20_000)
    assert first == [], first

    _t.sleep(21)  # let u1's recovered wall-clock timeout expire
    spark.createDataFrame(
        [(2, "2024-01-01 11:00:00")], "u int, ts_s string",
    ).select("u", F.col("ts_s").cast("timestamp").alias("ts")) \
     .coalesce(1).write.mode("append").parquet(ind)
    second, _ = _run_ttl_proc(spark, ind, ck, idle_ms=20_000)
    # u1's recovered state fires in the restarted run with BOTH events
    assert (1, 2) in second, second
    assert (2, 1) not in second, "u2 is fresh (20s not elapsed) — held"


def test_stream_session_ttl_proc_operator(spark, sf_dir):
    """The sf-level B22 operator under the drain contract: every user
    closes at least once, per-user emitted segments PARTITION the batch
    aggregate exactly (counts and cents sums add up, timestamps bracket),
    so no event is lost or double-counted across idle closes + drain."""
    from pyspark.sql import functions as F

    from frolyk_spark.sources.catalog import load_table
    from frolyk_spark.streaming.jobs import stream_session_ttl_proc

    got = stream_session_ttl_proc(spark, sf_dir).collect()
    per_user: dict[int, list] = {}
    for r in got:
        per_user.setdefault(r.user_id, []).append(r)
    totals = {
        r.user_id: (r.n_events, r.sum_cents, r.first_ts_us, r.last_ts_us)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.expr("cast(sum(cast(floor(value * 100.0d + 0.5d) as bigint))"
                   " as bigint)").alias("sum_cents"),
            F.min(F.unix_micros("ts")).alias("first_ts_us"),
            F.max(F.unix_micros("ts")).alias("last_ts_us"),
        )
        .collect()
    }
    assert set(per_user) == set(totals), "drain must close every user"
    for u, segs in per_user.items():
        n_total, cents_total, lo, hi = totals[u]
        assert sum(s.n_events for s in segs) == n_total
        assert sum(s.sum_cents for s in segs) == cents_total
        assert min(s.first_ts_us for s in segs) == lo
        assert max(s.last_ts_us for s in segs) == hi


def test_run_available_now_drain_optout_stops_idle(spark, tmp_path):
    """drain_state=False (r10 review wave 2): a stop_on_idle run whose
    state is NOT expected to empty stops on idle batches alone instead of
    spinning to the drain timeout — here a ProcessingTimeTimeout fold
    with a horizon far beyond the run, which must return promptly with
    no emissions and leave the state held."""
    import time as _t

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from frolyk_spark.streaming.jobs import run_available_now

    ind = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "u int, ts_s string",
    ).select("u", F.col("ts_s").cast("timestamp").alias("ts")) \
     .coalesce(1).write.parquet(ind)
    out = (
        spark.readStream.schema("u int, ts timestamp").parquet(ind)
        .groupBy("u")
        .applyInPandasWithState(
            _ttl_proc_fold(600_000), "u int, n bigint", "n bigint",
            "append", GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
    t0 = _t.monotonic()
    got = run_available_now(
        out, mode="append", prefix="optout", stop_on_idle=2,
        drain_state=False,
    )
    assert _t.monotonic() - t0 < 120, "idle stop must not wait for drain"
    assert got.count() == 0  # the 10-minute timeout never fired


def test_stream_session_ttl_proc_drains_large_idle(spark, sf_dir):
    """The r10 review catch: an idle_ms longer than the empty-batch
    cadence must not be stopped over — the runner waits for the timeout
    horizon (require_empty_state) and still closes EVERY session."""
    from frolyk_spark.sources.catalog import load_table
    from frolyk_spark.streaming.jobs import stream_session_ttl_proc

    got = stream_session_ttl_proc(spark, sf_dir, idle_ms=3000).collect()
    want_users = {
        r.user_id for r in load_table(spark, sf_dir, "events")
        .select("user_id").distinct().collect()
    }
    assert {r.user_id for r in got} == want_users


def test_cdc_keep_versions_guard(spark, sf_dir):
    """keep_versions < 2 would vacuum the redelivery anchor — rejected
    loudly, never a silent unsafe retention."""
    import pytest

    from frolyk_spark.streaming.jobs import stream_cdc_apply

    with pytest.raises(ValueError, match="keep_versions"):
        stream_cdc_apply(spark, sf_dir, keep_versions=1)
    with pytest.raises(ValueError, match="keep_versions"):
        stream_cdc_apply(spark, sf_dir, keep_versions=0)


def test_cdc_retention_bounds_versions_keeps_final_state(spark, sf_dir):
    """B19 retention: with keep_versions=2 the state lineage on disk stays
    at exactly 2 versions while the FINAL state is untouched — it still
    equals the batch aggregate (the existing multi-batch invariant)."""
    from frolyk_spark.sources.catalog import load_table
    from frolyk_spark.streaming.jobs import stream_cdc_apply

    got_df = stream_cdc_apply(spark, sf_dir, keep_versions=2)
    got = {
        (r.user_id, r.n_events, r.last_ts_us, r.last_type, r.last_value)
        for r in got_df.collect()
    }
    ev = load_table(spark, sf_dir, "events")
    k = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
    )
    want = {
        (r.user_id, r.n_events, r.last_ts_us, r.last_type, r.last_value)
        for r in ev.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max_by(F.unix_micros("ts"), k).alias("last_ts_us"),
            F.max_by("event_type", k).alias("last_type"),
            F.max_by("value", k).alias("last_value"),
        ).collect()
    }
    assert want and got == want
    src = got_df.inputFiles()[0].removeprefix("file://")
    root = os.path.dirname(os.path.dirname(src))
    versions = [
        d for d in os.listdir(root) if d.startswith("s") and d[1:].isdigit()
    ]
    assert len(versions) == 2, f"retention must keep exactly 2, got {versions}"


# --- B20: EventTimeTimeout boundary + state removal ---------------------------

def test_event_time_timeout_fires_strictly_below_watermark(spark, tmp_path):
    """The TTL contract B20's oracle arithmetic depends on, pinned on a
    controlled stream: a state with timeout T fires iff T < watermark
    STRICTLY (T == wm held), wm_ms = floor(max_event_us/1000) - delay;
    fired state is REMOVED (the emitting user is gone from the store)."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    ind = str(tmp_path / "in")
    # delay 10m, gap 5m; clock u=99 at 06:00 -> wm 05:50:00.000
    # u1 last 05:44:59 -> T 05:49:59 < wm -> fires
    # u2 last 05:45:00 -> T 05:50:00 == wm -> held
    # u3 last 05:45:01 -> T 05:50:01 > wm -> held
    rows = [(1, "2024-01-01 05:44:59"), (2, "2024-01-01 05:45:00"),
            (3, "2024-01-01 05:45:01"), (99, "2024-01-01 06:00:00")]
    spark.createDataFrame(rows, "u int, ts_s string").select(
        "u", F.col("ts_s").cast("timestamp").alias("ts")
    ).write.parquet(ind)

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            (n,) = state.get
            state.remove()
            yield pd.DataFrame({"u": [key[0]], "n": [n]})
        else:
            n = state.get[0] if state.exists else 0
            last_ms = 0
            for pdf in pdfs:
                n += len(pdf)
                last_ms = max(last_ms, int(pdf["ts"].astype("int64").max() // 1_000_000))
            state.update((n,))
            state.setTimeoutTimestamp(last_ms + 5 * 60 * 1000)

    out = (
        spark.readStream.schema("u int, ts timestamp").parquet(ind)
        .withWatermark("ts", "10 minutes")
        .groupBy("u")
        .applyInPandasWithState(
            fn, "u int, n bigint", "n bigint",
            "append", GroupStateTimeout.EventTimeTimeout,
        )
    )
    got = []
    q = (
        out.writeStream.foreachBatch(lambda bdf, bid: got.extend(
            (r.u, r.n) for r in bdf.collect()
        ))
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    q.awaitTermination()
    assert got == [(1, 1)], got
    # fired state removed, held states remain: the store's final row count
    # is exactly the two held users + the clock user
    totals = [
        so["numRowsTotal"]
        for p in q.recentProgress
        for so in p["stateOperators"]
        if "applyInPandasWithState" in so["operatorName"]
        and p["batchId"] == max(pp["batchId"] for pp in q.recentProgress)
    ]
    assert totals and totals[-1] == 3, totals


def test_cdc_merge_batching_invariant(spark):
    """B19's core algebraic property: the final state is invariant to HOW
    the changelog was batched — including a late batch carrying an EARLIER
    event for a key (the ordered-key compare, not arrival order, decides
    the payload). This is what lets the oracle be a plain batch GROUP BY."""
    import datetime

    from frolyk_spark.streaming.jobs import _cdc_merge, _cdc_reduce

    def ev(eid, ts, user, typ, val):
        return (eid, datetime.datetime.fromisoformat(ts), user, typ, val)

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")
    rows = [
        ev(1, "2024-01-01 10:00:00", 1, "click", 1.0),
        ev(2, "2024-01-01 12:00:00", 1, "purchase", 2.0),
        ev(3, "2024-01-01 11:00:00", 1, "view", 3.0),   # mid ts, late batch
        ev(4, "2024-01-01 09:00:00", 2, "click", 4.0),
        ev(5, "2024-01-01 09:30:00", 2, "view", 5.0),
        ev(6, "2024-01-01 08:00:00", 3, "click", 6.0),
        ev(7, "2024-01-01 08:00:00", 4, "view", 7.0),   # ts tie w/ 8 ...
        ev(8, "2024-01-01 08:00:00", 4, "click", 8.0),  # ... event_id breaks it
    ]

    def final_state(splits):
        state = None
        for lo, hi in splits:
            batch = _cdc_reduce(spark.createDataFrame(rows[lo:hi], schema))
            state = batch if state is None else _cdc_merge(state, batch)
        return {tuple(r) for r in state.collect()}

    one = final_state([(0, 8)])
    assert final_state([(0, 4), (4, 8)]) == one
    assert final_state([(0, 2), (2, 3), (3, 6), (6, 8)]) == one
    assert final_state([(0, 1), (1, 8)]) == one
    by_user = {r[0]: r for r in one}
    assert by_user[1][4] == "purchase" and by_user[1][1] == 3
    assert by_user[4][4] == "click"  # event_id 8 > 7 on tied ts


# --- B23: CDC into E14 versioned snapshots -------------------------------------

def test_cdc_versioned_crash_after_commit_resumes_exactly_once(spark, sf_dir, monkeypatch):
    """B23's txn guard in the exact window it exists for: crash AFTER
    batch 1's snapshot commit but BEFORE its checkpoint commit. The
    resume redelivers batch 1, finds txn b1 already committed, SKIPS it
    (no version claimed twice, no double-merge), and the final state
    equals B19's oracle-checked one-shot apply."""
    import uuid as _uuid

    from frolyk_spark.sources import streams
    from frolyk_spark.sources.catalog import committed_txns
    from frolyk_spark.streaming.jobs import stream_cdc_apply, stream_cdc_versioned

    name = f"cdcv_resume_{_uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(streams.SCRATCH, "checkpoints", "named", name)
    with monkeypatch.context() as m, pytest.raises(Exception, match="injected crash"):
        _crash_runs(m, 1, after=True)
        stream_cdc_versioned(spark, sf_dir, _name=name)
    assert os.path.isdir(ckpt), "checkpoint must survive the crash"
    assert os.path.exists(f"{ckpt}.owner_pid")
    root = os.path.join(streams.SCRATCH, "results", "named", name)
    before = committed_txns(root)
    assert "b1" in before, "crash landed after the commit — txn must exist"

    got_df = stream_cdc_versioned(spark, sf_dir, _name=name)
    txns = committed_txns(root)
    # one committed version per batch, each claimed exactly once
    assert len(txns) >= 2 and len(set(txns.values())) == len(txns)
    assert txns["b1"] == before["b1"], "redelivered batch must not re-commit"

    def key(r):
        return (r.user_id, r.n_events, r.last_ts_us, r.last_type)

    got = {key(r) for r in got_df.collect()}
    want = {key(r) for r in stream_cdc_apply(spark, sf_dir).collect()}
    assert want and got == want
    assert not os.path.isdir(ckpt), "success must clean the named checkpoint"
    assert not os.path.exists(f"{ckpt}.owner_pid"), "and its owner file"


def test_cdc_versioned_time_travel_and_change_feed(spark, sf_dir):
    """Time travel over the live CDC lineage sees consistent states: for
    every consecutive committed pair, read_changes yields no 'removed'
    rows (CDC only upserts), and patching snapshot k-1 with the feed's
    after-images reproduces snapshot k exactly — the E16 change feed is
    a faithful delta of the E14 lineage the stream wrote."""
    from frolyk_spark.sources.catalog import (
        committed_txns, read_changes, read_versioned,
    )
    from frolyk_spark.streaming.jobs import stream_cdc_versioned

    df = stream_cdc_versioned(spark, sf_dir)
    src = df.inputFiles()[0].removeprefix("file://")
    root = os.path.dirname(os.path.dirname(src))
    versions = sorted(committed_txns(root).values())
    assert len(versions) >= 2, f"expected multi-batch lineage, got {versions}"

    cols = ["n_events", "last_ts_us", "last_type"]

    def snap(v):
        return {
            r.user_id: (r.n_events, r.last_ts_us, r.last_type)
            for r in read_versioned(spark, root, v).collect()
        }

    for v_prev, v_cur in zip(versions, versions[1:]):
        feed = read_changes(spark, root, v_prev, v_cur, "user_id", cols).collect()
        assert all(r._change in ("added", "changed") for r in feed), feed[:5]
        patched = snap(v_prev)
        for r in feed:
            patched[r.user_id] = (
                r.n_events_after, r.last_ts_us_after, r.last_type_after
            )
        assert patched == snap(v_cur)
        # upsert lineage: per-key counts are monotone along versions
        prev = snap(v_prev)
        assert all(
            patched[u][0] >= prev[u][0] for u in prev
        ), "n_events must never decrease"


def test_cdc_versioned_retention_bounds_lineage(spark, sf_dir):
    """B23 retention: keep_versions bounds the manifest lineage while the
    final state stays exact (equals the unbounded run); keep < 2 is
    rejected (would vacuum the redelivery anchor, same guard as B19)."""
    from frolyk_spark.sources.catalog import committed_txns
    from frolyk_spark.streaming.jobs import stream_cdc_versioned

    with pytest.raises(ValueError, match="keep_versions"):
        stream_cdc_versioned(spark, sf_dir, keep_versions=1)

    df = stream_cdc_versioned(spark, sf_dir, keep_versions=2)
    src = df.inputFiles()[0].removeprefix("file://")
    root = os.path.dirname(os.path.dirname(src))
    assert len(committed_txns(root)) <= 2, "retention must bound manifests"

    def key(r):
        return (r.user_id, r.n_events, r.last_ts_us, r.last_type)

    got = {key(r) for r in df.collect()}
    want = {key(r) for r in stream_cdc_versioned(spark, sf_dir).collect()}
    assert want and got == want


# --- B24: streaming incremental media near-dup ---------------------------------

def test_stream_media_dedup_multibatch_equals_batch(spark, sf_dir):
    """B24's equivalence contract (B17≡D28's shape for the perceptual
    modality): the union of per-batch probe pairs over a REAL multi-batch
    ingest equals D70's one-shot pairs restricted to the new split — no
    pair lost at batch boundaries, none duplicated, old×old never
    formed."""
    from frolyk_spark.operators.dedup import NEW_DOC_MOD
    from frolyk_spark.operators.multimodal import image_dedup
    from frolyk_spark.streaming.jobs import stream_media_dedup

    got_df = stream_media_dedup(spark, sf_dir)
    got = [(r.doc_a, r.doc_b) for r in got_df.collect()]
    assert len(got) == len(set(got)), "a pair must be emitted exactly once"
    new = NEW_DOC_MOD - 1
    want = {
        (r.doc_a, r.doc_b)
        for r in image_dedup(spark, sf_dir).collect()
        if r.doc_a % NEW_DOC_MOD == new or r.doc_b % NEW_DOC_MOD == new
    }
    assert want and set(got) == want
    # the ingest really was multi-batch: >= 2 per-batch fused sinks
    # (layout: batches/b{id}/side=pairs/part-*.parquet since r13)
    src = got_df.inputFiles()[0].removeprefix("file://")
    out = os.path.dirname(os.path.dirname(os.path.dirname(src)))
    assert len([d for d in os.listdir(out) if d.startswith("b")]) >= 2


def test_late_routing_accounts_for_every_row(spark, sf_dir):
    """B25: the router's accounting must PARTITION each batch (no row
    dropped, none double-routed), the first batch can have no late rows
    (watermark sentinel), and later batches of the content-defined drop
    must see both classes (the 7-day delay against the 30-day span)."""
    from frolyk_spark.streaming.jobs import LATE_PARTS, stream_late_routing

    rows = {r.batch_id: r for r in stream_late_routing(spark, sf_dir).collect()}
    assert sorted(rows) == list(range(LATE_PARTS))
    total = 0
    for bid, r in rows.items():
        assert r.n_rows == r.n_late + r.n_ontime
        total += r.n_rows
    assert rows[0].n_late == 0 and rows[0].wm_us == -1
    for bid in range(1, LATE_PARTS):
        assert rows[bid].n_late > 0 and rows[bid].n_ontime > 0
        assert rows[bid].wm_us > 0
        # the watermark is the running max over PRIOR batches minus the
        # delay, so it must be non-decreasing across batches
        assert rows[bid].wm_us >= rows[bid - 1].wm_us
    from frolyk_spark.sources.catalog import load_table

    assert total == load_table(spark, sf_dir, "events").count()


def test_stage_keyed_file_drop_contract(spark, sf_dir, tmp_path):
    """File k holds exactly key%parts==k, mtimes strictly increase with
    k, and a second call reuses the staged dir (the _SUCCESS contract)."""
    import os

    from frolyk_spark.sources.catalog import load_table
    from frolyk_spark.sources.streams import stage_keyed_file_drop

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    stage = stage_keyed_file_drop(ev, sf_dir, "events", "latert_t", 3, "event_id")
    assert stage == stage_keyed_file_drop(ev, sf_dir, "events", "latert_t", 3, "event_id")
    files = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
    assert files == ["0000.parquet", "0001.parquet", "0002.parquet"]
    mtimes = [os.path.getmtime(os.path.join(stage, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    for k, f in enumerate(files):
        mods = {
            r[0] % 3
            for r in spark.read.parquet(os.path.join(stage, f))
                         .select("event_id").collect()
        }
        assert mods == {k}


def test_token_feed_offsets_continue_across_batches(spark, sf_dir):
    """B26: per-batch offsets must form ONE contiguous global token
    stream (batch k starts exactly where k-1 ended, no gap or overlap),
    and per-doc token counts must equal the batch encoder's n_pieces —
    the stream and bpe_encode share the tokenizer kernel, so a drift
    here means the composition broke the model contract."""
    from frolyk_spark.operators.vocab import bpe_encode
    from frolyk_spark.streaming.jobs import TOKFEED_PARTS, stream_token_feed

    rows = stream_token_feed(spark, sf_dir).collect()
    assert {r.batch_id for r in rows} == set(range(TOKFEED_PARTS))
    # global contiguity: sorted by start_offset, each row starts where
    # the previous ended, beginning at 0
    expect = 0
    for r in sorted(rows, key=lambda r: r.start_offset):
        assert r.start_offset == expect
        assert r.offset_in_seq == r.start_offset % 256
        expect = r.start_offset + r.n_tokens
    # batch boundaries respect the continuity: min offset of batch k ==
    # end of batch k-1
    ends = {}
    for b in range(TOKFEED_PARTS):
        batch = [r for r in rows if r.batch_id == b]
        assert batch, f"batch {b} produced no rows"
        ends[b] = max(r.start_offset + r.n_tokens for r in batch)
        if b:
            assert min(r.start_offset for r in batch) == ends[b - 1]
    enc = {r.doc_id: r.n_pieces for r in bpe_encode(spark, sf_dir).collect()}
    assert {r.doc_id: r.n_tokens for r in rows} == enc


def test_stream_k_anonymity_matches_batch_audit(spark, sf_dir, monkeypatch):
    """B27: the streaming monitor's final histogram must equal the batch
    audit exactly — the batching-invariance contract (cumulative QI
    counts add across batches), and the ingest must really have been
    multi-batch (at least two batch ids)."""
    from frolyk_spark.operators.governance import k_anonymity_audit
    from frolyk_spark.streaming.jobs import stream_k_anonymity

    seen = _record_batches(monkeypatch)
    got_df = stream_k_anonymity(spark, sf_dir)
    got = {tuple(r) for r in got_df.collect()}
    want = {tuple(r) for r in k_anonymity_audit(spark, sf_dir).collect()}
    assert got == want
    assert len({b for b, _ in seen}) >= 2, "ingest was not multi-batch"


def test_stream_corpus_filter_equals_batch(spark, sf_dir):
    """B28: the streaming gate's union over batches must equal the
    one-shot batch operator row-for-row (keep-first made order-safe by
    the range-batched drop), and the ingest really was multi-batch."""
    from frolyk_spark.operators.text import corpus_filter
    from frolyk_spark.streaming.jobs import stream_corpus_filter

    got_df = stream_corpus_filter(spark, sf_dir)
    got = {tuple(r) for r in got_df.collect()}
    want = {tuple(r) for r in corpus_filter(spark, sf_dir).collect()}
    assert got == want and want
    # files live at rows/bN/side=kept/part-*.parquet since the r12 write
    # fusion: three levels up is the rows root holding one bN per batch,
    # and each batch dir must carry BOTH sides (result + state append)
    src = got_df.inputFiles()[0].removeprefix("file://")
    out = os.path.dirname(os.path.dirname(os.path.dirname(src)))
    batch_dirs = [d for d in os.listdir(out) if d.startswith("b")]
    assert len(batch_dirs) >= 2
    assert all(
        os.path.isdir(os.path.join(out, d, "side=seen")) for d in batch_dirs
    )


def test_stream_sample_weighted_matches_batch(spark, sf_dir):
    """B29: the streaming bottom-k equals the one-shot weighted sample
    exactly (mergeable-priority invariance) and the ingest was really
    multi-batch (multiple state versions)."""
    from frolyk_spark.operators.sampling import sample_weighted
    from frolyk_spark.streaming.jobs import stream_sample_weighted

    got_df = stream_sample_weighted(spark, sf_dir)
    got = {tuple(r) for r in got_df.collect()}
    want = {tuple(r) for r in sample_weighted(spark, sf_dir).collect()}
    assert got == want and want
    src = got_df.inputFiles()[0].removeprefix("file://")
    root = os.path.dirname(os.path.dirname(src))
    versions = [d for d in os.listdir(root) if d.startswith("s") and d[1:].isdigit()]
    assert len(versions) >= 2


#: every keyed/range-batched operator and the contract its batches assert
KEYED_BATCH_CONTRACTS = {
    "stream_late_routing": "content contract",
    "stream_token_feed": "content contract",
    "stream_corpus_filter": "range contract",
    "stream_asof_join": "range contract",
    "stream_edge_degrees": "keyed-batch contract",
    "stream_components": "keyed-batch contract",
}


@pytest.mark.parametrize("name", list(KEYED_BATCH_CONTRACTS))
def test_keyed_batch_contract_fails_loudly_on_reordered_files(
    name, spark, sf_dir, tmp_path, monkeypatch
):
    """A keyed/range-batched operator's oracle is only valid if file k
    really arrives as batch k; the per-batch contract assertion is the
    guard. Hand each operator a staged drop whose files 0 and 1 have
    swapped contents and prove the job DIES with the contract error
    instead of silently producing oracle-divergent output."""
    from frolyk_spark.sources import streams
    from frolyk_spark.streaming import jobs

    real = streams.stage_keyed_file_drop

    def swapped(*args, **kw):
        # a COPY of the (shared, cached) stage: corrupting the shared dir
        # itself would poison every other consumer of that drop
        stage = str(tmp_path / "stage")
        shutil.copytree(real(*args, **kw), stage)
        f0, f1 = (os.path.join(stage, f"000{k}.parquet") for k in (0, 1))
        m0, m1 = os.path.getmtime(f0), os.path.getmtime(f1)
        tmp = os.path.join(stage, ".swap")
        shutil.move(f0, tmp); shutil.move(f1, f0); shutil.move(tmp, f1)
        # keep the mtime ORDER pinned so the listing order is unchanged
        # and only the CONTENT is wrong — exactly the desync the
        # contract catches
        os.utime(f0, (m0, m0)); os.utime(f1, (m1, m1))
        return stage

    monkeypatch.setattr(streams, "stage_keyed_file_drop", swapped)
    with pytest.raises(Exception, match=KEYED_BATCH_CONTRACTS[name]):
        jobs.QUERIES[name](spark, sf_dir)


def test_stream_asof_join_equals_batch(spark, sf_dir):
    """B30: the streaming as-of join's union over batches must equal the
    one-shot C16 operator row-for-row (cross-batch click state + the
    within-batch window, made order-safe by the time-RANGE-batched drop),
    the ingest really was multi-batch, every batch dir carries both the
    output and the refreshed state side, and the no-click-anywhere NULL
    path is actually exercised on this corpus."""
    import os

    from frolyk_spark.operators.relational import asof_purchase_click
    from frolyk_spark.streaming.jobs import stream_asof_join

    got_df = stream_asof_join(spark, sf_dir)
    got = {tuple(r) for r in got_df.collect()}
    want = {tuple(r) for r in asof_purchase_click(spark, sf_dir).collect()}
    assert got == want and want
    assert any(r[3] is None for r in want)
    src = got_df.inputFiles()[0].removeprefix("file://")
    rows_root = os.path.dirname(os.path.dirname(os.path.dirname(src)))
    batch_dirs = [d for d in os.listdir(rows_root) if d.startswith("b")]
    assert len(batch_dirs) >= 2
    assert all(
        os.path.isdir(os.path.join(rows_root, d, "side=state"))
        for d in batch_dirs
    )


def test_stream_heavy_hitters_equals_batch_with_bounded_cells(
    spark, sf_dir, monkeypatch
):
    """B31: the streaming CMS's final estimates equal the one-shot D81
    operator (counts and cells both ADD — batching-invariant), the ingest
    really was multi-batch, and the sketch side of the state after EVERY
    batch is bounded by CMS_D*CMS_W rows — the whole point of keeping a
    CMS on an unbounded stream."""
    from frolyk_spark.operators.vocab import CMS_D, CMS_W, heavy_hitters_cms
    from frolyk_spark.streaming.jobs import stream_heavy_hitters

    seen = _record_batches(monkeypatch, lambda st: st.where("r >= 0").count())
    got_df = stream_heavy_hitters(spark, sf_dir)
    got = sorted(tuple(r) for r in got_df.collect())
    want = sorted(tuple(r) for r in heavy_hitters_cms(spark, sf_dir).collect())
    assert got == want and want
    assert len({b for b, _ in seen}) >= 2, "ingest was not multi-batch"
    for _, cells in seen:
        assert cells <= CMS_D * CMS_W


def test_stream_length_histogram_equals_batch_with_bounded_state(
    spark, sf_dir, monkeypatch
):
    """B33: the streaming length monitor's final histogram equals the
    one-shot D35 operator (doc and token counts both ADD — batching-
    invariant), the ingest really was multi-batch, and the state after
    EVERY batch is bounded by sources × log2-buckets rows — the
    dashboard contract on an unbounded feed."""
    from frolyk_spark.operators.pipeline import length_histogram
    from frolyk_spark.streaming.jobs import stream_length_histogram

    seen = _record_batches(monkeypatch, lambda st: st.count())
    got_df = stream_length_histogram(spark, sf_dir)
    got = sorted(tuple(r) for r in got_df.collect())
    want = sorted(tuple(r) for r in length_histogram(spark, sf_dir).collect())
    assert got == want and want
    assert len({b for b, _ in seen}) >= 2, "ingest was not multi-batch"
    n_sources = got_df.select("source").distinct().count()
    max_bucket = max(r[1] for r in got)
    for _, rows in seen:
        assert rows <= n_sources * (max_bucket + 1)


def test_stream_edge_degrees_equals_batch_graph(spark, sf_dir):
    """B34: the incrementally-maintained degree table equals the batch
    graph's degrees (keep-first edge state over basket-intact batches ==
    the whole-corpus distinct edge set), and the ingest really was
    multi-batch with every version carrying both state sides."""
    import os

    from pyspark.sql import functions as F

    from frolyk_spark.operators.graph import persisted_copurchase_edges
    from frolyk_spark.streaming.jobs import stream_edge_degrees

    got_df = stream_edge_degrees(spark, sf_dir)
    got = sorted((r.part_key, r.degree) for r in got_df.collect())
    want = sorted(
        (r.src, r.d)
        for r in persisted_copurchase_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .collect()
    )
    assert got == want and want
    src = got_df.inputFiles()[0].removeprefix("file://")
    rows_root = os.path.dirname(os.path.dirname(os.path.dirname(src)))
    batches = [d for d in os.listdir(rows_root) if d.startswith("b")]
    assert len(batches) >= 2, "ingest was not multi-batch"
    for d in batches:
        assert os.path.isdir(os.path.join(rows_root, d, "side=degrees"))
        assert os.path.isdir(os.path.join(rows_root, d, "side=edges"))
    # the accumulated half-edge state matches the batch edge table size
    n_half = sum(
        spark.read.parquet(os.path.join(rows_root, d, "side=edges")).count()
        for d in batches
    )
    assert n_half * 2 == persisted_copurchase_edges(spark, sf_dir).count()


def test_stream_edge_degrees_live_compaction(spark, sf_dir):
    """E21 wired into the live B34 loop (r15 verdict item 4): the
    compaction cadence fires INSIDE the stream (marker published, store
    version real), the watermark stays strictly below the final batch
    (redelivery exclusion intact), the degree state is unaffected by the
    mid-stream roll-up, and the live probe's store side — exactly the
    frame _edge_store_parts hands the keep-first anti-join — plans with
    the Exchange on the batch side only."""
    import io
    import re
    from contextlib import redirect_stdout

    from frolyk_spark.operators.graph import persisted_copurchase_edges
    from frolyk_spark.streaming.jobs import (
        _edge_store_parts, stream_edge_degrees,
    )

    got_df = stream_edge_degrees(spark, sf_dir, keep_store=True)
    src = got_df.inputFiles()[0].removeprefix("file://")
    rows_root = os.path.dirname(os.path.dirname(os.path.dirname(src)))
    name = os.path.basename(os.path.dirname(rows_root))
    batches = sorted(
        int(d[1:]) for d in os.listdir(rows_root)
        if d.startswith("b") and d[1:].isdigit()
    )
    try:
        marker = os.path.join(rows_root, "compacted_through.txt")
        assert os.path.exists(marker), "cadence never fired in-stream"
        with open(marker) as fh:
            through = int(fh.read().strip())
        assert 0 <= through < batches[-1], (
            "watermark must stay strictly below the final batch"
        )
        store, deltas = _edge_store_parts(spark, rows_root, name)
        assert store is not None and deltas is not None
        # the mid-stream roll-up left the degree state exact: total
        # degree mass = symmetric edge count of the batch-built graph
        total = sum(r.degree for r in got_df.collect())
        assert total == persisted_copurchase_edges(spark, sf_dir).count()
        # live probe shape: store side contributes its bucketing
        probe = spark.read.parquet(
            os.path.join(rows_root, f"b{batches[-1]}", "side=edges")
        ).select("src", "dst")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            buf = io.StringIO()
            with redirect_stdout(buf):
                probe.join(store, ["src", "dst"], "left_anti").explain(
                    "formatted"
                )
            tree = buf.getvalue().split("\n\n")[0]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "SortMergeJoin" in tree or "ShuffledHashJoin" in tree
        assert "Scan parquet spark_catalog" in tree
        assert len(re.findall(r"[+:]- Exchange", tree)) == 1
    finally:
        for row in spark.sql(f"SHOW TABLES LIKE '{name}_t*'").collect():
            spark.sql(f"DROP TABLE IF EXISTS {row.tableName}")


def test_compact_edge_store_roll_up(spark, sf_dir):
    """E21: rolling sealed per-batch edge deltas into the (src, dst)-
    bucketed store preserves the exact half-edge set through the
    watermark-aware reader; the probe anti-join against the store plans
    with the Exchange on the batch side only; re-compaction through the
    final batch is an idempotent full rewrite that drains the deltas."""
    import io
    import os
    import re
    import uuid
    from contextlib import redirect_stdout

    from frolyk_spark.streaming.jobs import (
        compact_edge_store, read_edge_store, stream_edge_degrees,
    )

    got_df = stream_edge_degrees(spark, sf_dir)
    src = got_df.inputFiles()[0].removeprefix("file://")
    rows_root = os.path.dirname(os.path.dirname(os.path.dirname(src)))
    batches = sorted(
        int(d[1:]) for d in os.listdir(rows_root)
        if d.startswith("b") and d[1:].isdigit()
    )
    assert len(batches) >= 2
    tname = f"edge_roll_{uuid.uuid4().hex[:8]}"
    try:
        # pre-compaction reader = the raw delta union
        rows0 = read_edge_store(spark, rows_root, tname).collect()
        before = {(r.src, r.dst) for r in rows0}
        assert before and len(rows0) == len(before)
        # the watermark may not overshoot the sealed batches
        import pytest

        with pytest.raises(ValueError, match="exceeds the newest sealed"):
            compact_edge_store(
                spark, rows_root, tname,
                through_batch=batches[-1] + 5, buckets=8,
            )
        # partial roll-up: all but the newest batch (versioned table)
        compact_edge_store(
            spark, rows_root, tname, through_batch=batches[-2], buckets=8
        )
        rows1 = read_edge_store(spark, rows_root, tname).collect()
        # MULTISET equality: a double-counted batch would keep the set
        # identical while inflating the row count (r14 review)
        assert len(rows1) == len(before)
        assert {(r.src, r.dst) for r in rows1} == before
        # the probe side alone shuffles against the bucketed store
        batch_pairs = (
            spark.read.parquet(
                os.path.join(rows_root, f"b{batches[-1]}", "side=edges")
            ).select("src", "dst")
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            buf = io.StringIO()
            with redirect_stdout(buf):
                (batch_pairs.join(
                    spark.table(f"{tname}_t{batches[-2]}"),
                    ["src", "dst"], "left_anti",
                ).explain("formatted"))
            plan = buf.getvalue()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        tree = plan.split("\n\n")[0]
        # a shuffle join with exactly ONE Exchange means the store side
        # (the catalog scan) contributed its bucketing instead of a shuffle
        assert "SortMergeJoin" in tree or "ShuffledHashJoin" in tree
        assert "Scan parquet spark_catalog" in tree
        assert len(re.findall(r"[+:]- Exchange", tree)) == 1
        # full roll-up: a NEW version, deltas drain; the immediately-
        # superseded version is RETAINED (a reader may have resolved it
        # just before the publish — Spark has no table pinning, r14
        # advice), and only falls out on the NEXT compaction cycle
        compact_edge_store(
            spark, rows_root, tname, through_batch=batches[-1], buckets=8
        )
        rows2 = read_edge_store(spark, rows_root, tname).collect()
        assert len(rows2) == len(before)
        assert {(r.src, r.dst) for r in rows2} == before
        assert spark.table(f"{tname}_t{batches[-1]}").count() == len(before)
        assert spark.sql(
            f"SHOW TABLES LIKE '{tname}_t{batches[-2]}'"
        ).collect(), "the previous-marker version must survive one cycle"
        # idempotent re-compaction through the same watermark: now the
        # previous marker names THIS version, so the back version drops
        compact_edge_store(
            spark, rows_root, tname, through_batch=batches[-1], buckets=8
        )
        assert not spark.sql(
            f"SHOW TABLES LIKE '{tname}_t{batches[-2]}'"
        ).collect(), "versions older than the previous watermark drop"
    finally:
        for b in batches:
            spark.sql(f"DROP TABLE IF EXISTS {tname}_t{b}")


def test_compact_edge_store_seal_guards(spark, tmp_path):
    """E21 seal enforcement (r14 advice): a batch dir without _SUCCESS is
    not sealed — compacting a watermark that covers it raises instead of
    rolling partial contents, and a committed-but-gap batch id below the
    watermark raises instead of being permanently excluded from reads."""
    import uuid

    import pytest

    from frolyk_spark.streaming.jobs import compact_edge_store

    rows_root = str(tmp_path / "rows")
    one = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    # b0 committed, b1 half-written (no _SUCCESS), b2 committed
    for b in (0, 2):
        one.write.mode("overwrite").parquet(
            os.path.join(rows_root, f"b{b}", "side=edges")
        )
        os.replace(
            os.path.join(rows_root, f"b{b}", "side=edges", "_SUCCESS"),
            os.path.join(rows_root, f"b{b}", "_SUCCESS"),
        )
    os.makedirs(os.path.join(rows_root, "b1", "side=edges"))
    tname = f"edge_seal_{uuid.uuid4().hex[:8]}"
    with pytest.raises(ValueError, match="not[\\s\\S]*sealed"):
        compact_edge_store(spark, rows_root, tname, through_batch=2, buckets=2)
    # sealing b1 clears the guard
    with open(os.path.join(rows_root, "b1", "_SUCCESS"), "w"):
        pass
    one.write.mode("overwrite").parquet(
        os.path.join(rows_root, "b1", "side=edges")
    )
    try:
        compact_edge_store(spark, rows_root, tname, through_batch=2, buckets=2)
        # the store is a plain union (delta DISJOINTNESS is the live
        # operator's keep-first contract): 3 dirs x 1 row
        assert spark.table(f"{tname}_t2").count() == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}_t2")


def test_cc_oracle_global_round_margin(spark, sf_dir):
    """B36 oracle-sharing precondition 2 (r14 advice): the GLOBAL
    whole-graph min-label unroll must reach its fixpoint within
    COMPONENTS_ROUNDS — per-batch contracted convergence does NOT imply
    it (contraction shortcuts paths). No sound cheap runtime guard
    exists, so the precondition is pinned empirically where the oracle
    actually runs: the full-graph fixpoint must arrive within HALF the
    round budget (>=2x margin) at the test SF and at the driver's
    sf0.01 oracle scale. Re-run this pin before sharing C71's oracle at
    a new SF/corpus (the ln-boundary-sweep posture)."""
    from frolyk_spark.operators.dedup import min_label_propagation
    from frolyk_spark.operators.graph import (
        COMPONENTS_ROUNDS, persisted_copurchase_edges,
    )

    for d in {sf_dir, "/root/testdata/sf0.01"}:
        pairs = persisted_copurchase_edges(spark, d).select(
            F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
        )
        _, converged = min_label_propagation(
            pairs, COMPONENTS_ROUNDS // 2, symmetric=True
        )
        assert converged, (
            f"global fixpoint did not arrive within "
            f"{COMPONENTS_ROUNDS // 2} rounds at {d} — the B36/C71 "
            "shared oracle loses its 2x round margin"
        )


def test_stream_components_equals_batch(spark, sf_dir):
    """B36: label state maintained across basket-intact batches via
    contracted min-label propagation ends at EXACTLY the batch operator's
    component assignment (C71 — same part_key/component_id/is_canonical/
    component_size/converged rows), the ingest really was multi-batch,
    every state version carries its atomically-published converged
    scalar, and the state versions grow monotonically to the full node
    set (each batch touches only its own new parts plus the relabel)."""
    import os

    from frolyk_spark.operators.graph import components_parts
    from frolyk_spark.streaming.jobs import stream_components

    got_df = stream_components(spark, sf_dir)
    got = sorted(tuple(r) for r in got_df.collect())
    want = sorted(tuple(r) for r in components_parts(spark, sf_dir).collect())
    assert got == want and want
    assert all(r[4] for r in got)  # every batch's propagation converged
    src = got_df.inputFiles()[0].removeprefix("file://")
    root = os.path.dirname(os.path.dirname(src))
    versions = sorted(
        int(d[1:]) for d in os.listdir(root)
        if d.startswith("s") and d[1:].isdigit()
    )
    assert len(versions) >= 2, "ingest was not multi-batch"
    counts = []
    for v in versions:
        assert os.path.exists(os.path.join(root, f"conv_s{v}.txt"))
        counts.append(spark.read.parquet(os.path.join(root, f"s{v}")).count())
    assert counts == sorted(counts) and counts[-1] == len(want)


def test_stream_vocab_growth_equals_batch(spark, sf_dir, monkeypatch):
    """B32: the streaming growth monitor's final curve equals the one-shot
    D82 operator (first occurrence = MIN is mergeable; slice sums ADD),
    the ingest really was multi-batch, and the state after every batch
    carries both sides (word rows and slice rows)."""
    from frolyk_spark.operators.vocab import vocab_growth
    from frolyk_spark.streaming.jobs import stream_vocab_growth

    def sides(st):
        return {r[0] for r in st.select(F.col("word").isNull()).distinct().collect()}

    seen = _record_batches(monkeypatch, sides)
    got_df = stream_vocab_growth(spark, sf_dir)
    got = sorted(tuple(r) for r in got_df.collect())
    want = sorted(tuple(r) for r in vocab_growth(spark, sf_dir).collect())
    assert got == want and want
    assert len({b for b, _ in seen}) >= 2, "ingest was not multi-batch"
    for _, both in seen:
        assert both == {False, True}


def test_stream_quantile_sketch_equals_batch(spark, sf_dir):
    """B35: the decile table estimated FROM the stream-merged bin state
    equals C73's one-shot sketch (bin counts add under fixed geometry);
    count conservation is asserted inside the op before any estimate."""
    from frolyk_spark.operators.relational import quantile_sketch
    from frolyk_spark.streaming.jobs import stream_quantile_sketch

    got = sorted(tuple(r) for r in stream_quantile_sketch(spark, sf_dir).collect())
    want = sorted(tuple(r) for r in quantile_sketch(spark, sf_dir).collect())
    assert got == want and want


#: each counts-add stream twin: the table its drop stages and its output
#: schema
COUNTS_ADD_TWINS = {
    "stream_k_anonymity": (
        "events",
        "k_band string, n_groups bigint, n_rows bigint, violates_policy boolean",
    ),
    "stream_l_diversity": (
        "events",
        "l_band string, n_groups bigint, n_rows bigint, violates_policy boolean",
    ),
    "stream_length_histogram": (
        "documents",
        "source string, len_bucket bigint, n_docs bigint, n_tokens bigint",
    ),
    "stream_heavy_hitters": (
        "documents",
        "word string, est_count bigint, true_count bigint, overcount bigint",
    ),
    "stream_vocab_growth": (
        "documents",
        "bucket bigint, n_docs_b bigint, new_words bigint, cum_tokens bigint, "
        "cum_vocab bigint",
    ),
    "stream_quantile_sketch": (
        "orders",
        "decile bigint, target_rank bigint, est_cents bigint, "
        "exact_cents bigint, err_cents bigint",
    ),
}


@pytest.mark.parametrize("name", sorted(COUNTS_ADD_TWINS))
def test_counts_add_twin_over_empty_table(name, spark, sf_dir, tmp_path):
    """A source table with zero rows (and its real schema) gives an empty
    result with the operator's output schema."""
    import pyarrow.parquet as pq

    from frolyk_spark.streaming import jobs

    table, schema = COUNTS_ADD_TWINS[name]
    src = pq.read_table(os.path.join(sf_dir, f"{table}.parquet"))
    pq.write_table(src.slice(0, 0), str(tmp_path / f"{table}.parquet"))
    got = jobs.QUERIES[name](spark, str(tmp_path))
    want = spark.createDataFrame([], schema).schema
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want
    ]
    assert got.collect() == []


def test_vocab_growth_batch_and_oracle_over_empty_table(spark, sf_dir, tmp_path):
    """D82's batch twin and its DuckDB oracle agree with the B32 stream
    twin on an empty corpus: zero rows, not a curve of zeros."""
    import duckdb
    import pyarrow.parquet as pq

    from frolyk_spark.operators.vocab import VOCAB_GROWTH_SQL, vocab_growth

    src = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    path = str(tmp_path / "documents.parquet")
    pq.write_table(src.slice(0, 0), path)
    got = vocab_growth(spark, str(tmp_path))
    assert got.columns == ["bucket", "n_docs_b", "new_words", "cum_tokens", "cum_vocab"]
    assert got.collect() == []
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    assert con.sql(VOCAB_GROWTH_SQL).fetchall() == []
    con.close()


def test_stream_l_diversity_matches_batch_audit(spark, sf_dir, monkeypatch):
    """B37 (r15): the streaming monitor's final l-band histogram must
    equal the batch audit exactly — the state is the batch audit's own
    first-level (QI, sensitive) count table and counts add across
    batches (batching invariance) — and the ingest really was
    multi-batch."""
    from frolyk_spark.operators.governance import l_diversity_audit
    from frolyk_spark.streaming.jobs import stream_l_diversity

    seen = _record_batches(monkeypatch)
    got_df = stream_l_diversity(spark, sf_dir)
    got = {tuple(r) for r in got_df.collect()}
    want = {tuple(r) for r in l_diversity_audit(spark, sf_dir).collect()}
    assert got == want and want
    assert len({b for b, _ in seen}) >= 2, "ingest was not multi-batch"


def test_qi_pairs_stream_state_merges_null_keys(spark, workdir, monkeypatch):
    """B37's distinct-l counts state rows, so a NULL-keyed QI group must
    stay ONE state row across batches: qi_pairs as a complete-mode
    streaming aggregation over a 2-file stream, with NULL event_type rows
    in both files, holds one row per NULL group with the summed count."""
    import datetime as dt

    from frolyk_spark.operators.governance import qi_pairs
    from frolyk_spark.streaming.jobs import _drop_stream, run_available_now

    schema = "event_type string, ts timestamp, value double"
    day1, day2 = dt.datetime(2024, 1, 1, 3), dt.datetime(2024, 1, 2, 3)
    src = os.path.join(workdir, "in")
    # every value falls in value bucket 0
    _write_batch(spark, src, [
        (None, day1, 1.0), (None, day1, 2.0), ("click", day1, 1.0),
    ], schema)
    _write_batch(spark, src, [
        (None, day1, 3.0), (None, day2, 1.0), ("click", day1, 1.0),
    ], schema)
    seen = _record_batches(monkeypatch)
    state = run_available_now(
        qi_pairs(_drop_stream(spark.createDataFrame([], schema), src)),
        mode="complete", prefix="qinull",
    ).collect()
    assert len({b for b, _ in seen}) >= 2, "the stream was not multi-batch"
    got = {(r.event_type, r.d.day, r.vb): r.c for r in state}
    assert len(state) == len(got)
    assert got == {(None, 1, 0): 3, (None, 2, 0): 1, ("click", 1, 0): 2}


def test_sweep_dead_edge_stores_reclaims_warehouse_dirs(spark):
    """r15 review (second pass): a kill -9 mid-stream leaks the store's
    WAREHOUSE FILES while its catalog metadata dies with the process's
    in-memory catalog — so the sweep must scan the warehouse directory,
    not SHOW TABLES. A dead-owner dir with NO catalog entry (the real
    crashed-process layout) is reclaimed; a live-owner table is left
    alone in both catalog and filesystem."""
    import os as _os

    from frolyk_spark.streaming.jobs import _sweep_dead_edge_stores

    dead_pid = 4194300  # near pid_max, almost surely unused
    try:
        _os.kill(dead_pid, 0)
        import pytest
        pytest.skip("improbable: sentinel pid is alive on this host")
    except ProcessLookupError:
        pass
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    if wh.startswith("file://"):
        wh = wh.removeprefix("file://")
    elif wh.startswith("file:"):
        wh = wh.removeprefix("file:")
    one = spark.range(1).select(F.col("id").alias("src"), F.col("id").alias("dst"))
    live = f"edgemon{_os.getpid()}x00000000_t0"
    dead_dir = _os.path.join(wh, f"edgemon{dead_pid}x00000000_t0")
    one.write.mode("overwrite").saveAsTable(live)
    # simulate the crashed process: warehouse files, no catalog entry
    _os.makedirs(dead_dir, exist_ok=True)
    with open(_os.path.join(dead_dir, "part-orphan.parquet"), "w") as fh:
        fh.write("x")
    try:
        _sweep_dead_edge_stores(spark)
        assert spark.sql(f"SHOW TABLES LIKE '{live}'").collect()
        assert _os.path.isdir(_os.path.join(wh, live))
        assert not _os.path.isdir(dead_dir)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {live}")


# --- every versioned-state operator under redelivery -------------------------

#: every stateful stream operator that runs through run_batches: directly,
#: or through run_available_now's sink (the counts-add twins)
RUN_BATCHES_CALLERS = [
    "stream_asof_join", "stream_cdc_apply", "stream_cdc_versioned",
    "stream_components", "stream_corpus_filter", "stream_dedup_incremental",
    "stream_edge_degrees", "stream_heavy_hitters", "stream_k_anonymity",
    "stream_l_diversity", "stream_late_routing", "stream_length_histogram",
    "stream_media_dedup", "stream_quantile_sketch", "stream_sample_weighted",
    "stream_token_feed", "stream_vocab_growth",
]


@pytest.mark.parametrize("name", RUN_BATCHES_CALLERS)
def test_stateful_stream_equals_oracle_under_redelivery(
    name, spark, duck, sf_dir, monkeypatch
):
    """Every stateful stream operator must end oracle-equal when each
    batch is applied TWICE under the same batch id — what Spark does to
    the last uncommitted batch after a crash between the body and the
    offset commit. A failure here is a real redelivery bug in the
    operator."""
    from frolyk_spark.streaming import jobs
    from tests.compare import compare_results

    real = jobs.run_batches
    replayed = []

    def replaying(stream, apply, **kw):
        def twice(batch_df, batch_id):
            apply(batch_df, batch_id)
            apply(batch_df, batch_id)
            replayed.append(batch_id)

        real(stream, twice, **kw)

    monkeypatch.setattr(jobs, "run_batches", replaying)
    df = jobs.QUERIES[name](spark, sf_dir)
    assert replayed, "the operator did not run through run_batches"
    compare_results(df, duck.sql(jobs.ORACLES[name]))


def test_scratch_root_is_read_at_call_time(spark, sf_dir, tmp_path, monkeypatch):
    """Redirecting ``streams.SCRATCH`` after ``jobs`` is imported moves a
    run's checkpoint and results to the new root (the root is never bound
    by value at import)."""
    from frolyk_spark.sources import streams
    from frolyk_spark.sources.streams import events_stream
    from frolyk_spark.streaming import jobs

    root = str(tmp_path / "scratch")
    monkeypatch.setattr(streams, "SCRATCH", root)
    ckpts = []

    def hook(batch_df, batch_id):
        own = os.path.join(root, "checkpoints", f"pid{os.getpid()}")
        ckpts.extend(os.listdir(own) if os.path.isdir(own) else [])

    out = jobs.run_available_now(
        events_stream(spark, sf_dir).groupBy("event_type").count(),
        mode="complete", prefix="rootmove", batch_hook=hook,
    )
    assert ckpts and all(c.startswith("rootmove_") for c in ckpts)
    files = [f.removeprefix("file://") for f in out.inputFiles()]
    assert files and all(f.startswith(os.path.join(root, "results")) for f in files)


def test_direct_run_batches_caller_sweeps_dead_checkpoints(spark, sf_dir):
    """A SIGKILLed run leaks its pid-scoped checkpoint root; the next run
    of ANY run_batches caller (not only run_available_now) reclaims it."""
    import subprocess
    import sys

    from frolyk_spark.sources import streams
    from frolyk_spark.streaming.jobs import _pid_alive, stream_sample_weighted

    dead = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert not _pid_alive(int(dead))
    leaked = os.path.join(streams.SCRATCH, "checkpoints", f"pid{dead}")
    os.makedirs(os.path.join(leaked, "wsample_dead", "offsets"))
    stream_sample_weighted(spark, sf_dir).collect()
    assert not os.path.exists(leaked)
