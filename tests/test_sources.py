"""Stream source builders (SURVEY §2 B8/B9): file, rate, kafka — all
constructible without a broker; the file path is driven end-to-end."""

import os
import shutil
import subprocess
import sys

import pytest

from frolyk_spark.sources.kafka import kafka_reader, kafka_writer
from frolyk_spark.sources.streams import events_stream, rate_stream
from frolyk_spark.streaming.jobs import run_available_now


def test_events_file_stream_end_to_end(spark, sf_dir):
    from frolyk_spark.sources.catalog import load_table

    stream = events_stream(spark, sf_dir)
    assert stream.isStreaming
    got = run_available_now(stream.groupBy("event_type").count(), mode="complete", prefix="src")
    batch = {r.event_type: r["count"] for r in load_table(spark, sf_dir, "events").groupBy("event_type").count().collect()}
    assert {r.event_type: r["count"] for r in got.collect()} == batch


def test_rate_stream_builds(spark):
    df = rate_stream(spark, rows_per_second=5)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["timestamp", "value"]


def test_kafka_reader_writer_build(spark):
    conn = {"brokers": ["broker-1:9092", "broker-2:9092"]}
    reader = kafka_reader(spark, conn, "events")
    assert reader is not None  # configured, unstarted: no broker contact
    from pyspark.sql import functions as F

    df = rate_stream(spark).select(
        F.lit(b"k").alias("key"), F.col("value").cast("string").cast("binary").alias("value")
    )
    writer = kafka_writer(df, conn, topic="out", checkpoint="/tmp/unused")
    assert writer is not None


def test_kafka_reader_requires_brokers(spark):
    with pytest.raises(ValueError, match="brokers"):
        kafka_reader(spark, {}, "events")


# --- JSONL / CSV readers with corrupt-record quarantine ----------------------

def test_jsonl_reader_quarantines_bad_lines(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        '{"doc_id": 2, "text": "second"}\n'
        "{not valid json at all\n"
    )
    from frolyk_spark.sources.formats import load_jsonl, split_quarantine

    df = load_jsonl(spark, str(p), "doc_id bigint, text string")
    clean, bad = split_quarantine(df)
    assert {(r.doc_id, r.text) for r in clean.collect()} == {(1, "hello world"), (2, "second")}
    bad_lines = [r[0] for r in bad.collect()]
    assert bad_lines == ["{not valid json at all"]
    # the quarantine column never leaks into the clean frame
    assert "_corrupt_record" not in clean.columns


def test_csv_reader_quarantines_bad_rows(spark, tmp_path):
    p = tmp_path / "vals.csv"
    p.write_text("a,b\n1,2.5\nnotanint,alsonotadouble\n7,0.25\n")
    from frolyk_spark.sources.formats import load_csv, split_quarantine

    df = load_csv(spark, str(p), "a int, b double")
    clean, bad = split_quarantine(df)
    assert {(r.a, r.b) for r in clean.collect()} == {(1, 2.5), (7, 0.25)}
    assert [r[0] for r in bad.collect()] == ["notanint,alsonotadouble"]


def test_jsonl_failfast_raises(spark, tmp_path):
    p = tmp_path / "bad.jsonl"
    p.write_text('{"doc_id": 1}\nbroken\n')
    from frolyk_spark.sources.formats import load_jsonl

    df = load_jsonl(spark, str(p), "doc_id bigint", mode="FAILFAST")
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        df.collect()


def test_normalize_events_ts_rejects_unexpected_dtype(spark):
    # A string ts is a data regression: fail loudly at load, not with a
    # confusing watermark/window error downstream.
    from frolyk_spark.sources.catalog import normalize_events_ts

    df = spark.createDataFrame([("2024-01-01 00:00:00",)], "ts string")
    with pytest.raises(TypeError, match="unsupported dtype"):
        normalize_events_ts(df)


def test_normalize_events_ts_accepts_long_nanos(spark):
    from frolyk_spark.sources.catalog import normalize_events_ts

    df = spark.createDataFrame([(1_700_000_000_123_456_789,)], "ts long")
    out = normalize_events_ts(df)
    assert out.schema["ts"].dataType.typeName() == "timestamp"
    # nanos truncate to micros
    assert out.collect()[0].ts.microsecond == 123456


def test_orc_interchange_keeps_pushdown_and_pruning(spark, sf_dir, tmp_path):
    """E15: the ORC path must preserve the scan posture — filters reach
    the ORC reader (PushedFilters), projection prunes ReadSchema, content
    round-trips exactly, and directory partitioning prunes."""
    from pyspark.sql import functions as F

    from frolyk_spark.plans import plan_report
    from frolyk_spark.sources.catalog import export_table, load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag"
    )
    out = str(tmp_path / "li_orc")
    back = export_table(li, out, fmt="orc")
    assert back.count() == li.count()
    # value-exact round trip (checksum over all columns)
    def chk(df):
        return df.select(
            F.sum(F.xxhash64("l_orderkey", "l_partkey", "l_quantity", "l_returnflag") % 100003)
        ).collect()[0][0]
    assert chk(back) == chk(li)
    rep = plan_report(back.where(F.col("l_quantity") > 40).select("l_orderkey"))
    assert any("l_quantity" in p for p in rep["pushed_filters"]), rep["pushed_filters"]
    assert all(len(cols) <= 2 for cols in rep["read_schemas"]), rep["read_schemas"]

    part_out = str(tmp_path / "li_orc_part")
    backp = export_table(li, part_out, fmt="orc", partition_by=["l_returnflag"])
    pruned = backp.where(F.col("l_returnflag") == "R")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the filter must appear INSIDE the PartitionFilters list — every
    # partitioned scan prints an (often empty) "PartitionFilters: [...]",
    # so matching the bare label would never fail
    import re as _re

    assert _re.search(r"PartitionFilters: \[[^\]]*l_returnflag", plan), plan[:800]
    assert pruned.count() == li.where(F.col("l_returnflag") == "R").count()


def test_corrupt_col_membership_is_by_field_name_not_substring():
    """r8 review regression: a schema whose text merely CONTAINS the
    corrupt column name (e.g. 'raw_corrupt_record') must still get the
    real capture column appended — the old substring test silently
    disabled quarantine for such schemas."""
    from frolyk_spark.sources.formats import _with_corrupt_col

    out = _with_corrupt_col(
        "raw_corrupt_record string, x int", "PERMISSIVE", "_corrupt_record"
    )
    assert out.endswith(", _corrupt_record string"), out
    # exact-name presence still suppresses the append
    assert (
        _with_corrupt_col("_corrupt_record string, x int", "PERMISSIVE",
                          "_corrupt_record")
        == "_corrupt_record string, x int"
    )


def test_corrupt_col_membership_splits_at_depth_zero_only():
    """r9 (r8 advice): a NESTED field named like the corrupt column
    (struct<a int, _corrupt_record string>) must not suppress the
    top-level append, and a decimal(10,2)'s internal comma must not
    produce phantom field names."""
    from frolyk_spark.sources.formats import _with_corrupt_col

    out = _with_corrupt_col(
        "s struct<a int, _corrupt_record string>, x decimal(10,2)",
        "PERMISSIVE", "_corrupt_record",
    )
    assert out.endswith(", _corrupt_record string"), out
    # a real top-level corrupt column still suppresses, even listed last
    kept = "s struct<a int, b string>, _corrupt_record string"
    assert _with_corrupt_col(kept, "PERMISSIVE", "_corrupt_record") == kept


def test_kafka_source_includes_headers():
    """Headers are part of the reference message contract
    (NewMessage.headers); the source must ask Spark for the column."""
    from frolyk_spark.tasks.kafka import build_source_options

    opts = build_source_options({"brokers": "b:9092"}, "t", "latest")
    assert opts["includeHeaders"] == "true"


def test_split_leakage_audit_structure(spark, sf_dir):
    """D77: the audit covers every (held-out split, channel) cell, leak
    counts stay within split sizes, and every near-leaked doc really has
    a candidate pair to a train doc under the split rule."""
    from frolyk_spark.operators.dedup import (
        band_pairs, persisted_minhash_signatures,
    )
    from frolyk_spark.operators.sampling import (
        split_leakage_audit, train_test_split,
    )

    rows = split_leakage_audit(spark, sf_dir).collect()
    assert {(r.split, r.channel) for r in rows} == {
        (s, c) for s in ("val", "test") for c in ("exact", "near")
    }
    split_of = {r.doc_id: r.split for r in train_test_split(spark, sf_dir).collect()}
    near_truth = set()
    for p in band_pairs(persisted_minhash_signatures(spark, sf_dir)).collect():
        sa, sb = split_of[p.doc_a], split_of[p.doc_b]
        if sa == "train" and sb != "train":
            near_truth.add((sb, p.doc_b))
        if sb == "train" and sa != "train":
            near_truth.add((sa, p.doc_a))
    for r in rows:
        assert 0 <= r.n_leaked <= r.n_docs
        if r.channel == "near":
            want = [d for s, d in near_truth if s == r.split]
            assert r.n_leaked == len(want)
            assert r.leaked_id_sum == sum(want)


def test_sample_weighted_plan_and_bias(spark, sf_dir):
    """D78: the bottom-k runs as a partial top-K (TakeOrderedAndProject,
    never a global sort), membership is deterministic across calls, and
    the weighting biases the sample toward heavier docs (mean sampled
    weight above the corpus mean — the property the operator exists for)."""
    from frolyk_spark.operators.sampling import sample_weighted
    from frolyk_spark.plans.inspect import plan_report
    from frolyk_spark.sources.catalog import load_table

    df = sample_weighted(spark, sf_dir)
    assert "TakeOrderedAndProject" in plan_report(df)["plan"]
    a = {r.doc_id for r in df.collect()}
    assert a == {r.doc_id for r in sample_weighted(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    corpus_mean = docs.agg({"n_chars": "avg"}).collect()[0][0]
    sample_mean = (
        docs.where(docs.doc_id.isin(list(a))).agg({"n_chars": "avg"}).collect()[0][0]
    )
    assert sample_mean > corpus_mean


# --- streams.artifact: the one persisted-artifact component ----------------
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def art(tmp_path, monkeypatch):
    """streams with SCRATCH redirected to a fresh root, plus one source
    file to key artifacts on."""
    from frolyk_spark.sources import streams

    monkeypatch.setattr(streams, "SCRATCH", str(tmp_path / "scratch"))
    src = tmp_path / "table.parquet"
    src.write_bytes(b"src")
    return streams, str(src)


def _writer(*texts, calls=None):
    """A plain-Python build: one part file per text."""
    def build(d):
        if calls is not None:
            calls.append(d)
        for i, text in enumerate(texts):
            with open(os.path.join(d, f"part-{i}"), "w") as fh:
                fh.write(text)
    return build


def _no_build(d):
    raise AssertionError("a complete artifact must be reused, not rebuilt")


def _failing_build(d):
    with open(os.path.join(d, "part-0"), "w") as fh:
        fh.write("half")
    raise RuntimeError("build failed")


def _key_link(streams, kind):
    root = os.path.join(streams.SCRATCH, kind)
    [key] = [e for e in os.listdir(root) if ".build-" not in e]
    return os.path.join(root, key)


def _child(code, *args):
    """Run ``code`` in a fresh interpreter (no Spark session), repo on the
    path; returns the Popen."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (_REPO, os.environ.get("PYTHONPATH")) if p))
    return subprocess.Popen(
        [sys.executable, "-c", code, *args], env=env, cwd=_REPO,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def test_artifact_builds_once_and_repairs_half_written_state(art):
    streams, src = art
    calls = []
    path, nbytes = streams.artifact("k", [src], ("p",), _writer("ab", "cde", calls=calls))
    assert len(calls) == 1 and nbytes == 5
    assert sorted(os.listdir(path)) == ["_SUCCESS", "part-0", "part-1"]
    link = _key_link(streams, "k")
    assert os.path.islink(link) and os.path.realpath(link) == path
    assert streams.artifact("k", [src], ("p",), _no_build) == (path, 5)

    # a crashed writer's real dir at the key: files, no _SUCCESS
    os.unlink(link)
    shutil.rmtree(path)
    os.makedirs(link)
    with open(os.path.join(link, "part-0"), "w") as fh:
        fh.write("a")
    path2, nbytes2 = streams.artifact("k", [src], ("p",), _writer("ab", "cde", calls=calls))
    assert len(calls) == 2 and nbytes2 == 5
    assert os.path.islink(link) and os.path.realpath(link) == path2

    # a link whose target is gone is repaired too
    shutil.rmtree(path2)
    path3, _ = streams.artifact("k", [src], ("p",), _writer("ab", "cde", calls=calls))
    assert len(calls) == 3 and os.path.exists(os.path.join(path3, "_SUCCESS"))

    # a failed build leaves nothing behind and publishes nothing
    shutil.rmtree(path3)
    with pytest.raises(RuntimeError, match="build failed"):
        streams.artifact("k", [src], ("p",), _failing_build)
    assert [e for e in os.listdir(os.path.dirname(link)) if ".build-" in e] == []


def test_artifact_key_is_resolved_sources_plus_params(art, tmp_path):
    streams, src = art
    a, _ = streams.artifact("k", [src], ("p", 1), _writer("one"))
    b, _ = streams.artifact("k", [src], ("p", 2), _writer("two"))
    assert a != b
    with open(os.path.join(b, "part-0")) as fh:
        assert fh.read() == "two"
    # a symlinked alias of the same source is the same artifact; the
    # source list's order does not matter; another kind is another root
    alias = tmp_path / "alias.parquet"
    os.symlink(src, alias)
    assert streams.artifact("k", [str(alias)], ("p", 1), _no_build)[0] == a
    other = tmp_path / "other.parquet"
    other.write_bytes(b"o")
    ab, _ = streams.artifact("k", [src, str(other)], ("p", 1), _writer("ab"))
    assert streams.artifact("k", [str(other), src], ("p", 1), _no_build)[0] == ab
    assert streams.artifact("k2", [src], ("p", 1), _writer("x"))[0] != a


_RACER = r"""
import json, os, sys, time
from frolyk_spark.sources import streams

streams.SCRATCH, src, gate = sys.argv[1:4]
me = str(os.getpid())


def wait_for(prefix):
    deadline = time.time() + 60
    while len([f for f in os.listdir(gate) if f.startswith(prefix)]) < 2:
        assert time.time() < deadline, "the other builder never arrived"
        time.sleep(0.02)


def build(d):
    for i in range(3):
        with open(os.path.join(d, f"part-{me}-{i}"), "w") as fh:
            fh.write(me)
    open(os.path.join(gate, f"built-{me}"), "w").close()
    wait_for("built-")  # both builds are complete before either publishes


path, nbytes = streams.artifact("race", [src], ("p",), build)
files = sorted(os.listdir(path))
open(os.path.join(gate, f"published-{me}"), "w").close()
wait_for("published-")  # the other builder has published or lost too
assert sorted(os.listdir(path)) == files
owners = sorted({open(os.path.join(path, f)).read() for f in files if f != "_SUCCESS"})
print(json.dumps({"path": path, "files": files, "owners": owners, "nbytes": nbytes}))
"""


def test_artifact_concurrent_builders_leave_one_valid_artifact(art, tmp_path):
    import json

    streams, src = art
    gate = tmp_path / "gate"
    gate.mkdir()
    procs = [_child(_RACER, streams.SCRATCH, src, str(gate)) for _ in range(2)]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=180)
        assert p.returncode == 0, err
        outs.append(json.loads(out.strip().splitlines()[-1]))
    # both racers return the winner's dir; it holds exactly the winner's
    # complete build, and the loser's build is gone
    assert outs[0] == outs[1]
    won = outs[0]
    assert len(won["owners"]) == 1 and len(won["files"]) == 4
    link = _key_link(streams, "race")
    assert os.path.realpath(link) == won["path"]
    assert sorted(os.listdir(os.path.dirname(link))) == sorted(
        [os.path.basename(link), os.path.basename(won["path"])])


_PUBLISHER = r"""
import sys
from frolyk_spark.sources import streams

streams.SCRATCH, src = sys.argv[1:3]
streams.artifact("k", [src], ("p",), lambda d: open(d + "/part-0", "w").write("x"))
"""


def test_artifact_reclaims_dead_builds_but_never_the_published_one(art):
    streams, src = art
    # the published build's owner is a finished process: a dead pid
    p = _child(_PUBLISHER, streams.SCRATCH, src)
    _, err = p.communicate(timeout=120)
    assert p.returncode == 0, err
    link = _key_link(streams, "k")
    published = os.path.realpath(link)
    dead = int(os.path.basename(published).split(".build-")[1].split("-")[0])
    assert dead == p.pid and not streams._pid_alive(dead)
    key = os.path.basename(link)
    crashed = os.path.join(os.path.dirname(link), f"{key}.build-{dead}-0dead0ff")
    live = os.path.join(os.path.dirname(link), f"{key}.build-{os.getpid()}-0live0ff")
    for d in (crashed, live):
        os.makedirs(d)
        with open(os.path.join(d, "part-0"), "w") as fh:
            fh.write("partial")

    assert streams.artifact("k", [src], ("p",), _no_build)[0] == published
    assert not os.path.exists(crashed)
    assert os.path.exists(os.path.join(published, "_SUCCESS"))
    assert os.path.isdir(live)  # a live owner's build is never touched


@pytest.mark.parametrize("module, artifact_fn, builder, geometry", [
    ("dedup", "_minhash_artifact", "minhash_signatures",
     ("MINHASH_K", "MINHASH_SEEDS", "SHINGLE_W")),
    ("multimodal", "_dhash_artifact", "_dhash_codes",
     ("DHASH_GRID_X", "DHASH_GRID_Y", "IMG_W", "IMG_H", "IMG_GROUP")),
])
def test_signature_artifacts_key_on_their_geometry(
    spark, sf_dir, art, monkeypatch, module, artifact_fn, builder, geometry,
):
    """A change to any constant that shapes the persisted codes builds a
    new artifact instead of serving the old geometry's files."""
    import importlib

    mod = importlib.import_module(f"frolyk_spark.operators.{module}")
    monkeypatch.setattr(mod, builder, lambda s, d: s.range(1))
    fn = getattr(mod, artifact_fn)
    base = fn(spark, sf_dir)[0]
    assert fn(spark, sf_dir)[0] == base
    for name in geometry:
        value = getattr(mod, name)
        with monkeypatch.context() as m:
            m.setattr(mod, name, value[1:] if isinstance(value, tuple) else value + 1)
            assert fn(spark, sf_dir)[0] != base, name
