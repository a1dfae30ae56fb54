"""File / rate stream sources (SURVEY §2 B9).

File streams are the replayable "topic" in this repo's tests (the reference
uses Kafka topics; see frolyk_spark.sources.kafka for that path). The
file-stream source lists a *directory*, so single-file tables are staged as
symlinks — no data copies. At scale the directory would be a partitioned
object-store prefix and `maxFilesPerTrigger` bounds micro-batch size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: repo-local scratch space for stream staging dirs + checkpoints
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch"
)


def _pid_alive(pid: int) -> bool:
    """True if a process with this pid exists (EPERM counts as alive)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def artifact(kind: str, sources, params, build) -> tuple[str, int]:
    """THE one way to key, build and publish a persisted train-once
    artifact (signature/code tables, co-purchase edges, ANN fits, BPE
    merges, MV partials, staged assets, stream drops). Never under the
    pid-scoped results root the streaming janitor reclaims.

    - Key: md5 of the sorted resolved ``sources`` plus ``params``, linked
      at SCRATCH/<kind>/<key>. Two datasets sharing a basename never
      collide, and everything that shapes the bytes (geometry, depth,
      split) belongs in ``params``, so a change rebuilds instead of
      serving stale files.
    - Build: ``build(dir)`` writes into a private
      ``<key>.build-<pid>-<uuid>`` dir; ``_SUCCESS`` is written here once
      it returns. A failed build is removed.
    - Publish: the first ``os.symlink`` onto the key wins; a losing
      racer deletes its own build and takes the winner's. A half-written
      real dir or a dangling link at the key is repaired, never reused.
      Build dirs whose owner process is dead are reclaimed, never the one
      the link points to.
    - Return: (resolved build dir, its byte size). A reader of the
      resolved dir never sees its files change, and the size is what
      ``loop_partitions`` sizes a fixed-plan loop from.
    """
    import hashlib
    import shutil
    import uuid

    from frolyk_spark.functions.loops import dir_bytes

    resolved = sorted(os.path.realpath(s) for s in sources)
    key = hashlib.md5(repr((resolved, params)).encode()).hexdigest()[:12]
    root = os.path.join(SCRATCH, kind)
    link = os.path.join(root, key)
    os.makedirs(root, exist_ok=True)
    for name in os.listdir(root):
        k, sep, owner = name.partition(".build-")
        pid, stale = owner.split("-")[0], os.path.join(root, name)
        if (sep and pid.isdigit() and not _pid_alive(int(pid))
                and os.path.realpath(os.path.join(root, k)) != stale):
            shutil.rmtree(stale, ignore_errors=True)

    def complete(p: str) -> bool:
        return os.path.exists(os.path.join(p, "_SUCCESS"))

    if not complete(link):
        mine = f"{link}.build-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        os.makedirs(mine)
        try:
            build(mine)
            open(os.path.join(mine, "_SUCCESS"), "w").close()
        except BaseException:
            shutil.rmtree(mine, ignore_errors=True)
            raise
        for _attempt in range(3):
            try:
                os.symlink(mine, link)
                return mine, dir_bytes(mine)
            except FileExistsError:
                pass
            if complete(link):
                shutil.rmtree(mine, ignore_errors=True)
                break
            # repair: a crashed pre-link writer's real dir, or a link
            # whose target is gone
            if os.path.islink(link):
                try:
                    os.unlink(link)
                except FileNotFoundError:
                    pass
            else:
                shutil.rmtree(link, ignore_errors=True)
        else:
            # a concurrent repairer keeps winning (or EACCES): our own
            # complete build is the safe answer
            return mine, dir_bytes(mine)
    path = os.path.realpath(link)
    return path, dir_bytes(path)


def stage_stream_dir(sf_dir: str, table: str) -> str:
    """Directory the file-stream source can list, containing a symlink to
    the table's parquet (file sources reject bare file paths).

    Keyed on a hash of the *resolved* source path — two datasets sharing a
    basename never collide — and a stale/dangling symlink is repaired, not
    reused."""
    import hashlib

    target = os.path.realpath(os.path.join(sf_dir, f"{table}.parquet"))
    key = hashlib.md5(target.encode()).hexdigest()[:12]
    d = os.path.join(SCRATCH, "streams", f"{table}_{key}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}-0.parquet")
    if os.path.lexists(link) and os.path.realpath(link) != target:
        os.unlink(link)
    if not os.path.lexists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:
            # TOCTOU with a concurrent process staging the same table:
            # both passed the lexists check, the other won the race. The
            # key embeds the resolved target, so the existing link is
            # necessarily correct — losing the race is success.
            pass
    return d


def stage_multi_file_drop(df: DataFrame, sf_dir: str, table: str,
                          salt: str, parts: int = 4) -> str:
    """Stage ``df`` as a ``parts``-file parquet drop a file stream can
    consume one file per trigger — REAL multi-batch ingest for the
    streaming operators (B17/B19). An ``artifact`` keyed on the resolved
    source path + ``salt`` + ``parts`` (two operators staging different
    splits of the same table never collide; a changed file count
    re-stages), so the write happens once per dataset."""
    path, _ = artifact(
        "streams", [os.path.join(sf_dir, f"{table}.parquet")], ("drop", salt, parts),
        lambda d: df.repartition(parts).write.mode("overwrite").parquet(d),
    )
    return path


def stage_keyed_file_drop(df: DataFrame, sf_dir: str, table: str,
                          salt: str, parts: int, key_col: str) -> str:
    """Stage ``df`` as a ``parts``-file drop where file k holds EXACTLY
    the rows with ``key_col % parts == k`` — a CONTENT-DEFINED batch
    assignment an external oracle can reconstruct, unlike
    stage_multi_file_drop's round-robin split (fine for the
    batching-INVARIANT operators, useless for one whose output depends on
    which batch a row arrived in, like the late-data router).

    Consumption order is pinned two ways: zero-padded lexicographic file
    names AND strictly increasing mtimes (the file source processes
    oldest-first); the consuming job must still assert the contract per
    batch (content % parts == batch_id) so a listing-order change fails
    loudly instead of silently desynchronizing the oracle.

    Same persistence contract as stage_multi_file_drop, with ``key_col``
    in the key too.
    """
    import shutil
    import time as _time

    def build(d: str) -> None:
        base = _time.time() - parts * 10
        for k in range(parts):
            tmp = os.path.join(d, f".tmp{k}")
            (df.where(F.expr(f"{key_col} % {parts} = {k}"))
               .coalesce(1).write.mode("overwrite").parquet(tmp))
            part = next(f for f in os.listdir(tmp)
                        if f.endswith(".parquet") and not f.startswith("."))
            out = os.path.join(d, f"{k:04d}.parquet")
            os.replace(os.path.join(tmp, part), out)
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(out, (base + k * 10, base + k * 10))

    path, _ = artifact(
        "streams", [os.path.join(sf_dir, f"{table}.parquet")],
        ("keyed_drop", salt, parts, key_col), build,
    )
    return path


def file_stream(
    spark: SparkSession,
    path: str,
    schema,
    *,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Schema-pinned file stream (streaming sources can't infer schemas)."""
    reader = spark.readStream.schema(schema)
    # `is not None`, not truthiness: an explicit 0 must reach Spark (which
    # rejects it loudly) instead of silently becoming "unthrottled"
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.format(fmt).load(path)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming view of the events table, normalized through the SAME
    helper as the batch catalog (catalog.normalize_events_ts) so streaming
    results hash-match batch oracles by construction."""
    from frolyk_spark.sources.catalog import normalize_events_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = file_stream(spark, stage_stream_dir(sf_dir, "events"), raw_schema)
    return normalize_events_ts(stream)


def rate_stream(spark: SparkSession, rows_per_second: int = 10, num_partitions: int = 1) -> DataFrame:
    """Synthetic load source (timestamp, value) — useful for backpressure
    and latency experiments without any storage."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .option("numPartitions", str(num_partitions))
        .load()
    )
