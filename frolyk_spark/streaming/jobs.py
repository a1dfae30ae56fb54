"""Structured Streaming operators over the events table (SURVEY §2 B1-B3, B6).

The events parquet is replayed as a file stream (the same role Kafka topics
play in the reference — JaapRood/frolyk src/streams.ts builds one ordered
message stream per topic-partition; here the stream is the events "topic"
and Spark owns partitioning/ordering). Each query:

  readStream(parquet) -> transform -> writeStream(foreachBatch ->
  parquet, availableNow trigger) -> await -> read the result back

`availableNow` processes everything currently available and terminates, so
the result is deterministic and oracle-checkable against batch SQL — the
streaming/batch parity Spark guarantees by design. The gate sink is
foreachBatch-to-parquet (run_available_now): results stay distributed in
storage, never on the driver, so the harness itself survives a result set
1000× larger — the same posture a production Kafka/Delta/parquet sink
with `append` + watermark would have, while exercising the real streaming
engine (stateful aggregation, state store, commit log). Watermark/
late-data, custom state, and checkpoint-recovery paths are exercised in
tests/test_streaming.py (B4, B5, B7, A14). Result files land under
.scratch/streams/results/pid<pid>/<uuid> and are read lazily; each gate
run reclaims sibling pid roots whose owner process is dead, pid-reuse
leftovers in our own root (dirs this process didn't create), and legacy
non-pid dirs by mtime — bounding the scratch footprint across rounds
without ever deleting under a live reader: a returned DataFrame reads
its parquet lazily, so an mtime cutoff alone could rmtree files a
long-lived session still holds. Dirs this process created are reclaimed
only at the next process's run (each is a potentially-live reader).

The file-stream source needs a *directory*; single-file tables are staged
as a symlink under .scratch/streams (no data copy).

Every foreachBatch operator runs through ONE lifecycle, ``run_batches``
(the shuffle-partition pin, the checkpoint, the availableNow start/await,
checkpoint cleanup, named-run resume), and keeps its cross-batch state in
ONE store, ``VersionedState``, the only code that knows the state's
on-disk layout: version naming, the strictly-below ``prior(batch_id)``
redelivery rule, named side frames fused into one partitioned write,
atomically-renamed one-scalar versions, keep >= 2 retention, and every
read (a version, the prior or latest one, one side across versions),
which yields the caller's named schema when there is nothing to read.
An operator supplies only its per-batch body and its final read — the
frolyk Task shape, where the framework owns assignment, commits and
restart and the caller supplies the processor.

Cross-batch state that merges by count, sum, min or max is not hand-rolled
at all: the operator applies its batch twin's first-level aggregate to
the file stream, runs it through ``run_available_now(mode="complete")``
(Spark's state store owns the state and its redelivery), and applies the
batch twin's second level to the returned state — the B27/B31/B32/B33/
B35/B37 monitors. ``VersionedState`` is only for state such an
aggregation cannot express: bottom-k, keep-first, label propagation,
per-batch version lineage, txn-guarded and batching-dependent bodies.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from frolyk_spark.operators.dedup import _dedup_incremental_sql
from frolyk_spark.functions.loops import conf_span
from frolyk_spark.operators.graph import ORACLES as _graph_oracles
from frolyk_spark.sources.catalog import load_table
from frolyk_spark.sources import streams
from frolyk_spark.sources.streams import _pid_alive, events_stream, stage_stream_dir  # noqa: F401

#: session gap for session windows
SESSION_GAP = "30 minutes"


def ordered_event_key() -> F.Column:
    """THE portable total order over events: zero-padded (ts_us, event_id)
    as one string. Both pads are full-bigint width — lpad TRUNCATES past
    its length in both engines, so a short pad would collapse 11+-digit
    event_ids into tied keys and make min_by/max_by nondeterministic (r6
    ADVICE). One definition (plus the _sql twin) so B15/B19 and any future
    ordered aggregate cannot drift pad widths independently (r9 review)."""
    return F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
    )


#: DuckDB twin of ordered_event_key()
ORDERED_EVENT_KEY_SQL = (
    "lpad(cast(epoch_us(ts) AS VARCHAR), 20, '0')"
    " || lpad(cast(event_id AS VARCHAR), 20, '0')"
)

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"
TS_US_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_US_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


#: result dirs THIS process created (and so may still be lazily reading).
#: Anything under our pid root but not in here is a leftover from a dead
#: process that happened to get our pid — safe to reclaim.
_LIVE_RESULTS: set[str] = set()


def _named_dir(kind: str, name: str) -> str:
    """SCRATCH/<kind>/named/<name> for a NAMED resumable run, with a
    sibling <name>.owner_pid liveness file so the janitor never reclaims a
    live run (r8 advice). Named dirs must be findable by a DIFFERENT
    process after a crash (B17's resume contract), so they cannot be
    pid-scoped like anonymous runs; the owner file + 1-hour window bound
    them instead. The owner write is NOT advisory — if it fails, the run
    would be sweepable while live, so the error propagates (the run could
    not have written its checkpoint/results into this dir either)."""
    d = os.path.join(streams.SCRATCH, kind, "named")
    os.makedirs(d, exist_ok=True)
    # Atomic publish (temp + os.replace), never truncate-in-place: a
    # sweeper reading during a truncate window would see an empty file and
    # treat a live owner as dead (r9 advice). Last-writer-wins is the
    # intended takeover semantic for resumable runs, but a DIFFERENT still-
    # live owner is surfaced loudly instead of silently overwritten.
    owner = os.path.join(d, f"{name}.owner_pid")
    try:
        with open(owner) as fh:
            prev = int(fh.read().strip())
        if prev != os.getpid() and _pid_alive(prev):
            import warnings

            warnings.warn(
                f"named run '{name}' owner file records live pid {prev}; "
                f"pid {os.getpid()} is taking over", stacklevel=2)
    except (OSError, ValueError):
        pass
    tmp = f"{owner}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(str(os.getpid()))
    os.replace(tmp, owner)
    return os.path.join(d, name)


def _checkpoint_dir(name: str, *, named: bool = False) -> str:
    """Checkpoint location under SCRATCH/checkpoints, laid out so the
    janitor can sweep without racing a live query: anonymous (uuid-named,
    one-shot) runs live under pid<pid>/ — swept only once the owner
    process is dead; named resumable runs go through _named_dir."""
    if not named:
        return os.path.join(streams.SCRATCH, "checkpoints", f"pid{os.getpid()}", name)
    return _named_dir("checkpoints", name)


def _sweep_named(parent: str, cutoff: float) -> None:
    """Reclaim dead entries of a named/ dir: a run dir goes when its
    recorded owner is dead (or its owner file is gone — the run could not
    have started without one) AND the recovery window passed; orphan
    .owner_pid files whose dir is already gone are reclaimed by their own
    mtime."""
    for sub in os.listdir(parent):
        sp = os.path.join(parent, sub)
        if ".owner_pid.tmp-" in sub:
            # atomic-publish temp stranded by a crash between write and
            # os.replace (r10 review): reclaim once its writer is dead
            # and the window passed — without this branch the generic
            # run-dir logic rmtree's a FILE (silent no-op) and it leaks
            try:
                writer = int(sub.rsplit("-", 1)[1])
                if not _pid_alive(writer) and os.path.getmtime(sp) < cutoff:
                    os.unlink(sp)
            except (OSError, ValueError):
                pass
            continue
        if sub.endswith(".owner_pid"):
            # orphan reclaim must ALSO check the recorded owner is dead: a
            # live run writes its owner file at start but creates the data
            # dir only at first commit — unlinking by mtime alone would
            # strip a slow live run's liveness guard (r9 review)
            base = os.path.join(parent, sub[: -len(".owner_pid")])
            owner_alive = False
            try:
                with open(sp) as fh:
                    owner_alive = _pid_alive(int(fh.read().strip()))
            except (OSError, ValueError):
                pass
            if (not owner_alive and not os.path.isdir(base)
                    and os.path.getmtime(sp) < cutoff):
                os.unlink(sp)
            continue
        owner = os.path.join(parent, f"{sub}.owner_pid")
        alive = False
        try:
            with open(owner) as fh:
                alive = _pid_alive(int(fh.read().strip()))
        except (OSError, ValueError):
            pass
        if not alive and os.path.getmtime(sp) < cutoff:
            shutil.rmtree(sp, ignore_errors=True)
            try:
                os.unlink(owner)
            except OSError:
                pass


def _run_root(prefix: str, name: str | None = None) -> tuple[str, str]:
    """(run name, result root) of one streaming run. Anonymous runs get a
    uuid name under this process's pid root, registered as live so the
    janitor never reclaims it under a lazy reader; a NAMED resumable run
    keys its root by name through _named_dir, so a different process can
    find the committed batches after a crash."""
    if name is not None:
        return name, _named_dir("results", name)
    name = f"{prefix}{uuid.uuid4().hex[:8]}"
    root = os.path.join(streams.SCRATCH, "results", f"pid{os.getpid()}", name)
    _LIVE_RESULTS.add(root)
    return name, root


def _sweep_results() -> None:
    """Reclaim dead result roots. Results can't be deleted eagerly (a
    returned DataFrame reads them lazily), and an mtime cutoff can delete
    under a live reader in a session spanning the cutoff, so results are
    scoped per PROCESS: sibling pid roots go once their owner is dead,
    named roots through the owner-pid-guarded _sweep_named, and legacy
    flat dirs (pre-pid layout) by mtime."""
    import time as _time

    parent = os.path.join(streams.SCRATCH, "results")
    if not os.path.isdir(parent):
        return
    own = os.path.join(parent, f"pid{os.getpid()}")
    cutoff = _time.time() - 3600
    for d in os.listdir(parent):
        p = os.path.join(parent, d)
        try:
            if p == own:
                # our own root: reclaim only dirs this process did NOT
                # create — leftovers from a dead process that was assigned
                # our pid. Dirs we created stay until process exit: each
                # is a potentially-live lazy reader.
                for sub in os.listdir(p):
                    sp = os.path.join(p, sub)
                    if sp not in _LIVE_RESULTS:
                        shutil.rmtree(sp, ignore_errors=True)
            elif d.startswith("pid") and d[3:].isdigit():
                if not _pid_alive(int(d[3:])):
                    shutil.rmtree(p, ignore_errors=True)
            elif d == "named":
                _sweep_named(p, cutoff)
            elif os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def _sweep_checkpoints() -> None:
    """Reclaim dead checkpoint dirs (SIGKILLed runs leak them — the finally
    blocks delete on every normal exit). pid roots go when their owner
    dies; named resumable dirs go through the owner-pid-guarded
    _sweep_named; legacy flat names (pre-pid layout) keep the mtime-only
    fallback."""
    import time as _time

    parent = os.path.join(streams.SCRATCH, "checkpoints")
    if not os.path.isdir(parent):
        return
    cutoff = _time.time() - 3600
    for d in os.listdir(parent):
        p = os.path.join(parent, d)
        try:
            if d.startswith("pid") and d[3:].isdigit():
                if not _pid_alive(int(d[3:])):
                    shutil.rmtree(p, ignore_errors=True)
            elif d == "named":
                _sweep_named(p, cutoff)
            elif os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def _stop_when_idle(
    query, *, idle_batches: int, require_empty_state: bool = False,
    timeout_s: float = 600.0,
) -> None:
    """Stop ``query`` once ``idle_batches`` consecutive completed batches
    had zero input rows (see run_available_now's stop_on_idle). The stop
    is the CONTRACTED end of a bounded drain run, not an abort — data
    batches and at least one drain batch have all committed by then.

    ``require_empty_state`` additionally waits until every state operator
    reports zero rows — the full-drain form: without it, a pending
    ProcessingTimeTimeout larger than ~two empty-batch durations would be
    stopped over silently (open sessions dropped without emission — the
    r10 review catch). Operators whose contract is "end-of-input flushes
    all open sessions" must pass it; harnesses that deliberately stop
    with live state (restart tests) must not."""
    import time as _time

    deadline = _time.time() + timeout_s
    while query.isActive:
        if _time.time() > deadline:
            query.stop()
            raise TimeoutError(
                f"stream did not go idle within {timeout_s}s")
        prog = query.recentProgress
        idle = len(prog) >= idle_batches and all(
            p["numInputRows"] == 0 for p in prog[-idle_batches:]
        )
        drained = (not require_empty_state) or (
            bool(prog) and all(
                so["numRowsTotal"] == 0 for so in prog[-1]["stateOperators"]
            )
        )
        if idle and drained:
            query.stop()
            break
        _time.sleep(0.25)
    query.awaitTermination()


def _check_keep(keep: int | None) -> None:
    """keep < 2 would vacuum the redelivery anchor: Spark replays at most
    the last uncommitted batch, whose predecessor must survive or the
    rebuild resets all state to that batch alone (keep=0 would also be a
    silent no-op of the slicing)."""
    if keep is not None and keep < 2:
        raise ValueError(
            f"keep_versions must be >= 2 (redelivery anchor), got {keep}"
        )


class VersionedState:
    """Per-batch versioned state under ``root`` — THE cross-batch store of
    every foreachBatch operator, and the only code that knows its on-disk
    layout. Version ``v`` is ``root/{prefix}{v}``: a parquet dir
    (``write``), with one ``side=<name>`` partition per named side frame,
    or a one-scalar text file ``{prefix}{v}.txt`` (``write_scalar``,
    atomically renamed — a scalar doesn't earn a parquet job per batch).

    foreachBatch is at-least-once: after a crash between the body and the
    offset commit Spark re-runs the last batch under the same id. Every
    batch therefore writes its OWN version (a redelivery overwrites it)
    and reads only versions STRICTLY below its id (``prior`` /
    ``read_prior`` / ``read_side(below=...)``) — never its own or a
    successor's output, so retries never double-count. ``keep`` bounds
    the lineage to the newest ``keep`` versions after each write (>= 2
    keeps the redelivery anchor).

    Reads name a DDL ``schema``: the frame is projected onto its columns,
    and when there is nothing to read it is the empty frame of that
    schema. Without a schema a read with nothing to read returns None,
    for a body whose plan branches on whether prior state exists."""

    def __init__(
        self, spark: SparkSession, root: str, *, prefix: str = "s",
        keep: int | None = None,
    ):
        _check_keep(keep)
        self.spark, self.root, self.prefix, self.keep = spark, root, prefix, keep

    def _path(self, v: int, side: str | None = None) -> str:
        p = os.path.join(self.root, f"{self.prefix}{v}")
        return p if side is None else os.path.join(p, f"side={side}")

    def versions(
        self, *, below: int | None = None, side: str | None = None,
        sealed: bool = False,
    ) -> list[int]:
        """Committed version ids, ascending; ``side`` keeps only versions
        that carry that partition, ``sealed`` only parquet versions whose
        write committed (``_SUCCESS`` present)."""
        n = len(self.prefix)
        found = set()
        for f in os.listdir(self.root) if os.path.isdir(self.root) else []:
            stem = f.removesuffix(".txt")
            if stem.startswith(self.prefix) and stem[n:].isdigit():
                v = int(stem[n:])
                if (below is None or v < below) and (
                    side is None or os.path.isdir(self._path(v, side))
                ) and (
                    not sealed
                    or os.path.exists(os.path.join(self._path(v), "_SUCCESS"))
                ):
                    found.add(v)
        return sorted(found)

    def prior(self, batch_id: int, side: str | None = None) -> int | None:
        """Latest version strictly below ``batch_id`` (the redelivery
        anchor), or None for the first batch."""
        vs = self.versions(below=batch_id, side=side)
        return vs[-1] if vs else None

    def latest(self, side: str | None = None) -> int | None:
        vs = self.versions(side=side)
        return vs[-1] if vs else None

    def read(
        self, v: int | list[int] | None, schema: str | None = None, *,
        side: str | None = None,
    ) -> DataFrame | None:
        """Version ``v`` — or the versions listed, in one scan — of
        ``side`` (the whole version when None); see the class docstring
        for ``schema``."""
        vs = [] if v is None else [v] if isinstance(v, int) else v
        if not vs:
            return None if schema is None else self.spark.createDataFrame([], schema)
        df = self.spark.read.parquet(*[self._path(x, side) for x in vs])
        if schema is None:
            return df
        return df.select(*_parse_datatype_string(schema).fieldNames())

    def read_prior(
        self, batch_id: int, schema: str | None = None, *, side: str | None = None
    ) -> DataFrame | None:
        """The redelivery anchor's state: ``read(prior(batch_id, side))``."""
        return self.read(self.prior(batch_id, side), schema, side=side)

    def read_latest(
        self, schema: str | None = None, *, side: str | None = None
    ) -> DataFrame | None:
        return self.read(self.latest(side), schema, side=side)

    def read_side(
        self, side: str, schema: str | None = None, *, below: int | None = None
    ) -> DataFrame | None:
        """The union of ``side`` over every (or every strictly-below)
        version that carries it."""
        return self.read(self.versions(below=below, side=side), schema, side=side)

    def write(self, batch_id: int, df: DataFrame | None = None, **sides: DataFrame) -> None:
        """Overwrite version ``batch_id`` with ``df``, or with the named
        side frames in ONE write job: each frame is tagged with its
        ``side`` name, the frames are unioned by column name (a column a
        side lacks is written as a typed null) and partitioned by side —
        one job per batch, where per-side filtered writes were one each."""
        if sides:
            fused = None
            for name, frame in sides.items():
                tagged = frame.select(F.lit(name).alias("side"), "*")
                fused = tagged if fused is None else fused.unionByName(
                    tagged, allowMissingColumns=True
                )
            fused.write.mode("overwrite").partitionBy("side").parquet(
                self._path(batch_id)
            )
        else:
            df.write.mode("overwrite").parquet(self._path(batch_id))
        if self.keep is not None:
            # retention AFTER the commit: the just-written version is the
            # newest, so its predecessor survives any keep >= 2
            for v in self.versions()[: -self.keep]:
                shutil.rmtree(self._path(v), ignore_errors=True)

    def write_scalar(self, batch_id: int, value: int) -> None:
        os.makedirs(self.root, exist_ok=True)
        dst = self._path(batch_id) + ".txt"
        tmp = f"{dst}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(str(int(value)))
        os.replace(tmp, dst)

    def scalar(self, v: int) -> int:
        with open(self._path(v) + ".txt") as fh:
            return int(fh.read())


def _check_batch_keys(
    batch_id: int, lo, hi, n: int, parts: int, contract: str, keys: str
) -> None:
    """THE per-batch guard of a content-defined drop (stage_keyed_file_drop):
    every row of batch ``batch_id`` must carry batch key ``batch_id %
    parts`` — ``lo``/``hi`` are the batch's min/max key over ``n`` rows —
    or the oracle, which rebuilds batch membership from the keys, no longer
    describes the run. A file-listing-order change dies here loudly."""
    if n and not (lo == hi == batch_id % parts):
        raise RuntimeError(
            f"batch {batch_id} violated the {contract} contract: "
            f"{keys} [{lo}..{hi}] (file listing order changed?)"
        )


def _check_batch(
    batch: DataFrame, batch_id: int, key: str, parts: int, contract: str, keys: str
) -> None:
    """_check_batch_keys over ``batch``'s min/max of the ``key`` expression,
    in one aggregate job (bodies that fuse the contract into an aggregate
    they need anyway call _check_batch_keys directly)."""
    k = F.expr(key)
    lo, hi, n = batch.agg(F.min(k), F.max(k), F.count(F.lit(1))).collect()[0]
    _check_batch_keys(batch_id, lo, hi, n, parts, contract, keys)


def run_batches(
    stream: DataFrame, apply, *, name: str, resume: bool = False,
    mode: str = "append", stop_on_idle: int | None = None,
    drain_state: bool = True,
) -> None:
    """THE foreachBatch lifecycle: run ``stream`` to completion
    (availableNow) calling ``apply(batch_df, batch_id)`` per micro-batch.
    ``apply`` must be idempotent per batch_id (foreachBatch is
    at-least-once — see VersionedState).

    The state-store partition count is fixed at first query start from
    spark.sql.shuffle.partitions, so it is pinned to 4 for the run and
    restored after. Result sets here are tiny (window counts, key sets),
    so a handful of state-store instances per stateful operator is plenty
    — each instance costs startup/maintenance wall-clock, the dominant
    cost of an availableNow run (measured at sf0.1: stream_tumbling 1.44 s
    with 8 instances, 1.28 s with 4, 1.2 s with 2; 4 keeps the
    multi-instance path exercised while dropping most of the surcharge).
    A real deployment sizes this to keys-per-partition, not to this value.

    The checkpoint is ``name``'s: anonymous runs are one-shot, so it is
    removed however the run ends. A ``resume`` run (a named, resumable
    identity) keeps its checkpoint ON FAILURE so a rerun under the same
    name continues from the first uncommitted batch; on success the
    checkpoint and its ``.owner_pid`` liveness file both go, or one
    orphan owner file would accumulate per run. ``stop_on_idle`` /
    ``drain_state``: see run_available_now."""
    _sweep_results()
    # Checkpoints have no lazy readers (deleted below on every normal
    # exit), so a SIGKILLed run's checkpoint would otherwise leak forever
    # — sweep dead owners' dirs (liveness-guarded; see _sweep_checkpoints
    # for the layout contract).
    _sweep_checkpoints()
    ckpt = _checkpoint_dir(name, named=resume)
    ok = False
    try:
        with conf_span(stream.sparkSession, {"spark.sql.shuffle.partitions": "4"}):
            query = (
                stream.writeStream.foreachBatch(apply)
                .outputMode(mode)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            if stop_on_idle is None:
                query.awaitTermination()
            else:
                _stop_when_idle(
                    query, idle_batches=stop_on_idle,
                    require_empty_state=drain_state,
                )
        ok = True
    finally:
        if ok or not resume:
            shutil.rmtree(ckpt, ignore_errors=True)
            if resume:
                try:
                    os.unlink(f"{ckpt}.owner_pid")
                except OSError:
                    pass


def run_available_now(
    df: DataFrame, *, mode: str, prefix: str, batch_hook=None,
    stop_on_idle: int | None = None, drain_state: bool = True,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) through a
    foreachBatch parquet sink and return the result read back as a regular
    (distributed) DataFrame. ``batch_hook(batch_df, batch_id)``, when
    given, runs inside foreachBatch BEFORE the result write — the
    side-sink seam (quarantine routing, CDC fan-out); hooks must be
    idempotent per batch_id, exactly like the result write itself
    (foreachBatch is at-least-once).

    This is the oracle-gate harness, but it keeps the 100× posture the
    operators have: results land in parquet partitions, never on the
    driver — a complete-mode result the size of a real corpus would spill
    to storage here where a memory sink would OOM the driver. Sink
    semantics mirror the memory sink's: complete mode overwrites with each
    batch's full result; append/update modes append each batch's emitted
    rows (with availableNow over a bounded file source, update emissions
    land in one batch, so no key appears twice — same property the memory
    sink relied on).

    ``stop_on_idle``: availableNow normally terminates by itself once the
    bounded source drains — but a ProcessingTimeTimeout operator holds the
    trigger open FOREVER (the engine keeps scheduling empty batches to
    service future wall-clock timeouts; measured on this build, batch ids
    into the hundreds). For those plans, pass the number of consecutive
    ZERO-INPUT batches after which the query is explicitly stopped: the
    first empty batch is the drain that fires already-expired timeouts,
    the Nth-in-a-row proves nothing more is coming. ``drain_state``
    (meaningful only with stop_on_idle) additionally waits for the state
    store to empty — the default, because a bounded TTL run's contract is
    full drain; a plan that legitimately retains end-of-input state (a
    watermark-bounded join residue) must pass drain_state=False or the
    idle-stop would spin to its timeout (r10 review wave 2).
    """
    spark = df.sparkSession
    name, out = _run_root(f"{prefix}_")

    # Each batch overwrites its OWN subdir (re-delivery replaces, never
    # duplicates); complete mode overwrites a single dir so the last
    # batch's full result wins. Dir names avoid '=' so the reader doesn't
    # parse them as partition columns.
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        sub = "complete" if mode == "complete" else f"b{batch_id}"
        if batch_hook is not None:
            # two actions consume this batch (hook sink + result write);
            # cache once so the micro-batch source and its projections are
            # not recomputed per sink — the standard foreachBatch
            # multi-sink pattern
            batch_df.persist()
            try:
                batch_hook(batch_df, batch_id)
                batch_df.write.mode("overwrite").parquet(os.path.join(out, sub))
            finally:
                batch_df.unpersist()
        else:
            batch_df.write.mode("overwrite").parquet(os.path.join(out, sub))

    run_batches(
        df, _sink, name=name, mode=mode, stop_on_idle=stop_on_idle,
        drain_state=drain_state,
    )
    paths = (
        [os.path.join(out, "complete")]
        if mode == "complete"
        else sorted(
            os.path.join(out, d) for d in (os.listdir(out) if os.path.isdir(out) else [])
        )
    )
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        # no batch fired (empty source): preserve the output schema
        return spark.createDataFrame([], df.schema)
    return spark.read.parquet(*paths)


def _drop_stream(df: DataFrame, stage: str) -> DataFrame:
    """``df``'s staged multi-file drop as a file stream that takes one
    file per trigger: real multi-batch ingest."""
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )


# --- B1: tumbling-window aggregate ------------------------------------------

def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 1-hour tumbling windows: count + sum(value) per
    (window, event_type). Stateful streaming aggregation; epoch-aligned
    windows make the batch oracle a date_trunc group-by."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_available_now(agg, mode="complete", prefix="tumbling")


STREAM_TUMBLING_SQL = f"""
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{TS_FMT_DUCK}') AS window_start,
       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


# --- B2: hopping-window aggregate -------------------------------------------

def stream_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 1-hour windows hopping every 30 minutes (each event lands
    in 2 windows). Oracle expands each event into its two window starts."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "n_events",
            "sum_value",
        )
    )
    return run_available_now(agg, mode="complete", prefix="hopping")


STREAM_HOPPING_SQL = f"""
WITH expanded AS (
  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS wstart,
         value
  FROM events
)
SELECT strftime(wstart, '{TS_FMT_DUCK}') AS window_start,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM expanded
GROUP BY 1
"""


# --- B6: streaming dedup ----------------------------------------------------

def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type) via
    ``dropDuplicatesWithinWatermark`` — state for a key is EVICTED once the
    watermark passes its event time + 1 hour, so state stays bounded on an
    unbounded stream (plain ``dropDuplicates`` without the event-time column
    in the key set would hold every key forever). The bounded-state contract
    means a key recurring *later* than the delay re-emits on a true stream;
    the DISTINCT oracle holds here because availableNow processes the staged
    single file as one micro-batch, within which no state is evicted. Output
    keeps only the key columns so the kept-first-row choice (order-dependent)
    never reaches the result."""
    dedup = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_available_now(dedup, mode="append", prefix="dedup")


STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


# --- B3: session windows (batch; streaming variant in test_streaming) -------

def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a {SESSION_GAP} gap via
    F.session_window — Spark merges overlapping event windows; the oracle
    is the classic gaps-and-islands SQL. Session end = last event + gap.

    Batch form (bench-comparable); the same expression runs as a streaming
    stateful aggregation in tests/test_streaming.py::test_streaming_session_window.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", TS_US_FMT_SPARK).alias("session_start"),
            F.date_format("sw.end", TS_US_FMT_SPARK).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


SESSIONIZE_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '{TS_US_FMT_DUCK}') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '{TS_US_FMT_DUCK}') AS session_end,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM sessions
GROUP BY user_id, sid
"""


# --- B10/B18/B21: the click -> purchase stream-stream join -------------------

def _click_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Purchases within 30 minutes after a click by the same user, as a
    ``how`` join of two event streams: both sides carry 2-hour
    watermarks and the time-range condition bounds join state, so Spark
    can evict (and, for the outer joins, emit the null side once the
    watermark proves no match can arrive). B10, B18 and B21 differ only
    in ``how`` and their final select."""
    clicks = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        how,
    )


# --- B10: stream-stream join -------------------------------------------------

def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: purchases within 30 minutes
    after a click by the same user. Both sides carry watermarks and the
    time-range condition bounds join state, so Spark can evict — the shape
    that keeps state finite on unbounded streams. availableNow + append
    emits the complete deterministic pair set, checked against a batch
    range-join oracle."""
    joined = _click_purchase_join(spark, sf_dir, "inner").select(
        "user_id", "click_id", "purchase_id"
    )
    return run_available_now(joined, mode="append", prefix="ssjoin")


STREAM_STREAM_JOIN_SQL = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


# --- B18: stream-stream LEFT OUTER join (watermark-expiry null emission) -----

def stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every click pairs with
    purchases by the same user within the following 30 minutes; clicks
    with NO such purchase emit (click, NULL) — but only once the watermark
    has passed their join window, when the engine can PROVE no future match
    can arrive. This is the CDC-enrichment shape where "nothing matched in
    time" is itself the signal (abandoned-cart detection here).

    State stays bounded on an unbounded stream exactly as in B10: both
    sides carry 2-hour watermarks and the time-range condition lets Spark
    evict join state; the outer side additionally emits the null row at
    eviction. At 100 TB/day the state footprint is (events within the
    watermark horizon), independent of stream length.

    Cross-engine contract (empirically pinned on this Spark build, three
    boundary probes at s/ms/µs granularity — see tests): a left row is
    evicted-and-emitted iff
        click_us <= (ceil_sec(wm_us - window_us) - 1 s)
    where wm_ms = min over sides of (floor(max_event_us/1000) - delay_ms)
    — Spark tracks per-operator max event time in ms and the join helper
    rounds the state watermark up to whole seconds minus a 1 s safety
    margin (StreamingJoinHelper.getStateValueWatermark). The DuckDB oracle
    reproduces that arithmetic in exact integer µs on the stored data.
    """
    joined = _click_purchase_join(spark, sf_dir, "leftOuter").select(
        "user_id", "click_id", "purchase_id"
    )
    return run_available_now(joined, mode="append", prefix="sojoin")


# Watermark arithmetic in integer µs (no doubles): wm per side is
# floor(max_us/1000) ms minus the 2 h delay; the global watermark is the
# min; the eviction threshold rounds (wm - 30 min) UP to a whole second
# (+999999 // 1000000 on a positive value) and subtracts the 1 s margin.
STREAM_OUTER_JOIN_SQL = """
WITH c AS (
  SELECT user_id, event_id AS click_id, ts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id AS p_user_id, event_id AS purchase_id, ts AS pts
  FROM events WHERE event_type = 'purchase'
),
thr AS (
  -- If EITHER side is empty its Spark operator watermark stays at epoch 0,
  -- pinning the global min there and evicting nothing; DuckDB's least()
  -- would silently IGNORE the NULL max-subquery and evict by the non-empty
  -- side, so the CASE yields NULL (comparisons false, no evictions) instead.
  SELECT CASE
    WHEN (SELECT max(ts) FROM c) IS NULL OR (SELECT max(pts) FROM p) IS NULL
    THEN NULL
    ELSE (((least((SELECT epoch_us(max(ts)) // 1000 FROM c),
                  (SELECT epoch_us(max(pts)) // 1000 FROM p))
            - 7200000) * 1000
           - 1800000000 + 999999) // 1000000 - 1) * 1000000 END AS thr_us
)
SELECT c.user_id, c.click_id, p.purchase_id
FROM c LEFT JOIN p
  ON c.user_id = p.p_user_id
 AND p.pts >= c.ts AND p.pts <= c.ts + INTERVAL 30 MINUTE
WHERE p.purchase_id IS NOT NULL
   OR epoch_us(c.ts) <= (SELECT thr_us FROM thr)
"""


# --- B21: stream-stream FULL OUTER join (both-side null emission) ------------

def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join — the streaming analog of
    the batch diff/reconciliation shapes (C65 table_diff, E16 change
    feed): clicks pair with purchases by the same user within the
    following 30 minutes; clicks with no purchase in time emit
    (click, NULL) and purchases with no preceding click emit (NULL,
    purchase), each once the watermark proves no future match can arrive.
    Orphaned purchases are the right-side signal a left-outer join can't
    see (payment events with no attributable session).

    State is bounded exactly as in B10/B18: 2-hour watermarks both sides
    plus the time-range condition let Spark evict both state stores; at
    100 TB/day the footprint is (events within the watermark horizon),
    independent of stream length.

    Cross-engine contract (empirically pinned on this Spark build with
    ±1 µs boundary probes — tests/test_streaming.py): full-outer eviction
    uses a 1 ms margin on BOTH sides, NOT left-outer's
    ceil-to-second-minus-1 s rule (B18):
        left  null emitted iff lts_us <= wm_us - window_us - 1000
        right null emitted iff rts_us <= wm_us - 1000
    with wm_ms = min over sides of (floor(max_event_us/1000) - delay_ms).
    The DuckDB oracle reproduces this in exact integer µs on stored data.
    """
    joined = _click_purchase_join(spark, sf_dir, "fullOuter").select(
        # right-only rows carry a NULL left key: surface ONE user_id
        F.coalesce("user_id", "p_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
    )
    return run_available_now(joined, mode="append", prefix="fojoin")


# Same integer-µs watermark arithmetic as B18's oracle, but with the
# full-outer 1 ms eviction margin on both sides (empirically pinned —
# see stream_full_outer_join docstring). Presence is classified via the
# side marker columns click_id/purchase_id (event ids, never NULL on
# their own side), not the join key (CLAUDE.md full-outer rule).
STREAM_FULL_OUTER_JOIN_SQL = """
WITH c AS (
  SELECT user_id, event_id AS click_id, ts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id AS p_user_id, event_id AS purchase_id, ts AS pts
  FROM events WHERE event_type = 'purchase'
),
wm AS (
  -- Empty-side guard, same rationale as B18's thr CTE: an empty side pins
  -- Spark's global watermark at epoch 0 (no evictions); least() over an
  -- ignored NULL would evict by the other side. NULL wm_us => both
  -- eviction predicates are NULL => false => matched rows only.
  SELECT CASE
    WHEN (SELECT max(ts) FROM c) IS NULL OR (SELECT max(pts) FROM p) IS NULL
    THEN NULL
    ELSE (least((SELECT epoch_us(max(ts)) // 1000 FROM c),
                (SELECT epoch_us(max(pts)) // 1000 FROM p))
          - 7200000) * 1000 END AS wm_us
)
SELECT coalesce(c.user_id, p.p_user_id) AS user_id, c.click_id, p.purchase_id
FROM c FULL JOIN p
  ON c.user_id = p.p_user_id
 AND p.pts >= c.ts AND p.pts <= c.ts + INTERVAL 30 MINUTE
WHERE (c.click_id IS NOT NULL AND p.purchase_id IS NOT NULL)
   OR (p.purchase_id IS NULL
       AND epoch_us(c.ts) <= (SELECT wm_us - 1800000000 - 1000 FROM wm))
   OR (c.click_id IS NULL
       AND epoch_us(p.pts) <= (SELECT wm_us - 1000 FROM wm))
"""


# --- B11: stream-static join -------------------------------------------------

def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events enriched against the static customer dimension —
    the canonical lookup-join: the static side is a plain batch DataFrame
    (re-read per micro-batch, broadcastable), no state, no watermark
    needed. Revenue-ish rollup by market segment."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .join(cust, F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return run_available_now(joined, mode="complete", prefix="static_join")


STREAM_STATIC_JOIN_SQL = """
SELECT c_mktsegment, count(*) AS n_purchases, round(sum(value), 2) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
WHERE event_type = 'purchase'
GROUP BY c_mktsegment
"""


# --- B12: online anomaly scoring (stream x static stats profile) ------------

def stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events scored against a STATIC per-type stats profile —
    the online-scoring shape of a production monitor: train the profile
    in batch (here: the same table, i.e. "profile the history, score the
    replay"), broadcast it into the stream, flag 3-sigma outliers, and
    keep running outlier counts per type.

    The sigma test is anomaly_zscore's division-free exact form —
    (n·x − Σx)² > 9·(n·Σx² − (Σx)²) over cents-scaled BIGINT sufficient
    statistics — so the flag decision is bit-deterministic across
    engines and across the batch/stream boundary. The stats side is a
    tiny batch aggregate re-read per micro-batch (broadcastable,
    stateless lookup join — same plan class as stream_static_join);
    the only streaming state is the per-type counter.
    """
    x_expr = "cast(floor(value * 100.0d + 0.5d) as bigint)"
    ev = load_table(spark, sf_dir, "events")
    stats = (
        ev.select("event_type", F.expr(x_expr).alias("x"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    dn, dx = F.col("n").cast("double"), F.col("x").cast("double")
    dsx, dsxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    dev = dn * dx - dsx
    flagged = (
        events_stream(spark, sf_dir)
        .select("event_type", F.expr(x_expr).alias("x"))
        .join(F.broadcast(stats), "event_type")
        .where(dev * dev > F.lit(9.0) * (dn * dsxx - dsx * dsx))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return run_available_now(flagged, mode="complete", prefix="anomaly")


STREAM_ANOMALY_SQL = """
WITH pre AS (
  SELECT event_type, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x
  FROM events
),
s AS (
  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(x * x) AS DOUBLE) AS sxx
  FROM pre GROUP BY event_type
)
SELECT p.event_type, count(*) AS n_outliers
FROM pre p JOIN s USING (event_type)
WHERE (n * x - sx) * (n * x - sx) > 9.0 * (n * sxx - sx * sx)
GROUP BY p.event_type
"""


# --- B5: custom stateful operator as a query --------------------------------

def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via applyInPandasWithState — the custom
    stateful escape hatch for logic window aggs can't express. availableNow
    processes the table as one batch, so the emitted update rows equal the
    final per-user state and the batch oracle is a plain GROUP BY. State
    restore across restarts is exercised in tests/test_streaming.py."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupStateTimeout

    def totals(key, pdfs, state):
        import pandas as pd

        n, sv = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            sv += float(pdf["value"].sum())
        state.update((n, sv))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [sv]})

    out = (
        events_stream(spark, sf_dir)
        .select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            totals,
            "user_id bigint, n_events bigint, sum_value double",
            "n bigint, sv double",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    table = run_available_now(out, mode="update", prefix="stateful")
    # update mode emits one row per user per micro-batch; keep only the
    # final state per user (max running count) so the result is correct
    # even if the source ever splits into multiple batches. Rounding is
    # JVM-side: python round() is banker's rounding, Spark/DuckDB round
    # half-away-from-zero.
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        table.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "n_events", F.round("sum_value", 2).alias("sum_value"))
    )


STREAM_STATEFUL_SQL = """
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY user_id
"""


# --- B14: streaming windowed top-K ------------------------------------------

STREAM_TOPK_K = 3


def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-{STREAM_TOPK_K} users per 1-hour tumbling window —
    the live-leaderboard shape. Rank windows are not allowed inside a
    streaming aggregation (Spark rejects them on unbounded input), so
    the streaming query maintains exactly the state a leaderboard needs
    — (window, user) counts — and the rank is a view over the completed
    state: the standard split for streaming top-K dashboards. Ties break
    by user_id so the board is deterministic.
    """
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "user_id",
            "n_events",
        )
    )
    state = run_available_now(agg, mode="complete", prefix="topk")
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("user_id")
    )
    return (
        state.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= STREAM_TOPK_K)
        .select("window_start", "rank", "user_id", "n_events")
        .orderBy("window_start", "rank")
    )


STREAM_TOPK_SQL = f"""
WITH counts AS (
  SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{TS_FMT_DUCK}') AS window_start,
         user_id, count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start,
       cast(row_number() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, user_id) AS BIGINT) AS rank,
       user_id, n_events
FROM counts
QUALIFY rank <= {STREAM_TOPK_K}
ORDER BY window_start, rank
"""


# --- B15: streaming OHLC bars -------------------------------------------------

def stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candlesticks per event_type, maintained BY the
    streaming aggregation: open/close are min_by/max_by over a portable
    zero-padded (ts_us, event_id) string key — ordered aggregates that,
    unlike the batch form's rank windows (C56), are legal on unbounded
    input, so the bar state updates incrementally per micro-batch. The
    oracle is the identical arg_min/arg_max aggregation in DuckDB; the
    string key (not a struct) keeps the ordering engine-portable.
    """
    ev = events_stream(spark, sf_dir)
    k = ordered_event_key()
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min_by("value", k).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", k).alias("close"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("bar_start"),
            "event_type",
            "n",
            "open",
            "high",
            "low",
            "close",
        )
    )
    return run_available_now(agg, mode="complete", prefix="ohlc")


STREAM_OHLC_SQL = f"""
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '{TS_FMT_DUCK}') AS bar_start,
       event_type,
       cast(count(*) AS BIGINT) AS n,
       arg_min(value, {ORDERED_EVENT_KEY_SQL}) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, {ORDERED_EVENT_KEY_SQL}) AS close
FROM events
GROUP BY 1, 2
"""


# --- B16: streaming expectations with quarantine routing ----------------------

#: expectation bounds for stream_quarantine (business rules, not data
#: invariants — the split must be non-degenerate to be worth testing)
QUAR_MAX_VALUE = 250.0
QUAR_MAX_K = 90


def _quarantine_k():
    """props.k as an int, NULL for anything non-conforming — guarded the
    way JSON_PROPS_SQL guards (integer-literal regex before the cast):
    a bare cast would be an ANSI runtime error in Spark 4 on '1.5'/'abc'
    and would silently ROUND in DuckDB's strict cast ('1.5' -> 2), a
    crash-or-diverge on exactly the dirty data this gate exists for.
    The digit cap matters as much as the form: an 11-digit integer
    passes the bare regex but overflows the int32 cast — a crash on
    dirty data in BOTH engines (verified) — so anything wider than 10
    digits is non-conforming by definition and quarantines."""
    raw = F.get_json_object("props", "$.k")
    # nested whens, not AND: vectorized evaluation does not short-circuit
    # a conjunction, so the cast must be unreachable for non-matching rows
    big = F.when(raw.rlike(r"^-?[0-9]{1,10}$"), raw.cast("bigint"))
    return F.when(big.between(-(1 << 31), (1 << 31) - 1), big.cast("int"))


def _quarantine_flag():
    """NULL-REJECTING verdict: a row is clean only when every expectation
    verifiably holds; a missing/malformed/non-integer props.k (or null
    value) makes the conjunction NULL and the coalesce quarantines it.
    Without the coalesce the flag itself would be NULL and the row would
    silently vanish from BOTH counts while the batch oracle counted it
    clean."""
    clean = (F.col("value") <= QUAR_MAX_VALUE) & (_quarantine_k() <= QUAR_MAX_K)
    return (~F.coalesce(clean, F.lit(False))).cast("int")


def _stream_quarantine_run(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, str]:
    """Run the expectations split; returns (routed rows frame, quarantine
    sink path). Split and routing happen per micro-batch inside
    foreachBatch — the Delta-Live-Tables expectations shape: rows failing
    any expectation go to a quarantine side-sink (per-batch overwrite, so
    at-least-once redelivery replaces instead of duplicating), every row
    flows on annotated with its verdict."""
    routed = events_stream(spark, sf_dir).select(
        "event_id",
        "event_type",
        "value",
        _quarantine_k().alias("k_val"),
        _quarantine_flag().alias("quarantined"),
    )
    _, qdir = _run_root("quarantine_")

    def hook(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.where(F.col("quarantined") == 1).write.mode("overwrite").parquet(
            os.path.join(qdir, f"b{batch_id}")
        )

    rows = run_available_now(
        routed, mode="append", prefix="quarantine", batch_hook=hook
    )
    return rows, qdir


def stream_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming expectations gate (B16): per event_type, how many rows
    passed vs were quarantined by the business-rule expectations
    (value <= {QUAR_MAX_VALUE}, props.k <= {QUAR_MAX_K}). The verdict
    split and the quarantine side-sink run inside the stream; this
    summary aggregates the routed (distributed, parquet-backed) output.
    tests/test_streaming.py checks the side-sink itself: quarantine rows
    + clean rows partition the input exactly."""
    rows, _ = _stream_quarantine_run(spark, sf_dir)
    return rows.groupBy("event_type").agg(
        F.sum(1 - F.col("quarantined")).cast("bigint").alias("n_clean"),
        F.sum("quarantined").cast("bigint").alias("n_quarantined"),
    )


# null-rejecting, mirroring _quarantine_flag exactly, including the JSON
# guards: json_valid before extraction (a strict json_extract_string ERRORS
# on malformed props), integer-literal regex before the cast (a strict cast
# ROUNDS '1.5' -> 2 where Spark yields NULL). Clean only when every
# expectation VERIFIABLY holds; anything non-conforming -> quarantined.
STREAM_QUARANTINE_SQL = f"""
WITH g AS (
  SELECT event_type, value,
         CASE WHEN raw IS NOT NULL AND regexp_matches(raw, '^-?[0-9]{{1,10}}$')
                   AND CAST(raw AS BIGINT) BETWEEN -2147483648 AND 2147483647
              THEN CAST(raw AS INT) END AS k_val
  FROM (
    SELECT event_type, value,
           CASE WHEN json_valid(props)
                THEN json_extract_string(props, 'k') END AS raw
    FROM events
  )
)
SELECT event_type,
       cast(sum(CASE WHEN coalesce(value <= {QUAR_MAX_VALUE}
                  AND k_val <= {QUAR_MAX_K}, false)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       cast(sum(CASE WHEN coalesce(value <= {QUAR_MAX_VALUE}
                  AND k_val <= {QUAR_MAX_K}, false)
                THEN 0 ELSE 1 END) AS BIGINT) AS n_quarantined
FROM g
GROUP BY event_type
"""


# --- B20: TTL-closed per-user state (EventTimeTimeout) ------------------------

#: inactivity gap closing a user's accumulated state
TTL_GAP_MS = 30 * 60 * 1000
#: watermark delay for the TTL operator
TTL_DELAY_MS = 2 * 3600 * 1000


def stream_session_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL-driven state close-out (B20): per-user running totals that EMIT
    ON TIMEOUT — the applyInPandasWithState + EventTimeTimeout pattern B5
    deliberately does not exercise (it emits per batch with NoTimeout).
    This is the inactivity-close shape (abandoned-session flush, idle-key
    eviction): a user's state accumulates silently and surfaces exactly
    once, when the watermark proves the user has been inactive for
    {TTL_GAP_MS} ms — at which point the state is REMOVED, so state size
    tracks the active-user set, not the stream.

    Cross-engine contract (empirically pinned, same harness as B18): a
    state with timeout T_ms fires iff T_ms < wm_ms STRICTLY, where
    wm_ms = floor(max_event_us/1000) − delay_ms; the operator sets
    T_ms = floor(last_event_us/1000) + gap. The DuckDB oracle reproduces
    exactly that integer arithmetic, so which users close is
    bit-deterministic. Values are cents-scaled to BIGINT before the UDF
    (JVM-side) and emitted as integer cents — no float crosses the
    compare path."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_stream(spark, sf_dir).select(
        "user_id",
        "ts",
        F.expr("cast(floor(value * 100.0d + 0.5d) as bigint)").alias("cents"),
    )

    def fold(key, pdfs, state):
        if state.hasTimedOut:
            n, s, first_us, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_cents": [s],
                    "first_ts_us": [first_us],
                    "last_ts_us": [last_us],
                }
            )
        else:
            n, s, first_us, last_us = (
                state.get if state.exists else (0, 0, None, None)
            )
            for pdf in pdfs:
                n += len(pdf)
                s += int(pdf["cents"].sum())
                us = pdf["ts"].astype("int64") // 1000  # ns -> µs
                lo, hi = int(us.min()), int(us.max())
                first_us = lo if first_us is None else min(first_us, lo)
                last_us = hi if last_us is None else max(last_us, hi)
            state.update((n, s, first_us, last_us))
            state.setTimeoutTimestamp(last_us // 1000 + TTL_GAP_MS)

    out = (
        ev.withWatermark("ts", f"{TTL_DELAY_MS // 60000} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            "user_id bigint, n_events bigint, sum_cents bigint, "
            "first_ts_us bigint, last_ts_us bigint",
            "n bigint, s bigint, first_us bigint, last_us bigint",
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    return run_available_now(out, mode="append", prefix="ttl")


STREAM_SESSION_TTL_SQL = f"""
WITH pre AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events
),
agg AS (
  SELECT user_id, cast(count(*) AS BIGINT) AS n_events,
         cast(sum(cents) AS BIGINT) AS sum_cents,
         min(us) AS first_ts_us, max(us) AS last_ts_us
  FROM pre GROUP BY user_id
)
SELECT user_id, n_events, sum_cents, first_ts_us, last_ts_us
FROM agg
WHERE (last_ts_us // 1000) + {TTL_GAP_MS}
      < (SELECT (max(us) // 1000) - {TTL_DELAY_MS} FROM pre)
"""


# --- B22: TTL-closed per-user state (ProcessingTimeTimeout) -------------------

def stream_session_ttl_proc(
    spark: SparkSession, sf_dir: str, *, idle_ms: int = 1
) -> DataFrame:
    """Wall-clock idle close-out (B22): the ProcessingTimeTimeout twin of
    B20 — the other half of the state-TTL matrix, used when event time is
    unreliable (clock-skewed devices, replayed logs with bogus
    timestamps): a key's state closes after ``idle_ms`` of PROCESSING-time
    inactivity, independent of any watermark. Same accumulate-silently /
    emit-once-on-timeout / state-removed contract as B20, so state size
    tracks the active-key set.

    Semantics are inherently wall-clock (no SQL oracle — SURVEY §5 T):
    the pytest harness pins fires-on-idle, data-arrival superseding a
    pending timeout, exactly-once emission + state removal, and state
    (with its pending timeout) surviving a checkpoint restart
    (tests/test_streaming.py). Ingest is a REAL 3-file drop at
    maxFilesPerTrigger=1, so timeouts registered in batch k genuinely
    fire at the start of batch k+1. A BOUNDED run of this operator is a
    drain: availableNow + ProcessingTimeTimeout holds the trigger open
    forever (measured on this build), so the runner stops after two
    consecutive zero-input batches (run_available_now stop_on_idle) —
    by which point every remaining state's ``idle_ms`` has elapsed and
    closed, i.e. end-of-input flushes all open sessions. Per-key segment
    totals therefore PARTITION the batch aggregate (the pytest
    invariant). Integer cents cross the Python boundary, like B20."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupStateTimeout

    from frolyk_spark.sources.streams import stage_multi_file_drop

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.expr("cast(floor(value * 100.0d + 0.5d) as bigint)").alias("cents"),
    )
    stage = stage_multi_file_drop(ev, sf_dir, "events", "procttl", parts=3)

    def fold(key, pdfs, state):
        if state.hasTimedOut:
            n, s, first_us, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_cents": [s],
                    "first_ts_us": [first_us],
                    "last_ts_us": [last_us],
                }
            )
        else:
            n, s, first_us, last_us = (
                state.get if state.exists else (0, 0, None, None)
            )
            for pdf in pdfs:
                n += len(pdf)
                s += int(pdf["cents"].sum())
                us = pdf["ts"].astype("int64") // 1000  # ns -> µs
                lo, hi = int(us.min()), int(us.max())
                first_us = lo if first_us is None else min(first_us, lo)
                last_us = hi if last_us is None else max(last_us, hi)
            state.update((n, s, first_us, last_us))
            state.setTimeoutDuration(idle_ms)

    out = (
        _drop_stream(ev, stage)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            "user_id bigint, n_events bigint, sum_cents bigint, "
            "first_ts_us bigint, last_ts_us bigint",
            "n bigint, s bigint, first_us bigint, last_us bigint",
            "append",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
    return run_available_now(
        out, mode="append", prefix="ttlproc", stop_on_idle=2
    )


# --- B19: streaming CDC changelog apply (versioned upsert state) --------------

def _cdc_reduce(batch_df: DataFrame) -> DataFrame:
    """One row per key from a changelog batch: count + the batch's latest
    payload under the portable ordered key (kept as column ``k`` so merges
    can compare recency across batches)."""
    k = ordered_event_key()
    return batch_df.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max(k).alias("k"),
        F.max_by(F.unix_micros("ts"), k).alias("last_ts_us"),
        F.max_by("event_type", k).alias("last_type"),
        F.max_by("value", k).alias("last_value"),
    )


def _cdc_merge(prior: DataFrame, batch: DataFrame) -> DataFrame:
    """Last-writer-wins merge of a reduced batch into the prior state:
    counts add; the side with the LATER ordered key keeps the payload.
    Pure function of its two inputs — re-running the same (prior, batch)
    pair reproduces the identical state, which is what makes the
    versioned-sink redelivery idempotent (pinned in test_streaming)."""
    p, b = prior.alias("p"), batch.alias("b")
    newer = F.col("b.k") > F.col("p.k")
    take_b = F.col("p.k").isNull() | newer
    return p.join(b, F.col("p.user_id") == F.col("b.user_id"), "full_outer").select(
        F.coalesce("p.user_id", "b.user_id").alias("user_id"),
        (
            F.coalesce("p.n_events", F.lit(0)) + F.coalesce("b.n_events", F.lit(0))
        ).alias("n_events"),
        F.when(take_b, F.col("b.k")).otherwise(F.col("p.k")).alias("k"),
        F.when(take_b, F.col("b.last_ts_us"))
        .otherwise(F.col("p.last_ts_us")).alias("last_ts_us"),
        F.when(take_b, F.col("b.last_type"))
        .otherwise(F.col("p.last_type")).alias("last_type"),
        F.when(take_b, F.col("b.last_value"))
        .otherwise(F.col("p.last_value")).alias("last_value"),
    )


#: the materialized CDC state both B19 and B23 return
CDC_STATE_SCHEMA = (
    "user_id bigint, n_events bigint, last_ts_us bigint, last_type string, "
    "last_value double"
)


def stream_cdc_apply(
    spark: SparkSession, sf_dir: str, *, keep_versions: int | None = None
) -> DataFrame:
    """CDC changelog apply (B19): the events stream treated as an upsert
    changelog keyed by user_id, materialized into a persisted state table
    per micro-batch — the streaming MERGE shape (Delta/Hudi streaming
    upsert) a warehouse applies to keep a serving table current. Composes
    the B-harness (multi-file drop, maxFilesPerTrigger=1 — REAL multi-
    batch ingest), E11's last-writer-wins merge semantics, and B15's
    portable ordered key (zero-padded (ts_us, event_id) string) so "last"
    is a total order both engines agree on.

    Per batch, inside foreachBatch: _cdc_reduce the batch to one row per
    key (count + max_by over the ordered key), read the LATEST state
    version below this batch id (VersionedState.prior), _cdc_merge
    (counts add; the later ordered key wins the payload), and overwrite
    state version s{batch_id}.
    Versioned states make at-least-once redelivery idempotent — a
    replayed batch rebuilds its own version from the same predecessor,
    never double-counts (B7's contract, same pattern as B17's sinks).
    The final state equals the batch aggregate REGARDLESS of how ingest
    was batched, so D28-style batching-invariance holds and the op
    shares a plain GROUP BY oracle.

    Scale: per-batch cost is O(batch) + a keyed merge against state —
    at 100 TB the state table is bucketed by key (E2) so the merge is
    co-located; nothing driver-side; state versions are pruned by the
    same janitor as every other result root."""
    _check_keep(keep_versions)
    from frolyk_spark.sources.streams import stage_multi_file_drop

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    stage = stage_multi_file_drop(ev, sf_dir, "events", "cdclog")
    name, root = _run_root("cdc_")
    # keep_versions=None keeps the full history for the gate run's
    # multi-version assertions; production CDC state needs bounded lineage
    state = VersionedState(spark, root, keep=keep_versions)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch = _cdc_reduce(batch_df)
        prior = state.read_prior(batch_id)
        if prior is not None:
            batch = _cdc_merge(prior, batch)
        state.write(batch_id, batch)

    run_batches(_drop_stream(ev, stage), _apply, name=name)
    return state.read_latest(CDC_STATE_SCHEMA)


STREAM_CDC_APPLY_SQL = f"""
WITH keyed AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_type, value,
         {ORDERED_EVENT_KEY_SQL} AS k
  FROM events
)
SELECT user_id, cast(count(*) AS BIGINT) AS n_events,
       arg_max(ts_us, k) AS last_ts_us,
       arg_max(event_type, k) AS last_type,
       arg_max(value, k) AS last_value
FROM keyed GROUP BY user_id
"""


# --- B24: streaming incremental media near-dup --------------------------------

def stream_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest PERCEPTUAL near-dup detection — B17's shape for
    the decoded-media modality: new assets land as a multi-file drop
    (maxFilesPerTrigger=1, real multi-batch ingest) and each micro-batch
    is dHash-coded fresh (dhash_codes_frame — the identical kernel the
    batch operator uses) and block-probed against the PERSISTED corpus
    code table (persisted_dhash_codes, E4) ∪ previously-ingested batches
    ∪ itself. Old×old never re-forms — the probe side is always just the
    batch; a pair is emitted exactly once, by the batch of its LATER
    asset, so the union over batches equals the batch operator's pairs
    restricted to new docs REGARDLESS of how ingest was batched, and the
    op shares D70's oracle filtered to the new split (same equivalence
    contract as B17≡D28).

    Per-batch sinks overwrite their own subdir (at-least-once redelivery
    replaces, never duplicates — B7's idempotence contract); batch codes
    append to the accumulating store after the pair emit. Scale: per
    batch O(batch codes) + one fixed-width block equi-join probed by the
    batch; the corpus is never re-decoded (codes only)."""
    from frolyk_spark.operators.dedup import NEW_DOC_MOD
    from frolyk_spark.operators.multimodal import (
        dhash_codes_frame, media_probe_pairs, persisted_dhash_codes,
    )
    from frolyk_spark.sources.streams import stage_multi_file_drop

    is_new = F.pmod("doc_id", F.lit(NEW_DOC_MOD)) == NEW_DOC_MOD - 1
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    stage = stage_multi_file_drop(
        docs.where(is_new), sf_dir, "documents", f"newmedia{NEW_DOC_MOD}"
    )
    corpus_codes = persisted_dhash_codes(spark, sf_dir).where(~is_new)

    name, root = _run_root("smd_")
    out = VersionedState(spark, os.path.join(root, "batches"), prefix="b")

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        batch_codes = dhash_codes_frame(batch_df)
        batch_codes.persist()
        try:
            # prior batches' codes live under their side=codes partition
            prior = out.read_side("codes", below=batch_id)
            fresh = batch_codes
            if prior is not None:
                fresh = fresh.unionByName(prior.select("doc_id", "dhash"))
            pairs = media_probe_pairs(
                batch_codes, corpus_codes.unionByName(fresh)
            )
            # ONE side-partitioned write per batch (the r12 B25 jobs-per-
            # batch rule): pairs and the batch's codes land in one Spark
            # job under b{batch_id}/side={pairs,codes}; overwrite of the
            # whole batch dir keeps at-least-once redelivery idempotent
            out.write(batch_id, pairs=pairs, codes=batch_codes)
        finally:
            batch_codes.unpersist()

    run_batches(_drop_stream(docs, stage), _probe, name=name)
    return out.read_side("pairs", "doc_a bigint, doc_b bigint, hamming bigint")


def _stream_media_dedup_sql() -> str:
    from frolyk_spark.operators.dedup import NEW_DOC_MOD
    from frolyk_spark.operators.multimodal import _image_dedup_sql

    return f"""
WITH pairs AS ({_image_dedup_sql()})
SELECT doc_a, doc_b, hamming FROM pairs
WHERE doc_a % {NEW_DOC_MOD} = {NEW_DOC_MOD - 1}
   OR doc_b % {NEW_DOC_MOD} = {NEW_DOC_MOD - 1}
"""


# --- B23: streaming CDC into E14 versioned snapshots ---------------------------

def stream_cdc_versioned(
    spark: SparkSession,
    sf_dir: str,
    *,
    keep_versions: int | None = None,
    _name: str | None = None,
) -> DataFrame:
    """B19's CDC apply committing each materialized state as an E14
    versioned SNAPSHOT — the lakehouse composition a user actually wants:
    the stream keeps a serving table current, every micro-batch lands as
    an immutable manifest-committed version, `read_versioned` time-travels
    to the state after any batch, and `read_changes` serves a change feed
    straight off the live CDC lineage (Delta's streaming-upsert +
    table_changes shape on plain parquet).

    Exactly-once across at-least-once redelivery via the txn marker
    (catalog.committed_txns — Delta's txnAppId/txnVersion pattern): each
    batch commits its snapshot with txn "b{batch_id}"; a redelivered
    batch (crash AFTER the snapshot commit but BEFORE the checkpoint
    commit — the window B19's overwrite-by-batch-id handles differently)
    finds its txn already committed and SKIPS, so no version is ever
    claimed twice and counts never double-apply. Each batch merges
    against the snapshot of the latest committed txn STRICTLY below its
    own id, mirroring VersionedState.prior's redelivery rule. The txn
    skip is sound only within one checkpoint lineage (Spark replays the
    same content under the same batch id); a resumed run must reuse the
    ``_name`` identity, exactly like B17.

    Scale: per-batch cost is O(batch) + the keyed merge + one manifest
    JSON; data files are written once and never rewritten; history is
    bounded by vacuum_versioned (retention), and time travel/change
    feeds read only manifest-listed files. Final result = latest
    snapshot, so the op shares B19's batching-invariant GROUP BY oracle.
    """
    from frolyk_spark.sources.catalog import (
        committed_txns, read_versioned, vacuum_versioned, write_versioned,
    )
    from frolyk_spark.sources.streams import stage_multi_file_drop

    # a batch that crashes BEFORE its commit must still find its
    # predecessor's manifest on redelivery
    _check_keep(keep_versions)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    stage = stage_multi_file_drop(ev, sf_dir, "events", "cdclog")
    name, root = _run_root("cdcv_", _name)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        txns = committed_txns(root)
        if f"b{batch_id}" in txns:
            return  # redelivered unit: its snapshot already committed
        prior_ids = [
            int(t[1:]) for t in txns
            if t.startswith("b") and t[1:].isdigit() and int(t[1:]) < batch_id
        ]
        batch = _cdc_reduce(batch_df)
        if prior_ids:
            prior = read_versioned(spark, root, txns[f"b{max(prior_ids)}"])
            merged = _cdc_merge(prior, batch)
        else:
            merged = batch
        write_versioned(merged, root, txn=f"b{batch_id}")
        if keep_versions is not None:
            # retention AFTER the commit (E14's vacuum, grace 0: this run
            # is the only writer): the just-committed version is newest,
            # so any keep >= 2 preserves the redelivery anchor; vacuumed
            # manifests drop out of committed_txns, which is correct —
            # their states are no longer reachable for time travel either
            vacuum_versioned(root, keep_last=keep_versions, grace_seconds=0.0)

    stream = _drop_stream(ev, stage)
    run_batches(stream, _apply, name=name, resume=_name is not None)
    try:
        final = read_versioned(spark, root)
    except FileNotFoundError:
        return spark.createDataFrame([], CDC_STATE_SCHEMA)
    return final.select(
        "user_id", "n_events", "last_ts_us", "last_type", "last_value"
    )


# --- B17: streaming incremental near-dup detection ----------------------------

def stream_dedup_incremental(
    spark: SparkSession,
    sf_dir: str,
    *,
    _name: str | None = None,
) -> DataFrame:
    """Continuous-ingest near-dup detection (B17): D28's batch-vs-corpus
    minhash probe run INSIDE the stream — the production shape of dedup on
    a live feed, composing the streaming harness (B-block), the persisted
    signature table (E4), and the banded LSH candidate join (D6).

    Recovery contract (pinned by the crash-resume test): the checkpoint +
    per-batch idempotent sinks make a mid-ingest crash resumable — a rerun
    under the same identity continues from the first uncommitted batch and
    the final pair set is identical to an uninterrupted run. ``_name``
    gives the run a resumable checkpoint identity (kept on failure,
    removed on success — run_batches). Production callers pass none:
    each call is a fresh exactly-once ingest.

    The "new" split (doc_id % NEW_DOC_MOD == NEW_DOC_MOD-1, same as D28)
    is staged as a multi-file drop and consumed with maxFilesPerTrigger=1,
    so the run exercises REAL multi-batch ingest. Per micro-batch, inside
    foreachBatch: sign the batch fresh (minhash_signatures_frame), band-join
    its buckets against corpus signatures ∪ previously-ingested batches ∪
    itself (old×old never forms — the probe side is always just the batch),
    emit (least, greatest) candidate pairs and the batch's band hashes in
    ONE side-partitioned write (b{{id}}/side={{pairs,bands}} — the bands
    are the accumulating store later batches probe against, pre-expanded
    so only the current batch ever pays the md5 band expansion). Every
    per-batch write overwrites its own subdir, so at-least-once
    redelivery replaces rather than duplicates (B7's idempotence
    contract). A pair is emitted exactly
    once — by the batch of its LATER document — so the union over batches
    equals D28's one-shot result and the op shares D28's exact DuckDB
    oracle, independent of how ingest happened to be batched.

    Scale: per-batch cost is O(batch signatures) + an equi-join probed by
    the batch; corpus text is never re-read (signatures only); accumulated
    state is the signature table itself — the E4 artifact a real pipeline
    already persists. Results land in parquet, never on the driver."""
    from frolyk_spark.operators.dedup import (
        NEW_DOC_MOD, band_hashes, minhash_signatures_frame,
        persisted_minhash_signatures, probe_pairs,
    )

    from frolyk_spark.sources.streams import stage_multi_file_drop

    is_new = F.pmod("doc_id", F.lit(NEW_DOC_MOD)) == NEW_DOC_MOD - 1
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # stage the "new" docs as a 4-file drop (written once per dataset)
    stage = stage_multi_file_drop(
        docs.where(is_new), sf_dir, "documents", f"newdocs{NEW_DOC_MOD}"
    )

    corpus_sigs = persisted_minhash_signatures(spark, sf_dir).where(~is_new)
    # Corpus band hashes are computed ONCE per run and cached: without
    # this, every micro-batch re-expands the 5-band md5 over the whole
    # corpus signature table (O(corpus x batches) per ingest — the
    # review-caught contradiction of the O(batch) cost claim). A real
    # pipeline persists the band table next to the E4 signature table;
    # the in-memory cache is the single-run equivalent.
    corpus_bands = band_hashes(corpus_sigs).persist()
    name, root = _run_root("sdi_", _name)
    out = VersionedState(spark, os.path.join(root, "batches"), prefix="b")

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        # band the batch ONCE and accumulate BANDS, not signatures: the
        # accumulating store exists only to feed later batches' probe
        # side, which needs bands — storing them pre-expanded keeps the
        # per-batch plan to a single md5 band expansion (the batch's own)
        # plus plain parquet reads, where the r12 form re-expanded the
        # whole prior tail through band_hashes every batch (banding is
        # row-wise, so banding-then-storing commutes with union)
        batch_bands = band_hashes(minhash_signatures_frame(batch_df))
        batch_bands.persist()
        try:
            # prior batches' bands live under side=bands of their dir
            prior = out.read_side("bands", below=batch_id)
            all_bands = corpus_bands.unionByName(batch_bands)
            if prior is not None:
                all_bands = all_bands.unionByName(
                    prior.select("doc_id", "band_id", "band_hash")
                )
            # the pair semantics live in dedup.probe_pairs — ONE definition
            # shared with D28, which the B17≡D28 equivalence contract and
            # the shared oracle depend on
            pairs = probe_pairs(batch_bands, all_bands)
            # ONE side-partitioned write per batch (the r12 B25 jobs-per-
            # batch rule — this op ran two write jobs per batch before
            # r13): pairs and the batch's bands land in one Spark job
            # under b{batch_id}/side={pairs,bands}; overwriting the whole
            # batch dir keeps at-least-once redelivery idempotent, and
            # the persisted batch_bands materializes once for both arms
            out.write(batch_id, pairs=pairs, bands=batch_bands)
        finally:
            batch_bands.unpersist()

    stream = _drop_stream(docs, stage)
    try:
        run_batches(stream, _probe, name=name, resume=_name is not None)
    finally:
        corpus_bands.unpersist()
    return out.read_side("pairs", "doc_a bigint, doc_b bigint")


# --- B25: late-data routing (watermark side-output) ---------------------------

#: lateness delay for the router — 7 days against the events table's 30-day
#: span, so every SF yields both on-time and late rows in batches 1..3
LATE_DELAY_US = 7 * 24 * 3600 * 1_000_000

#: batch count for the content-defined drop
LATE_PARTS = 4


def stream_late_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data ROUTER (B25): the observability pattern Spark's watermark
    lacks — a watermarked stateful operator silently DROPS rows older than
    the watermark; a production pipeline routes them to a dead-letter sink
    and accounts for them instead. This job keeps its own watermark
    bookkeeping (Spark's global-watermark rule: the running max event time
    over all PRIOR batches, minus the delay — the same arithmetic pinned
    empirically for B18/B20, here owned by the operator so the split is
    explicit): per micro-batch, ONE partitioned write physically splits
    rows with ts_us <= wm_us into the dead-letter dir
    (rows/batch_id={{id}}/late=1) beside the on-time partition, and the watermark
    state advances as a versioned scalar (B19's s{{batch_id}} rule —
    at-least-once redelivery rebuilds from its own predecessor and never
    double-routes — as an atomically-renamed text file: a one-long state
    doesn't earn a parquet job per batch).

    Batches are CONTENT-DEFINED (file k = event_id % {LATE_PARTS} == k,
    stage_keyed_file_drop) — this operator's output is batching-DEPENDENT
    by design (B26 shares the trait), so the oracle must reconstruct
    batch membership, not just the final union. Each batch asserts the
    contract (its rows' key mod equals its batch id); a
    file-listing-order change fails loudly.

    Output: one exact-integer accounting row per batch — row/late/on-time
    counts, event-id checksums of each side (membership-sensitive), the
    watermark in force (epoch-µs; -1 sentinel for the first batch), and
    the batch's max event time. The routed rows themselves live in the
    side sinks (asserted in tests/test_streaming.py).

    Scale: the router is a map-only filter per batch (no shuffle before
    the sinks); watermark state is ONE ROW per version; the accounting
    aggregate groups by batch id — O(batches), never O(corpus).
    """
    from frolyk_spark.sources.streams import stage_keyed_file_drop

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    stage = stage_keyed_file_drop(
        ev, sf_dir, "events", "latert", LATE_PARTS, "event_id"
    )

    name, root = _run_root("latert_")
    # running max event time, one long per version
    wm = VersionedState(spark, os.path.join(root, "wm"))

    def _route(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(
            "event_id", F.unix_micros("ts").alias("ts_us")
        )
        # the stats aggregate and the routed write both consume this
        # batch — cache once (the standard foreachBatch multi-sink rule)
        batch.persist()
        try:
            # ONE aggregate job serves the contract check and the
            # watermark advance (a distinct+collect and a separate max
            # were two extra jobs per batch in the first cut)
            n, batch_max, mod_min, mod_max = batch.agg(
                F.count(F.lit(1)),
                F.max("ts_us"),
                F.min(F.expr(f"event_id % {LATE_PARTS}")),
                F.max(F.expr(f"event_id % {LATE_PARTS}")),
            ).collect()[0]
            _check_batch_keys(
                batch_id, mod_min, mod_max, n, LATE_PARTS, "content", "key mods"
            )
            prior_v = wm.prior(batch_id)
            prior_max = None if prior_v is None else wm.scalar(prior_v)
            wm_us = -1 if prior_max is None else prior_max - LATE_DELAY_US
            # cast the literal: a -1 sentinel would otherwise write int32
            # while real watermarks write int64, splitting the sink schema
            wm_lit = F.lit(int(wm_us)).cast("bigint")
            # one write job, physically split late/on-time by the
            # partition column — the dead-letter dir is
            # rows/batch_id={id}/late=1 (key=value levels so the read-back
            # recovers batch_id and late by partition discovery)
            (
                batch.withColumn("wm_us", wm_lit)
                .withColumn(
                    "late", F.when(F.col("ts_us") <= wm_lit, 1).otherwise(0)
                )
                .write.partitionBy("late")
                .mode("overwrite")
                .parquet(os.path.join(root, "rows", f"batch_id={batch_id}"))
            )
            # empty micro-batch: batch_max is NULL — carry the prior
            # watermark forward as a no-op instead of TypeError-ing on
            # max(prior, None) / int(None)
            if batch_max is None:
                running = prior_max
            else:
                running = batch_max if prior_max is None else max(prior_max, batch_max)
            if running is not None:
                wm.write_scalar(batch_id, running)
        finally:
            batch.unpersist()

    run_batches(_drop_stream(ev, stage), _route, name=name)
    rows_root = os.path.join(root, "rows")
    if not os.path.isdir(rows_root):
        return spark.createDataFrame(
            [],
            "batch_id bigint, n_rows bigint, n_late bigint, n_ontime bigint, "
            "late_id_sum bigint, ontime_id_sum bigint, wm_us bigint, "
            "max_ts_us bigint",
        )
    allrows = spark.read.parquet(rows_root)
    is_late = F.col("late") == 1
    return allrows.groupBy(F.col("batch_id").cast("bigint").alias("batch_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(is_late, 1).otherwise(0)).alias("n_late"),
        F.sum(F.when(~is_late, 1).otherwise(0)).alias("n_ontime"),
        F.sum(F.when(is_late, F.col("event_id")).otherwise(0)).alias("late_id_sum"),
        F.sum(F.when(~is_late, F.col("event_id")).otherwise(0)).alias("ontime_id_sum"),
        F.max("wm_us").alias("wm_us"),
        F.max("ts_us").alias("max_ts_us"),
    )


STREAM_LATE_ROUTING_SQL = f"""
WITH b AS (
  SELECT event_id, epoch_us(ts) AS ts_us,
         event_id % {LATE_PARTS} AS batch_id
  FROM events
),
mx AS (SELECT batch_id, max(ts_us) AS m FROM b GROUP BY batch_id),
wm AS (
  SELECT batch_id,
         coalesce(max(m) OVER (ORDER BY batch_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  - {LATE_DELAY_US}, -1) AS wm_us
  FROM mx
),
flagged AS (
  SELECT b.batch_id, b.event_id, b.ts_us, wm.wm_us,
         (b.ts_us <= wm.wm_us) AS is_late
  FROM b JOIN wm USING (batch_id)
)
SELECT CAST(batch_id AS BIGINT) AS batch_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN is_late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(sum(CASE WHEN is_late THEN 0 ELSE 1 END) AS BIGINT) AS n_ontime,
       CAST(sum(CASE WHEN is_late THEN event_id ELSE 0 END) AS BIGINT) AS late_id_sum,
       CAST(sum(CASE WHEN is_late THEN 0 ELSE event_id END) AS BIGINT) AS ontime_id_sum,
       CAST(max(wm_us) AS BIGINT) AS wm_us,
       CAST(max(ts_us) AS BIGINT) AS max_ts_us
FROM flagged
GROUP BY batch_id
"""


# --- B29: streaming weighted sample (mergeable bottom-k state) ------------------

def stream_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D78's weighted sample maintained over a stream (B29): bottom-k
    hash/weight priorities are MERGEABLE state — the bottom-K of a union
    is the bottom-K of (state ∪ batch's bottom-K) — so each micro-batch
    reduces to its own K best rows, merges against the prior state
    version (strictly below this batch id, the redelivery anchor), and
    overwrites its version. The final state is the corpus-wide bottom-K
    REGARDLESS of batching, so the job shares sample_weighted's oracle
    verbatim. This is how a pipeline keeps a live weighted sample of an
    unbounded ingest: state is O(K) forever, per-batch work is one
    partial top-K over the batch + one K-row merge.
    """
    from frolyk_spark.operators.sampling import WEIGHTED_K
    from frolyk_spark.sources.streams import stage_multi_file_drop

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    stage = stage_multi_file_drop(docs, sf_dir, "documents", "wsample")

    name, root = _run_root("wsample_")
    state = VersionedState(spark, root)

    def _bottom_k(df: DataFrame) -> DataFrame:
        return df.orderBy("priority", "doc_id").limit(WEIGHTED_K)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        from frolyk_spark.functions.hashing import portable_hash_spark_sql

        # shared hash kernel — the batch twin (sample_weighted) and the
        # common oracle depend on this exact definition; never inline it
        prio = portable_hash_spark_sql("cast(doc_id as string)")
        batch = _bottom_k(
            batch_df.select(
                "doc_id",
                F.col("n_chars").cast("bigint").alias("weight"),
                F.expr(f"({prio}) div cast(n_chars as bigint)").alias("priority"),
            )
        )
        prior = state.read_prior(batch_id)
        if prior is not None:
            batch = _bottom_k(prior.unionByName(batch))
        state.write(batch_id, batch.coalesce(1))

    run_batches(_drop_stream(docs, stage), _apply, name=name)
    return state.read_latest("doc_id bigint, weight bigint, priority bigint")


# --- B28: streaming corpus-filter ingest gate -----------------------------------

#: batch count for the corpus-filter drop
CFILTER_PARTS = 4


def stream_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ingest QUALITY GATE (B28): documents arrive in
    micro-batches and pass the same composite filter corpus_filter ships
    (quality + language + exact-dedup keep-first) — with the dedup state
    carried ACROSS batches, so the stream's output equals the one-shot
    batch operator exactly and the job shares corpus_filter's oracle
    verbatim.

    The subtlety is keep-FIRST: corpus_filter keeps the min doc_id per
    text hash; a stream keeps the first ARRIVAL. The two agree iff
    arrival order respects id order, so the drop is RANGE-batched (file
    k = ids in the k-th quartile of the observed [min_id, max_id] span —
    the one staging where B25's mod-split would be wrong), and each
    batch asserts that contract. Per batch: quality/language filtering is
    row-local (trivially batching-invariant); the keep-first winner per
    hash within the batch (one window) then anti-joins the persisted
    seen-hash state (hashes of all PRIOR batches — the B17
    signature-append shape: old hashes are never re-shuffled against
    each other, state grows by exactly the new batch); kept rows and the
    batch's state-advancing hashes land in ONE side-partitioned write
    (r12 job fusion), idempotent under redelivery.
    """
    from frolyk_spark.functions.hashing import portable_hash_expr
    from frolyk_spark.operators.text import (
        KEEP_LANGS, MIN_QUALITY, lang_id_frame, text_stats_frame,
    )
    from frolyk_spark.sources.streams import stage_keyed_file_drop

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # staging scaffolding only: the range key is derived from the OBSERVED
    # id span, not from count — `(doc_id * parts) div n` would map a
    # 1-based or sparse corpus's max ids to partition `parts` (out of
    # range), which the mod staging would route to file 0 and the
    # contract would then kill the whole job (r11 ADVICE)
    lo_id, hi_id = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    span = int(hi_id) - int(lo_id) + 1
    range_key = f"((doc_id - {int(lo_id)}) * {CFILTER_PARTS}) div {span}"
    stage = stage_keyed_file_drop(
        docs, sf_dir, "documents", "cfilter", CFILTER_PARTS, range_key,
    )

    name, root = _run_root("cfilter_")
    rows = VersionedState(spark, os.path.join(root, "rows"), prefix="b")

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(
            "doc_id", "text", portable_hash_expr("text").alias("th")
        )
        batch.persist()
        try:
            _check_batch(batch, batch_id, range_key, CFILTER_PARTS, "range", "quartiles")
            w = Window.partitionBy("th").orderBy("doc_id")
            firsts = (
                batch.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .drop("rn")
            )
            seen = rows.read_side("seen", below=batch_id)
            if seen is not None:
                firsts = firsts.join(seen.select("th"), "th", "left_anti")
            stats = text_stats_frame(firsts).select("doc_id", "quality_score")
            langs = lang_id_frame(firsts).select("doc_id", "predicted_lang")
            kept = (
                firsts.select("doc_id")
                .join(stats, "doc_id")
                .join(langs, "doc_id")
                .where(
                    (F.col("quality_score") >= MIN_QUALITY)
                    & F.col("predicted_lang").isin(*KEEP_LANGS)
                )
                .select("doc_id", "predicted_lang", "quality_score")
            )
            # ONE partitioned write carries BOTH the kept rows and the
            # seen-hash state append (r12 job fusion: two filtered writes
            # were two jobs/batch; redelivery overwrites the whole batch
            # dir idempotently). ALL first-seen hashes advance state,
            # kept or filtered — a quality-rejected copy still makes
            # later duplicates drop, exactly like the batch operator's
            # window-then-filter order.
            rows.write(batch_id, kept=kept, seen=firsts.select("th"))
        finally:
            batch.unpersist()

    run_batches(_drop_stream(docs, stage), _gate, name=name)
    return rows.read_side(
        "kept", "doc_id bigint, predicted_lang string, quality_score double"
    )


# --- B27: streaming k-anonymity monitor ----------------------------------------

def stream_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous privacy monitoring (B27): the C68 k-anonymity audit
    maintained as STREAMING STATE. The batch audit's first level (the QI
    groupBy, governance.qi_groups) runs over the event stream as a native
    complete-mode streaming aggregation; counts ADD, so the state after
    the last batch equals the whole-corpus groupBy REGARDLESS of how
    ingest was batched — the B19/B17 batching-invariance contract, which
    is why this job shares C68's oracle verbatim. The audit's second
    level (governance.k_band_histogram) is an O(groups) view over that
    state. The governance posture this enables: the privacy gate is
    evaluated continuously as data lands, not in a nightly batch after a
    leaky corpus already shipped.

    Spark's state store owns the O(QI groups) state, including NULL-keyed
    groups and a redelivered batch; session.enable_rocksdb_state_store
    is the path for state larger than the default provider holds.
    """
    from frolyk_spark.operators.governance import k_band_histogram, qi_groups
    from frolyk_spark.sources.streams import stage_multi_file_drop

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    stage = stage_multi_file_drop(ev, sf_dir, "events", "kanonmon")
    state = run_available_now(
        qi_groups(_drop_stream(ev, stage)), mode="complete", prefix="kanonmon"
    )
    return k_band_histogram(state)


# --- B37: streaming l-diversity monitor (twin of the C68b audit) ---------------


def stream_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous attribute-disclosure monitoring (B37, r14 verdict item
    6): the l_diversity_audit maintained as STREAMING STATE. The state is
    the (QI, sensitive-value) pair-count table — the batch audit's own
    first level (governance.qi_pairs), run over the event stream as a
    native complete-mode streaming aggregation — and counts ADD across
    batches, so the state after the last batch equals the whole-corpus
    first level REGARDLESS of batching (the B17/B19/B27
    batching-invariance class) and the job shares L_DIVERSITY_SQL
    verbatim. A group's distinct-l is the count of its state rows: a
    pair's presence is monotone (first-seen-and-stays), so l only ever
    grows as data lands — the gate can flip from violating to passing
    live, never silently the other way. That count needs every group,
    NULL-keyed ones included, to be ONE state row; the streaming
    aggregation keys NULLs exactly as groupBy does.

    The l-band histogram is the batch audit's second level
    (governance.l_band_histogram) over the final state: O(pairs),
    bounded by QI-groups x |sensitive domain|.
    session.enable_rocksdb_state_store is the path for state larger than
    the default provider holds.
    """
    from frolyk_spark.operators.governance import l_band_histogram, qi_pairs
    from frolyk_spark.sources.streams import stage_multi_file_drop

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    stage = stage_multi_file_drop(ev, sf_dir, "events", "ldivmon")
    state = run_available_now(
        qi_pairs(_drop_stream(ev, stage)), mode="complete", prefix="ldivmon"
    )
    return l_band_histogram(state)


# --- B26: streaming tokenize -> pack training-data feed ------------------------

#: batch count for the token feed's content-defined document drop
TOKFEED_PARTS = 4


def stream_token_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming end of a training-data pipeline (B26): documents
    arrive in micro-batches, each batch is tokenized with the PERSISTED
    trained BPE model (vocab.persisted_bpe_merges — train once, apply
    forever) and packed into fixed-length training sequences whose token
    offsets CONTINUE exactly across batches — the online data-loader
    shape, where sequence ids must be globally consistent no matter how
    ingest was batched.

    Composition of proven pieces, each shared with its batch twin so the
    semantics can't fork: the content-defined drop (doc_id %
    {TOKFEED_PARTS}, B25's stage_keyed_file_drop + per-batch contract
    assertion), the tokenizer-apply kernel (vocab.bpe_apply_kernel, the
    bpe_encode kernel), the two-phase bucketed prefix sum
    (pipeline.packed_offsets — never a single-partition global window),
    and the versioned scalar state file (B25's rule: batch k's base
    offset comes from the latest version strictly below k, so
    at-least-once redelivery re-packs from its own predecessor and never
    shifts downstream offsets).

    Per batch: segment the batch's DISTINCT words (Arrow-batched
    mapInPandas), join counts back, run ONE per-bucket aggregate that
    serves both the content contract and packed_offsets' phase-1 totals
    (the r12 job fusion), pack from the running base, ONE partitioned
    manifest write (batch_id recovered by partition discovery), advance
    the offset state. 2 Spark jobs + a text rename per batch.

    Oracle: per-doc trained-piece counts from the unrolled BPE chain
    (vocab.bpe_doc_token_counts_ctes — the same SQL the encode oracle
    uses), then one window cumsum over (batch_id, ord_key, doc_id): the
    cross-batch offset continuity collapses to a single global order.
    """
    from frolyk_spark.functions.hashing import portable_hash_spark_sql
    from frolyk_spark.operators.pipeline import _BUCKET_WIDTH, packed_offsets
    from frolyk_spark.operators.vocab import bpe_apply_kernel, persisted_bpe_merges
    from frolyk_spark.sources.streams import stage_keyed_file_drop

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stage = stage_keyed_file_drop(
        docs, sf_dir, "documents", "tokfeed", TOKFEED_PARTS, "doc_id"
    )
    kernel = bpe_apply_kernel(
        [(m[1], m[2], m[3]) for m in persisted_bpe_merges(spark, sf_dir)]
    )

    name, root = _run_root("tokfeed_")
    # end offset of the packed stream, one long per version
    offsets = VersionedState(spark, os.path.join(root, "offset"))

    def _feed(batch_df: DataFrame, batch_id: int) -> None:
        words = batch_df.select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        ).where(F.length("w") > 0)
        # two consumers (distinct-word segmentation + the count join)
        words.persist()
        try:
            seg = words.select("w").distinct().mapInPandas(
                kernel, "w string, pw string, np int"
            )
            toks = (
                words.join(seg, "w")
                .groupBy("doc_id")
                .agg(F.sum("np").cast("bigint").alias("n_tokens"))
                .withColumn(
                    "ord_key",
                    F.expr(portable_hash_spark_sql("cast(doc_id AS string)")),
                )
                .withColumn("mod", F.expr(f"doc_id % {TOKFEED_PARTS}"))
                .withColumn(
                    "bucket", (F.col("ord_key") / _BUCKET_WIDTH).cast("int")
                )
            )
            # two actions consume toks (the fused contract+prefix
            # aggregate, the manifest write) — persist the
            # one-row-per-doc frame or each would re-run the
            # segmentation join
            toks.persist()
            try:
                # ONE per-bucket aggregate serves BOTH the content
                # contract and packed_offsets' phase-1 bucket totals —
                # the r11 jobs-per-batch census (3 jobs/batch -> 2;
                # contract still evaluated before any write)
                stats = toks.groupBy("bucket").agg(
                    F.sum("n_tokens").alias("tot"),
                    F.min("mod").alias("lo"),
                    F.max("mod").alias("hi"),
                    F.count(F.lit(1)).alias("n"),
                ).collect()
                _check_batch_keys(
                    batch_id,
                    min((r["lo"] for r in stats), default=None),
                    max((r["hi"] for r in stats), default=None),
                    sum(r["n"] for r in stats), TOKFEED_PARTS, "content", "doc mods",
                )
                prior_v = offsets.prior(batch_id)
                base = 0 if prior_v is None else offsets.scalar(prior_v)
                packed, end = packed_offsets(
                    toks.drop("mod"),
                    base_offset=base,
                    totals={r["bucket"]: r["tot"] for r in stats},
                )
                packed.write.mode("overwrite").parquet(
                    os.path.join(root, "packed", f"batch_id={batch_id}")
                )
                offsets.write_scalar(batch_id, end)
            finally:
                toks.unpersist()
        finally:
            words.unpersist()

    run_batches(_drop_stream(docs, stage), _feed, name=name)
    packed_root = os.path.join(root, "packed")
    if not os.path.isdir(packed_root):
        return spark.createDataFrame(
            [],
            "batch_id bigint, doc_id bigint, n_tokens bigint, "
            "start_offset bigint, seq_id bigint, offset_in_seq bigint",
        )
    return spark.read.parquet(packed_root).select(
        F.col("batch_id").cast("bigint").alias("batch_id"),
        "doc_id",
        "n_tokens",
        F.col("start_offset").cast("bigint").alias("start_offset"),
        "seq_id",
        F.col("offset_in_seq").cast("bigint").alias("offset_in_seq"),
    )


def _stream_token_feed_sql() -> str:
    from frolyk_spark.functions.hashing import portable_hash_sql
    from frolyk_spark.operators.pipeline import SEQ_LEN
    from frolyk_spark.operators.vocab import bpe_doc_token_counts_ctes

    h = portable_hash_sql("cast(doc_id AS varchar)")
    return f"""
WITH {bpe_doc_token_counts_ctes()},
t AS (
  SELECT doc_id, n_tokens, {h} AS ord_key,
         doc_id % {TOKFEED_PARTS} AS batch_id
  FROM d
),
c AS (
  SELECT batch_id, doc_id, n_tokens,
         cast(coalesce(sum(n_tokens) OVER (
           ORDER BY batch_id, ord_key, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint)
           AS start_offset
  FROM t
)
SELECT cast(batch_id AS BIGINT) AS batch_id, doc_id, n_tokens, start_offset,
       cast(start_offset // {SEQ_LEN} AS BIGINT) AS seq_id,
       cast(start_offset % {SEQ_LEN} AS BIGINT) AS offset_in_seq
FROM c
"""


# --- B31: streaming Count-Min heavy hitters ---------------------------------------


def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming frequency sketch (B31): D81's Count-Min sketch maintained
    as MERGEABLE state — the deployment a CMS exists for. Documents arrive
    in micro-batches, and ONE native complete-mode streaming aggregation
    keeps both the {CMS_D}x{CMS_W} cells and the exact bigram counts:
    each bigram occurrence emits one (word, r=-1) row for its exact count
    and one (NULL word, r, bucket) row per sketch row for its cell, and
    the state counts rows per (word, r, bucket). Counts add and the hash
    family is fixed, so cells add too — the B19/B17 batching-invariance
    contract; the final estimate is D81's own (vocab.cms_estimate) over
    that state, so the job shares D81's whole-corpus oracle verbatim.

    The cell side is the point: it stays <= CMS_D*CMS_W rows FOREVER on
    an unbounded ingest — the bounded-memory frequency monitor a 100 TB
    feed keeps per shard and adds at the coordinator. The exact counts
    ride along purely because D81's audit output reports estimate vs
    truth; a production monitor would drop them and keep only the 1024
    cells. session.enable_rocksdb_state_store is the path for state
    larger than the default provider holds.
    """
    from frolyk_spark.operators.vocab import BIGRAMS, CMS_D, cms_bucket, cms_estimate
    from frolyk_spark.sources.streams import stage_multi_file_drop

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stage = stage_multi_file_drop(docs, sf_dir, "documents", "cmsmon")

    exact = F.struct("word", F.lit(-1).alias("r"), F.lit(None).cast("bigint").alias("bucket"))
    cells = [
        F.struct(
            F.lit(None).cast("string").alias("word"),
            F.lit(r).alias("r"),
            cms_bucket(F.lit(r)).alias("bucket"),
        )
        for r in range(CMS_D)
    ]
    rows = (
        _drop_stream(docs, stage)
        .select(F.explode(F.expr(BIGRAMS)).alias("word"))
        .select(F.explode(F.array(exact, *cells)).alias("e"))
        .select("e.*")
    )
    state = run_available_now(
        rows.groupBy("word", "r", "bucket").agg(F.count(F.lit(1)).alias("n")),
        mode="complete", prefix="cmsmon",
    )
    return cms_estimate(
        state.where(F.col("r") < 0).select("word", F.col("n").alias("cnt")),
        state.where(F.col("r") >= 0).select("r", "bucket", F.col("n").alias("tot")),
    )


# --- B32: streaming vocabulary-growth monitor -------------------------------------


def stream_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Heaps-law monitor (B32): D82's vocabulary-growth curve
    maintained from MIN-mergeable state — the third mergeable-state class
    in the B block (B27 counts ADD, B29/B31 bottom-k/cells MERGE, here
    first-occurrence = MIN, and min of mins is the min). ONE native
    complete-mode streaming aggregation over a unioned projection keeps
    both sides: a (word, NULL bucket) row per token carrying its doc_id,
    whose min is the word's first occurrence, and a (NULL word, bucket)
    row per document carrying its token count, whose count and sum are
    the range slice's doc/token sums. Batching-invariant by construction,
    and the curve is D82's own (vocab.vocab_curve) over that state, so
    the job shares D82's oracle verbatim.

    Why a stream wants this: the new-words-per-slice rate is the corpus
    drift alarm — a feed whose incoming slices suddenly mint vocabulary
    is a new domain (or garbage) entering the pipeline, and the monitor
    sees it as data lands rather than in a nightly batch.

    State is O(distinct words) + O({VG_BUCKETS}) — the model-sized
    dimension Heaps' law itself bounds; session.enable_rocksdb_state_store
    is the path for state larger than the default provider holds.
    """
    from frolyk_spark.operators.vocab import VG_BUCKETS, vocab_curve
    from frolyk_spark.sources.streams import stage_multi_file_drop

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # slice geometry from the OBSERVED id span (scaffolding-only collect,
    # two scalars; never assumes density/0-base)
    mn, mx = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    if mn is None:  # no documents: no id span to slice, so no curve
        return spark.createDataFrame(
            [], "bucket bigint, n_docs_b bigint, new_words bigint, "
                "cum_tokens bigint, cum_vocab bigint",
        )

    span = int(mx) - int(mn) + 1

    def bucket_of(col: str):
        return F.expr(f"(({col} - {int(mn)}) * {VG_BUCKETS}) div {span}").cast("bigint")

    stage = stage_multi_file_drop(docs, sf_dir, "documents", "vgrowth")
    stream = _drop_stream(docs, stage)
    none = F.lit(None).cast("bigint")
    rows = stream.select(
        F.explode(F.split("text", " ")).alias("word"), none.alias("bucket"),
        F.col("doc_id").cast("bigint").alias("fd"), none.alias("n_toks"),
    ).unionByName(stream.select(
        F.lit(None).cast("string").alias("word"), bucket_of("doc_id").alias("bucket"),
        none.alias("fd"), F.size(F.split("text", " ")).cast("bigint").alias("n_toks"),
    ))
    state = run_available_now(
        rows.groupBy("word", "bucket").agg(
            F.min("fd").alias("fd"),
            F.count("n_toks").alias("n_docs_b"),
            F.sum("n_toks").alias("toks"),
        ),
        mode="complete", prefix="vgrowth",
    )
    return vocab_curve(
        spark,
        state.where(F.col("word").isNull()).select("bucket", "n_docs_b", "toks"),
        state.where(F.col("word").isNotNull())
        .groupBy(bucket_of("fd").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_words")),
    )


# --- B30: streaming as-of join (point-in-time enrichment) ------------------------

#: batch count for the as-of drop
ASOF_STREAM_PARTS = 4


def stream_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time enrichment (B30): purchases arrive in
    micro-batches and each is stamped with the user's most recent click
    AT OR BEFORE it — the classic trades-vs-quotes as-of join run as a
    stream, with per-user "latest click" state carried across batches.

    Order sensitivity is the whole problem (the C16 batch operator sees
    the full history; a stream sees a prefix): the drop is RANGE-batched
    on event time (file k = the k-th quarter of the observed epoch span
    — the B28 staging, asserted per batch), so by arrival time every
    prior click is either in the cross-batch state (strictly earlier
    span) or earlier in THIS batch (the same (ts, event_id) window the
    batch operator runs). The two sources merge with one null-skipping
    greatest(); output therefore equals the one-shot C16 operator and
    the job shares its oracle verbatim.

    Per batch, priced in Spark jobs (the B25 census): ONE contract
    aggregate on the persisted batch, then ONE side-partitioned write
    carrying BOTH the enriched purchases and the full refreshed
    user-state (side=out / side=state — the r12 fusion template;
    redelivery overwrites the whole batch dir idempotently). State is
    O(users) per batch — the model-sized dimension, never the event
    volume — and each batch reads only the LATEST prior state dir, so
    old batches never re-shuffle (the B17 posture).
    """
    from frolyk_spark.sources.streams import stage_keyed_file_drop

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "user_id", "event_type", "ts")
    )
    # staging scaffolding only: range key from the OBSERVED epoch span
    # (never assuming density/0-base — the r11 ADVICE rule)
    lo_us, hi_us = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    span = int(hi_us) - int(lo_us) + 1
    range_key = (
        f"((unix_micros(ts) - {int(lo_us)}) * {ASOF_STREAM_PARTS}) div {span}"
    )
    stage = stage_keyed_file_drop(
        ev, sf_dir, "events", "asofjoin", ASOF_STREAM_PARTS, range_key,
    )

    name, root = _run_root("asofjoin_")
    rows = VersionedState(spark, os.path.join(root, "rows"), prefix="b")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.persist()
        try:
            _check_batch(batch, batch_id, range_key, ASOF_STREAM_PARTS, "range", "quarters")
            state = rows.read_prior(
                batch_id, "user_id bigint, last_click_us bigint", side="state"
            ).withColumnRenamed("last_click_us", "st_click_us")
            w = (
                Window.partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
            out = (
                batch.withColumn(
                    "batch_click_us", F.unix_micros(F.max(click_ts).over(w))
                )
                .where(F.col("event_type") == "purchase")
                .join(state, "user_id", "left")
                .select(
                    "event_id",
                    "user_id",
                    F.unix_micros("ts").alias("ts_us"),
                    # greatest() skips nulls: state-only, batch-only, and
                    # no-click-anywhere (NULL) cases all fall out of it
                    F.greatest("batch_click_us", "st_click_us").alias(
                        "last_click_us"
                    ),
                )
            )
            new_state = (
                batch.where(F.col("event_type") == "click")
                .groupBy("user_id")
                .agg(F.max(F.unix_micros("ts")).alias("bc"))
                .join(state, "user_id", "full")
                .select(
                    "user_id",
                    F.greatest("bc", "st_click_us").alias("last_click_us"),
                )
            )
            rows.write(batch_id, out=out, state=new_state)
        finally:
            batch.unpersist()

    run_batches(_drop_stream(ev, stage), _apply, name=name)
    return rows.read_side(
        "out", "event_id bigint, user_id bigint, ts_us bigint, last_click_us bigint"
    )


# --- B35: streaming histogram quantile monitor --------------------------------


def stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rank-statistics monitor (B35): C73's 256-bin histogram
    sketch maintained as MERGEABLE state over an order-total ingest —
    completing the sketch family's streaming twins (B31→D81 frequencies,
    B32→D82 vocabulary, B33→D35 lengths, here quantiles). Bin counts ADD,
    so the state is one native complete-mode streaming aggregation of
    (bin, cnt) (the batching-invariance class), and the final
    inverse-CDF + exact audit reproduces C73's output exactly — the job
    shares C73's whole-corpus oracle verbatim.

    One subtlety C73's batch form doesn't have: the bin GEOMETRY (lo, hi)
    must be fixed BEFORE binning so every shard/batch bins identically —
    the sketch contract at 100 TB is "agree on the bins, then counts add
    anywhere". Here the geometry comes from one bounded aggregate over
    the staged drop (in production: the table's E10 stats index or a
    declared domain), which equals C73's in-query geometry by
    construction (same rows). State stays <= 256 bins FOREVER
    (session.enable_rocksdb_state_store is the path should a wider sketch
    outgrow the default provider). The final inverse-CDF runs over the
    aggregation state (the estimates genuinely come from the maintained
    sketch — asserted by count conservation first); the exact-audit side
    legitimately reads the corpus once at the end, C73's shared
    _quantile_decile_audit doing both.
    """
    from frolyk_spark.operators.relational import (
        QSKETCH_BINS, _quantile_binned, _quantile_decile_audit,
    )
    from frolyk_spark.sources.streams import stage_multi_file_drop

    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    stage = stage_multi_file_drop(o, sf_dir, "orders", "qsketchmon")

    # fixed bin geometry, derived once from the staged drop (the E10
    # stats read a production deployment would use) — never per batch.
    # An empty drop has none, and bins no row either.
    geo = spark.read.parquet(stage).agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    ).collect()[0]
    lo, hi = geo.lo or 0, geo.hi or 0
    bins = (
        _drop_stream(o, stage)
        .select(
            F.expr(
                f"((cents - {lo}L) * {QSKETCH_BINS}) div ({hi}L - {lo}L + 1)"
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    final_bins = run_available_now(bins, mode="complete", prefix="qsk")
    # count conservation: the state must account for every source row
    # before anything is estimated from it
    n_state = final_bins.agg(F.sum("cnt")).collect()[0][0] or 0
    n_src = o.count()
    if n_state != n_src:
        raise RuntimeError(
            f"sketch state lost counts: {n_state} != {n_src} source rows"
        )
    # estimates FROM the maintained state; exact audit from the data —
    # C73's shared second half (identical binning rule via the shared
    # _quantile_binned, so the stream shares C73's oracle verbatim)
    return _quantile_decile_audit(_quantile_binned(o), final_bins)


# --- B34: incremental co-purchase graph maintenance ---------------------------

#: batch count for the keyed drop (l_orderkey % parts — keyed, not range,
#: because the only contract the equivalence needs is BASKET INTACTNESS:
#: every line of an order must land in one batch so its pairs can form)
EDGEMON_PARTS = 4

#: E21 live cadence: roll sealed edge deltas into the bucketed store
#: every N batches. The trade is one full-rewrite job per cadence point
#: against a delta chain bounded to N dirs on every probe — at 100 TB
#: the chain, not the rewrite, is the bottleneck (LSM posture). Sized
#: for the 4-batch test cycle: one mid-stream compaction (batch 2), so
#: batch 3 exercises the mixed store+delta probe.
EDGE_COMPACT_EVERY = 2

#: bucket count for the compacted edge store — a storage-time choice
#: (write_bucketed docstring): target total_size / desired_partition
#: at the deployed scale; small here because the test SFs are small
EDGE_STORE_BUCKETS = 8


def stream_edge_degrees(
    spark: SparkSession, sf_dir: str, *, keep_store: bool = False
) -> DataFrame:
    """Incremental graph maintenance (B34): the co-purchase edge table and
    per-part degrees kept current while orders STREAM in — the live form
    of the E4 persisted edge table every graph resident (C67/C69/C70-C72)
    reads. Lineitem arrives in basket-intact micro-batches
    (stage_keyed_file_drop on l_orderkey % {EDGEMON_PARTS}, contract
    asserted per batch): each batch forms its own orders' distinct
    co-purchase pairs (THE basket self-join kernel, graph.basket_half_pairs
    — shuffled once on the order key, fan-out bounded by basket size,
    one definition shared with every whole-graph builder), anti-joins them against the
    accumulated edge state (keep-first across batches, the B28 class —
    an edge enters exactly once, in the first batch containing an order
    that forms it), and ADDS the new edges' endpoint counts into the
    versioned degree state (distinct-neighbor degree = sum over DISJOINT
    new-edge sets, so degrees merge by addition — the B31/B33 contract).
    Union over batches = the whole-corpus distinct edge set regardless of
    batching, so the final degree table shares the batch graph's oracle.

    Per batch, priced in Spark jobs: one contract aggregate + ONE fused
    side-partitioned write (side=edges: this batch's NEW half-edges —
    the accumulating store; side=degrees: the merged full degree state),
    plus one store rewrite at each E21 cadence point (every
    {EDGE_COMPACT_EVERY} batches the sealed deltas strictly below the
    live batch roll into the bucketed store, so the keep-first probe
    anti-joins the store Exchange-free and at most {EDGE_COMPACT_EVERY}
    raw delta dirs — the wiring the r14 verdict asked for; at sf0.1 the
    per-batch structural floor dominates either way, the cadence is the
    100 TB posture). State: edges O(m) (the artifact a pipeline persists
    anyway), degrees O(#parts). Redelivery rebuilds from its own
    predecessors — the overwritten batch dir is excluded from both prior
    sides, and the cadence compacts only strictly-below batches, so
    nothing double-counts. ``keep_store=True`` leaves the versioned
    store tables and watermark in place for post-run inspection (the
    plan-pin test); by default they are torn down after the run — the
    pid-scoped rows_root is janitor-reclaimed anyway, and removing the
    marker returns the layout to the readable raw-delta union. A HARD
    crash skips the finally: the owner pid rides in the table name and
    _sweep_dead_edge_stores reclaims dead-owner tables at the next
    operator start (the catalog has no janitor of its own).
    """
    from frolyk_spark.operators.graph import basket_half_pairs
    from frolyk_spark.sources.streams import stage_keyed_file_drop

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    stage = stage_keyed_file_drop(
        li, sf_dir, "lineitem", "edgemon", EDGEMON_PARTS, "l_orderkey"
    )

    _sweep_dead_edge_stores(spark)
    # pid embedded in the name: the versioned store tables are MANAGED
    # catalog tables the SCRATCH janitor can't see, so liveness rides in
    # the table name itself (the .owner_pid posture, r15 review) and the
    # sweep above reclaims tables whose owner died before its finally
    name, root = _run_root(f"edgemon{os.getpid()}x")
    rows_root = os.path.join(root, "rows")
    rows = VersionedState(spark, rows_root, prefix="b")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        _check_batch(
            batch_df, batch_id, f"l_orderkey % {EDGEMON_PARTS}", EDGEMON_PARTS,
            "keyed-batch", "residues",
        )
        pairs = basket_half_pairs(batch_df)
        # E21 cadence (r15): every EDGE_COMPACT_EVERY batches, roll the
        # sealed deltas STRICTLY BELOW this batch into the bucketed
        # store — strictly below, so a redelivery of THIS batch can
        # still exclude its own crashed write from the probe. At 100 TB
        # this bounds the delta chain the keep-first anti-join reads to
        # the cadence length; the store side probes Exchange-free.
        if batch_id > 0 and batch_id % EDGE_COMPACT_EVERY == 0:
            if rows.versions(below=batch_id, side="edges", sealed=True):
                compact_edge_store(
                    spark,
                    rows_root,
                    name,
                    through_batch=rows.versions(below=batch_id, sealed=True)[-1],
                    buckets=EDGE_STORE_BUCKETS,
                )
        store, delta_df = _edge_store_parts(
            spark, rows_root, name, exclude_batch=batch_id
        )
        # two-stage keep-first probe: the bucketed store contributes its
        # clustering (no Exchange on that side), the raw deltas shuffle
        # only batch-sized inputs — never union the two first
        new_edges = pairs
        if store is not None:
            new_edges = new_edges.join(store, ["src", "dst"], "left_anti")
        if delta_df is not None:
            new_edges = new_edges.join(delta_df, ["src", "dst"], "left_anti")
        new_edges.persist()
        try:
            deltas = (
                new_edges.select(
                    F.explode(F.array("src", "dst")).alias("part")
                )
                .groupBy("part")
                .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
            )
            prior_deg = rows.read_prior(batch_id, side="degrees")
            if prior_deg is not None:
                zero = F.lit(0).cast("bigint")
                deltas = prior_deg.select(
                    "part", F.col("degree").alias("d0")
                ).join(deltas, "part", "full_outer").select(
                    "part",
                    (F.coalesce("d0", zero) + F.coalesce("degree", zero)).alias(
                        "degree"
                    ),
                )
            rows.write(batch_id, edges=new_edges, degrees=deltas)
        finally:
            new_edges.unpersist()

    stream = _drop_stream(li, stage)
    try:
        run_batches(stream, _apply, name=name)
    finally:
        if not keep_store:
            # teardown: drop the versioned store tables and the marker —
            # every side=edges delta dir is still in place, so the layout
            # returns to the fully-readable raw-delta union
            for row in spark.sql(f"SHOW TABLES LIKE '{name}_t*'").collect():
                spark.sql(f"DROP TABLE IF EXISTS {row.tableName}")
            m = os.path.join(rows_root, "compacted_through.txt")
            if os.path.exists(m):
                os.remove(m)

    return (
        rows.read_latest("part bigint, degree bigint", side="degrees")
        .select(
            F.col("part").cast("bigint").alias("part_key"),
            F.col("degree").cast("bigint").alias("degree"),
        )
        .orderBy("part_key")
    )


def _sweep_dead_edge_stores(spark: SparkSession) -> None:
    """Crashed-run leak guard (r15 review, twice): versioned edge-store
    tables (edgemon{pid}x{uuid}_t{N}) are managed tables whose METADATA
    lives in this process's in-memory catalog (no persistent metastore)
    but whose FILES live under spark.sql.warehouse.dir — a kill -9
    skips the finally teardown and the next process's catalog has never
    heard of them, so SHOW TABLES can't find the leak. The sweep
    therefore scans the warehouse DIRECTORY: dirs whose embedded owner
    pid is dead are rmtree'd (and dropped from the catalog too, for the
    same-session case). PermissionError from kill(pid, 0) means the pid
    is alive under another user — left alone."""
    import re as _re

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    if wh.startswith("file://"):
        wh = wh.removeprefix("file://")
    elif wh.startswith("file:"):
        wh = wh.removeprefix("file:")
    if not os.path.isdir(wh):
        return
    for entry in os.listdir(wh):
        m = _re.match(r"^edgemon(\d+)x", entry)
        if not m:
            continue
        pid = int(m.group(1))
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)
            continue  # alive — not ours to touch
        except PermissionError:
            continue  # alive under another user
        except ProcessLookupError:
            pass
        shutil.rmtree(os.path.join(wh, entry), ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {entry}")


def compact_edge_store(
    spark: SparkSession,
    rows_root: str,
    table_name: str,
    *,
    through_batch: int,
    buckets: int = 64,
) -> DataFrame:
    """LSM-style roll-up of B34's per-batch edge deltas (E21): rewrite
    every b{{id}}/side=edges dir with id <= ``through_batch`` into ONE
    (src, dst)-bucketed catalog table, so the per-batch keep-first
    anti-join probes a store whose scan side plans WITHOUT an Exchange
    (the r14 structural finding: the live operator keeps per-batch dirs
    for redelivery exclusion — an append-only bucketed table can't
    exclude a redelivered batch's own earlier write — so consolidation
    happens here, on SEALED batches only, the Delta/Iceberg OPTIMIZE
    shape). Re-compaction is a full rewrite of the table (idempotent;
    E20's posture), never an append, and the rolled dirs are left in
    place — the watermark file decides what the reader treats as
    compacted, so a crash between write and publish changes nothing.

    The compaction watermark is published atomically to
    ``rows_root/compacted_through.txt`` (the CLAUDE.md one-scalar rule)
    and each compaction writes a NEW versioned table
    (``{table_name}_t{through_batch}``) — never an in-place overwrite of
    the live one, because a reader (or a crash) between an overwrite and
    the marker publish would see the batches in (old_watermark,
    through_batch] in BOTH the store and the delta union (r14 review).
    The marker names the version implicitly, so publish is one atomic
    rename; ``read_edge_store`` unions the published version with only
    the deltas ABOVE the watermark, so readers never double-count.

    "Sealed" is ENFORCED, not assumed (r14 advice): a batch dir counts
    only if its write committed (``b{{id}}/_SUCCESS`` — the fused
    side-partitioned write's commit marker), and every id in
    [0, through_batch] must be sealed — Spark has no table pinning, so a
    half-written dir would compact partial contents and a gap batch
    whose dir landed after compaction would sit below the watermark yet
    never be rolled in, permanently excluded from every read.

    Concurrency contract: ONE compactor at a time (the stream's own
    cadence call satisfies this — foreachBatch is serial). Readers are
    protected by retention, not pinning: DROP TABLE on a managed table
    deletes its files out from under any frame still lazily reading it,
    so the immediately-superseded version (the one the PREVIOUS marker
    named — a reader may have resolved it just before this publish) is
    KEPT; only versions older than the previous watermark are dropped
    (VersionedState's retention-by-count posture). A reader
    holding a frame across TWO compaction cycles is out of contract."""
    rows = VersionedState(spark, rows_root, prefix="b")
    sealed = rows.versions(sealed=True)
    if not sealed:
        raise ValueError(f"no sealed batch dirs under {rows_root}")
    # an overshooting watermark would silently exclude batches that land
    # later in (max_sealed, through_batch] from every read (r14 review)
    if through_batch > sealed[-1]:
        raise ValueError(
            f"through_batch {through_batch} exceeds the newest sealed "
            f"batch {sealed[-1]} — later arrivals would vanish from reads"
        )
    missing = set(range(through_batch + 1)) - set(sealed)
    if missing:
        raise ValueError(
            f"batches {sorted(missing)} at or below the watermark are not "
            "sealed (_SUCCESS missing) — compacting past them would "
            "permanently exclude their edges from every read"
        )
    rolled = [
        i for i in rows.versions(side="edges", sealed=True) if i <= through_batch
    ]
    if not rolled:
        raise ValueError(
            f"no sealed side=edges dirs at or below batch {through_batch}"
        )
    from frolyk_spark.sources.catalog import write_bucketed

    marker = os.path.join(rows_root, "compacted_through.txt")
    prev_through = _compacted_through(rows_root)
    versioned = f"{table_name}_t{through_batch}"
    store = write_bucketed(
        rows.read(rolled, "src bigint, dst bigint", side="edges"),
        versioned,
        ["src", "dst"],
        buckets=buckets,
    )
    tmp = f"{marker}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(str(through_batch))
    os.replace(tmp, marker)
    # retention AFTER publish: keep the current version and the one the
    # previous marker named; drop only versions a reader could no longer
    # legally hold (see the concurrency contract above)
    prefix = f"{table_name}_t"
    for row in spark.sql(f"SHOW TABLES LIKE '{table_name}_t*'").collect():
        tail = row.tableName.removeprefix(prefix)
        if not tail.isdigit():
            continue
        v = int(tail)
        if v != through_batch and v != prev_through:
            spark.sql(f"DROP TABLE IF EXISTS {row.tableName}")
    return store


def _compacted_through(rows_root: str) -> int:
    """The published compaction watermark, or -1 before the first one."""
    try:
        with open(os.path.join(rows_root, "compacted_through.txt")) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return -1


def _edge_store_parts(
    spark: SparkSession,
    rows_root: str,
    table_name: str,
    *,
    exclude_batch: int | None = None,
) -> tuple[DataFrame | None, DataFrame | None]:
    """The two halves of the post-compaction edge set, SEPARATELY: the
    published bucketed store version and the still-unrolled delta union
    above the watermark. Separate because the live probe must anti-join
    them as two stages — a union would launder the store's bucketed
    distribution away and re-shuffle the whole edge set; probed alone,
    the store side plans WITHOUT an Exchange (the E21 point) and the
    delta side is bounded by the compaction cadence. ``exclude_batch``
    drops that batch's own delta dir (redelivery rebuilds from its
    predecessors); a watermark AT or ABOVE it would mean the batch's
    earlier write was compacted and can no longer be excluded — raise,
    never double-count silently."""
    through = _compacted_through(rows_root)
    if exclude_batch is not None and through >= exclude_batch:
        raise RuntimeError(
            f"compaction watermark {through} has rolled up batch "
            f"{exclude_batch}, which must be excluded — the cadence may "
            "only compact strictly below the live batch"
        )
    rows = VersionedState(spark, rows_root, prefix="b")
    deltas = [
        v for v in rows.versions(side="edges")
        if v > through and v != exclude_batch
    ]
    store = (
        spark.table(f"{table_name}_t{through}").select("src", "dst")
        if through >= 0
        else None
    )
    delta_df = (
        rows.read(deltas, "src bigint, dst bigint", side="edges") if deltas else None
    )
    return store, delta_df


def read_edge_store(
    spark: SparkSession, rows_root: str, table_name: str
) -> DataFrame:
    """The edge set as a reader sees it post-compaction: the PUBLISHED
    bucketed store version ({table_name}_t{watermark}) unioned with the
    still-unrolled per-batch deltas above the watermark. With no
    watermark published this is just the delta union — the
    pre-compaction layout. The version is derived from the marker, so a
    compaction that crashed after writing its table but before
    publishing is invisible here. (Whole-set readers union; the live
    probe uses _edge_store_parts to keep the store side bucketed.)"""
    store, deltas = _edge_store_parts(spark, rows_root, table_name)
    if store is None:
        return deltas if deltas is not None else spark.createDataFrame(
            [], "src bigint, dst bigint"
        )
    return store if deltas is None else store.unionByName(deltas)


STREAM_EDGE_DEGREES_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       FROM li a JOIN li b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2),
e AS (SELECT src, dst FROM pr UNION ALL SELECT dst AS src, src AS dst FROM pr)
SELECT CAST(src AS BIGINT) AS part_key, CAST(count(*) AS BIGINT) AS degree
FROM e GROUP BY src ORDER BY part_key
"""


# --- B36: incremental connected components (streaming twin of C71) ------------


def stream_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components (B36): C71's component-id
    assignment maintained as LABEL STATE across micro-batches — the
    streaming-graph op a live catalog actually wants on top of B34's
    edge/degree maintenance (degrees alone don't give cluster ids; a
    merchandiser watching baskets stream in wants "which part family did
    this order just connect"). Consumes the SAME basket-intact keyed drop
    as B34 (stage_keyed_file_drop on l_orderkey % {EDGEMON_PARTS} — one
    staged artifact serves both operators, and batch membership stays
    content-defined/oracle-reconstructible).

    Per batch (the contraction argument that keeps the work incremental):
    new edges can only merge EXISTING components or attach NEW parts, so
    it suffices to min-label-propagate over the CONTRACTED graph whose
    nodes are current component labels — (label(u), label(v)) for each
    batch co-purchase pair (u,v), label(x) = stored label, or x itself
    for first-seen parts. The contracted propagation reuses THE min-label
    core every CC consumer rides (dedup.min_label_propagation: one
    shuffle per round, lineage cut per round, exact early stop), then one
    label-keyed relabel join folds the merge map back into the full state.
    Labels are part keys end to end, and "label = component's min part
    key" is an inductive invariant (contracted mins of mins = merged
    component's min), so the final state equals C71's fixpoint labels and
    the job SHARES C71's ORACLE verbatim — batching-invariant by the
    contraction argument, provided TWO preconditions hold (r14 advice):

    1. every batch's contracted propagation reaches its fixpoint inside
       COMPONENTS_ROUNDS (the conjunction is the returned ``converged``;
       a truncated batch would surface false there, C71's
       documented-partial posture, though unlike C71's global truncation
       the labels are then mid-merge rather than round-budget bit-exact);
    2. the GLOBAL whole-graph unroll the oracle runs must ALSO reach its
       fixpoint within COMPONENTS_ROUNDS — contraction shortcuts paths,
       so per-batch convergence does NOT imply it (hierarchical batch
       merges can converge in O(log n) contracted rounds total while the
       global unroll needs O(diameter)); if violated, the oracle emits
       truncated labels + converged=false while the stream emits
       fixpoint labels + converged=true. No cheap exact runtime guard
       exists (bounding the SUM of contracted rounds is unsound by the
       same O(log n)-vs-O(n) gap), so the precondition is pinned
       EMPIRICALLY at oracle scale —
       tests/test_streaming.py::test_cc_oracle_global_round_margin
       verifies the full-graph fixpoint arrives with >=2x round margin
       at the driver's oracle SF (the ln-boundary-sweep posture: re-run
       the pin before sharing this oracle at a NEW SF/corpus). The
       shipped SFs converge in 1-3 contracted rounds per batch and ~3
       global rounds against the 12-round budget.

    State and cost per batch: ONE full-state relabel write (O(#parts),
    the B34 accumulate class — the label table IS the output artifact),
    one contract aggregate, and the contracted propagation whose join
    inputs are batch-sized, never corpus×corpus; the only cross-batch
    read is the single predecessor state version (bounded per-batch state
    reads). The per-batch converged scalar lives in an atomically-renamed
    text file next to its state version (the CLAUDE.md one-scalar rule),
    so redelivery rebuilds both the labels and the flag from the batch's
    own predecessor.
    """
    from frolyk_spark.functions.lineage import cut_lineage
    from frolyk_spark.operators.dedup import min_label_propagation
    from frolyk_spark.operators.graph import COMPONENTS_ROUNDS, basket_half_join
    from frolyk_spark.sources.streams import stage_keyed_file_drop

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    stage = stage_keyed_file_drop(
        li, sf_dir, "lineitem", "edgemon", EDGEMON_PARTS, "l_orderkey"
    )

    name, root = _run_root("ccmon_")
    labels = VersionedState(spark, root)
    # the per-version converged flag (1/0) beside each label version
    conv = VersionedState(spark, root, prefix="conv_s")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        _check_batch(
            batch_df, batch_id, f"l_orderkey % {EDGEMON_PARTS}", EDGEMON_PARTS,
            "keyed-batch", "residues",
        )
        # cut: pairs feed two plan arms (the contracted-label join chain
        # and the endpoint set); the checkpoint is BATCH-sized — the full
        # label state is deliberately never checkpointed, because the
        # prior version is already parquet on disk (the CLAUDE.md
        # cheap-rescan exception covers its three reads below).
        # The un-distincted join (basket_half_join, not basket_half_pairs,
        # r16): both consumers re-distinct downstream (ends explicitly,
        # cpairs after contraction), so a pair-distinct shuffle of the
        # full pair set would buy nothing — duplicate half-edges (two
        # orders sharing a pair, mean multiplicity ~1.2 on basket data)
        # ride the batch-sized contraction joins and collapse in
        # cpairs.distinct(). B34 keeps the distinct kernel — its edge
        # store must not double-count.
        pairs = cut_lineage(basket_half_join(batch_df))
        ends = pairs.select(
            F.explode(F.array("src", "dst")).alias("part")
        ).distinct()
        prior_v = labels.prior(batch_id)
        prior_conv = True
        if prior_v is not None:
            prior = labels.read(prior_v)
            prior_conv = conv.scalar(prior_v) == 1
            # label(x) = stored label, or x itself for first-seen parts —
            # resolved by LEFT joins against the bare prior scan, so no
            # union/anti-join materializes on the contracted path
            cpairs = (
                pairs.join(
                    prior.select(
                        F.col("part").alias("src"), F.col("label").alias("la0")
                    ),
                    "src",
                    "left",
                )
                .join(
                    prior.select(
                        F.col("part").alias("dst"), F.col("label").alias("lb0")
                    ),
                    "dst",
                    "left",
                )
                .select(
                    F.coalesce("la0", F.col("src")).alias("doc_a"),
                    F.coalesce("lb0", F.col("dst")).alias("doc_b"),
                )
            )
            base = prior.unionByName(
                ends.join(prior, "part", "left_anti").select(
                    "part", F.col("part").alias("label")
                )
            )
        else:
            cpairs = pairs.select(
                F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
            )
            base = ends.select("part", F.col("part").alias("label"))
        cpairs = cpairs.where(F.col("doc_a") != F.col("doc_b")).distinct()
        merge_map, conv_b = min_label_propagation(cpairs, COMPONENTS_ROUNDS)
        new_state = (
            base.join(
                merge_map.select(
                    F.col("doc_id").alias("label"),
                    F.col("label").alias("merged"),
                ),
                "label",
                "left",
            )
            .select(
                "part",
                F.coalesce("merged", F.col("label")).cast("bigint").alias("label"),
            )
        )
        labels.write(batch_id, new_state)
        conv.write_scalar(batch_id, prior_conv and conv_b)

    run_batches(_drop_stream(li, stage), _apply, name=name)
    v = labels.latest()
    final = labels.read(v, "part bigint, label bigint")
    converged = v is None or conv.scalar(v) == 1
    sizes = final.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("component_size")
    )
    return (
        final.join(sizes, "label")
        .select(
            F.col("part").cast("bigint").alias("part_key"),
            F.col("label").cast("bigint").alias("component_id"),
            (F.col("part") == F.col("label")).alias("is_canonical"),
            "component_size",
            F.lit(converged).alias("converged"),
        )
        .orderBy("part_key")
    )


# --- B33: streaming corpus length monitor (mergeable histogram state) --------


def stream_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online corpus shape monitor (B33): D35's per-source log2
    token-length histogram maintained as MERGEABLE state over a
    micro-batch ingest — the live dashboard a training-data intake keeps
    (a drop of long docs or a flood of short boilerplate shows up
    mid-ingest, not after the crawl lands). The state is D35's own
    aggregate (pipeline.length_hist) run over the document stream as a
    native complete-mode streaming aggregation; both measures ADD (the
    B17/B19/B27 batching-invariance class), so the job shares D35's
    whole-corpus oracle verbatim. State is bounded by sources × log2(max
    doc length) rows FOREVER — dashboard-sized on an unbounded feed
    (session.enable_rocksdb_state_store is the path for larger state)."""
    from frolyk_spark.operators.pipeline import length_hist
    from frolyk_spark.sources.streams import stage_multi_file_drop

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    stage = stage_multi_file_drop(docs, sf_dir, "documents", "lenmon")
    return run_available_now(
        length_hist(_drop_stream(docs, stage)), mode="complete", prefix="lenmon"
    )


from frolyk_spark.operators.governance import K_ANONYMITY_SQL as _K_ANON_ORACLE
from frolyk_spark.operators.governance import L_DIVERSITY_SQL as _L_DIV_ORACLE
from frolyk_spark.operators.relational import ASOF_SQL as _ASOF_ORACLE
from frolyk_spark.operators.sampling import _sample_weighted_sql as _ws_sql
from frolyk_spark.operators.pipeline import LENGTH_HISTOGRAM_SQL as _LENHIST_ORACLE
from frolyk_spark.operators.relational import QUANTILE_SKETCH_SQL as _QSKETCH_ORACLE
from frolyk_spark.operators.vocab import VOCAB_GROWTH_SQL as _VGROWTH_ORACLE
from frolyk_spark.operators.vocab import _heavy_hitters_cms_sql as _cms_sql

_CMS_ORACLE = _cms_sql()
from frolyk_spark.operators.text import _corpus_filter_sql as _cf_sql

_CORPUS_FILTER_ORACLE = _cf_sql()
_WSAMPLE_ORACLE = _ws_sql()

QUERIES = {
    "stream_quarantine": stream_quarantine,
    # B25: batching-DEPENDENT by design (content-defined batches);
    # oracle reconstructs batch membership from event_id % parts
    "stream_late_routing": stream_late_routing,
    # B26: tokenize->pack feed; offsets continue across batches, so the
    # oracle is one cumsum over the (batch, hash-order) composite order
    "stream_token_feed": stream_token_feed,
    # B27: cumulative QI-count state; batching-invariant (counts add),
    # so it shares C68's whole-corpus oracle verbatim
    "stream_k_anonymity": stream_k_anonymity,
    "stream_l_diversity": stream_l_diversity,
    # B28: range-batched arrival order makes keep-first identical to the
    # batch operator, so it shares corpus_filter's oracle verbatim
    "stream_corpus_filter": stream_corpus_filter,
    # B29: mergeable bottom-k state; batching-invariant, shares D78's oracle
    "stream_sample_weighted": stream_sample_weighted,
    # B30: range-batched arrival order makes state+window equal the full
    # as-of history, so it shares C16's oracle verbatim
    "stream_asof_join": stream_asof_join,
    # B31: CMS cells + bigram counts both ADD (batching-invariant), so it
    # shares D81's whole-corpus oracle verbatim
    "stream_heavy_hitters": stream_heavy_hitters,
    # B32: first-occurrence MIN + slice sums both merge (batching-
    # invariant), so it shares D82's whole-corpus oracle verbatim
    "stream_vocab_growth": stream_vocab_growth,
    # B33: histogram counts ADD (batching-invariant), shares D35's oracle
    "stream_length_histogram": stream_length_histogram,
    # B34: keep-first edge state + ADD degree state over basket-intact
    # keyed batches; union over batches = the whole-corpus edge set
    "stream_edge_degrees": stream_edge_degrees,
    # B36: label state merged per batch via contracted min-label
    # propagation; batching-invariant by the contraction argument, so it
    # shares C71's whole-corpus oracle verbatim
    "stream_components": stream_components,
    # B35: bin counts ADD under fixed geometry (batching-invariant),
    # estimates come FROM the merged state; shares C73's oracle
    "stream_quantile_sketch": stream_quantile_sketch,
    "stream_cdc_apply": stream_cdc_apply,
    # B23: CDC into E14 versioned snapshots (txn-guarded exactly-once);
    # final state is batching-invariant so it shares B19's oracle
    "stream_cdc_versioned": stream_cdc_versioned,
    # B24: incremental perceptual dedup (B17's shape over D70's codes);
    # batching-invariant, shares D70's oracle filtered to the new split
    "stream_media_dedup": stream_media_dedup,
    "stream_session_ttl": stream_session_ttl,
    "stream_dedup_incremental": stream_dedup_incremental,
    "stream_tumbling": stream_tumbling,
    "stream_topk": stream_topk,
    "stream_ohlc": stream_ohlc,
    "stream_hopping": stream_hopping,
    "stream_dedup": stream_dedup,
    "sessionize": sessionize,
    "stream_stateful": stream_stateful,
    "stream_stream_join": stream_stream_join,
    "stream_outer_join": stream_outer_join,
    "stream_full_outer_join": stream_full_outer_join,
    "stream_static_join": stream_static_join,
    "stream_anomaly": stream_anomaly,
}

ORACLES = {
    "stream_quarantine": STREAM_QUARANTINE_SQL,
    "stream_late_routing": STREAM_LATE_ROUTING_SQL,
    "stream_token_feed": _stream_token_feed_sql(),
    "stream_k_anonymity": _K_ANON_ORACLE,
    # B37 shares the batch audit's oracle (counts-add state, see docstring)
    "stream_l_diversity": _L_DIV_ORACLE,
    "stream_corpus_filter": _CORPUS_FILTER_ORACLE,
    "stream_sample_weighted": _WSAMPLE_ORACLE,
    "stream_asof_join": _ASOF_ORACLE,
    "stream_heavy_hitters": _CMS_ORACLE,
    "stream_vocab_growth": _VGROWTH_ORACLE,
    "stream_length_histogram": _LENHIST_ORACLE,
    "stream_edge_degrees": STREAM_EDGE_DEGREES_SQL,
    # B36 shares C71's oracle (see stream_components docstring)
    "stream_components": _graph_oracles["components_parts"],
    "stream_quantile_sketch": _QSKETCH_ORACLE,
    "stream_cdc_apply": STREAM_CDC_APPLY_SQL,
    "stream_cdc_versioned": STREAM_CDC_APPLY_SQL,
    "stream_media_dedup": _stream_media_dedup_sql(),
    "stream_session_ttl": STREAM_SESSION_TTL_SQL,
    # B17 shares D28's exact pair semantics (union over batches ==
    # the one-shot batch-vs-corpus probe), so it shares D28's oracle
    "stream_dedup_incremental": _dedup_incremental_sql(),
    "stream_anomaly": STREAM_ANOMALY_SQL,
    "stream_topk": STREAM_TOPK_SQL,
    "stream_ohlc": STREAM_OHLC_SQL,
    "stream_tumbling": STREAM_TUMBLING_SQL,
    "stream_hopping": STREAM_HOPPING_SQL,
    "stream_dedup": STREAM_DEDUP_SQL,
    "sessionize": SESSIONIZE_SQL,
    "stream_stateful": STREAM_STATEFUL_SQL,
    "stream_stream_join": STREAM_STREAM_JOIN_SQL,
    "stream_outer_join": STREAM_OUTER_JOIN_SQL,
    "stream_full_outer_join": STREAM_FULL_OUTER_JOIN_SQL,
    "stream_static_join": STREAM_STATIC_JOIN_SQL,
}
