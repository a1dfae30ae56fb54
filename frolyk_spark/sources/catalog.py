"""Parquet catalog over the test-data star schema.

At cluster scale these would be external tables (partitioned parquet on
object storage); reads stay columnar with predicate pushdown and column
pruning either way because every operator declares filters/projections
through the DataFrame API.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frolyk_spark.functions.loops import conf_span

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any scale: fixed cardinality
# (region 5 rows, nation 25). supplier/part/customer scale linearly with
# the data volume, so they are deliberately NOT here — AQE may still
# broadcast them at small scale factors, but nothing pins them.
BROADCAST_TABLES = {"region", "nation"}


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events.ts column to TimestampType regardless of how
    the parquet shipped it. Shared by the batch catalog and the streaming
    source (sources/streams.py) so the two paths cannot drift — streaming
    results must hash-match the batch oracles.

    events.ts has shipped as either TIMESTAMP(NANOS) (which Spark 4
    rejects by default — with spark.sql.legacy.parquet.nanosAsLong the raw
    nanos arrive as long, truncated here to micros, matching DuckDB's
    reader) or plain timestamp[us] (value-preserving cast from NTZ under
    the UTC-pinned session). Any other dtype is a data regression; fail
    loudly here instead of letting a watermark/window op produce a
    confusing error downstream.
    """
    dtype = df.schema["ts"].dataType
    if isinstance(dtype, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dtype, T.TimestampNTZType):
        # Session tz is pinned UTC, so this cast is value-preserving; it
        # restores TimestampType, which watermarks/windows require.
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    if isinstance(dtype, T.TimestampType):
        return df
    raise TypeError(
        f"events.ts has unsupported dtype {dtype}; expected TIMESTAMP(NANOS)"
        f"-as-long, timestamp_ntz, or timestamp"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events_ts(spark.read.parquet(path))
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str | list[str],
    *,
    buckets: int = 64,
    sort: bool = True,
) -> DataFrame:
    """Persist a fact table bucketed (and bucket-sorted) on its recurring
    join key — a single column or a COMPOSITE key list — returning the
    catalog-backed table.

    The 100 TB answer for fact-fact joins that run every day: with BOTH
    sides bucketed on the join key into the same bucket count, Spark reads
    co-located buckets and the join plans with ZERO shuffle exchanges
    (asserted in tests/test_bucketing.py); sortBy additionally removes the
    per-query sort for sort-merge joins. Bucket count is a storage-time
    choice: target buckets ~ total_size / desired_partition_size, and keep
    it identical across the tables that join together. Composite keys
    matter because Spark requires ALL the join's clustering keys among the
    partition keys to skip the shuffle
    (spark.sql.requireAllClusterKeysForCoPartition, default true) — a
    table bucketed on src alone still exchanges under a join on
    (src, dst).
    """
    cols = [key] if isinstance(key, str) else list(key)
    writer = df.write.bucketBy(buckets, *cols)
    if sort:
        writer = writer.sortBy(*cols)
    writer.mode("overwrite").format("parquet").saveAsTable(table_name)
    return df.sparkSession.table(table_name)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], *, mode: str = "overwrite"
) -> DataFrame:
    """Write a table as directory-partitioned parquet and return the
    re-read frame.

    The other half of the storage story next to write_bucketed: partition
    on LOW-cardinality scan predicates (event date, source, language) so a
    filtered read lists only matching directories — the plan shows the
    predicate under `PartitionFilters` and never opens the other files
    (asserted in tests/test_bucketing.py). At 100 TB this is the difference
    between scanning a day and scanning a year. Keep cardinality bounded:
    one directory per value, so partition by date/category, bucket by key.
    """
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)
    return df.sparkSession.read.parquet(path)


def overwrite_partitions(df: DataFrame, path: str, partition_cols: list[str]) -> DataFrame:
    """Overwrite ONLY the directory partitions present in ``df``, leaving
    every other partition untouched, and return the re-read table.

    The incremental-ingest primitive: a daily pipeline recomputes one
    ingest date and must not truncate the other 3 years of data. Static
    overwrite mode (Spark's default) would wipe the whole root; dynamic
    mode rewrites exactly the partitions the frame contains (asserted in
    tests/test_bucketing.py). Idempotent by construction — re-running a
    day replaces that day, which is the retry story for batch jobs.
    """
    spark = df.sparkSession
    with conf_span(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        df.write.partitionBy(*partition_cols).mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def write_compacted(
    df: DataFrame, path: str, *, target_file_bytes: int = 128 * 1024 * 1024
) -> DataFrame:
    """Write ``df`` as parquet with file count sized from the OPTIMIZER'S
    size estimate (Catalyst plan statistics), and return the re-read table.

    Small files are the silent killer of 100 TB table maintenance: a
    streaming or per-task writer that emits thousands of KB-sized parquet
    files makes every later scan pay per-file open/footer costs and
    overwhelms the driver's file listing. Compaction = repartition to
    ceil(estimated_bytes / target) before the write, so each output file
    lands near the target size. The estimate comes from the optimized
    plan's ``sizeInBytes`` (parquet footer stats propagated through the
    plan), not a data pass — sizing costs nothing. At cluster scale the
    same helper runs per-partition-directory as a maintenance job.
    """
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    # Size-only stats INFLATE across joins and fall back to
    # defaultSizeInBytes (Long.MaxValue) for stat-less leaves — unclamped,
    # a bad estimate becomes a ~1e10 repartition that kills the job. Cap
    # at 2^20 files (a 128 TB table at the default target): past that the
    # estimate is noise, and a real table that big is compacted
    # per-partition-directory anyway.
    n_files = max(1, min(-(-est // target_file_bytes), 1 << 20))
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def write_training_shards(
    packed: DataFrame, path: str, *, seqs_per_shard: int = 1024
) -> DataFrame:
    """Write sequence-packed rows (operators.pipeline.sequence_pack output)
    as numbered training shards and return the re-read table — the last
    hop of the corpus pipeline, where a trainer maps shard_id -> file set.

    shard_id = seq_id // seqs_per_shard keeps every training sequence's
    rows in exactly one shard (sequence boundaries never straddle shards,
    so a shard is independently consumable). The frame is repartitioned
    BY shard before the partitioned write: without that, every task holds
    rows of many shards and partitionBy explodes into files-per-task×
    shards small files — the classic small-file trap write_compacted
    exists for; with it, each shard directory lands as one
    sequentially-written file. Deterministic content per shard, so a
    retried write is idempotent (mode=overwrite replaces whole shards).
    """
    # integer floor division — `/` is double division in Spark and its
    # rounding can misassign a sequence near 2^53
    out = packed.withColumn("shard_id", F.expr(f"seq_id div {int(seqs_per_shard)}"))
    out.repartition("shard_id").write.partitionBy("shard_id").mode(
        "overwrite"
    ).parquet(path)
    return packed.sparkSession.read.parquet(path)


#: bits per dimension in the z-value (16 bits x 2 dims = 32-bit z)
_Z_BITS = 16


def write_zordered(
    df: DataFrame, path: str, cols: tuple[str, str], *, n_files: int = 16
) -> DataFrame:
    """Write ``df`` as parquet clustered on the Z-order (Morton) curve of
    two numeric columns, and return the re-read table — the multi-column
    data-skipping layout (Delta's OPTIMIZE ZORDER BY analog) for tables
    filtered on EITHER or BOTH of two hot columns.

    A single-column sort gives perfect min/max skipping on one column
    and none on the other; interleaving the bits of both (after scaling
    each to a {_Z_BITS}-bit rank from its min/max, a broadcast one-row
    stats frame) gives every file a tight min/max envelope on BOTH, so a
    parquet reader's row-group pruning skips ~sqrt-proportionally per
    dimension. The interleave is a JVM higher-order fold (aggregate over
    a bit sequence — zero Python), the layout is repartitionByRange on
    the z-value (contiguous curve segments per file; range boundaries
    from Spark's sampled range partitioner) + sortWithinPartitions so
    row groups inside a file stay tight too. tests/test_bucketing.py
    asserts the per-file span of each clustered column is a fraction of
    its global span — the property data-skipping actually uses.
    """
    import uuid as _uuid

    ca, cb = cols
    # helper names carry a per-call suffix so they can never collide with
    # (and silently drop) a caller column; user columns are backtick-quoted
    # inside the SQL expressions so any legal column name works
    sfx = _uuid.uuid4().hex[:8]
    n_min_a, n_max_a = f"__zmin_a_{sfx}", f"__zmax_a_{sfx}"
    n_min_b, n_max_b = f"__zmin_b_{sfx}", f"__zmax_b_{sfx}"
    n_ra, n_rb, n_z = f"__zra_{sfx}", f"__zrb_{sfx}", f"__z_{sfx}"
    # df feeds BOTH the stats aggregate and the scalar crossJoin below.
    # Deliberately NOT lineage-cut here: a maintenance writer's input is
    # normally a bare table scan, and the stats pass is a 2-column pruned
    # aggregate — localCheckpoint-ing the (possibly huge) table to save
    # that pass is the wrong trade. A caller feeding an EXPENSIVE computed
    # frame should cut_lineage it first (functions.lineage), same contract
    # as tasks.bridge.run_task_batch.
    stats = df.agg(
        F.min(F.col(ca).cast("double")).alias(n_min_a),
        F.max(F.col(ca).cast("double")).alias(n_max_a),
        F.min(F.col(cb).cast("double")).alias(n_min_b),
        F.max(F.col(cb).cast("double")).alias(n_max_b),
    )
    top = (1 << _Z_BITS) - 1
    def _rank(col: str, lo: str, hi: str) -> str:
        # scale to [0, top]; a constant column (hi == lo) ranks 0
        return (
            f"cast(if(`{hi}` = `{lo}`, 0.0d, "
            f"(cast(`{col}` as double) - `{lo}`) / (`{hi}` - `{lo}`) * {top}.0d) "
            f"as bigint)"
        )
    z = (
        f"aggregate(sequence(0, {_Z_BITS - 1}), 0L, (acc, i) -> "
        f"acc | shiftleft(shiftright(`{n_ra}`, i) & 1L, 2 * i) "
        f"    | shiftleft(shiftright(`{n_rb}`, i) & 1L, 2 * i + 1))"
    )
    out = (
        df.crossJoin(F.broadcast(stats))
        .withColumn(n_ra, F.expr(_rank(ca, n_min_a, n_max_a)))
        .withColumn(n_rb, F.expr(_rank(cb, n_min_b, n_max_b)))
        .withColumn(n_z, F.expr(z))
        .drop(n_min_a, n_max_a, n_min_b, n_max_b, n_ra, n_rb)
    )
    (
        out.repartitionByRange(n_files, n_z)
        .sortWithinPartitions(n_z)
        .drop(n_z)
        .write.mode("overwrite")
        .parquet(path)
    )
    return df.sparkSession.read.parquet(path)


def collect_file_stats(
    spark: SparkSession, path: str, cols: tuple[str, ...]
) -> DataFrame:
    """Per-FILE min/max/count statistics for ``cols`` over a parquet
    directory — the data-skipping index (Delta/Iceberg manifest-stats
    analog) a planner consults to prune files before reading them, and
    the audit that proves a clustered layout (write_zordered) actually
    tightened per-file envelopes.

    ONE distributed pass: group by ``input_file_name()`` — no driver-side
    loop over files, no per-file jobs; each task contributes partial
    min/max for the files it reads and the aggregate is map-side
    combinable. File count is bounded by the layout (thousands), so the
    result is a small frame a planner can broadcast.
    """
    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return (
        df.groupBy(F.input_file_name().alias("file"))
        .agg(*aggs)
        .orderBy("file")
    )


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register temp views so operators can also be phrased in Spark SQL."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_pruned(
    spark: SparkSession,
    path: str,
    stats: DataFrame,
    col: str,
    lo,
    hi,
) -> tuple[DataFrame, list[str]]:
    """Stats-index file-skipping read: scan ONLY the files whose
    [min_{col}, max_{col}] envelope intersects [lo, hi], then apply the
    exact predicate to the survivors. Returns (frame, files read).

    The consumer half of collect_file_stats — together they are the
    manifest-stats data-skipping loop of a table format, on plain
    parquet: the stats frame is manifest-sized (bounded by file count,
    thousands of rows), so consulting it is one bounded collect — the
    planner's manifest read, not a data pass. Rows with NULL ``col`` are
    never selected by a range predicate, so null-only files pruning away
    (their min/max are NULL) is correct. Payoff is layout-dependent:
    over write_zordered output the envelopes are tight and most files
    prune; over an unclustered layout every file intersects and this
    degrades gracefully to the full scan (asserted both ways in
    tests/test_bucketing.py).
    """
    keep = [
        r["file"]
        for r in stats.where(
            (F.col(f"min_{col}") <= F.lit(hi)) & (F.col(f"max_{col}") >= F.lit(lo))
        ).collect()
    ]
    if not keep:
        return spark.read.parquet(path).where(F.lit(False)), []
    return (
        spark.read.parquet(*keep).where(F.col(col).between(lo, hi)),
        keep,
    )


#: Bloom geometry: bits per file / probe hashes. 2048 bits at K=4 keeps the
#: false-positive rate ~(1-e^(-4n/2048))^4 — under 2% up to ~150 distinct
#: keys per file, and the index row stays manifest-sized (<= 2 KB/file).
BLOOM_M = 2048
BLOOM_K = 4


def _bloom_positions_expr(col: str) -> str:
    """Spark SQL array of the {BLOOM_K} bit positions for ``col`` —
    portable 60-bit md5 with per-probe salts (functions/hashing.py), so a
    planner process without a SparkSession can recompute them (the probe
    side below does, in pure Python)."""
    from frolyk_spark.functions.hashing import portable_hash_spark_sql

    probes = []
    for k in range(BLOOM_K):
        salted = f"concat('bf{k}:', cast({col} as string))"
        probes.append(
            f"int({portable_hash_spark_sql(salted)} % {BLOOM_M})"
        )
    return "array(" + ", ".join(probes) + ")"


def _bloom_render(value) -> str:
    """The ONE value→string rendering both Bloom sides share. The index
    supports integer and string key columns ONLY: for those, Python's
    str() and Spark's cast-to-string agree byte-for-byte. Anything else
    (booleans render True vs true, floats/decimals/timestamps have
    engine-specific shortest-repr rules) would silently desynchronize the
    build and probe sides — the false NEGATIVE a Bloom index must never
    produce — so reject loudly instead."""
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        raise TypeError(
            "Bloom index keys must be int or string columns; got "
            f"{type(value).__name__} (bool/float/decimal/date renderings "
            "differ between Spark's cast-to-string and Python's str())"
        )
    return str(value)


def _bloom_positions_py(value) -> list[int]:
    from frolyk_spark.functions.hashing import portable_hash_py

    rendered = _bloom_render(value)
    return [
        portable_hash_py(f"bf{k}:{rendered}") % BLOOM_M for k in range(BLOOM_K)
    ]


def collect_file_bloom(spark: SparkSession, path: str, col: str) -> DataFrame:
    """Per-FILE Bloom filter over ``col`` for a parquet directory (E18) —
    the POINT-lookup data-skipping index that complements E10's min/max
    envelopes: range stats prune nothing for a needle-in-haystack key
    probe on an unclustered layout (every file's envelope spans the key),
    while a {BLOOM_M}-bit Bloom filter prunes every file that provably
    lacks the key, at <= 2 KB of manifest per file.

    ONE distributed pass (the collect_file_stats posture): explode each
    row's {BLOOM_K} bit positions, collect_set per input_file_name —
    partial-aggregating, shuffle bounded by files x {BLOOM_M}, no
    driver-side loop over files. The filter is stored as the sorted
    set-bit position array (exact same information as the bitmap, and a
    manifest consumer in any language can check membership with the
    portable md5). Key columns must be INTEGER or STRING typed — the only
    types whose Spark cast-to-string and Python str() renderings agree
    (see _bloom_render) — validated HERE at build time (r13 advice: the
    probe-side TypeError alone fired far from the misconfiguration,
    after a useless index was already built and stored)."""
    df = spark.read.parquet(path)
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise ValueError(f"Bloom index column {col!r} not found in {path}")
    if dtype not in ("tinyint", "smallint", "int", "bigint", "string"):
        raise TypeError(
            f"Bloom index keys must be int or string columns; {col!r} is "
            f"{dtype} (bool/float/decimal/date renderings differ between "
            "Spark's cast-to-string and Python's str())"
        )
    return (
        df
        .select(
            F.input_file_name().alias("file"),
            F.explode(F.expr(_bloom_positions_expr(col))).alias("pos"),
        )
        .groupBy("file")
        .agg(F.array_sort(F.collect_set("pos")).alias("bits"))
        .orderBy("file")
    )


def read_bloom_pruned(
    spark: SparkSession,
    path: str,
    bloom: DataFrame,
    col: str,
    value,
) -> tuple[DataFrame, list[str]]:
    """Bloom-index point-lookup read: scan ONLY the files whose filter
    contains all {BLOOM_K} bit positions of ``value``, then apply the
    exact predicate to the survivors. Returns (frame, files read) — the
    read_pruned contract for equality probes.

    The index frame is manifest-sized (one row per file), so consulting
    it is one bounded collect — the planner's manifest read, not a data
    pass. No false negatives by construction (every present key set all
    its bits); false positives only cost a wasted file read and are
    removed by the exact predicate."""
    need = set(_bloom_positions_py(value))
    keep = [
        r["file"]
        for r in bloom.collect()
        if need <= set(r["bits"])
    ]
    if not keep:
        return spark.read.parquet(path).where(F.lit(False)), []
    return (
        spark.read.parquet(*keep).where(F.col(col) == F.lit(value)),
        keep,
    )


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: union the per-file schemas of a parquet
    directory (``mergeSchema``) so files written before a column existed
    read as NULL for it — the additive-evolution contract every
    long-lived ingest table needs (a plain read samples ONE footer and
    silently drops columns the sampled file predates).

    Only additive evolution is supported by parquet merging; a column
    whose TYPE conflicts across files fails Spark's merge — loudly, which
    is correct (a type change is a rewrite, not an evolution). Cost note:
    merging reads every file footer once at planning time; table formats
    amortize this with a manifest, plain parquet pays it per query —
    fine for daily layouts, another reason collect_file_stats-style
    indexing precedes 100 TB scans.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)


def merge_upsert(
    updates: DataFrame, path: str, *, key: str, partition_col: str
) -> DataFrame:
    """MERGE-style upsert (SCD type 1) into a directory-partitioned parquet
    table without a table format: rows in ``updates`` replace base rows
    with the same ``key`` and new keys append — touching ONLY the
    partitions ``updates`` lands in. Returns the re-read table.

    The Delta/Iceberg `MERGE INTO` shape on plain parquet: (1) the
    touched-partition list comes from the updates batch (bounded by the
    batch's partition spread — days in a backfill, not table size; the
    collect is model-state-sized like IVF centroids); (2) the base read is
    PRUNED to those partitions (partition filter, never a full-table
    scan); (3) an anti-join on ``key`` drops superseded base rows; (4) the
    union writes back in dynamic-overwrite mode, so sibling partitions are
    untouched and a retry of the same batch is idempotent. Also the
    foreachBatch body for a streaming CDC upsert sink — at-least-once
    redelivery re-merges the same keys to the same result (verified in
    tests/test_bucketing.py via a re-run).

    At 100 TB the partition-pruned read bounds the shuffle to (touched
    partitions + batch), which is the amortized cost a real CDC pipeline
    pays; key skew inside a partition is AQE's problem, as with any
    equi-join.

    Contract: a key's ``partition_col`` value must be stable (partition by
    an immutable or key-derived column — the usual CDC layout rule). A
    batch that MOVES a key to a new partition leaves the stale row in the
    old one, because finding it would require the full-table scan this
    primitive exists to avoid; handle moves upstream as delete+insert.
    And ``updates`` must carry ONE row per key: with several, "which row
    wins" is an ordering question this primitive has no order column to
    answer, so it fails loudly (Delta's MERGE errors on multiple matches
    for the same reason) instead of silently writing duplicate keys —
    collapse the batch upstream (e.g. latest-by-sequence-number) first.
    """
    spark = updates.sparkSession
    r = updates.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(key)).alias("k"),
        F.count(F.when(F.col(key).isNull(), 1)).alias("nulls"),
    ).collect()[0]
    if r.nulls:
        # count_distinct ignores nulls, so without this check a null-key
        # row surfaces as a MISLEADING duplicate-key error — and a null
        # key can never be superseded anyway (the left_anti join below
        # never matches NULL, so the stale row would survive every merge)
        raise ValueError(
            f"merge_upsert: updates batch has {r.nulls} row(s) with a null "
            f"{key!r} — merge keys must be non-null"
        )
    if r.n != r.k:
        raise ValueError(
            f"merge_upsert: updates batch has {r.n} rows but {r.k} distinct "
            f"{key!r} values — collapse to one row per key (latest wins is an "
            "upstream ordering decision) before merging"
        )
    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    base = spark.read.parquet(path).where(F.col(partition_col).isin(touched))
    merged = base.join(
        updates.select(key).distinct(), key, "left_anti"
    ).unionByName(updates.select(*base.columns))
    return overwrite_partitions(merged, path, [partition_col])


# --- E14: versioned snapshots (manifest log) ----------------------------------

def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _list_versions(path: str) -> list[int]:
    mdir = _manifest_dir(path)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        # strict ^v(\d+)\.json$ — a stray non-numeric name ('vNEXT.json',
        # editor backup) must not crash every read/commit with ValueError
        m = re.fullmatch(r"v(\d+)\.json", name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _claim_version(path: str, files: list[str], txn: str | None = None) -> int:
    """Publish a COMPLETE manifest at the next free version and return it.

    The manifest body is written to a private temp file first and
    published with ``os.link`` — link fails with FileExistsError if the
    version is taken (the local stand-in for an object store's
    put-if-absent / conditional PUT) and, crucially, the name only ever
    appears with its full content: a reader can never observe a claimed
    but empty ``vN.json`` (the naive O_EXCL-create-then-write protocol
    has exactly that torn window). Lost races re-list and retry at N+1 —
    optimistic concurrency, no locks."""
    import json
    import uuid

    mdir = _manifest_dir(path)
    os.makedirs(mdir, exist_ok=True)
    for _ in range(64):  # bounded optimistic-concurrency retries
        version = (max(_list_versions(path), default=-1)) + 1
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
        body = {"version": version, "files": files}
        if txn is not None:
            # transactional marker (Delta's txnAppId/txnVersion shape):
            # records WHICH application-level unit this snapshot committed,
            # so an at-least-once producer (foreachBatch) can skip a
            # redelivered unit instead of double-committing it
            body["txn"] = txn
        with open(tmp, "w") as f:
            json.dump(body, f)
        target = os.path.join(mdir, f"v{version}.json")
        try:
            os.link(tmp, target)
        except FileExistsError:
            os.remove(tmp)
            continue  # lost the race for this version: retry at N+1
        os.remove(tmp)
        return version
    raise RuntimeError(f"could not claim a version at {path}")


def write_versioned(df: DataFrame, path: str, txn: str | None = None) -> int:
    """Commit ``df`` as a new immutable SNAPSHOT of the table at ``path``
    and return its version — the minimal table-format commit protocol
    (Delta's `_delta_log/N.json` shape) on plain parquet:

    1. data files are written ONCE under ``path/data/`` and never mutated
       or renamed-over; until a manifest references them they are
       invisible to every reader (a crash here leaves orphans for
       `vacuum_versioned`, never a torn table);
    2. the manifest ``_manifests/vN.json`` lists exactly the data files of
       snapshot N — manifest PUBLICATION is the atomic commit point (see
       `_claim_version`: content-complete link-into-place, put-if-absent
       semantics, lost races retry at N+1). No reliance on directory
       listing consistency for readers.

    Readers (`read_versioned`) resolve a version to its exact file list
    and read ONLY those files — planning cost is one small JSON per query
    instead of the per-file footer walk `read_evolved` documents, which is
    the manifest amortization table formats exist for."""
    import shutil
    import uuid

    staging = os.path.join(path, "data", f".stage-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    files = []
    for name in sorted(os.listdir(staging)):
        if not name.endswith(".parquet"):
            continue
        final = os.path.join(path, "data", f"{uuid.uuid4().hex}-{name}")
        os.replace(os.path.join(staging, name), final)
        files.append(os.path.relpath(final, path))
    shutil.rmtree(staging, ignore_errors=True)  # only _SUCCESS/.crc remain
    return _claim_version(path, files, txn)


def committed_txns(path: str) -> dict[str, int]:
    """txn marker -> NEWEST version that committed it, read from the
    manifests (one small JSON each — the same planning cost read_versioned
    pays). This is the producer-side replay guard: before committing unit
    X, a foreachBatch writer checks ``X in committed_txns(path)`` and
    skips redelivered units (see streaming.jobs.stream_cdc_versioned)."""
    import json

    out: dict[str, int] = {}
    for v in _list_versions(path):
        with open(os.path.join(_manifest_dir(path), f"v{v}.json")) as f:
            t = json.load(f).get("txn")
        if t is not None:
            out[t] = v
    return out


def read_versioned(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read snapshot ``version`` (default: latest) — exactly the files its
    manifest lists, so concurrent commits and orphaned staging files are
    invisible (time travel is just naming an older manifest)."""
    import json

    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no versioned table at {path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise FileNotFoundError(f"version {version} not in {versions}")
    with open(os.path.join(_manifest_dir(path), f"v{version}.json")) as f:
        manifest = json.load(f)
    return spark.read.parquet(*[os.path.join(path, p) for p in manifest["files"]])


def read_changes(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """Change feed between two snapshots of a versioned table (E16 —
    Delta's ``table_changes`` shape, composed from E14 time travel and
    C65's keyed reconciliation): full-outer join snapshot ``v_from``
    against ``v_to`` on ``key``, classify every key added / removed /
    changed by null-safe comparison of ``compare_cols``, and return only
    the non-identical keys with both row images (``<col>_before`` /
    ``<col>_after`` plus ``_change``).

    Callers own the exactness of ``compare_cols`` — pass integer images
    (cents-scaled) for money columns, per the repo's no-double-equality
    rule. Scale shape: one sort-merge full-outer join on the key, output
    bounded by the drift between the snapshots, never table size; with
    both snapshots from the bucketed writer the join is co-located."""
    from functools import reduce
    from operator import and_

    # presence is tested via side MARKERS, not the key value's null-ness:
    # write_versioned does not enforce non-null keys, and a null-keyed row
    # never matches in the join — keying the classification on the key
    # column would report a REMOVED null-keyed row as 'added' (r9 review)
    a = read_versioned(spark, path, v_from).withColumn(
        "_in_from", F.lit(True)
    ).alias("a")
    b = read_versioned(spark, path, v_to).withColumn(
        "_in_to", F.lit(True)
    ).alias("b")
    joined = a.join(b, F.col(f"a.{key}") == F.col(f"b.{key}"), "full_outer")
    # empty compare_cols = membership-only feed: matched keys compare equal
    same = reduce(
        and_,
        (F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")) for c in compare_cols),
        F.lit(True),
    )
    status = (
        F.when(F.col("a._in_from").isNull(), "added")
        .when(F.col("b._in_to").isNull(), "removed")
        .when(~same, "changed")
        .otherwise("unchanged")
    )
    cols = [F.coalesce(f"a.{key}", f"b.{key}").alias(key), status.alias("_change")]
    for c in compare_cols:
        cols.append(F.col(f"a.{c}").alias(f"{c}_before"))
        cols.append(F.col(f"b.{c}").alias(f"{c}_after"))
    return joined.select(*cols).where(F.col("_change") != "unchanged")


def rollback_versioned(path: str, version: int) -> int:
    """Restore snapshot ``version`` as a NEW version (roll-forward
    rollback, Delta's RESTORE semantics): history is preserved, the bad
    version stays inspectable, and no data file is touched — the new
    manifest (published via the same atomic `_claim_version` protocol)
    simply references the old version's files."""
    import json

    with open(os.path.join(_manifest_dir(path), f"v{version}.json")) as f:
        manifest = json.load(f)
    return _claim_version(path, manifest["files"])


def compact_versioned(
    spark: SparkSession, path: str, target_files: int = 1
) -> int:
    """OPTIMIZE on the manifest log (E20): rewrite the LATEST snapshot's
    data into ``target_files`` files and commit the result as a new
    version — Delta's `OPTIMIZE` / Iceberg's `rewrite_data_files` on the
    E14 protocol. Content is bit-identical (the new manifest lists the
    rewritten files; readers of the new version see the same rows in
    fewer files); every RETAINED older version still reads its original
    files — compaction never mutates or deletes anything, it only adds a
    version, and `vacuum_versioned` later reclaims the small originals
    once they age out of retention. The txn marker records provenance
    (`compact:vN`), so `committed_txns` shows which version a compaction
    rewrote — and a redelivered compaction of the same version is
    detectable the same way.

    The small-file problem this solves is E7's, lifted to the versioned
    table: a streaming CDC writer (B23) commits per micro-batch, each a
    handful of tiny files; scan cost grows with file count (footer reads,
    task scheduling) while the data doesn't. Scale: one read of the
    snapshot + one coalesced write — the same IO a plain compaction pays,
    plus one manifest JSON."""
    versions = _list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no versioned table at {path}")
    src_version = versions[-1]
    df = read_versioned(spark, path, src_version).coalesce(max(1, target_files))
    return write_versioned(df, path, txn=f"compact:v{src_version}")


def clone_versioned(
    src_path: str, dst_path: str, version: int | None = None
) -> int:
    """SHALLOW clone (E19): commit a new versioned table at ``dst_path``
    whose first manifest references the SOURCE snapshot's data files in
    place — zero bytes copied, planning-cost-only, the Delta/Iceberg
    `CREATE TABLE ... SHALLOW CLONE` shape for dev/test forks and
    experiment baselines off a production table. Returns the version
    committed at the clone (normally 0).

    The clone then evolves independently: later `write_versioned` commits
    land their data under ``dst_path/data/`` and their manifests next to
    the clone manifest; `read_versioned`/`read_changes`/time travel work
    unchanged because manifests resolve files relative to their own table
    root (the clone manifest stores `../`-style relative paths into the
    source). `vacuum_versioned` on the CLONE only ever deletes files
    under the clone's own data/ — source files are never touched. The
    inherited caveat is Delta's own: vacuuming or dropping the SOURCE
    breaks shallow clones that still reference its files (the clone
    manifest's txn marker records the source table and version so an
    auditor can find the dependency; a
    pipeline that needs isolation takes a deep copy instead —
    `read_versioned` + `write_versioned` is exactly that).
    """
    import json

    versions = _list_versions(src_path)
    if not versions:
        raise FileNotFoundError(f"no versioned table at {src_path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise FileNotFoundError(f"version {version} not in {versions}")
    with open(os.path.join(_manifest_dir(src_path), f"v{version}.json")) as f:
        manifest = json.load(f)
    os.makedirs(dst_path, exist_ok=True)
    rel_files = [
        os.path.relpath(os.path.join(src_path, p), dst_path)
        for p in manifest["files"]
    ]
    return _claim_version(
        dst_path,
        rel_files,
        txn=f"clone:{os.path.realpath(src_path)}@v{version}",
    )


def vacuum_versioned(
    path: str, keep_last: int = 2, grace_seconds: float = 600.0
) -> list[str]:
    """Drop manifests beyond the newest ``keep_last`` and delete data files
    no remaining manifest references (including crash-orphaned staging
    dirs). Returns the deleted paths. The reference set is computed from
    the KEPT manifests — a rollback manifest keeps its old files alive, so
    time travel within the retention window always works.

    ``grace_seconds`` is the in-flight-commit guard (Delta's retention
    period): a concurrent `write_versioned` moves data files into place
    BEFORE its manifest publishes, so an unreferenced file younger than
    the grace window may belong to a commit about to land and is left
    alone; only files older than the window are treated as orphans. Set
    it to 0 only when no writer can be concurrent (as the tests do)."""
    import json
    import shutil
    import time

    versions = _list_versions(path)
    keep = versions[-keep_last:] if keep_last > 0 else []
    referenced: set[str] = set()
    for v in keep:
        with open(os.path.join(_manifest_dir(path), f"v{v}.json")) as f:
            referenced.update(json.load(f)["files"])
    deleted = []
    for v in versions:
        if v not in keep:
            m = os.path.join(_manifest_dir(path), f"v{v}.json")
            os.remove(m)
            deleted.append(m)
    cutoff = time.time() - grace_seconds
    # crash-orphaned temp manifests (a committer that died between writing
    # .tmp-* and linking it) age out under the same grace window
    mdir_entries = (
        sorted(os.listdir(_manifest_dir(path)))
        if os.path.isdir(_manifest_dir(path))
        else []
    )
    for name in mdir_entries:
        if not name.startswith(".tmp-"):
            continue
        full = os.path.join(_manifest_dir(path), name)
        try:
            if os.path.getmtime(full) < cutoff:
                os.remove(full)
                deleted.append(full)
        except OSError:
            continue
    data_dir = os.path.join(path, "data")
    # a table in manifest-only state (bad path, concurrent full cleanup)
    # has no data/ yet — vacuum is a clean no-op, not FileNotFoundError
    data_entries = sorted(os.listdir(data_dir)) if os.path.isdir(data_dir) else []
    for name in data_entries:
        full = os.path.join(data_dir, name)
        rel = os.path.relpath(full, path)
        try:
            young = os.path.getmtime(full) >= cutoff
        except OSError:
            continue  # raced with a concurrent cleanup
        if young:
            continue  # possibly an in-flight commit: outside our window
        if name.startswith(".stage-"):
            shutil.rmtree(full, ignore_errors=True)
            deleted.append(full)
        elif os.path.isfile(full) and rel not in referenced and name.endswith(".parquet"):
            os.remove(full)
            deleted.append(full)
    return deleted


# --- E15: columnar interchange (ORC <-> parquet) ------------------------------

def export_table(
    df: DataFrame,
    path: str,
    fmt: str = "orc",
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Interchange writer for the second native columnar format: export a
    frame as ORC (or any native Spark format) and return the re-read
    frame. ORC matters operationally — Hive-era lakes are ORC, and both
    directions (ingest ORC → process → parquet, or export back) must keep
    the declarative-plan guarantees: tests assert the ORC scan still shows
    PushedFilters + pruned ReadSchema and that directory partitioning
    prunes, so switching the storage format costs none of the 100 TB scan
    posture."""
    writer = df.write.mode("overwrite").format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
    return df.sparkSession.read.format(fmt).load(path)


# --- E22: row-level deletes via position delete vectors (GDPR erasure) ---------

#: sidecar directory for delete vectors — underscore-prefixed, so Spark's
#: file listing treats it as hidden and the base parquet read never sees it
DELETES_DIR = "_deletes"


def delete_where(spark: SparkSession, path: str, condition: str) -> int:
    """Row-level DELETE on a parquet table WITHOUT rewriting data files
    (E22): rows matching ``condition`` are tombstoned into a position
    DELETE VECTOR — (file, row-position) pairs, the Delta/Iceberg DV
    shape — appended as a new `_deletes/d{n}` parquet dir. Returns the
    number of rows tombstoned by THIS call.

    Why DVs and not a rewrite: a GDPR erasure request touching 0.001% of
    a 100 TB table must not cost a 100 TB rewrite at request time. The
    delete is one predicate scan (filters pushed down) writing O(matched
    rows) of tombstones; the logical table (``read_with_deletes``) is
    correct immediately, and the physical rewrite is deferred to
    ``purge_deletes`` on the operator's schedule. Positions come from
    the hidden ``_metadata`` columns (file_name + row_index — stable for
    parquet; part-file names carry a per-task UUID so names are globally
    unique across partition dirs). A dir is a committed DV iff its
    _SUCCESS exists — a crashed delete leaves no visible tombstones.
    Deletes COMPOSE: each call tombstones against the LOGICAL table, so
    re-deleting an already-tombstoned row is a no-op (0 new tombstones),
    and distinct() guards double-listing inside one call."""
    n = 0
    root = os.path.join(path, DELETES_DIR)
    if os.path.isdir(root):
        n = sum(
            1 for d in os.listdir(root)
            if d.startswith("d") and d[1:].isdigit()
            and os.path.exists(os.path.join(root, d, "_SUCCESS"))
        )
    # positions come off the BASE scan (hidden _metadata resolves only on
    # the file-source relation); composition with earlier deletes is the
    # anti-join below, not a re-scan of the logical view
    matched = (
        spark.read.parquet(path)
        .select(
            F.col("_metadata.file_path").alias("_file"),
            F.col("_metadata.row_index").alias("_pos"),
            "*",
        )
        .where(condition)
        .select("_file", "_pos")
        .distinct()
    )
    prior = _delete_vectors(spark, path)
    if prior is not None:
        matched = matched.join(prior, ["_file", "_pos"], "left_anti")
    # atomic publish (r15 review): build in a dot-hidden private dir,
    # then rename into the next free d{n} slot — two concurrent erasure
    # calls can no longer pick the same slot and clobber each other's
    # committed tombstones (the stage_multi_file_drop race posture).
    # Concurrent calls may double-tombstone an overlapping row across
    # two DV dirs — harmless for the anti-join (set semantics), and the
    # per-call return may then over-count by the overlap.
    import uuid as _uuid

    import errno
    import shutil as _shutil

    tmp = os.path.join(root, f".build-{_uuid.uuid4().hex[:12]}")
    published = False
    try:
        matched.write.mode("overwrite").parquet(tmp)
        for attempt in range(1000):
            out = os.path.join(root, f"d{n + attempt}")
            try:
                os.rename(tmp, out)
                published = True
                break
            except OSError as e:
                # only a SLOT COLLISION bumps the counter; any other
                # rename failure (EACCES, EXDEV, ...) surfaces at once
                if e.errno not in (errno.ENOTEMPTY, errno.EEXIST):
                    raise
        if not published:
            raise OSError(
                f"could not publish delete vector under {root}: 1000 "
                "consecutive slot collisions"
            )
    finally:
        if not published:
            # never leave a hidden tombstone copy behind (the DVs are a
            # GDPR-adjacent artifact) — failed builds clean up after
            # themselves instead of waiting for a purge
            _shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(out).count()


def _delete_vectors(spark: SparkSession, path: str) -> DataFrame | None:
    root = os.path.join(path, DELETES_DIR)
    dirs = sorted(
        os.path.join(root, d)
        for d in (os.listdir(root) if os.path.isdir(root) else [])
        if d.startswith("d") and d[1:].isdigit()
        and os.path.exists(os.path.join(root, d, "_SUCCESS"))
    )
    if not dirs:
        return None
    return spark.read.parquet(*dirs).select("_file", "_pos")


def read_with_deletes(spark: SparkSession, path: str) -> DataFrame:
    """The LOGICAL table: the base parquet read minus every committed
    delete vector — a distributed (file, position) anti-join, never a
    driver-side mask. With no DVs this is the bare scan. Tombstones
    referencing files that no longer exist (purged, or rewritten under a
    new name) anti-join against nothing — a harmless no-op, which is
    what makes purge crash-safe."""
    base = spark.read.parquet(path)
    tomb = _delete_vectors(spark, path)
    if tomb is None:
        return base
    return (
        base.select(
            F.col("_metadata.file_path").alias("_file"),
            F.col("_metadata.row_index").alias("_pos"),
            "*",
        )
        .join(tomb, ["_file", "_pos"], "left_anti")
        .drop("_file", "_pos")
    )


def purge_deletes(
    spark: SparkSession, path: str, partition_cols: list[str]
) -> int:
    """PHYSICAL erasure (the GDPR end state): rewrite ONLY the directory
    partitions that contain tombstoned rows — DV-masked content through
    the E6 dynamic-partition-overwrite committer — then drop the delete
    vectors. Returns the number of partitions rewritten. Requires the
    table to be directory-partitioned (``partition_cols``): erasure
    granularity IS partition granularity, which is why GDPR-subject
    tables partition on a subject-correlated column; an unpartitioned
    table would cost a full rewrite, and this helper refuses to hide
    that (pass the real layout or accept delete-vector masking).

    Crash story, in order: (1) the dynamic overwrite commits touched
    partitions with fresh UUID file names, so a crash after commit but
    before DV cleanup leaves tombstones referencing DEAD file names —
    read_with_deletes treats them as no-ops and a re-run purges the
    rest; (2) DV dirs drop only after the overwrite returns. The
    touched-partition list is a driver-side collect bounded by the
    number of TOUCHED partitions (manifest-scale, the E12 posture),
    never rows."""
    import shutil

    tomb = _delete_vectors(spark, path)
    if tomb is None:
        return 0

    def _local(p: str) -> str:
        # _metadata.file_path is a URI (file:///...); filesystem ops below
        # need the plain path. The DV anti-join itself never needs this —
        # both sides come from _metadata, so they match as URIs.
        if p.startswith("file://"):
            return p.removeprefix("file://")
        return p.removeprefix("file:")

    # touched partitions, derived from the tombstones' file paths —
    # used ONLY as opaque directory identities, never parsed for values:
    # Hive-escaped segments (':' -> %3A), __HIVE_DEFAULT_PARTITION__
    # null dirs, and non-canonical numerics all break any string
    # comparison between a dir segment and a cast column (r15 review),
    # and a never-matching partition would be misclassified as fully
    # erased and destroyed. Every VALUE below comes from the data.
    part_dirs = {
        os.path.dirname(_local(r._file))
        for r in tomb.select("_file").distinct().collect()
    }
    if not part_dirs:
        return 0
    root = os.path.realpath(path)
    for d in part_dirs:
        if os.path.realpath(d) == root:
            raise ValueError(
                f"tombstoned file sits in the table root {path} — the "
                f"table is not directory-partitioned by {partition_cols}, "
                "and purging would require a full rewrite; keep "
                "delete-vector masking or repartition the table"
            )
    # the masked frame WITH its source dir retained: rows to keep, keyed
    # by the directory they currently live in (URI form end to end).
    # Partition-TYPE inference is disabled for the whole read→rewrite
    # span (r15 second review, reproduced): inference canonicalizes a
    # string dir value ('01' → int 1), so the survivors would be
    # rewritten into a NEW dir (src=1) while the stale original dir
    # (src=01) kept its files and re-emerged after DV cleanup —
    # resurrecting deleted rows AND duplicating survivors. With
    # inference off the partition column round-trips as the exact dir
    # string, so the committer rewrites in place.
    with conf_span(spark, {
        "spark.sql.sources.partitionColumnTypeInference.enabled": "false"
    }):
        tomb_dirs = tomb.select(
            F.expr("regexp_replace(_file, '/[^/]*$', '')").alias("_dir")
        ).distinct()
        masked_with_dir = (
            spark.read.parquet(path)
            .select(
                F.col("_metadata.file_path").alias("_file"),
                F.col("_metadata.row_index").alias("_pos"),
                "*",
            )
            .join(tomb, ["_file", "_pos"], "left_anti")
            .withColumn(
                "_dir", F.expr("regexp_replace(_file, '/[^/]*$', '')")
            )
        )
        to_rewrite = masked_with_dir.join(
            F.broadcast(tomb_dirs), "_dir", "left_semi"
        ).drop("_file", "_pos", "_dir")
        # dynamic overwrite only replaces partitions PRESENT in the
        # written frame — a FULLY-erased partition contributes zero rows
        # and would silently keep its old files. Survivor dirs are
        # computed from the DATA (one bounded distinct over the touched
        # rows' source dirs); touched dirs with no survivors are removed
        # directly (driver-side rmtree, manifest-scale), AFTER the
        # overwrite and BEFORE DV cleanup: a crash at any point leaves
        # the DVs in place, so the logical read stays correct and a
        # re-run finishes.
        survivor_dirs = {
            _local(r._dir)
            for r in masked_with_dir.join(
                F.broadcast(tomb_dirs), "_dir", "left_semi"
            ).select("_dir").distinct().collect()
        }
        if survivor_dirs:
            overwrite_partitions(to_rewrite, path, partition_cols)
    for d in part_dirs:
        if d not in survivor_dirs:
            shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(os.path.join(path, DELETES_DIR), ignore_errors=True)
    return len(part_dirs)
