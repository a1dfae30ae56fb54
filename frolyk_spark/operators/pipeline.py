"""Corpus-preparation operators for LLM training pipelines (SURVEY §2
D20-D23): benchmark decontamination, document chunking, repetition
statistics, and source-mixture weighting.

These extend the dedup/text family (dedup.py, text.py) with the remaining
ops a 100 TB pretraining-data pipeline runs between "raw corpus" and
"training shards". Scale posture per operator in its docstring; all hashes
are the portable md5 scheme so every operator is value-checkable against
the DuckDB oracle.

Reference parity note: the reference (JaapRood/frolyk) is a Kafka
stream-processing library with no corpus layer; these implement the
LLM-data-pipeline surface of the charter (SURVEY §2 D).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frolyk_spark.functions.hashing import portable_hash_spark_sql, portable_hash_sql
from frolyk_spark.functions.portable import (
    round4, round4_sql, round6, round6_sql,
)
from frolyk_spark.sources.catalog import load_table

#: decontamination: word-gram width and the deterministic "benchmark" split
#: (doc_id < CONTAM_BENCH_N plays the eval set; the rest is the corpus)
CONTAM_W = 8
CONTAM_BENCH_N = 50

#: chunking: tokens (words) per training chunk and stride between starts
#: (stride < chunk -> overlapping context windows)
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def _word_grams(width: int) -> str:
    """Distinct word {width}-gram shingles of `text` (Spark SQL expr);
    short docs fall back to one whole-text shingle. The
    `transform(array(split(...)), ws -> ...)[0]` wrapper binds the words
    array once per row — see dedup._SHINGLES_SPARK for why (Catalyst
    re-inlines a bare `split` into every lambda element: O(words²))."""
    return (
        "array_distinct(transform(array(split(text, ' ')), ws -> transform("
        f"sequence(1, greatest(size(ws) - {width - 1}, 1)),"
        f" i -> concat_ws(' ', slice(ws, i, {width}))))[0])"
    )


def _word_grams_duck(width: int) -> str:
    return (
        "list_distinct(list_transform("
        f"range(1, greatest(len(string_split(text, ' ')) - {width - 1}, 1) + 1),"
        f" i -> array_to_string(string_split(text, ' ')[i:i+{width - 1}], ' ')))"
    )


# --- D20: benchmark decontamination ------------------------------------------

def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag corpus documents sharing any {CONTAM_W}-word-gram with the
    benchmark set — the standard eval-decontamination pass (n-gram overlap
    against held-out benchmarks) run before training.

    Scale shape: the benchmark side is an eval suite — thousands of
    documents, not the corpus — so its distinct gram-hash set is SMALL by
    construction and is explicitly broadcast. The corpus scan then probes
    the broadcast hash map-side (no corpus shuffle for the join); the only
    corpus-keyed shuffle is the final per-doc hit count. Emits one row per
    contaminated doc with its overlapping-gram count.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = F.explode(F.expr(_word_grams(CONTAM_W))).alias("g")
    bench_hashes = (
        docs.where(F.col("doc_id") < CONTAM_BENCH_N)
        .select(grams)
        .select(F.expr(portable_hash_spark_sql("g")).alias("h"))
        .distinct()
    )
    corpus = (
        docs.where(F.col("doc_id") >= CONTAM_BENCH_N)
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", grams)
        .select("doc_id", F.expr(portable_hash_spark_sql("g")).alias("h"))
    )
    return (
        corpus.join(F.broadcast(bench_hashes), "h")
        .groupBy("doc_id")
        .agg(F.count_distinct("h").alias("n_contaminated_grams"))
    )


DECONTAMINATE_SQL = f"""
WITH bench AS (
  SELECT DISTINCT {portable_hash_sql('g')} AS h
  FROM (SELECT unnest({_word_grams_duck(CONTAM_W)}) AS g
        FROM documents WHERE doc_id < {CONTAM_BENCH_N})
),
corpus AS (
  SELECT doc_id, {portable_hash_sql('g')} AS h
  FROM (SELECT doc_id, unnest({_word_grams_duck(CONTAM_W)}) AS g
        FROM documents WHERE doc_id >= {CONTAM_BENCH_N})
)
SELECT doc_id, count(DISTINCT corpus.h) AS n_contaminated_grams
FROM corpus JOIN bench ON corpus.h = bench.h
GROUP BY doc_id
"""


# --- D21: document chunking --------------------------------------------------

def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into {CHUNK_TOKENS}-word training chunks with a
    {CHUNK_STRIDE}-word stride (overlapping context windows), emitting
    (doc_id, chunk_idx, n_tokens, chunk_hash).

    Map-only: chunk starts come from `sequence`, the chunk text from
    `slice` — one generator expression per row inside whole-stage codegen,
    no shuffle at all. At 100 TB this writes straight back to partitioned
    parquet; the chunk hash stands in for the chunk text in the result so
    the gate compares values without hauling text around.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunk_text = f"concat_ws(' ', slice(split(text, ' '), start, {CHUNK_TOKENS}))"
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(f"sequence(1, greatest(size(split(text, ' ')), 1), {CHUNK_STRIDE})")
            ).alias("start"),
            "text",
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
            F.expr(f"size(slice(split(text, ' '), start, {CHUNK_TOKENS}))")
            .cast("bigint")
            .alias("n_tokens"),
            F.expr(portable_hash_spark_sql(chunk_text)).alias("chunk_hash"),
        )
    )


DOC_CHUNKS_SQL = f"""
SELECT doc_id,
       cast((start - 1) // {CHUNK_STRIDE} as bigint) AS chunk_idx,
       cast(len(string_split(text, ' ')[start:start + {CHUNK_TOKENS - 1}]) as bigint) AS n_tokens,
       {portable_hash_sql(f"array_to_string(string_split(text, ' ')[start:start + {CHUNK_TOKENS - 1}], ' ')")} AS chunk_hash
FROM (SELECT doc_id, text,
             unnest(range(1, greatest(len(string_split(text, ' ')), 1) + 1, {CHUNK_STRIDE})) AS start
      FROM documents)
"""


# --- D22: repetition statistics (quality-filter shape) -----------------------

def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals of the kind quality filters gate on
    (fraction of text in the most-repeated word, duplicate-word and
    duplicate-bigram fractions).

    The duplicate fractions are pure array expressions (map-only). The
    top-word count goes through explode -> (doc_id, word) count -> per-doc
    max — two hash aggregations with map-side partial combine, the
    scale-correct shape (a per-row loop over the distinct-word array would
    be quadratic in document length).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split("text", " ")
    bigrams = F.expr(_word_grams(2))
    base = docs.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        F.greatest(F.size(words) - 1, F.lit(1)).alias("n_bigrams"),
        F.size(bigrams).alias("n_distinct_bigrams"),
    )
    top = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(words).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_word_count"))
    )
    return (
        base.join(top, "doc_id")
        .select(
            "doc_id",
            # derived RATIOS: portable floor round (engine round() is the
            # r5 .xxxx5 divergence class on integer ratios)
            round4(F.col("top_word_count") / F.col("n_words")).alias("top_word_frac"),
            round4(1 - F.col("n_distinct") / F.col("n_words")).alias("dup_word_frac"),
            round4(1 - F.col("n_distinct_bigrams") / F.col("n_bigrams")).alias(
                "dup_bigram_frac"
            ),
        )
    )


REPETITION_STATS_SQL = f"""
WITH base AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         len(list_distinct(string_split(text, ' '))) AS n_distinct,
         greatest(len(string_split(text, ' ')) - 1, 1) AS n_bigrams,
         len({_word_grams_duck(2)}) AS n_distinct_bigrams
  FROM documents
),
top AS (
  SELECT doc_id, max(c) AS top_word_count
  FROM (SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY doc_id, w)
  GROUP BY doc_id
)
SELECT base.doc_id,
       floor((top_word_count * 1.0 / n_words) * 10000.0 + 0.5) / 10000.0 AS top_word_frac,
       floor((1 - n_distinct * 1.0 / n_words) * 10000.0 + 0.5) / 10000.0 AS dup_word_frac,
       floor((1 - n_distinct_bigrams * 1.0 / n_bigrams) * 10000.0 + 0.5) / 10000.0 AS dup_bigram_frac
FROM base JOIN top ON base.doc_id = top.doc_id
"""


# --- D23: source-mixture weighting -------------------------------------------

def source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus share and the sampling weight that rebalances the
    mixture to a uniform target — the "domain mixing" step that decides how
    much of each source a training run sees.

    One hash aggregation over the corpus (map-side combinable); the window
    functions then run over the per-source aggregate, which has one row per
    source — trivially small at any corpus scale, so the single-partition
    window is free.
    """
    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    w = Window.partitionBy()
    share = F.col("n_docs") / F.sum("n_docs").over(w)
    target = F.lit(1.0) / F.count(F.lit(1)).over(w)
    return agg.select(
        "source",
        "n_docs",
        "n_chars",
        round6(share).alias("share"),
        round6(target / share).alias("sample_weight"),
    ).orderBy("source")


SOURCE_MIX_SQL = """
SELECT source, n_docs, n_chars,
       floor((n_docs * 1.0 / sum(n_docs) OVER ()) * 1000000.0 + 0.5) / 1000000.0 AS share,
       floor(((1.0 / count(*) OVER ()) / (n_docs * 1.0 / sum(n_docs) OVER ())) * 1000000.0 + 0.5) / 1000000.0
         AS sample_weight
FROM (SELECT source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY source)
ORDER BY source
"""


# --- D34: cross-source duplication matrix ------------------------------------

def cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate doc pairs BETWEEN sources, counted per unordered
    source pair — the contamination-between-feeds signal that decides
    which feed to drop when two overlap (the same crawl ingested twice
    under different names is near-dup, not byte-identical, so the pair
    source is the minhash band join, not an exact-hash join).

    Shape: minhash candidate pairs (banded LSH equi-join over the
    PERSISTED signature table — computed once per corpus, never
    all-pairs) joined twice against the tiny (doc_id, source) projection,
    then one grouped count. The source columns never enter the LSH
    shuffle; they attach after candidates are already pruned. The
    least/greatest fold makes the source pair unordered so A→B and B→A
    count once.
    """
    from frolyk_spark.operators.dedup import (
        band_pairs,
        persisted_minhash_signatures,
    )

    pairs = band_pairs(persisted_minhash_signatures(spark, sf_dir))
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    )


def _cross_source_duplication_sql() -> str:
    from frolyk_spark.operators.dedup import _dedup_minhash_sql

    return f"""
WITH pairs AS ({_dedup_minhash_sql()})
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*) AS n_dup_pairs
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY 1, 2
"""


# --- D35: token-length histogram ---------------------------------------------

def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source histogram of document token counts in log2 buckets —
    the shard-planning statistic behind sequence packing (how much of
    each source is short-doc padding pressure vs long-doc truncation
    pressure).

    Map-only projection plus one grouped aggregation; everything
    map-side-combines, so the shuffle carries one row per
    (source, bucket) per partition. The whole operator is a single pass
    at any scale.
    """
    return length_hist(load_table(spark, sf_dir, "documents"))


def length_hist(docs: DataFrame) -> DataFrame:
    """(source, text) rows to the (source, len_bucket) → (n_docs,
    n_tokens) histogram. Shared with the B33 streaming twin, which
    applies it to the document stream as a native streaming
    aggregation."""
    n_tokens = F.size(F.split("text", " "))
    # floor(log2(n)) for n >= 1, computed as bit_width(n) - 1 via the
    # binary-string length. Integer-exact on both engines — log2() is a
    # libm transcendental whose last ULP can differ across platforms and
    # this value sits in the exact-hash compare path (n_tokens >= 1
    # always: size(split(x)) is at least 1).
    bucket = (F.length(F.bin(n_tokens)) - 1).cast("bigint")
    return (
        docs.select(
            "source",
            bucket.alias("len_bucket"),
            n_tokens.alias("n_tokens"),
        )
        .groupBy("source", "len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


LENGTH_HISTOGRAM_SQL = """
SELECT source,
       CAST(length(bin(len(string_split(text, ' ')))) - 1 AS BIGINT) AS len_bucket,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
FROM documents
GROUP BY 1, 2
"""


# --- D26: sequence packing ---------------------------------------------------

#: tokens per packed training sequence
SEQ_LEN = 256
#: hash-range buckets for the distributed prefix sum. The OUTPUT is
#: independent of this constant (offsets depend only on the global order);
#: it only sets the parallelism of the cumsum. 2**60 is the portable-hash
#: domain.
PACK_BUCKETS = 64
_BUCKET_WIDTH = (1 << 60) // PACK_BUCKETS + 1


def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document a token offset in a deterministically
    shuffled concatenation of the corpus, and the {SEQ_LEN}-token training
    sequence that offset lands in (GPT-style concat-then-split packing,
    where documents may straddle sequence boundaries).

    The hard part at scale is the GLOBAL running token offset: a naive
    `Window.partitionBy()` cumsum is a single-partition sort — the
    classic driver-shaped bottleneck. Instead, a two-phase distributed
    prefix sum: the shuffle order key is the portable hash of doc_id
    (uniform in [0, 2^60)), rows are bucketed by fixed hash RANGES
    ({PACK_BUCKETS} buckets), each bucket cumsums independently under a
    within-bucket window, and the {PACK_BUCKETS} per-bucket totals — a
    driver-side list bounded by the constant, not the data — become
    broadcast prefix offsets. One shuffle over the corpus, one O(1)
    collect, exact global offsets.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.expr(portable_hash_spark_sql("cast(doc_id AS string)")).alias("ord_key"),
    )
    packed, _end = packed_offsets(toks, base_offset=0)
    return packed


def packed_offsets(
    toks: DataFrame, *, base_offset: int = 0,
    totals: dict[int, int] | None = None,
) -> tuple[DataFrame, int]:
    """The reusable packing core (factored out in r11 for the streaming
    token feed): exact global start offsets for a (doc_id, n_tokens,
    ord_key) frame via the two-phase bucketed prefix sum described in
    sequence_pack's docstring, starting at ``base_offset`` (a continuing
    stream passes its running total; a one-shot pass passes 0). Returns
    (offsets frame, end offset) — the end offset is already known from
    the bucket totals the prefix phase collected, so a streaming caller
    advances its state without a second aggregation job.

    ``totals`` (bucket -> token sum, bucket = ord_key div _BUCKET_WIDTH)
    lets a caller that already ran a per-bucket aggregate for its own
    purposes (B26's contract check) hand the phase-1 result in and skip
    the collect job entirely — the r11 jobs-per-batch census."""
    spark = toks.sparkSession
    toks = toks.withColumn("bucket", (F.col("ord_key") / _BUCKET_WIDTH).cast("int"))
    if totals is None:
        totals = {
            r["bucket"]: r["tot"]
            for r in toks.groupBy("bucket").agg(F.sum("n_tokens").alias("tot")).collect()
        }
    starts, acc = [], int(base_offset)
    for b in range(PACK_BUCKETS):
        starts.append(acc)
        acc += totals.get(b, 0)
    # an Arrow table becomes a LocalRelation, so its broadcast never starts
    # a Python worker (a list of tuples would ride a pickled Python RDD)
    prefix_df = spark.createDataFrame(
        pa.table({"bucket": list(range(PACK_BUCKETS)), "bucket_start": starts}),
        "bucket int, bucket_start long",
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("ord_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.col("bucket_start") + F.sum("n_tokens").over(w) - F.col("n_tokens")
    out = (
        toks.join(F.broadcast(prefix_df), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            start.alias("start_offset"),
            (start / SEQ_LEN).cast("bigint").alias("seq_id"),
            (start % SEQ_LEN).alias("offset_in_seq"),
        )
    )
    return out, acc


SEQUENCE_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id,
         cast(len(string_split(text, ' ')) AS bigint) AS n_tokens,
         {portable_hash_sql('cast(doc_id AS varchar)')} AS ord_key
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         cast(coalesce(sum(n_tokens) OVER (
           ORDER BY ord_key, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint)
           AS start_offset
  FROM t
)
SELECT doc_id, n_tokens, start_offset,
       cast(start_offset // {SEQ_LEN} AS bigint) AS seq_id,
       cast(start_offset % {SEQ_LEN} AS bigint) AS offset_in_seq
FROM c
"""


# --- D38: cross-document boilerplate n-grams ---------------------------------

#: boilerplate detection: word-gram width and how many top grams to report
BOILER_W = 5
BOILER_TOP = 50


def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BOILER_TOP} word {BOILER_W}-grams shared across documents —
    the cross-document boilerplate detector (cookie banners, license
    headers, nav bars) that feeds template-stripping in a pretraining
    pipeline. Reports document frequency and total occurrences per gram.

    Two-phase aggregation, both map-side combinable: (gram, doc_id)
    occurrence counts first — the doc_id component spreads even a
    corpus-dominating gram across partitions — then per-gram doc/occ
    totals from the already-reduced postings (this is also the
    expand-free form of count_distinct(doc_id)). Gram generation uses
    the bound-words-array barrier (_word_grams' rationale; non-distinct
    here because occurrence counts are the signal). Top-K is a
    TakeOrderedAndProject heap with a total (n_docs, n_occ, gram) order
    — deterministic cutoff, never a global sort.
    """
    grams_expr = (
        "transform(array(split(text, ' ')), ws -> transform("
        f"sequence(1, greatest(size(ws) - {BOILER_W - 1}, 1)),"
        f" i -> concat_ws(' ', slice(ws, i, {BOILER_W}))))[0]"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    per_doc = (
        # the test parquet is a single split; spread the gram explode
        # across cores (no-op at scale where the scan has many splits —
        # same rationale as dedup.minhash_signatures_frame)
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(F.expr(grams_expr)).alias("gram"))
        .groupBy("gram", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_doc.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("c").cast("bigint").alias("n_occ"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), "gram")
        .limit(BOILER_TOP)
    )


BOILERPLATE_SQL = f"""
WITH g AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - {BOILER_W - 1}, 1) + 1),
           i -> array_to_string(string_split(text, ' ')[i:i+{BOILER_W - 1}], ' ')))
           AS gram
  FROM documents
),
pd AS (SELECT gram, doc_id, count(*) AS c FROM g GROUP BY gram, doc_id)
SELECT gram, count(*) AS n_docs, CAST(sum(c) AS BIGINT) AS n_occ
FROM pd
GROUP BY gram
HAVING count(*) >= 2
ORDER BY n_docs DESC, n_occ DESC, gram
LIMIT {BOILER_TOP}
"""


# --- D42: per-document n-gram novelty ----------------------------------------

#: novelty shingle width (matches decontaminate's 8-gram convention)
NOVELTY_W = 8


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct word
    {NOVELTY_W}-grams that appear in NO other document — the per-doc
    complement of boilerplate_ngrams (low novelty = template/boilerplate
    page; high novelty = unique content worth keeping at higher sampling
    weight).

    One gram explode (distinct per doc via _word_grams), then the
    document frequency comes from a count window PARTITIONED BY gram
    over the postings — one gram-keyed shuffle total, where the
    aggregate-then-join-back form would shuffle the postings by gram
    twice. The per-doc reduce is map-side-combinable and the novelty
    ratio is ONE division of exact BIGINTs. Hot grams (boilerplate in
    every doc) concentrate a window partition; their postings are
    bounded by corpus doc count, the same bound the df aggregate itself
    has — AQE's skew handling applies to the window exchange.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(F.expr(_word_grams(NOVELTY_W))).alias("gram"))
    )
    per = grams.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    n_novel = F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("bigint")
    return (
        per.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            n_novel.alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            round6(
                F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


NGRAM_NOVELTY_SQL = f"""
WITH g AS (
  SELECT doc_id, unnest({_word_grams_duck(NOVELTY_W)}) AS gram
  FROM documents
),
d AS (
  SELECT doc_id, count(*) OVER (PARTITION BY gram) AS df FROM g
)
SELECT doc_id,
       cast(count(*) AS BIGINT) AS n_grams,
       cast(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       floor((CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(count(*) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS novelty
FROM d
GROUP BY doc_id
ORDER BY doc_id
"""


# --- D50: duplicated-text span coverage --------------------------------------

#: gram width for the duplicated-span mask (matches the common dedup span
#: granularity; independent of CONTAM_W so the two knobs tune separately)
SPAN_W = 8


def _positional_postings_frame(docs_in: DataFrame):
    """Positional {SPAN_W}-gram postings of a (doc_id, text) frame:
    returns (docs, postings) where docs = (doc_id, text, n_tokens) and
    postings = one row per positional gram occurrence
    (doc_id, n_tokens, pos, h). Postings are lineage-cut (every consumer
    feeds them into >=2 plan arms — the df/occ aggregate AND the hit or
    pair join — the CLAUDE.md self-join rule; without the cut the
    per-gram md5 explode runs once per plan arm). Shared by D50/D59
    (_span_hit_frames) and D80 (dedup_substring)."""
    from frolyk_spark.functions.lineage import cut_lineage

    spark = docs_in.sparkSession
    docs = docs_in.select(
        "doc_id", "text", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    pos_grams = (
        "transform(array(split(text, ' ')), ws -> transform("
        f"sequence(1, greatest(size(ws) - {SPAN_W - 1}, 1)),"
        f" i -> struct(i as pos, concat_ws(' ', slice(ws, i, {SPAN_W})) as g)))[0]"
    )
    postings = cut_lineage(
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "n_tokens", F.explode(F.expr(pos_grams)).alias("pg"))
        .select(
            "doc_id",
            "n_tokens",
            F.col("pg.pos").cast("bigint").alias("pos"),
            F.expr(portable_hash_spark_sql("pg.g")).alias("h"),
        )
    )
    return docs, postings


def _span_hit_frames(spark: SparkSession, sf_dir: str):
    """Shared candidate machinery for D50/D59: returns (docs, hits) where
    docs = (doc_id, text, n_tokens) and hits = one row per positional
    {SPAN_W}-gram occurrence whose gram also occurs in ANOTHER document,
    with its covered token interval [pos, e]. Hot (boilerplate) grams
    bound their postings by doc count exactly as in ngram_novelty; AQE
    skew-join covers the join."""
    docs, postings = _positional_postings_frame(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    shared = (
        postings.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= 2)
        .select("h")
    )
    hits = postings.join(shared, "h").select(
        "doc_id",
        "n_tokens",
        "pos",
        F.least(F.col("pos") + SPAN_W - 1, F.col("n_tokens")).alias("e"),
    )
    return docs, hits


def _postings_sql_ctes() -> str:
    """The DuckDB twin of :func:`_positional_postings_frame`
    (t/p/postings) — ONE definition shared by the D50/D59 span oracles
    and the D80 dedup_substring oracle so they can never drift apart."""
    w = SPAN_W
    return f"""t AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
p AS (
  SELECT doc_id, cast(len(ws) AS BIGINT) AS n_tokens,
         unnest(list_transform(
           range(1, greatest(len(ws) - {w - 1}, 1) + 1),
           i -> struct_pack(pos := i,
                            g := array_to_string(ws[i:i+{w - 1}], ' ')))) AS pg
  FROM t
),
postings AS (
  SELECT doc_id, n_tokens, cast(pg.pos AS BIGINT) AS pos,
         {portable_hash_sql('pg.g')} AS h
  FROM p
)"""


def _span_hits_sql_ctes() -> str:
    """The matching DuckDB CTE block (t/p/postings/shared/hits) — ONE
    definition so the D50 and D59 oracles can never drift apart."""
    w = SPAN_W
    return f"""{_postings_sql_ctes()},
shared AS (
  SELECT h FROM (
    SELECT h, count(*) AS df
    FROM (SELECT DISTINCT h, doc_id FROM postings) GROUP BY h
  ) WHERE df >= 2
),
hits AS (
  SELECT doc_id, n_tokens, pos,
         least(pos + {w - 1}, n_tokens) AS e
  FROM postings JOIN shared USING (h)
)"""


def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-text fraction: the share of a doc's token
    positions covered by at least one word {SPAN_W}-gram that also occurs
    in ANOTHER document — the RefinedWeb/CCNet "f_dup" signal used to drop
    or trim documents dominated by cross-corpus boilerplate. ngram_novelty
    counts *distinct grams*; this measures *token coverage*, which is what
    a span-trimming pass actually acts on (overlapping dup grams must not
    double-count, hence the interval union).

    Shape: positional grams (pos kept, NOT distinct) → cross-doc gram df
    over the (hash, doc) projection → hits filtered to shared grams EARLY
    (the equi-join on gram hash drops unique-gram occurrences before any
    window; candidate machinery shared with span_trim via
    _span_hit_frames) → per-doc interval union via the classic
    running-max-end window (sorted by start; new coverage = end − max(prev
    ends, start−1), clamped at 0) → one per-doc reduce, left-joined back
    to the doc list so clean docs report 0. Two gram-keyed shuffles
    (df + join) and one doc-keyed window. Coverage rounds with the
    portable round4 (ratio → libm-free).
    """
    from frolyk_spark.functions.portable import round4

    docs, hits = _span_hit_frames(spark, sf_dir)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cover = hits.select(
        "doc_id",
        "n_tokens",
        F.greatest(
            F.lit(0),
            F.col("e")
            - F.greatest(F.coalesce(F.max("e").over(w), F.lit(0)), F.col("pos") - 1),
        ).alias("c"),
    )
    per_doc = cover.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("covered_tokens")
    )
    return (
        docs.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("covered_tokens", F.lit(0)).cast("bigint").alias("covered_tokens"),
            round4(
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("dup_coverage"),
        )
        .orderBy("doc_id")
    )


def _dup_span_coverage_sql() -> str:
    from frolyk_spark.functions.portable import round4_sql

    return f"""
WITH {_span_hits_sql_ctes()},
cover AS (
  SELECT doc_id, n_tokens,
         greatest(0, e - greatest(coalesce(
           max(e) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0), pos - 1)) AS c
  FROM hits
),
per_doc AS (
  SELECT doc_id, cast(sum(c) AS BIGINT) AS covered_tokens
  FROM cover GROUP BY doc_id
)
SELECT d.doc_id,
       cast(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       cast(coalesce(per_doc.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       {round4_sql('cast(coalesce(per_doc.covered_tokens, 0) AS DOUBLE)'
                   ' / cast(len(string_split(d.text, chr(32))) AS DOUBLE)')}
         AS dup_coverage
FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
ORDER BY d.doc_id
"""


# --- D59: duplicate-span trimming (RefinedWeb-style span removal) ------------

def span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-granularity dedup (the RefinedWeb exact-substring recipe,
    Penedo et al. 2023 §5, arXiv:2306.01116): instead of DROPPING documents
    dominated by cross-corpus boilerplate (dup_span_coverage's signal),
    REMOVE the duplicated spans and keep the rest — per document, delete
    every token position covered by a word {SPAN_W}-gram that also occurs
    in another document, and rebuild the surviving text in order.

    Composes D50's shared candidate machinery (_span_hit_frames), then:
    hit intervals → covered positions (explode of sequence(pos, e) —
    bounded fan-out, each position is covered by at most {SPAN_W}
    overlapping grams, then distinct) → the token stream anti-joins the
    covered set on (doc_id, pos) → per-doc ordered rebuild
    (sort_array over (pos, token) structs + concat_ws). Shuffles: the
    two gram-keyed ones from D50, one (doc_id, pos)-keyed distinct +
    anti-join over the token stream, one doc-keyed rebuild — all
    equi-keyed, nothing quadratic, per-doc state bounded by doc length.
    Fully-duplicated docs survive as empty text (kept_tokens 0), the
    trim analogue of D50's coverage 1.0.
    """
    docs, hits = _span_hit_frames(spark, sf_dir)
    covered = (
        hits.select("doc_id", F.explode(F.sequence("pos", "e")).alias("p"))
        .distinct()
    )
    tokens = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "tok")
    ).select("doc_id", (F.col("i") + 1).cast("bigint").alias("p"), "tok")
    rebuilt = (
        tokens.join(covered, ["doc_id", "p"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("kept_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("trimmed_text"),
        )
    )
    return (
        docs.select("doc_id", "n_tokens")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias("kept_tokens"),
            F.coalesce("trimmed_text", F.lit("")).alias("trimmed_text"),
        )
        .orderBy("doc_id")
    )


def _span_trim_sql() -> str:
    return f"""
WITH {_span_hits_sql_ctes()},
covered AS (
  SELECT DISTINCT doc_id, p FROM (
    SELECT doc_id, unnest(range(pos, e + 1)) AS p FROM hits
  )
),
tokens AS (
  SELECT doc_id, u.p AS p, ws[u.p] AS tok
  FROM t, unnest(range(1, len(ws) + 1)) u(p)
),
reb AS (
  SELECT tk.doc_id,
         cast(count(*) AS BIGINT) AS kept_tokens,
         string_agg(tk.tok, ' ' ORDER BY tk.p) AS trimmed_text
  FROM tokens tk
  LEFT JOIN covered c ON c.doc_id = tk.doc_id AND c.p = tk.p
  WHERE c.p IS NULL
  GROUP BY tk.doc_id
)
SELECT d.doc_id,
       cast(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       cast(coalesce(reb.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       coalesce(reb.trimmed_text, '') AS trimmed_text
FROM documents d LEFT JOIN reb ON d.doc_id = reb.doc_id
ORDER BY d.doc_id
"""


# --- D66: line-granularity dedup (CCNet recipe) ------------------------------

#: words per pseudo-line; the corpus has no newlines, so "lines" are fixed
#: non-overlapping {LINE_W}-word segments (power of two keeps every derived
#: arithmetic integer-exact)
LINE_W = 8


def line_dedup_frame(docs: DataFrame) -> DataFrame:
    """Line-granularity dedup of a (doc_id, text) frame — the CCNet recipe
    (Wenzek et al. 2019, arXiv:1911.00359 §3.1: drop duplicated lines
    across the corpus, keeping one copy) that RefinedWeb also applies
    before document-level dedup. The corpus text has no newlines, so a
    "line" is a fixed non-overlapping {LINE_W}-word segment — the
    pseudo-paragraph unit; unlike span_trim (overlapping {CONTAM_W}-gram
    spans, NO copy kept), this keeps the globally FIRST occurrence of
    every segment (min (doc_id, seg_idx)) and drops the rest, which is
    what makes it the boilerplate-normalizing pre-pass rather than a
    similarity trimmer.

    Shape: segment fan-out is map-only (one struct per {LINE_W} words);
    keep-first is ONE row_number window keyed on the 60-bit portable
    segment hash (hot boilerplate segments concentrate on their hash
    partition — linear state, same posture as ngram_novelty's df window);
    the ordered rebuild is one doc_id groupBy (sort_array + concat_ws,
    span_trim's pattern). Two equi-keyed shuffles total, nothing
    quadratic, no driver state."""
    spark = docs.sparkSession
    segs_expr = (
        "transform(array(split(text, ' ')), ws -> transform("
        f"sequence(0, ((size(ws) + {LINE_W - 1}) div {LINE_W}) - 1),"
        f" i -> struct(i as seg_idx,"
        f" concat_ws(' ', slice(ws, i * {LINE_W} + 1, {LINE_W})) as seg)))[0]"
    )
    segs = (
        docs.select("doc_id", "text")
        # single-split test parquet: spread the md5-heavy projection
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(F.expr(segs_expr)).alias("s"))
        .select(
            "doc_id",
            F.col("s.seg_idx").cast("bigint").alias("seg_idx"),
            F.col("s.seg").alias("seg"),
        )
        .withColumn("h", F.expr(portable_hash_spark_sql("seg")))
    )
    # (h, seg) key, not h alone: two DIFFERENT segments colliding in the
    # 60-bit hash must not dedupe each other (at ~10^12 segments the
    # birthday count is ~10^5 wrongly-destroyed segments); same shuffle
    # shape — seg only subdivides within a hash partition
    w = Window.partitionBy("h", "seg").orderBy("doc_id", "seg_idx")
    marked = segs.withColumn("rn", F.row_number().over(w))
    kept = F.col("rn") == 1
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segs"),
            F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(kept, F.struct("seg_idx", "seg")))
                    ),
                    lambda s: s["seg"],
                ),
            ).alias("deduped_text"),
        )
        .orderBy("doc_id")
    )


def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet line-granularity dedup over the documents table — see
    line_dedup_frame for the recipe and scale shape. Per doc: segment
    count, surviving-segment count, and the rebuilt keep-first text
    (fully-boilerplate docs survive as empty text, n_kept 0)."""
    return line_dedup_frame(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def _line_dedup_sql() -> str:
    return f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
segs AS (
  SELECT doc_id, (s).seg_idx AS seg_idx, (s).seg AS seg FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, (len(ws) + {LINE_W - 1}) // {LINE_W}),
                  i -> struct_pack(seg_idx := i,
                       seg := array_to_string(
                         ws[i * {LINE_W} + 1 : i * {LINE_W} + {LINE_W}],
                         ' ')))) AS s
    FROM w)
),
marked AS (
  SELECT doc_id, seg_idx, seg,
         row_number() OVER (PARTITION BY {portable_hash_sql('seg')}, seg
                            ORDER BY doc_id, seg_idx) AS rn
  FROM segs
)
SELECT doc_id,
       cast(count(*) AS BIGINT) AS n_segs,
       cast(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
                  FILTER (WHERE rn = 1), '') AS deduped_text
FROM marked
GROUP BY doc_id
ORDER BY doc_id
"""


# --- D43: temperature-scaled source sampling weights -------------------------

def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (α = 0.5) source sampling weights — the
    multilingual/multi-source rebalancing rule (sample ∝ share^α, the
    mBERT/XLM-R exponent-smoothing recipe): source_mix's uniform target
    replaced by a root-share target that up-weights small sources
    without flattening the mixture entirely.

    α = 0.5 is deliberately the ONE temperature whose power is sqrt —
    exactly-rounded in IEEE 754 and therefore bit-identical across
    engines, unlike a general pow(x, α) (libm-dependent last ULP).
    Weights are reported UNNORMALIZED (root_share, and the boost ratio
    root_share/share a sampler applies on top of natural sampling):
    normalizing would divide by Σ√share — a sum of doubles whose
    accumulation order differs between engines — so the normalization
    belongs to the consumer, not the compare path. One map-side-
    combinable aggregation; windows run over the per-source frame (one
    row per source, trivially small at any scale).
    """
    docs = load_table(spark, sf_dir, "documents").select("source")
    agg = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy()
    share = (
        F.col("n_docs").cast("double")
        / F.sum("n_docs").over(w).cast("double")
    )
    root = F.sqrt(share)
    return agg.select(
        "source",
        "n_docs",
        round6(share).alias("share"),
        round6(root).alias("root_share"),
        round6(root / share).alias("boost"),
    ).orderBy("source")


SAMPLE_TEMPERATURE_SQL = """
WITH s AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
SELECT source, n_docs,
       floor((CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS share,
       floor(sqrt(CAST(n_docs AS DOUBLE)
                  / CAST(sum(n_docs) OVER () AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS root_share,
       floor((sqrt(CAST(n_docs AS DOUBLE)
                   / CAST(sum(n_docs) OVER () AS DOUBLE))
              / (CAST(n_docs AS DOUBLE)
                 / CAST(sum(n_docs) OVER () AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS boost
FROM s
ORDER BY source
"""


# --- D64: benchmark leakage report -------------------------------------------

def benchmark_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverse direction of D20: per BENCHMARK document, how
    compromised is it — how many corpus documents share at least one
    {CONTAM_W}-word-gram with it, and the largest distinct-gram overlap
    any single corpus document reaches. This is the report an eval owner
    reads (which benchmark items must be dropped or re-held-out), where
    D20 is the report a corpus owner reads (which training docs to
    remove).

    Scale shape: the benchmark gram POSTINGS (gram hash + benchmark doc)
    are eval-suite-sized and broadcast; the corpus gram stream probes them
    map-side, so the only corpus-keyed shuffle is the (bench_doc,
    corpus_doc) pair aggregation — bounded by actual overlap, not corpus
    size. Gram sets are per-doc distinct on both sides (the shared
    `_word_grams` shingles), so the pair count IS the distinct shared-gram
    count."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = F.explode(F.expr(_word_grams(CONTAM_W))).alias("g")
    bench = (
        docs.where(F.col("doc_id") < CONTAM_BENCH_N)
        .select(F.col("doc_id").alias("bench_doc"), grams)
        .select("bench_doc", F.expr(portable_hash_spark_sql("g")).alias("h"))
    )
    corpus = (
        docs.where(F.col("doc_id") >= CONTAM_BENCH_N)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.col("doc_id").alias("corpus_doc"), grams)
        .select("corpus_doc", F.expr(portable_hash_spark_sql("g")).alias("h"))
    )
    pairs = (
        corpus.join(F.broadcast(bench), "h")
        .groupBy("bench_doc", "corpus_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return pairs.groupBy("bench_doc").agg(
        F.count(F.lit(1)).alias("n_corpus_docs"),
        F.max("shared").alias("max_shared_grams"),
    )


BENCHMARK_LEAKAGE_SQL = f"""
WITH bench AS (
  SELECT doc_id AS bench_doc, {portable_hash_sql('g')} AS h
  FROM (SELECT doc_id, unnest({_word_grams_duck(CONTAM_W)}) AS g
        FROM documents WHERE doc_id < {CONTAM_BENCH_N})
),
corpus AS (
  SELECT doc_id AS corpus_doc, {portable_hash_sql('g')} AS h
  FROM (SELECT doc_id, unnest({_word_grams_duck(CONTAM_W)}) AS g
        FROM documents WHERE doc_id >= {CONTAM_BENCH_N})
),
pairs AS (
  SELECT bench_doc, corpus_doc, count(*) AS shared
  FROM corpus JOIN bench USING (h)
  GROUP BY bench_doc, corpus_doc
)
SELECT bench_doc,
       cast(count(*) AS BIGINT) AS n_corpus_docs,
       cast(max(shared) AS BIGINT) AS max_shared_grams
FROM pairs
GROUP BY bench_doc
"""


# --- D62: Bloom-filter decontamination ---------------------------------------

#: Bloom width in bits (a CONSTANT — the broadcast state is bounded by it,
#: not by the benchmark or corpus size) and probes per key
BLOOM_M = 1 << 15
BLOOM_K = 3


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through a Bloom filter — the 100 TB scale
    path for D20: instead of broadcasting the benchmark's full distinct
    gram-hash set (which grows with the eval suite), broadcast its Bloom
    bit set — AT MOST {BLOOM_M} set positions regardless of benchmark
    size — and route only Bloom-positive grams to the exact check. Emits,
    per suspect document, the Bloom-positive gram count next to the exact
    overlap count, so the false-positive surcharge is measured, not
    assumed.

    Probe positions use double hashing (Kirsch-Mitzenmacher: pos_i =
    (h + i·h2) mod m, h2 forced odd so it is coprime with the power-of-two
    m and the {BLOOM_K} positions are distinct). Everything derives from
    the portable md5 hash, so DuckDB reproduces the bitmap AND its false
    positives bit-for-bit — membership here is set-containment of all
    {BLOOM_K} positions in the set-bit relation, the join form of the
    bitmap test (a production variant packs the same positions into a
    {BLOOM_M}-bit array broadcast as one value; the join form keeps the
    cross-engine compare exact).

    Scale shape: the set-bit frame is bounded by the CONSTANT {BLOOM_M},
    so its broadcast is legitimate bounded state; corpus grams probe it
    map-side (no corpus shuffle before the per-doc count). The corpus gram
    frame feeds the Bloom probe, the exact check, and the per-doc gram
    count, and is lineage-cut once."""
    from frolyk_spark.functions.lineage import cut_lineage

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = F.explode(F.expr(_word_grams(CONTAM_W))).alias("g")
    h2 = f"(pmod(shiftright(gh, 20), {BLOOM_M}) | 1)"
    pos_array = F.expr(
        "array(" + ", ".join(
            f"pmod(gh + {i} * {h2}, {BLOOM_M})" for i in range(BLOOM_K)
        ) + ")"
    )
    bench = cut_lineage(
        docs.where(F.col("doc_id") < CONTAM_BENCH_N)
        .select(grams)
        .select(F.expr(portable_hash_spark_sql("g")).alias("gh"))
        .distinct()
    )
    bench_bits = bench.select(F.explode(pos_array).alias("pos")).distinct()
    corpus = cut_lineage(
        docs.where(F.col("doc_id") >= CONTAM_BENCH_N)
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", grams)
        .select("doc_id", F.expr(portable_hash_spark_sql("g")).alias("gh"))
        .distinct()
    )
    # lineage-cut: the Bloom-positive gram set feeds both the per-doc count
    # and the exact check, which rejoin on doc_id below
    bloom_pos = cut_lineage(
        corpus.select("doc_id", "gh", F.explode(pos_array).alias("pos"))
        .join(F.broadcast(bench_bits), "pos")
        .groupBy("doc_id", "gh")
        .agg(F.count(F.lit(1)).alias("n_set"))
        .where(F.col("n_set") == BLOOM_K)
        .select("doc_id", "gh")
    )
    bloom_docs = bloom_pos.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("bloom_hits")
    )
    # Bloom filters have no false negatives, so the exact check only needs
    # the Bloom-positive grams — the routing the docstring promises. This
    # join is UN-HINTED on purpose: the bench hash set is the state this
    # operator exists to stop broadcasting at scale (AQE still broadcasts
    # it while small; past that it shuffles on gh, keyed by the tiny
    # Bloom-positive suspect set).
    exact_docs = (
        bloom_pos.join(bench, "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("exact_hits"))
    )
    n_grams = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        bloom_docs.join(exact_docs, "doc_id", "left")
        .join(n_grams, "doc_id")
        .select(
            "doc_id", "n_grams", "bloom_hits",
            F.coalesce("exact_hits", F.lit(0)).alias("exact_hits"),
        )
    )


def _decontaminate_bloom_sql() -> str:
    h2 = f"((gh >> 20) % {BLOOM_M} | 1)"
    pos_list = ", ".join(
        f"(gh + {i} * {h2}) % {BLOOM_M}" for i in range(BLOOM_K)
    )
    return f"""
WITH bench AS (
  SELECT DISTINCT {portable_hash_sql('g')} AS gh
  FROM (SELECT unnest({_word_grams_duck(CONTAM_W)}) AS g
        FROM documents WHERE doc_id < {CONTAM_BENCH_N})
),
bench_bits AS (
  SELECT DISTINCT pos FROM (SELECT unnest([{pos_list}]) AS pos FROM bench)
),
corpus AS (
  SELECT DISTINCT doc_id, {portable_hash_sql('g')} AS gh
  FROM (SELECT doc_id, unnest({_word_grams_duck(CONTAM_W)}) AS g
        FROM documents WHERE doc_id >= {CONTAM_BENCH_N})
),
bloom_pos AS (
  SELECT doc_id, gh
  FROM (SELECT doc_id, gh, unnest([{pos_list}]) AS pos FROM corpus)
  JOIN bench_bits USING (pos)
  GROUP BY doc_id, gh
  HAVING count(*) = {BLOOM_K}
),
bloom_docs AS (
  SELECT doc_id, count(*) AS bloom_hits FROM bloom_pos GROUP BY doc_id
),
exact_docs AS (
  SELECT doc_id, count(*) AS exact_hits
  FROM bloom_pos JOIN bench USING (gh) GROUP BY doc_id
),
n_grams AS (
  SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY doc_id
)
SELECT doc_id,
       cast(n_grams AS BIGINT) AS n_grams,
       cast(bloom_hits AS BIGINT) AS bloom_hits,
       cast(coalesce(exact_hits, 0) AS BIGINT) AS exact_hits
FROM bloom_docs
LEFT JOIN exact_docs USING (doc_id)
JOIN n_grams USING (doc_id)
"""


# --- D61: DSIR-style importance selection ------------------------------------

#: hashed-feature width for dsir_select — a CONSTANT (hash range), so the
#: bucket-count model is bounded state regardless of corpus size
DSIR_BUCKETS = 4096
#: the target domain whose n-gram distribution defines "important"
DSIR_TARGET_LANG = "en"


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169) in its engine-portable integer-exact form: score each
    document by how much more frequent its hashed bigram features are in a
    TARGET domain (lang = {DSIR_TARGET_LANG}) than in the raw corpus, and
    select documents whose mean target-frequency ratio exceeds the corpus
    mean. The paper compares Σ c_g·log p̂_t(g) against Σ c_g·log p̂_r(g);
    log is a transcendental this repo's compare-path rules ban, so the
    selector is the cross-multiplied ratio test on exact integer sufficient
    statistics instead: selected ⇔ sum_t · N_r > sum_r · N_t, where
    sum_t/sum_r are the doc's summed target/raw bucket counts and N_t/N_r
    the corpus totals — scale-free (a multiple-of-mean rule) and
    bit-identical in both engines. The two products multiply as
    decimal(19,0) operands → exact decimal(38,0) results on BOTH engines
    (operand casts, not a product cast, because DuckDB caps decimal width
    at 38 and would reject decimal(38,0)·bigint): at 100 TB the per-doc
    sums reach ~10¹⁵ and the products ~10³⁰ — past int64 (9.2·10¹⁸), far
    inside decimal(38,0). The statistics themselves stay int64.

    Scale shape: bucket counts are bounded model state ({DSIR_BUCKETS}
    rows) by CONSTRUCTION — the hash range, not the data, sets their size —
    so broadcasting them is legitimate under the bounded-state rule; the
    corpus gram stream is probed map-side with no corpus-keyed shuffle
    before the per-doc aggregation. The bucketed gram frame feeds three
    consumers (raw counts, target counts, per-doc probe) and is lineage-cut
    once; the one-row totals scalar joins as a broadcast crossJoin."""
    from frolyk_spark.functions.lineage import cut_lineage

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # adjacent-word pairs; transform(array(split(...)))[0] is the evaluation
    # barrier binding the split ONCE per row (vocab.bigram_counts pattern)
    pairs_expr = (
        "transform(array(split(text, ' ')), ws -> "
        "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), "
        "(a, b) -> concat(a, ' ', b)))[0]"
    )
    bucketed = cut_lineage(
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "lang", F.explode(F.expr(pairs_expr)).alias("g"))
        .select(
            "doc_id", "lang",
            F.pmod(F.expr(portable_hash_spark_sql("g")), F.lit(DSIR_BUCKETS))
            .alias("b"),
        )
    )
    raw = bucketed.groupBy("b").agg(F.count(F.lit(1)).alias("n_r"))
    tgt = (
        bucketed.where(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n_t"))
    )
    counts = cut_lineage(
        raw.join(tgt, "b", "left").select(
            "b", "n_r", F.coalesce("n_t", F.lit(0)).alias("n_t")
        )
    )
    totals = counts.agg(
        F.sum("n_t").alias("tot_t"), F.sum("n_r").alias("tot_r")
    )
    per_doc = (
        bucketed.join(F.broadcast(counts), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("n_t").alias("sum_t"),
            F.sum("n_r").alias("sum_r"),
        )
    )
    dec = "decimal(19,0)"
    return per_doc.crossJoin(F.broadcast(totals)).select(
        "doc_id", "n_grams", "sum_t", "sum_r",
        (
            F.col("sum_t").cast(dec) * F.col("tot_r").cast(dec)
            > F.col("sum_r").cast(dec) * F.col("tot_t").cast(dec)
        )
        .cast("int")
        .alias("selected"),
    )


DSIR_SELECT_SQL = f"""
WITH grams AS (
  SELECT doc_id, lang, ({portable_hash_sql('p')}) % {DSIR_BUCKETS} AS b
  FROM (
    SELECT doc_id, lang,
           unnest(list_transform(range(2, len(string_split(text, ' ')) + 1),
                                 i -> string_split(text, ' ')[i-1] || ' ' ||
                                      string_split(text, ' ')[i])) AS p
    FROM documents
  )
),
raw AS (SELECT b, count(*) AS n_r FROM grams GROUP BY b),
tgt AS (SELECT b, count(*) AS n_t FROM grams
        WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b),
counts AS (
  SELECT raw.b, n_r, coalesce(n_t, 0) AS n_t
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b
),
totals AS (SELECT sum(n_t) AS tot_t, sum(n_r) AS tot_r FROM counts),
per_doc AS (
  SELECT doc_id, count(*) AS n_grams, sum(n_t) AS sum_t, sum(n_r) AS sum_r
  FROM grams JOIN counts USING (b)
  GROUP BY doc_id
)
SELECT doc_id,
       cast(n_grams AS BIGINT) AS n_grams,
       cast(sum_t AS BIGINT) AS sum_t,
       cast(sum_r AS BIGINT) AS sum_r,
       CASE WHEN cast(sum_t AS DECIMAL(19,0)) * cast(tot_r AS DECIMAL(19,0))
               > cast(sum_r AS DECIMAL(19,0)) * cast(tot_t AS DECIMAL(19,0))
            THEN 1 ELSE 0 END AS selected
FROM per_doc, totals
"""


# --- D65: end-to-end training-data pipeline -----------------------------------

def training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pass a user actually runs between "raw corpus" and
    "training chunks", as ONE operator: quality + language + exact-dedup
    filtering (D17's composite), benchmark-doc exclusion and n-gram
    decontamination (D20), then chunking (D21) of the survivors — reported
    per predicted language as integer stage counts (docs after filtering,
    contaminated, final, chunks, chunk tokens). The DuckDB oracle composes
    the SAME stage SQL texts (corpus_filter / decontaminate / doc_chunks
    oracles embedded as subqueries), so a drift in any stage OR in how the
    stages hand off surfaces as a mismatch.

    Scale shape: each stage keeps its own audited plan (this function
    adds only doc_id equi-joins between them); the filtered frame feeds
    three consumers (contamination join, chunk join, final agg) and is
    lineage-cut once. Chunking runs only on filtered docs — the order a
    real pipeline uses (cheap filters first, generator fan-out last)."""
    from frolyk_spark.functions.lineage import cut_lineage
    from frolyk_spark.operators.text import corpus_filter_frame

    docs = load_table(spark, sf_dir, "documents")
    filtered = cut_lineage(
        corpus_filter_frame(docs)
        .where(F.col("doc_id") >= CONTAM_BENCH_N)
        .select("doc_id", "predicted_lang")
    )
    contam = decontaminate(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("is_contam")
    )
    # chunk generator mirrors doc_chunks (D21) minus the chunk hash; the
    # composed oracle embeds DOC_CHUNKS_SQL itself, so a drift between the
    # two sites fails the gate
    per_doc_chunks = (
        docs.join(filtered.select("doc_id"), "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"sequence(1, greatest(size(split(text, ' ')), 1), {CHUNK_STRIDE})"
                )
            ).alias("start"),
            "text",
        )
        .select(
            "doc_id",
            F.expr(f"size(slice(split(text, ' '), start, {CHUNK_TOKENS}))")
            .cast("bigint")
            .alias("n_tokens"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("doc_chunks"),
            F.sum("n_tokens").alias("doc_tokens"),
        )
    )
    final_flag = F.col("is_contam").isNull()
    return (
        filtered.join(contam, "doc_id", "left")
        .join(per_doc_chunks, "doc_id", "left")
        .groupBy("predicted_lang")
        .agg(
            F.count(F.lit(1)).alias("n_filtered"),
            F.sum(F.when(F.col("is_contam") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_contaminated"),
            F.sum(F.when(final_flag, 1).otherwise(0))
            .cast("bigint")
            .alias("n_final"),
            F.sum(F.when(final_flag, F.col("doc_chunks")).otherwise(0))
            .cast("bigint")
            .alias("n_chunks"),
            F.sum(F.when(final_flag, F.col("doc_tokens")).otherwise(0))
            .cast("bigint")
            .alias("sum_chunk_tokens"),
        )
    )


def _training_pipeline_sql() -> str:
    from frolyk_spark.operators.text import _corpus_filter_sql

    return f"""
WITH filtered AS (
  SELECT doc_id, predicted_lang
  FROM ({_corpus_filter_sql()}) t
  WHERE doc_id >= {CONTAM_BENCH_N}
),
contam AS (SELECT doc_id FROM ({DECONTAMINATE_SQL}) t),
chunk_stats AS (
  SELECT doc_id, count(*) AS doc_chunks, sum(n_tokens) AS doc_tokens
  FROM ({DOC_CHUNKS_SQL}) ch
  JOIN filtered USING (doc_id)
  GROUP BY doc_id
)
SELECT f.predicted_lang,
       cast(count(*) AS BIGINT) AS n_filtered,
       cast(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       cast(sum(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_final,
       cast(sum(CASE WHEN c.doc_id IS NULL THEN cs.doc_chunks ELSE 0 END)
            AS BIGINT) AS n_chunks,
       cast(sum(CASE WHEN c.doc_id IS NULL THEN cs.doc_tokens ELSE 0 END)
            AS BIGINT) AS sum_chunk_tokens
FROM filtered f
LEFT JOIN contam c ON f.doc_id = c.doc_id
LEFT JOIN chunk_stats cs ON f.doc_id = cs.doc_id
GROUP BY f.predicted_lang
"""


QUERIES = {
    "sequence_pack": sequence_pack,
    "decontaminate": decontaminate,
    "doc_chunks": doc_chunks,
    "repetition_stats": repetition_stats,
    "source_mix": source_mix,
    "cross_source_duplication": cross_source_duplication,
    "length_histogram": length_histogram,
    "boilerplate_ngrams": boilerplate_ngrams,
    "ngram_novelty": ngram_novelty,
    "sample_temperature": sample_temperature,
    "dup_span_coverage": dup_span_coverage,
    "span_trim": span_trim,
    "line_dedup": line_dedup,
    "dsir_select": dsir_select,
    "decontaminate_bloom": decontaminate_bloom,
    "benchmark_leakage": benchmark_leakage,
    "training_pipeline": training_pipeline,
}

ORACLES = {
    "sequence_pack": SEQUENCE_PACK_SQL,
    "decontaminate": DECONTAMINATE_SQL,
    "doc_chunks": DOC_CHUNKS_SQL,
    "repetition_stats": REPETITION_STATS_SQL,
    "source_mix": SOURCE_MIX_SQL,
    "cross_source_duplication": _cross_source_duplication_sql(),
    "length_histogram": LENGTH_HISTOGRAM_SQL,
    "boilerplate_ngrams": BOILERPLATE_SQL,
    "ngram_novelty": NGRAM_NOVELTY_SQL,
    "sample_temperature": SAMPLE_TEMPERATURE_SQL,
    "dup_span_coverage": _dup_span_coverage_sql(),
    "span_trim": _span_trim_sql(),
    "line_dedup": _line_dedup_sql(),
    "dsir_select": DSIR_SELECT_SQL,
    "decontaminate_bloom": _decontaminate_bloom_sql(),
    "benchmark_leakage": BENCHMARK_LEAKAGE_SQL,
    "training_pipeline": _training_pipeline_sql(),
}
