"""Deduplication operators for training-data pipelines (SURVEY §2 D5-D9).

Scale posture (the part that matters at 100 TB):

- Nothing here is all-pairs over the corpus. Candidate generation is always
  *blocked* — exact hash groups (D5), LSH band buckets (D6), length blocks
  (D8), label blocks (D9) — so every join is an equi-join Catalyst can
  shuffle-partition on the block key, and cost stays linear-ish in corpus
  size instead of quadratic.
- Signatures (minhash / simhash) are pure `F.*` / SQL expressions over the
  parquet scan: whole-stage codegen, zero Python, no shuffle until the
  band-bucket groupBy. In production you would persist the signature table
  once and reuse it; here each query recomputes it (500-5k docs).
- All hashes are the portable 60-bit md5 scheme
  (frolyk_spark.functions.hashing), so every operator is value-checkable
  against the DuckDB oracle, including the banded-LSH join.

Reference parity note: the reference (JaapRood/frolyk) is a Kafka
stream-processing library with no dedup layer; these operators implement the
LLM-data-pipeline surface of the charter (SURVEY §2 D).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frolyk_spark.functions.hashing import portable_hash_expr, portable_hash_spark_sql, portable_hash_sql
from frolyk_spark.functions.portable import round4 as _round4
from frolyk_spark.sources.catalog import load_table

#: words per shingle for minhash / jaccard
SHINGLE_W = 3
#: minhash signature length
MINHASH_K = 12
#: LSH bands (rows per band = MINHASH_K // MINHASH_B)
MINHASH_B = 4
#: simhash fingerprint width in bits (fits the 60-bit portable hash)
SIMHASH_BITS = 60
#: n-gram Jaccard similarity threshold for candidate pairs
JACCARD_T = 0.5
#: width of the word-count blocking bucket for D8
LEN_BLOCK_W = 16
#: cosine threshold for embedding near-dup pairs (tuned: planted near-dups
#: sit well above, random same-label pairs below)
EMB_COS_T = 0.35


# --- D5: exact dedup --------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash(text) groups, keep the min doc_id as canonical.

    One shuffle on the 60-bit text hash; at 100 TB this is the classic
    hash-partitioned exact dedup (the hash column is tiny vs the text).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(portable_hash_expr("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DEDUP_EXACT_SQL = f"""
SELECT {portable_hash_sql('text')} AS text_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""


# --- shared shingle expressions ---------------------------------------------

#: distinct word {SHINGLE_W}-gram shingles of `text` (Spark SQL expr).
#: Short docs (< SHINGLE_W words) fall back to one whole-text shingle.
#: The single-element `transform(array(split(...)), ws -> ...)[0]` wrapper
#: is an evaluation barrier: it binds the words array to a lambda variable
#: so `split` runs ONCE per row. Referencing `split(text)` directly inside
#: the per-shingle lambda looks equivalent but Catalyst inlines it into
#: every element — O(words²) splits per document (measured 5-7x slower on
#: the shingle-heavy dedup pipeline).
_SHINGLES_SPARK = (
    "array_distinct(transform(array(split(text, ' ')), ws -> transform("
    f"sequence(1, greatest(size(ws) - {SHINGLE_W - 1}, 1)),"
    f" i -> concat_ws(' ', slice(ws, i, {SHINGLE_W}))))[0])"
)

_SHINGLES_DUCK = (
    "list_distinct(list_transform("
    f"range(1, greatest(len(string_split(text, ' ')) - {SHINGLE_W - 1}, 1) + 1),"
    f" i -> array_to_string(string_split(text, ' ')[i:i+{SHINGLE_W - 1}], ' ')))"
)


# --- D6: minhash + banded LSH -----------------------------------------------

import hashlib as _hashlib

#: deterministic 60-bit XOR seeds for the k minhash functions — md5(str(j)),
#: same derivation both engines can't disagree on because the values are
#: baked into the plan as literals.
MINHASH_SEEDS = tuple(
    int(_hashlib.md5(str(j).encode()).hexdigest()[:15], 16) for j in range(MINHASH_K)
)


def _shingle_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, h) rows: one portable hash per DISTINCT shingle per doc.
    The single source of the shingle stage — minhash signatures and the
    containment verify both read it, so a shingling/hash change cannot
    diverge them. The test parquet is a single split; the repartition
    spreads the md5-heavy projection across cores (a no-op at scale where
    the scan has many splits), and the explode is the evaluation barrier
    that keeps each shingle hashed exactly once (see _SHINGLES_SPARK)."""
    spark = docs.sparkSession
    return (
        docs.select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(F.expr(_SHINGLES_SPARK)).alias("s"))
        .select("doc_id", F.expr(portable_hash_spark_sql("s")).alias("h"))
    )


def minhash_signatures_frame(docs: DataFrame) -> DataFrame:
    """k={MINHASH_K} minhash signature table (doc_id, s0..s{MINHASH_K-1})
    for any (doc_id, text) frame.

    1. explode distinct shingles to rows and md5 each exactly once (a
       chained-projection formulation lets Catalyst collapse projects and
       re-inline the hash array into every minhash lambda — ~48x duplicate
       md5 work; the explode is the evaluation barrier that prevents it);
    2. k minhashes as plain `min(hash XOR seed_j)` aggregates — XOR
       seed-mixing is bijective so the min-hash property holds, and hash
       aggregation map-side-combines, so the doc_id shuffle carries only k
       longs per doc per partition, not the shingle set.
    """
    shingled = _shingle_postings(docs)
    return shingled.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"h ^ {seed}L")).alias(f"s{j}")
            for j, seed in enumerate(MINHASH_SEEDS)
        ]
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures_frame(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def _minhash_artifact(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """(path, bytes) of the persisted signature artifact; the bytes size
    the clustering consumers' fixed-plan loops. The key carries the
    signature geometry (k, seeds, shingle width): a change re-hashes."""
    from frolyk_spark.sources.streams import artifact

    return artifact(
        "signatures", [os.path.join(sf_dir, "documents.parquet")],
        ("minhash", MINHASH_K, MINHASH_SEEDS, SHINGLE_W),
        lambda d: minhash_signatures(spark, sf_dir).write.mode("overwrite").parquet(d),
    )


def persisted_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature table persisted to parquet once per source dataset and
    reread on later calls — the incremental-corpus shape a real pipeline
    needs: signatures are computed when documents land and every downstream
    consumer (banding, clustering, re-runs with new thresholds) reads the
    parquet instead of re-hashing the corpus."""
    return spark.read.parquet(_minhash_artifact(spark, sf_dir)[0])


def _band_hashes_for(sigs: DataFrame, b_cnt: int) -> DataFrame:
    """(doc_id, band_id, band_hash) rows for b_cnt bands of r = k/b_cnt
    signature slots, each band hashed to one bucket key."""
    r = MINHASH_K // b_cnt
    band_structs = ", ".join(
        "struct({b} as band_id, {h} as band_hash)".format(
            b=b,
            h=portable_hash_spark_sql(
                f"concat_ws(',', '{b}', "
                + ", ".join(f"cast(s{j} as string)" for j in range(b * r, (b + 1) * r))
                + ")"
            ),
        )
        for b in range(b_cnt)
    )
    return sigs.select(
        "doc_id", F.explode(F.expr(f"array({band_structs})")).alias("band")
    ).select(
        "doc_id",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_hash").alias("band_hash"),
    )


def band_hashes(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) rows at the default b={MINHASH_B}."""
    return _band_hashes_for(sigs, MINHASH_B)


#: max docs per band bucket expanded to exact quadratic pairs; bigger
#: buckets (near-identical boilerplate floods — EXPECTED at 100 TB, not
#: pathological) are star-routed instead (see _pairs_from_bands)
LSH_BUCKET_CAP = 1024


def _pairs_from_bands(bands: DataFrame, cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """Candidate pairs from a (doc_id, band_id, band_hash) frame:
    band-hash bucket groupBy -> in-bucket pair expansion from the sorted
    doc_id list. Never all-pairs: the shuffle is equi-partitioned on the
    bucket key.

    Giant-bucket guard (VERDICT r6): a bucket of n near-identical docs
    (template/boilerplate floods) would expand to n(n-1)/2 pairs inside a
    single task — 10^5 docs = 5*10^9 structs = OOM/straggler. Buckets with
    <= `cap` docs take the exact quadratic path; oversize buckets are
    routed through a linear STAR expansion anchored at the bucket's min
    doc_id (n-1 pairs). The star spans the bucket, so connected-components
    consumers (dedup_clusters, dedup_canonical) see identical clusters;
    pair-level consumers see the same star the DuckDB oracles now emit —
    _dedup_minhash_sql / _lsh_band_sweep_sql mirror the cap, so
    engine-vs-oracle parity is structural at any bucket size (r8; planted
    mega-bucket parity test in test_dedup_clusters.py). Residual bound:
    the collected id array itself is linear (8 bytes/doc — a 10^6-doc
    bucket is ~8 MB in one aggregation row), only the expansion was
    quadratic."""
    pairs_expr = (
        "flatten(transform(ids,"
        " (x, i) -> transform(slice(ids, i + 2, size(ids)),"
        " y -> struct(x as doc_a, y as doc_b))))"
    )
    star_expr = (
        "transform(slice(ids, 2, size(ids) - 1),"
        " y -> struct(ids[0] as doc_a, y as doc_b))"
    )
    return (
        bands.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
        .select(
            F.explode(
                F.when(F.size("ids") <= cap, F.expr(pairs_expr)).otherwise(
                    F.expr(star_expr)
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def oversize_band_buckets(bands: DataFrame, cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """Report frame for the guard above: (band_id, band_hash, n_docs) of
    every bucket that will be star-routed rather than pair-expanded, so a
    pipeline can log/alert on boilerplate floods instead of silently
    degrading candidate recall."""
    return (
        bands.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") > cap)
    )


def band_pairs(sigs: DataFrame) -> DataFrame:
    """Candidate pairs from a signature table at the default banding."""
    return _pairs_from_bands(band_hashes(sigs))


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via minhash + banded LSH — signature
    aggregation (minhash_signatures) composed with band bucketing
    (band_pairs); see each stage's docstring for the scale argument.

    Deliberately computes signatures INLINE (unlike dedup_clusters /
    minhash_jaccard_estimate / cross_source_duplication, which read the
    persisted table): this is the representative end-to-end
    signature-computation query, so its bench number measures the full
    shingle→hash→min pipeline, not a parquet read."""
    return band_pairs(minhash_signatures(spark, sf_dir))


def _dedup_minhash_sql(cap: int = LSH_BUCKET_CAP) -> str:
    """Oracle for the banded candidate join, INCLUDING the giant-bucket
    star-routing of _pairs_from_bands (VERDICT r7 #2: the cap used to live
    only Spark-side, so a >cap bucket at oracle scale would have turned
    every pair-level minhash oracle red — Spark emitting a strict subset).
    Buckets of <= cap docs pair quadratically; bigger buckets emit only the
    (min doc_id, other) star — `a.doc_id < b.doc_id` plus the anchor filter
    reproduces exactly the Spark expansion. Parity is cross-engine-tested
    on a planted mega-bucket at a tiny cap (test_dedup_clusters.py)."""
    r = MINHASH_K // MINHASH_B
    seeds_duck = "[" + ", ".join(str(s) for s in MINHASH_SEEDS) + "]"
    band_hash = portable_hash_sql(
        "cast(b as varchar) || ',' ||"
        f" array_to_string(list_transform(sig[b * {r} + 1:b * {r} + {r}],"
        " x -> cast(x as varchar)), ',')"
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS shingles FROM documents
),
sig AS (
  SELECT doc_id,
         list_transform(range(0, {MINHASH_K}),
                        j -> list_min(list_transform(shingles,
                               s -> xor({portable_hash_sql('s')}, {seeds_duck}[j + 1])))) AS sig
  FROM sh
),
bands AS (
  SELECT doc_id, b, {band_hash} AS band_hash
  FROM sig, range(0, {MINHASH_B}) t(b)
),
bsz AS (
  SELECT b, band_hash, count(*) AS n_docs, min(doc_id) AS anchor
  FROM bands GROUP BY b, band_hash
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
JOIN bsz s ON s.b = a.b AND s.band_hash = a.band_hash
WHERE s.n_docs <= {cap} OR a.doc_id = s.anchor
"""


# --- D33: signature-space similarity estimate --------------------------------

def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated Jaccard for every minhash candidate pair, from signatures
    ALONE: the fraction of the {MINHASH_K} signature slots that agree is an
    unbiased estimator of the true Jaccard (the min-hash property). This
    completes the minhash pipeline: band buckets propose, the estimate
    ranks/filters — and the corpus text is never touched again, which is
    the whole point at 100 TB (the verify that dedup_ngram_jaccard does on
    gram arrays costs a text-wide join; this costs a join against the
    12-long signature table).

    Shape: the PERSISTED signature table serves all three consumers (band
    buckets and both estimate sides) — computed once per corpus, reread
    as parquet (persisted_minhash_signatures, same as dedup_clusters);
    candidates from the banded equi-join, then two doc_id equi-joins
    against the signature table.
    """
    sigs = persisted_minhash_signatures(spark, sf_dir)
    pairs = band_pairs(sigs)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{j}").alias(f"a{j}") for j in range(MINHASH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{j}").alias(f"b{j}") for j in range(MINHASH_K)],
    )
    matches = None
    for j in range(MINHASH_K):
        term = F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            # engine round() is SAFE here (unlike derived ratios):
            # matches/128 is exactly representable (2^7 denominator), so
            # both engines round the same exact value
            F.round(matches / F.lit(MINHASH_K), 4).alias("est_jaccard"),
        )
    )


def _minhash_jaccard_estimate_sql() -> str:
    seeds_duck = "[" + ", ".join(str(s) for s in MINHASH_SEEDS) + "]"
    return f"""
WITH pairs AS ({_dedup_minhash_sql()}),
sig AS (
  SELECT doc_id,
         list_transform(range(0, {MINHASH_K}),
                        j -> list_min(list_transform({_SHINGLES_DUCK},
                               s -> xor({portable_hash_sql('s')}, {seeds_duck}[j + 1])))) AS sig
  FROM documents
)
SELECT p.doc_a, p.doc_b,
       round(len(list_filter(range(0, {MINHASH_K}),
                             j -> sa.sig[j + 1] = sb.sig[j + 1])) * 1.0
             / {MINHASH_K}, 4) AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b
"""


# --- D28: incremental dedup of a new batch against the corpus ----------------

#: deterministic "new batch" membership: doc_id % NEW_DOC_MOD == NEW_DOC_MOD-1
#: (a scale-independent 20% of the corpus plays the freshly-landed batch)
NEW_DOC_MOD = 5


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs INVOLVING a newly-landed batch: new docs are hashed
    fresh, the existing corpus contributes only its PERSISTED signature
    table (persisted_minhash_signatures — no re-shingling of old text),
    and candidates come from a band-bucket equi-join of the new side
    against (old ∪ new) bands. Old×old pairs are never formed — the cost
    per ingest is O(batch) + a join probed by the batch, not O(corpus²)
    or even O(corpus): this is the shape that lets a 100 TB corpus absorb
    a daily drop.

    Identical pair semantics to dedup_minhash restricted to pairs with at
    least one new doc (the oracle states it exactly that way).
    """
    is_new = F.pmod("doc_id", F.lit(NEW_DOC_MOD)) == NEW_DOC_MOD - 1
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new_sigs = minhash_signatures_frame(docs.where(is_new))
    # old side: scan of the persisted corpus signatures (the % predicate
    # filters at the scan but can't row-group-prune; a real pipeline would
    # partition the signature table by ingest batch so old/new is a
    # partition-pruned read)
    old_sigs = persisted_minhash_signatures(spark, sf_dir).where(~is_new)
    new_bands = band_hashes(new_sigs)
    all_bands = band_hashes(old_sigs).unionByName(new_bands)
    return probe_pairs(new_bands, all_bands)


def probe_pairs(new_bands: DataFrame, all_bands: DataFrame) -> DataFrame:
    """Band-bucket probe join — near-dup pairs involving at least one doc
    on the ``new`` side. The ONE definition of the batch-probe pair
    semantics: D28's one-shot ingest and B17's per-micro-batch probe
    (streaming/jobs.py) both call this, so their documented equivalence
    (and the oracle both share) can never drift between two hand-synced
    copies. Deliberately NOT star-capped: per-bucket cost is bounded by
    batch size, not corpus size (see _dedup_incremental_sql)."""
    n, m = new_bands.alias("n"), all_bands.alias("m")
    return (
        n.join(
            m,
            (F.col("n.band_id") == F.col("m.band_id"))
            & (F.col("n.band_hash") == F.col("m.band_hash"))
            & (F.col("n.doc_id") != F.col("m.doc_id")),
        )
        .select(
            F.least("n.doc_id", "m.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "m.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def _dedup_incremental_sql() -> str:
    # cap=2^62 ≈ uncapped: the incremental probe join is NOT star-routed
    # Spark-side (its per-bucket cost is bounded by batch size, not corpus
    # size), so its oracle must expand buckets fully — only the band_pairs
    # consumers mirror the LSH_BUCKET_CAP star
    return f"""
WITH pairs AS ({_dedup_minhash_sql(cap=1 << 62)})
SELECT doc_a, doc_b FROM pairs
WHERE doc_a % {NEW_DOC_MOD} = {NEW_DOC_MOD - 1}
   OR doc_b % {NEW_DOC_MOD} = {NEW_DOC_MOD - 1}
"""


# --- D7: simhash ------------------------------------------------------------

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc {SIMHASH_BITS}-bit simhash fingerprint.

    Pure expression pipeline (no shuffle): word hashes fold into a per-bit
    +/-1 vote vector, votes collapse to the fingerprint. Occurrence-weighted
    (every word occurrence votes). At scale this is a map-only pass;
    near-dup pairing would then block on fingerprint bytes or hamming-ball
    prefixes — the fingerprint itself is the linear-cost part.
    """
    h = portable_hash_spark_sql("w")
    votes = (
        f"aggregate(transform(split(text, ' '), w -> {h}),"
        f" transform(sequence(0, {SIMHASH_BITS - 1}), i -> cast(0 as bigint)),"
        f" (acc, hv) -> zip_with(acc,"
        f"   transform(sequence(0, {SIMHASH_BITS - 1}),"
        f"     i -> if((shiftright(hv, i) & 1) = 1, cast(1 as bigint), cast(-1 as bigint))),"
        f"   (x, y) -> x + y))"
    )
    simhash = (
        f"aggregate(zip_with({votes}, sequence(0, {SIMHASH_BITS - 1}),"
        f" (s, i) -> if(s > 0, shiftleft(cast(1 as bigint), i), cast(0 as bigint))),"
        f" cast(0 as bigint), (a, x) -> a + x)"
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # single-split test parquet: parallelize the 60-bit fold
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return docs.select(
        "doc_id",
        F.expr(simhash).alias("simhash"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
    )


#: simhash Hamming pairing: {SIMHASH_BLOCKS} equal bit-blocks; pigeonhole
#: guarantees any pair within Hamming distance SIMHASH_BLOCKS-1 shares at
#: least one identical block, so the block equi-join has exact recall.
SIMHASH_BLOCKS = 4
SIMHASH_HAMMING_T = SIMHASH_BLOCKS - 1


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs within Hamming distance {SIMHASH_HAMMING_T} of the
    {SIMHASH_BITS}-bit simhash, without an all-pairs comparison.

    Pigeonhole blocking (the standard simhash index, cf. Manku et al.,
    "Detecting Near-Duplicates for Web Crawling", WWW'07): split the
    fingerprint into {SIMHASH_BLOCKS} blocks of {SIMHASH_BITS // SIMHASH_BLOCKS}
    bits. A pair differing in <= {SIMHASH_HAMMING_T} bits cannot touch all
    {SIMHASH_BLOCKS} blocks, so it collides on at least one (block_id,
    block_value) key — candidate recall is exact. Each doc emits
    {SIMHASH_BLOCKS} keys (map-only fan-out), candidates come from one
    equi-join, and the verify is a single JVM expression
    (bit_count(xor)) — no arrays, no Python. At 100 TB: cost is linear in
    docs x blocks plus the join on block keys; a template-heavy corpus can
    produce hot block values (many docs sharing 15 identical bits), the
    same hot-bucket caveat as minhash bands — cap or salt pathological
    keys, and persist fingerprints like persisted_minhash_signatures.
    """
    bits_per = SIMHASH_BITS // SIMHASH_BLOCKS
    mask = (1 << bits_per) - 1
    # Materialize the fingerprints once: the per-doc simhash fold is an
    # O(words x bits) expression, and both halves of the self-join consume
    # it — without the cut Spark recomputes the fold per side (measured
    # 7.2 s -> 0.8 s at sf0.1). The durable form of this cut is a
    # persisted fingerprint table (see persisted_minhash_signatures).
    sh = _cut_lineage(dedup_simhash(spark, sf_dir).select("doc_id", "simhash"))
    blocks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_id"),
                        F.shiftright("simhash", i * bits_per)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for i in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.block_id", "bk.block_val")
    a, b = blocks.alias("a"), blocks.alias("b")
    hamming = F.expr("bit_count(a.simhash ^ b.simhash)")
    return (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # verify BEFORE distinct: shrinks the dedup shuffle to true pairs
        .where(hamming <= SIMHASH_HAMMING_T)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("bigint").alias("hamming"),
        )
        .distinct()
    )


DEDUP_SIMHASH_SQL = f"""
WITH h AS (
  SELECT doc_id, {portable_hash_sql('w')} AS hv
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
),
bits AS (
  SELECT doc_id, i,
         sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, range(0, {SIMHASH_BITS}) t(i)
  GROUP BY doc_id, i
)
SELECT b.doc_id,
       cast(sum(CASE WHEN b.s > 0 THEN (cast(1 as bigint) << b.i) ELSE 0 END) as bigint) AS simhash,
       cast(len(string_split(d.text, ' ')) as bigint) AS n_words
FROM bits b JOIN documents d ON b.doc_id = d.doc_id
GROUP BY b.doc_id, d.text
"""

# oracle goes all-pairs (fine at oracle scale); the Spark side must NOT —
# test_plans asserts the block equi-join, never a cartesian
DEDUP_SIMHASH_PAIRS_SQL = f"""
WITH sh AS ({DEDUP_SIMHASH_SQL})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.simhash, b.simhash)) AS bigint) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_T}
"""


# --- D8: n-gram Jaccard with length blocking --------------------------------

def _jaccard_shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingled corpus: (doc_id, n_words, grams). Kept as a separate stage
    so plan tests can inspect it before dedup_ngram_jaccard cuts lineage.

    ``grams`` is the per-doc DISTINCT shingle set hashed to 64-bit ints
    (``xxhash64``): the candidate join then shuffles 8-byte keys instead of
    ~25-byte gram strings, and the verify-phase ``array_intersect`` runs
    over longs (primitive hashing) instead of strings — measured 2.7× on
    the whole operator. Jaccard over the hashed sets equals string-set
    Jaccard unless two distinct grams of the SAME candidate pair collide
    (~|grams|²/2⁶⁴ ≈ 1e-16 per pair); corpus-wide collisions merely merge
    one gram key consistently on both join sides, so AllPairs prefix
    recall is unaffected. At 100 TB, two xxhash64 seeds (128 bits) drop
    even that risk below hardware-error rates."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.size(F.split("text", " ")).alias("n_words"),
            F.expr(f"transform({_SHINGLES_SPARK}, g -> xxhash64(g))").alias(
                "grams"
            ),
        )
    )


def _jaccard_prefix(docs: DataFrame) -> DataFrame:
    """Df-ordered prefix postings (AllPairs): rank each doc's grams
    rarest-first and keep rank <= n - ceil(t*n) + 1."""
    t = JACCARD_T
    postings = docs.select(
        "doc_id", "n_words", F.size("grams").alias("n_grams"), F.explode("grams").alias("gram")
    )
    gram_df = postings.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        postings.join(gram_df, "gram")
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "gram")),
        )
    )
    return ranked.where(
        F.col("rk") <= F.col("n_grams") - F.ceil(F.lit(t) * F.col("n_grams")) + 1
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-{SHINGLE_W}-gram Jaccard >= {JACCARD_T} pairs, length-blocked,
    with exact df-ordered prefix filtering (AllPairs/PPJoin family).

    Set-similarity join via a *prefix-filtered* inverted index:

    1. explode distinct shingles to (gram, doc) postings and compute each
       gram's document frequency (one groupBy — at corpus scale this is the
       gram dictionary a pipeline keeps anyway);
    2. order every doc's grams rarest-first by (df, gram) and keep only the
       PREFIX of length |A| - ceil(t*|A|) + 1 as join keys. Theorem
       (AllPairs): two sets with Jaccard >= t must share at least one
       prefix gram under any shared global ordering — so candidate recall
       is exact, while the join never touches the hot tail of the df
       distribution (stopword-like grams with huge posting lists, the thing
       that melts inverted-index joins at 100 TB);
    3. equi-join prefix postings (plus the |n_words| diff < {LEN_BLOCK_W}
       length block) -> candidate pairs, then the PPJoin POSITIONAL
       filter: per pair, the shared-prefix-gram count c plus what can
       still overlap after the last matched prefix position,
       c + min(|A| - max rk_A, |B| - max rk_B), upper-bounds the true
       overlap; Jaccard >= t needs overlap >= ceil(t/(1+t) * (|A|+|B|)),
       so pairs whose bound falls short are dropped BEFORE the expensive
       verify (halves the candidate set at sf0.1, 153k -> 79k, at the
       same shuffle cost — the groupBy replaces the distinct);
    4. verify candidates only: exact Jaccard from the two docs' full
       hashed-gram arrays. Per-pair array intersection is confined to the
       pruned candidate set — the standard verify phase, linear in
       candidates.
    """
    # Materialize the shingled corpus once: it feeds THREE consumers
    # (postings and both verify sides) and the df-ranked prefix feeds both
    # halves of the self-join — without the cut, Spark recomputes the
    # shingle transform and both expensive shuffles (groupBy gram, window
    # by doc_id) per branch (12 parquet scans observed; 6 after).  A real
    # pipeline persists the gram table anyway (see
    # persisted_minhash_signatures for the durable form).
    docs = _cut_lineage(_jaccard_shingled(spark, sf_dir))
    prefix = _cut_lineage(_jaccard_prefix(docs))
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_words").alias("na_words"),
        F.col("n_grams").alias("na_grams"),
        F.col("rk").alias("rk_a"),
        "gram",
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_words").alias("nb_words"),
        F.col("n_grams").alias("nb_grams"),
        F.col("rk").alias("rk_b"),
        "gram",
    )
    # size filter: Jaccard >= t forces |A∩B| >= t*max and |A∩B| <= min,
    # so min(|A|,|B|) >= t*max(|A|,|B|) — prunes candidates for free
    # before the (wider) length block
    size_ok = F.least("na_grams", "nb_grams") >= JACCARD_T * F.greatest("na_grams", "nb_grams")
    raw = a.join(b, "gram").where(
        (F.col("doc_a") < F.col("doc_b"))
        & size_ok
        & (F.abs(F.col("na_words") - F.col("nb_words")) < LEN_BLOCK_W)
    )
    # PPJoin positional filter (the groupBy doubles as the pair-distinct):
    # overlap >= alpha = ceil(t/(1+t)*(|A|+|B|)) is equivalent to
    # Jaccard >= t; c shared prefix grams + the suffix remaining after the
    # deepest matched prefix rank bounds the achievable overlap from above.
    per_pair = raw.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("c"),
        F.max("rk_a").alias("mrk_a"),
        F.max("rk_b").alias("mrk_b"),
        F.first("na_grams").alias("na_grams"),
        F.first("nb_grams").alias("nb_grams"),
    )
    alpha = F.ceil(
        F.lit(JACCARD_T / (1.0 + JACCARD_T))
        * (F.col("na_grams") + F.col("nb_grams"))
    )
    overlap_ub = F.col("c") + F.least(
        F.col("na_grams") - F.col("mrk_a"), F.col("nb_grams") - F.col("mrk_b")
    )
    cands = per_pair.where(overlap_ub >= alpha).select("doc_a", "doc_b")
    ga = docs.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("grams_a"))
    gb = docs.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("grams_b"))
    common = F.size(F.array_intersect("grams_a", "grams_b"))
    jac = common / (F.size("grams_a") + F.size("grams_b") - common)
    return (
        cands.join(ga, "doc_a")
        .join(gb, "doc_b")
        # derived RATIO: portable floor round (r5 .xxxx5 class); the
        # >= threshold then filters on the identically-rounded value in
        # both engines, so boundary membership matches
        .select("doc_a", "doc_b", _round4(jac).alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_T)
    )


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH g AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS grams,
         len(string_split(text, ' ')) AS n_words
  FROM documents
),
blocked AS (
  SELECT doc_id, grams, n_words,
         unnest([n_words // {LEN_BLOCK_W}, n_words // {LEN_BLOCK_W} + 1]) AS block
  FROM g
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       floor((len(list_intersect(a.grams, b.grams)) * 1.0
              / len(list_distinct(list_concat(a.grams, b.grams))))
             * 10000.0 + 0.5) / 10000.0 AS jaccard
FROM blocked a
JOIN blocked b
  ON a.block = b.block AND a.doc_id < b.doc_id
 AND abs(a.n_words - b.n_words) < {LEN_BLOCK_W}
WHERE floor((len(list_intersect(a.grams, b.grams)) * 1.0
             / len(list_distinct(list_concat(a.grams, b.grams))))
            * 10000.0 + 0.5) / 10000.0 >= {JACCARD_T}
"""


# --- D9: embedding near-dup pairs -------------------------------------------

def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: label-blocked cosine >= {EMB_COS_T}.

    Blocks on the label column so the self-join is an equi-join (at scale:
    the blocking key would be a coarse cluster / LSH bucket assignment — the
    shape is identical). Cosine runs JVM-side via zip_with/aggregate
    (frolyk_spark.functions.vectors) — the vectors never leave the JVM.
    """
    from frolyk_spark.functions.vectors import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    a, b = emb.alias("a"), emb.alias("b")
    cos = cosine(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(b, "label")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("label"),
            _round4(cos).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= EMB_COS_T)
    )


def _dedup_embedding_sql() -> str:
    from frolyk_spark.functions.vectors import cosine_sql

    cos = cosine_sql("a.embedding", "b.embedding")
    return f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
       floor(({cos}) * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE floor(({cos}) * 10000.0 + 0.5) / 10000.0 >= {EMB_COS_T}
"""


# --- D15: duplicate clusters (connected components over candidate pairs) ----

CC_MAX_ITERS = 20


# shared infrastructure since r5 (three operator families use it); the
# underscore alias keeps this module's call sites unchanged
from frolyk_spark.functions.lineage import cut_lineage as _cut_lineage  # noqa: E402


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the minhash candidate
    pairs, by iterative min-label propagation. Each round every vertex
    takes the min label among itself and its neighbors; rounds repeat until
    a fixpoint (checked with a count action — the only driver-side value,
    one long per round). Near-dup components have tiny diameter, so this
    converges in a handful of rounds; each round is one shuffle on doc_id.
    The cluster id is the component's min doc_id — its canonical document.

    Iterative, hence no SQL oracle; tests/test_dedup_clusters.py checks
    against a union-find ground truth on the collected pair list.

    Candidate pairs come from the PERSISTED signature table
    (persisted_minhash_signatures): the LSH pipeline's expensive stage —
    hashing every shingle of every document — runs once per corpus and is
    reread from parquet here, the incremental shape a real pipeline needs.
    """
    # first touch builds the artifact before the loop is sized from it
    path, nbytes = _minhash_artifact(spark, sf_dir)
    pairs = band_pairs(spark.read.parquet(path))
    return min_label_clusters(pairs, big_bytes=nbytes)


def min_label_propagation(
    pairs: DataFrame,
    max_iters: int,
    *,
    symmetric: bool = False,
    big_bytes: int = 0,
) -> tuple[DataFrame, bool]:
    """The level-synchronous min-label loop itself, factored from
    min_label_clusters (r13, for the graph block's components_parts):
    returns ((doc_id, label), converged) after at most ``max_iters``
    propagation rounds, stopping early the first round nothing changes
    (bit-identical to running out the budget — stable labels are a
    fixpoint). One doc_id shuffle per round, lineage cut per round,
    fixpoint detected with a one-long count action — never a
    path-enumerating recursive CTE (CLAUDE.md graph rule). The early
    stop means ``converged`` matches a fixed-round oracle's
    "did the last two unrolled rounds agree" check in every case,
    including a fixpoint landing exactly on the final round (both
    report False — conservative, identically).

    ``symmetric=True`` declares the input already holds BOTH directions
    of every edge (e.g. the persisted co-purchase table) — the
    symmetrizing union is skipped. ``big_bytes`` (on-disk size of a
    persisted input) feeds the loop's partition sizing.

    Fixed-plan loop (r15 optimization, functions.loops): AQE and
    auto-broadcast off for the rounds, the edge frame checkpointed ONCE
    pre-partitioned on doc_b (one shuffle now instead of a per-round
    broadcast-or-shuffle of the edge side), and the label state keeps
    hash(doc_id) through every checkpoint (distinct partitions it; the
    per-round cut preserves it) — each round runs exactly ONE exchange,
    the neighbor-min aggregate transport, at any scale."""
    from frolyk_spark.functions.loops import fixed_plan_loop

    if max_iters < 1:
        # the lazy edge cut below is materialized by round 1's fixpoint
        # count, which must run INSIDE fixed_plan_loop; with no round it
        # would materialize later, under whatever conf the caller has
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    spark = pairs.sparkSession
    with fixed_plan_loop(spark, big_bytes=big_bytes) as nparts:
        if symmetric:
            base = pairs.select("doc_a", "doc_b")
        else:
            base = pairs.select("doc_a", "doc_b").union(
                pairs.select(
                    F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
                )
            )
        # materialize once, PRE-PARTITIONED on the round join key: every
        # round joins edges on doc_b, so paying one exchange here makes
        # all max_iters round joins co-partitioned (zero edge-side
        # exchanges) — strictly fewer shuffles than re-shuffling (or
        # broadcasting) the edge side per round whenever rounds >= 2,
        # which is why the former symmetric-scan cheap-rescan exception
        # no longer applies. The cut is LAZY (r16): round 1's fixpoint
        # count joins every edge partition, so it doubles as the
        # materializing action — one fewer job per invocation, which the
        # per-batch callers (stream_components: 4 invocations per run)
        # feel most.
        edges = _cut_lineage(base.repartition(nparts, "doc_b"), eager=False)
        labels = (
            edges.select(F.col("doc_a").alias("doc_id"))
            .distinct()
            .withColumn("label", F.col("doc_id"))
        )
        converged = False
        # ONE action per round (r15 optimization): the change marker is
        # computable from the SAME join that produces the new label
        # (changed ⇔ a neighbor label strictly below the old one exists), so
        # the fixpoint count doubles as the materializing action over a
        # lazily-cut round frame — the old shape paid 2 jobs/round (eager
        # checkpoint + a new-vs-old equi-join count); this pays 1 and drops
        # that extra O(n) join entirely. The lazy cut truncates the plan the
        # same way the eager one did; the count scans every partition, so
        # the blocks are fully materialized before the next round derives
        # from them.
        for _ in range(max_iters):
            neighbor_min = (
                edges.join(labels, edges.doc_b == labels.doc_id)
                .groupBy("doc_a")
                .agg(F.min("label").alias("nbr_label"))
            )
            staged = _cut_lineage(
                labels.join(neighbor_min, labels.doc_id == neighbor_min.doc_a, "left")
                .select(
                    "doc_id",
                    F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"),
                    (
                        F.col("nbr_label").isNotNull()
                        & (F.col("nbr_label") < F.col("label"))
                    ).alias("chg"),
                ),
                eager=False,
            )
            changed = staged.where("chg").count()
            labels = staged.select("doc_id", "label")
            if changed == 0:
                converged = True
                break
    return labels, converged


def min_label_clusters(pairs: DataFrame, *, big_bytes: int = 0) -> DataFrame:
    """The reusable CC core (factored out in r11 for the media dedup
    family): iterative min-label propagation over a (doc_a, doc_b) pair
    frame -> (doc_id, cluster_id, is_canonical). Near-dup components
    have tiny diameter, so non-convergence inside CC_MAX_ITERS is a
    defect here (raise loudly); graph residents with a fixed round
    budget call min_label_propagation directly and surface the flag.

    ``big_bytes``: on-disk size of the persisted artifact the pairs
    derive from (signature/dHash table) — feeds the loop's partition
    sizing so the fixed-plan rounds scale with the input instead of
    pinning the cores//2 floor with AQE off (r15 verdict item 2: the
    band-pair frame scales with the corpus; at 100 TB an unsized loop
    is a spill risk with no adaptive rescue)."""
    labels, converged = min_label_propagation(
        pairs, CC_MAX_ITERS, big_bytes=big_bytes
    )
    if not converged:
        raise RuntimeError(
            f"min_label_clusters did not converge in {CC_MAX_ITERS} rounds — "
            "component diameter exceeds the iteration cap; raise CC_MAX_ITERS"
        )
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_canonical"),
    )


def _cc_closure_sql() -> str:
    """Shared recursive-CTE fragment (pairs/edges/reach) for the CC
    oracles: the transitive closure of reachable labels, where each
    vertex's cluster is the MIN label it can reach — exactly the
    fixpoint the Spark-side min-label propagation converges to. ONE
    definition so _dedup_clusters_sql and _dedup_canonical_sql can never
    drift apart. Tractable for the oracle because near-dup components
    are tiny; the Spark side stays iterative (a closure would be
    quadratic in component size at corpus scale)."""
    return f"""pairs AS ({_dedup_minhash_sql()}),
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
reach(doc, label) AS (
  SELECT DISTINCT doc_a AS doc, doc_a AS label FROM edges
  UNION
  SELECT e.doc_a, r.label FROM edges e JOIN reach r ON r.doc = e.doc_b
)"""


def _dedup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE {_cc_closure_sql()}
SELECT doc AS doc_id,
       min(label) AS cluster_id,
       (min(label) = doc) AS is_canonical
FROM reach GROUP BY doc
"""


# --- D39: cluster canonicalization (keep-best per near-dup cluster) ----------

def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step after clustering: pick the member to KEEP per near-dup
    cluster — here the longest document (n_chars, doc_id tiebreak), the
    standard "keep the most complete copy" policy — and report cluster
    size. Composes dedup_clusters (iterative CC over persisted-signature
    band pairs) with a per-cluster top-1 window; near-dup clusters are
    tiny by construction, so the window state is a handful of rows per
    key and the join against documents is an equi-join on doc_id that
    touches only clustered docs (a semi-join-sized subset of the corpus).

    Oracle: the recursive-CTE closure from dedup_clusters + the same
    ranking window.
    """
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = clusters.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        ranked.withColumn("rk", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))
        .where(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("n_chars").cast("bigint").alias("n_chars_kept"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


def _dedup_canonical_sql() -> str:
    return f"""
WITH RECURSIVE {_cc_closure_sql()},
cl AS (SELECT doc AS doc_id, min(label) AS cluster_id FROM reach GROUP BY doc),
ranked AS (
  SELECT cl.cluster_id, cl.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY cl.cluster_id
                            ORDER BY d.n_chars DESC, cl.doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY cl.cluster_id) AS n_members
  FROM cl JOIN documents d USING (doc_id)
)
SELECT cluster_id, doc_id AS keep_doc_id,
       CAST(n_chars AS BIGINT) AS n_chars_kept,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rk = 1
"""


# --- D46: LSH banding-parameter sweep ----------------------------------------

#: band counts swept (k=12 divisors: r = 6, 4, 3, 2 rows per band)
SWEEP_BAND_COUNTS = (2, 3, 4, 6)


def lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH tuning table: for each banding of the k={MINHASH_K}
    signature (b bands × r rows), the candidate-pair count, the mean
    signature-agreement (estimated Jaccard) of those candidates, AND the
    ground-truth-anchored confusion counts against the D8 exact-Jaccard
    truth (n_true, tp, fp, fn) — the per-(b,r) PRECISION/RECALL table an
    operator actually picks a banding from (r13 verdict item 6: D85 gave
    tp/fp/fn at the shipped config only, D46 gave counts without truth —
    this closes the tuning loop by classifying EVERY config's candidates
    against the same truth set). The S-curve 1-(1-j^r)^b made concrete on
    the actual corpus, with recall loss (fn) and wasted verifies (fp) in
    exact BIGINTs per row; counts stay un-divided (no-ratios rule) — the
    consumer divides.

    Shape: the persisted signature table (computed once per corpus) is
    lineage-cut and re-banded per config — each config is the standard
    banded equi-join plus two signature joins plus ONE pair-keyed
    classify join against the (lineage-cut, shared across configs +
    the n_true aggregate) truth pair set; text is never touched.
    Per-config output is ONE row (exact integer sums; the mean is one
    division), so the union is a {len(SWEEP_BAND_COUNTS)}-row frame.
    tp+fp == n_pairs and tp+fn == n_true by construction
    (property-tested), and the b={MINHASH_B} row reproduces dedup_eval.
    """
    sigs = _cut_lineage(persisted_minhash_signatures(spark, sf_dir))
    truth = _cut_lineage(
        dedup_ngram_jaccard(spark, sf_dir).select(
            "doc_a", "doc_b", F.lit(1).alias("is_true")
        )
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{j}").alias(f"a{j}") for j in range(MINHASH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{j}").alias(f"b{j}") for j in range(MINHASH_K)],
    )
    matches = None
    for j in range(MINHASH_K):
        term = F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    from frolyk_spark.functions.portable import round4

    out = None
    for b_cnt in SWEEP_BAND_COUNTS:
        pairs = _pairs_from_bands(_band_hashes_for(sigs, b_cnt))
        agg = (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .join(truth, ["doc_a", "doc_b"], "left")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.coalesce(F.sum(matches), F.lit(0)).cast("bigint").alias(
                    "sum_matches"
                ),
                F.coalesce(F.sum("is_true"), F.lit(0)).cast("bigint").alias(
                    "tp"
                ),
            )
            .select(
                F.lit(b_cnt).cast("int").alias("bands"),
                F.lit(MINHASH_K // b_cnt).cast("int").alias("rows_per_band"),
                "n_pairs",
                F.when(
                    F.col("n_pairs") > 0,
                    round4(
                        F.col("sum_matches").cast("double")
                        / (F.lit(float(MINHASH_K)) * F.col("n_pairs").cast("double"))
                    ),
                ).alias("mean_est_jaccard"),
                "tp",
            )
        )
        out = agg if out is None else out.unionAll(agg)
    n_true1 = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    return (
        out.crossJoin(F.broadcast(n_true1))
        .select(
            "bands",
            "rows_per_band",
            "n_pairs",
            "mean_est_jaccard",
            "n_true",
            "tp",
            (F.col("n_pairs") - F.col("tp")).cast("bigint").alias("fp"),
            (F.col("n_true") - F.col("tp")).cast("bigint").alias("fn"),
        )
        .orderBy("bands")
    )


def _lsh_band_sweep_sql() -> str:
    seeds_duck = "[" + ", ".join(str(s) for s in MINHASH_SEEDS) + "]"
    parts = []
    for b_cnt in SWEEP_BAND_COUNTS:
        r = MINHASH_K // b_cnt
        band_hash = portable_hash_sql(
            "cast(b as varchar) || ',' ||"
            f" array_to_string(list_transform(sig[b * {r} + 1:b * {r} + {r}],"
            " x -> cast(x as varchar)), ',')"
        )
        mean_expr = (
            f"CAST(coalesce(sum(len(list_filter(range(1, {MINHASH_K} + 1),"
            f" j -> sa.sig[j] = sb.sig[j]))), 0) AS DOUBLE)"
            f" / ({MINHASH_K}.0 * CAST(count(*) AS DOUBLE))"
        )
        from frolyk_spark.functions.portable import round4_sql

        parts.append(f"""
SELECT {b_cnt} AS bands, {r} AS rows_per_band,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CASE WHEN count(*) > 0 THEN
         {round4_sql(mean_expr)}
       END AS mean_est_jaccard,
       CAST(coalesce(sum(tm.is_true), 0) AS BIGINT) AS tp
FROM (
  WITH bands_{b_cnt} AS (
    SELECT doc_id, b, {band_hash} AS band_hash
    FROM sig, range(0, {b_cnt}) t(b)
  ),
  bsz_{b_cnt} AS (
    SELECT b, band_hash, count(*) AS n_docs, min(doc_id) AS anchor
    FROM bands_{b_cnt} GROUP BY b, band_hash
  )
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_{b_cnt} a
  JOIN bands_{b_cnt} b
    ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
  JOIN bsz_{b_cnt} s ON s.b = a.b AND s.band_hash = a.band_hash
  WHERE s.n_docs <= {LSH_BUCKET_CAP} OR a.doc_id = s.anchor
) p
JOIN sig sa ON p.doc_a = sa.doc_id
JOIN sig sb ON p.doc_b = sb.doc_id
LEFT JOIN tm ON tm.doc_a = p.doc_a AND tm.doc_b = p.doc_b""")
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_DUCK} AS shingles FROM documents
),
sig AS (
  SELECT doc_id,
         list_transform(range(0, {MINHASH_K}),
                        j -> list_min(list_transform(shingles,
                               s -> xor({portable_hash_sql('s')}, {seeds_duck}[j + 1])))) AS sig
  FROM sh
),
tm AS MATERIALIZED (
  SELECT doc_a, doc_b, 1 AS is_true
  FROM ({DEDUP_NGRAM_JACCARD_SQL}) q
),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tm)
SELECT u.bands, u.rows_per_band, u.n_pairs, u.mean_est_jaccard,
       nt.n_true, u.tp,
       CAST(u.n_pairs - u.tp AS BIGINT) AS fp,
       CAST(nt.n_true - u.tp AS BIGINT) AS fn
FROM (
{union}
) u CROSS JOIN nt
ORDER BY bands
"""


# --- D55: containment (doc-in-doc) dedup -------------------------------------

def minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment for every minhash candidate pair:
    |A∩B| / min(|A|, |B|) over the distinct hashed shingle sets. Jaccard
    misses subset duplicates — a short doc embedded inside a long one has
    low |A∩B|/|A∪B| but containment ≈ 1 — and catching those (quote
    farms, wrapper pages, partial mirrors) is a standard corpus-dedup
    pass alongside near-dup Jaccard.

    Shape: candidates come from the SAME persisted-signature band buckets
    every minhash consumer uses (no new corpus pass to propose pairs);
    exact verification is two equi-joins of the candidate list against
    the hashed shingle postings — the postings frame is lineage-cut
    because it feeds three plan arms (both join sides and the set
    sizes). Intersection counting inner-joins, so a band-collision pair
    sharing zero shingles drops identically on both engines. Containment
    rounds with the portable round4 (derived ratio).
    """
    from frolyk_spark.functions.portable import round4

    sigs = persisted_minhash_signatures(spark, sf_dir)
    pairs = band_pairs(sigs)
    docs = load_table(spark, sf_dir, "documents")
    post = _cut_lineage(_shingle_postings(docs))
    sizes = post.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pa = post.select(F.col("doc_id").alias("doc_a"), "h")
    pb = post.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        pairs.join(pa, "doc_a")
        .join(pb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "inter",
            round4(
                F.col("inter").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _minhash_containment_sql() -> str:
    from frolyk_spark.functions.portable import round4_sql

    return f"""
WITH pairs AS ({_dedup_minhash_sql()}),
ph AS (
  SELECT doc_id, {portable_hash_sql('s')} AS h
  FROM (SELECT doc_id, unnest({_SHINGLES_DUCK}) AS s FROM documents)
),
sizes AS (
  SELECT doc_id, cast(count(*) AS BIGINT) AS n FROM ph GROUP BY doc_id
),
inter AS (
  SELECT p.doc_a, p.doc_b, cast(count(*) AS BIGINT) AS inter
  FROM pairs p
  JOIN ph a ON a.doc_id = p.doc_a
  JOIN ph b ON b.doc_id = p.doc_b AND b.h = a.h
  GROUP BY p.doc_a, p.doc_b
)
SELECT i.doc_a, i.doc_b, sa.n AS n_a, sb.n AS n_b, i.inter,
       {round4_sql('cast(i.inter AS DOUBLE) / cast(least(sa.n, sb.n) AS DOUBLE)')}
         AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
ORDER BY i.doc_a, i.doc_b
"""


# --- D57: transitive containment chains (Spark recursive CTE) ----------------

#: chain edges: containment at or above this is treated as "contained in"
CHAIN_T = 0.7


def containment_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the containment relation — mirror-of-a-mirror
    chains (a ⊑ b ⊑ c), with the minimum hop count per (ancestor,
    descendant) pair. The edge set is ACYCLIC by construction (doc_a <
    doc_b on every containment pair), so the closure is a level-synchronous
    BFS over pair states (_chain_closure). Oracle: the equivalent
    `WITH RECURSIVE` min-depth recursion in DuckDB over identical edges —
    tractable there because oracle-scale chains are tiny.
    """
    edges = (
        minhash_containment(spark, sf_dir)
        .where(F.col("containment") >= CHAIN_T)
        .select("doc_a", "doc_b")
    )
    return _chain_closure(spark, edges)


#: longest chain the BFS closure will follow before failing loudly — an
#: acyclic containment chain deeper than this means the threshold is
#: admitting everything (a ⊑ b at 0.7 is near-duplication; 64 nested
#: mirrors-of-mirrors is a data bug, not a chain)
CHAIN_MAX_DEPTH = 64


def _chain_closure(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Min-hop transitive closure of an acyclic (doc_a < doc_b) edge frame
    via a LEVEL-SYNCHRONOUS BFS frontier loop (multi-hop semantics
    pytest-checked on a synthetic DAG in tests/test_semantics.py).

    r6 ADVICE retired the previous `WITH RECURSIVE` form: UNION ALL
    recursion enumerates PATHS, and path counts are exponential in DAG
    *shape*, not vertex degree — a chained-diamond DAG (a->{b1,b2}->c->…)
    doubles path counts per stage at degree 3, while a benign 14-mirror
    star (linear paths) tripped the old CHAIN_MAX_DEGREE guard. The BFS
    frontier materializes at most one row per NEW (anc, descn) pair per
    level (distinct + anti-join vs the accumulated closure), so total work
    is O(diameter * |closure|) for EVERY DAG shape — polynomial by
    construction, no shape guard needed. Each level is one equi-join on
    the frontier's tail vertex + one distinct + one anti-join, all
    shuffle-partitioned on keys; driver-side state is one boolean
    (isEmpty) per level. The edge frame is lineage-cut once — every level
    joins it, and an uncut edge pipeline (the whole containment verify)
    would re-execute per level (measured 5.9 s -> 2.3 s warm at sf0.1);
    frontier/closure are cut per level like dedup_clusters' labels."""
    edges = _cut_lineage(edges)
    closure = edges.select("doc_a", "doc_b", F.lit(1).alias("min_depth"))
    frontier = closure.select("doc_a", "doc_b")
    # ONE action per level (r15 optimization): the emptiness probe is a
    # count over the lazily-cut frontier, which doubles as the level's
    # materializing action (the old shape paid cut+isEmpty+cut = 3 jobs
    # per level). The accumulated closure is ALSO lazily cut — its blocks
    # materialize inside the NEXT level's count job (whose anti-join
    # scans every closure partition) or, for the final level, inside the
    # caller's action.
    for depth in range(2, CHAIN_MAX_DEPTH + 1):
        # extend the frontier one hop; BFS order makes first-reach = min-hop
        nxt = _cut_lineage(
            frontier.alias("c")
            .join(edges.alias("e"), F.col("c.doc_b") == F.col("e.doc_a"))
            .select(F.col("c.doc_a").alias("doc_a"), F.col("e.doc_b").alias("doc_b"))
            .distinct()
            .join(closure.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"),
            eager=False,
        )
        if nxt.count() == 0:
            break
        closure = _cut_lineage(
            closure.unionByName(nxt.withColumn("min_depth", F.lit(depth))),
            eager=False,
        )
        frontier = nxt
    else:
        raise RuntimeError(
            f"containment chains deeper than {CHAIN_MAX_DEPTH} hops — the "
            "containment threshold is admitting everything; raise CHAIN_T "
            "or run dedup_clusters on this corpus"
        )
    return (
        closure.select(
            "doc_a", "doc_b", F.col("min_depth").cast("bigint").alias("min_depth")
        )
        .orderBy("doc_a", "doc_b")
    )


def _containment_chains_sql() -> str:
    return f"""
WITH RECURSIVE edges AS (
  SELECT doc_a, doc_b FROM ({_minhash_containment_sql()})
  WHERE containment >= {CHAIN_T}
),
chain(anc, descn, depth) AS (
  SELECT doc_a, doc_b, 1 FROM edges
  UNION ALL
  SELECT c.anc, e.doc_b, c.depth + 1
  FROM chain c JOIN edges e ON e.doc_a = c.descn
)
SELECT anc AS doc_a, descn AS doc_b, cast(min(depth) AS BIGINT) AS min_depth
FROM chain GROUP BY anc, descn ORDER BY doc_a, doc_b
"""


# --- D76: contrastive training triplets from the dedup pipeline ---------------

#: hash-ring buckets for negative selection (the sequence_pack bucket
#: treatment: the ring successor is found WITHIN a hash bucket so the
#: ordering window is partitioned, never a single-partition global sort)
RING_BUCKETS = 64
_RING_WIDTH = (1 << 60) // RING_BUCKETS + 1


def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-training triplets mined from the dedup pipeline (D76):
    (anchor, positive, negative, n_agree). Anchors and positives are the
    minhash candidate pairs — the weak-supervision positive signal an
    embedding trainer mines from near-dups — with the signature-agreement
    count (of {MINHASH_K} slots) as an integer confidence. The negative
    is the anchor's SUCCESSOR on the portable-hash ring: deterministic,
    uniformly distributed over the corpus, and computed inside hash
    BUCKETS (partitioned window + per-bucket wrap-around) so no
    single-partition global sort exists. When the successor happens to
    BE the paired positive, the next ring slot is taken; a successor
    that is some OTHER near-dup of the anchor is accepted — occasional
    false negatives are inherent to random-negative mining and a trainer
    tolerates them (documented rule, mirrored exactly in the oracle).

    Reads the PERSISTED signature table (computed once per corpus);
    three doc_id equi-joins and one bucket-partitioned window.
    """
    sigs = persisted_minhash_signatures(spark, sf_dir)
    pairs = band_pairs(sigs)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{j}").alias(f"a{j}") for j in range(MINHASH_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{j}").alias(f"b{j}") for j in range(MINHASH_K)],
    )
    agree = None
    for j in range(MINHASH_K):
        term = F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    scored = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", agree.cast("bigint").alias("n_agree"))
    )
    ring = sigs.select("doc_id").withColumn(
        "hk", portable_hash_expr(F.col("doc_id").cast("string"))
    ).withColumn("bucket", (F.col("hk") / _RING_WIDTH).cast("int"))
    wb = Window.partitionBy("bucket").orderBy("hk", "doc_id")
    ring = (
        ring.withColumn("succ1", F.lead("doc_id", 1).over(wb))
        .withColumn("succ2", F.lead("doc_id", 2).over(wb))
        .withColumn("rn", F.row_number().over(wb))
    )
    firsts = ring.groupBy("bucket").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("f1"),
        F.max(F.when(F.col("rn") == 2, F.col("doc_id"))).alias("f2"),
    )
    ring = ring.join(firsts, "bucket").select(
        F.col("doc_id").alias("doc_a"),
        F.coalesce("succ1", "f1").alias("cand1"),
        F.coalesce("succ2", F.when(F.col("succ1").isNull(), F.col("f2")).otherwise(F.col("f1"))).alias("cand2"),
    )
    out = scored.join(ring, "doc_a").select(
        F.col("doc_a").alias("anchor_doc"),
        F.col("doc_b").alias("positive_doc"),
        F.when(F.col("cand1") != F.col("doc_b"), F.col("cand1"))
        .otherwise(F.col("cand2"))
        .alias("negative_doc"),
        "n_agree",
    )
    # a 1-doc bucket yields negative == anchor (its own wrap-around) or a
    # null cand2; both engines drop the identical degenerate rows
    return out.where(
        F.col("negative_doc").isNotNull()
        & (F.col("negative_doc") != F.col("anchor_doc"))
    )


def _contrastive_pairs_sql() -> str:
    seeds_duck = "[" + ", ".join(str(s) for s in MINHASH_SEEDS) + "]"
    hk = portable_hash_sql("cast(doc_id AS varchar)")
    return f"""
WITH pairs AS ({_dedup_minhash_sql()}),
sig AS (
  SELECT doc_id,
         list_transform(range(0, {MINHASH_K}),
                        j -> list_min(list_transform({_SHINGLES_DUCK},
                               s -> xor({portable_hash_sql('s')}, {seeds_duck}[j + 1])))) AS sig
  FROM documents
),
scored AS (
  SELECT p.doc_a, p.doc_b,
         CAST(len(list_filter(range(0, {MINHASH_K}),
                              j -> sa.sig[j + 1] = sb.sig[j + 1])) AS BIGINT)
           AS n_agree
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b
),
ring0 AS (
  SELECT doc_id, {hk} AS hk,
         CAST({hk} // {_RING_WIDTH} AS INT) AS bucket
  FROM documents
),
ring1 AS (
  SELECT doc_id, bucket,
         lead(doc_id, 1) OVER w AS succ1,
         lead(doc_id, 2) OVER w AS succ2,
         row_number() OVER w AS rn
  FROM ring0
  WINDOW w AS (PARTITION BY bucket ORDER BY hk, doc_id)
),
firsts AS (
  SELECT bucket,
         max(CASE WHEN rn = 1 THEN doc_id END) AS f1,
         max(CASE WHEN rn = 2 THEN doc_id END) AS f2
  FROM ring1 GROUP BY bucket
),
ring AS (
  SELECT r.doc_id AS doc_a,
         coalesce(r.succ1, f.f1) AS cand1,
         coalesce(r.succ2,
                  CASE WHEN r.succ1 IS NULL THEN f.f2 ELSE f.f1 END) AS cand2
  FROM ring1 r JOIN firsts f USING (bucket)
)
SELECT s.doc_a AS anchor_doc, s.doc_b AS positive_doc,
       CASE WHEN r.cand1 <> s.doc_b THEN r.cand1 ELSE r.cand2 END
         AS negative_doc,
       s.n_agree
FROM scored s JOIN ring r ON r.doc_a = s.doc_a
WHERE (CASE WHEN r.cand1 <> s.doc_b THEN r.cand1 ELSE r.cand2 END)
        IS NOT NULL
  AND (CASE WHEN r.cand1 <> s.doc_b THEN r.cand1 ELSE r.cand2 END)
        <> s.doc_a
"""


# --- D80: maximal exact-substring dedup (suffix-array-style) -----------------

#: minimum duplicated-span length in tokens to report (Lee et al. 2022,
#: arXiv:2107.06499 use 50 tokens as the ExactSubstr threshold)
SUBSTR_MIN_TOKENS = 50

#: chaining guard: grams occurring more than this many times corpus-wide are
#: excluded from pair chaining (a gram with occ occurrences fans out to
#: occ^2 pair rows — the dedup_minhash giant-bucket posture, mirrored into
#: the oracle so both engines split runs identically). At the shipped SFs
#: max occ is 4, so the cap is inert locally; at 100 TB it bounds the
#: boilerplate-gram blowup the same way Lee et al.'s practical filters do.
SUBSTR_OCC_CAP = 16


def _substring_runs_frame(
    docs_in: DataFrame,
    min_tokens: int = SUBSTR_MIN_TOKENS,
    occ_cap: int = SUBSTR_OCC_CAP,
):
    """Shared maximal-run machinery for D80 (the span REPORT) and D84
    (the span REMOVAL): returns (docs, runs) where docs = (doc_id, text,
    n_tokens) and runs = one row per maximal cross-document equal token
    run of >= min_tokens tokens — (doc_a < doc_b, off = pa-pb, start_a,
    len_tokens). See dedup_substring_frame for the gaps-and-islands
    construction and why it is exact for spans >= the gram width."""
    from frolyk_spark.functions.lineage import cut_lineage
    from frolyk_spark.operators.pipeline import SPAN_W, _positional_postings_frame

    docs, postings = _positional_postings_frame(docs_in)
    occ = postings.groupBy("h").agg(F.count(F.lit(1)).alias("occ"))
    chainable = occ.where(
        (F.col("occ") >= 2) & (F.col("occ") <= occ_cap)
    ).select("h")
    # computed frame feeding both sides of a self-join -> cut (CLAUDE.md);
    # tiny after the shared-gram filter (~1% of postings)
    post = cut_lineage(
        postings.join(chainable, "h").select("h", "doc_id", "pos")
    )
    a = post.select("h", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"))
    b = post.select("h", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"))
    pairs = (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "pa",
            (F.col("pa") - F.col("pb")).alias("off"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "off").orderBy("pa")
    isl = pairs.withColumn("grp", F.col("pa") - F.row_number().over(w))
    runs = (
        isl.groupBy("doc_a", "doc_b", "off", "grp")
        .agg(
            F.min("pa").alias("start_a"),
            (F.count(F.lit(1)) + (SPAN_W - 1)).cast("bigint").alias("len_tokens"),
        )
        .where(F.col("len_tokens") >= min_tokens)
    )
    return docs, runs


def dedup_substring_frame(
    docs_in: DataFrame,
    min_tokens: int = SUBSTR_MIN_TOKENS,
    occ_cap: int = SUBSTR_OCC_CAP,
) -> DataFrame:
    """All maximal cross-document exact-substring duplicates of
    ``min_tokens`` or more tokens in a (doc_id, text) frame — the
    variable-length ExactSubstr artifact of Lee et al. 2022
    (arXiv:2107.06499 §4), computed WITHOUT a suffix array: a maximal
    equal token run A[s..s+n) == B[t..t+n) with n >= {SPAN_W} appears as
    exactly the consecutive positional {SPAN_W}-gram matches
    s..s+n-{SPAN_W} at constant offset s-t, and maximality is the island
    boundary (the gram before/after the run cannot match, its first/last
    token differs). So for spans >= the gram width the gaps-and-islands
    reconstruction is EXACT, not approximate — the fixed-window
    machinery D50/D59 share only yields coverage masks; this recovers
    the spans themselves with their true variable lengths.

    Shape: positional postings (shared stage, lineage-cut) → occurrence
    census per gram hash → pair join restricted to grams with
    2..{occ_cap} occurrences (equi-join on the 60-bit hash, never
    all-pairs; the cap is the hot-gram star-routing guard) → one
    (doc_a, doc_b, offset)-keyed window for the island ids → one groupBy
    per island → spans >= min_tokens joined back to doc_a's text for a
    verification hash of the actual span. Shuffles: postings census,
    pair join, island window/groupBy, one doc-keyed text join — all
    equi-keyed; per-group state bounded by doc length.

    Output: (doc_a, doc_b, start_a, start_b, len_tokens, span_h) — 1-based
    token offsets, span_h = portable hash of the duplicated text sliced
    from doc_a (both engines must extract the identical tokens, so a
    positional bookkeeping slip cannot hash-match). 60-bit gram-hash
    collisions could chain a false match — the accepted portable-hash
    class (see line_dedup's birthday note); the verification hash keeps
    any such row identical across engines.
    """
    docs, runs = _substring_runs_frame(docs_in, min_tokens, occ_cap)
    span_txt = F.expr(
        "concat_ws(' ', slice(split(text, ' '), start_a, len_tokens))"
    )
    return (
        runs.join(docs.select(F.col("doc_id").alias("doc_a"), "text"), "doc_a")
        .select(
            F.col("doc_a").cast("bigint").alias("doc_a"),
            F.col("doc_b").cast("bigint").alias("doc_b"),
            F.col("start_a").cast("bigint").alias("start_a"),
            (F.col("start_a") - F.col("off")).cast("bigint").alias("start_b"),
            "len_tokens",
            portable_hash_expr(span_txt).alias("span_h"),
        )
        .orderBy("doc_a", "doc_b", "start_a", "start_b")
    )


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal exact-substring duplicates (>= {SUBSTR_MIN_TOKENS} tokens)
    over the documents table — see dedup_substring_frame."""
    return dedup_substring_frame(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def _substring_runs_ctes() -> str:
    """The DuckDB twin of :func:`_substring_runs_frame` (… → runs) — ONE
    definition shared by the D80 and D84 oracles so the span semantics
    can never drift apart. The min-length filter lives in the runs CTE
    (HAVING), exactly where the frame side applies it."""
    from frolyk_spark.operators.pipeline import SPAN_W, _postings_sql_ctes

    w = SPAN_W
    return f"""{_postings_sql_ctes()},
occ AS (SELECT h, count(*) AS occ FROM postings GROUP BY h),
chainable AS (
  SELECT h FROM occ WHERE occ BETWEEN 2 AND {SUBSTR_OCC_CAP}
),
post AS (
  SELECT p.h, p.doc_id, p.pos FROM postings p JOIN chainable USING (h)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
         a.pos - b.pos AS off
  FROM post a JOIN post b USING (h)
  WHERE a.doc_id < b.doc_id
),
isl AS (
  SELECT doc_a, doc_b, off, pa,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, off
                                 ORDER BY pa) AS grp
  FROM pairs
),
runs AS (
  SELECT doc_a, doc_b, off, min(pa) AS start_a,
         CAST(count(*) + {w - 1} AS BIGINT) AS len_tokens
  FROM isl GROUP BY doc_a, doc_b, off, grp
  HAVING CAST(count(*) + {w - 1} AS BIGINT) >= {SUBSTR_MIN_TOKENS}
)"""


def _dedup_substring_sql() -> str:
    return f"""
WITH {_substring_runs_ctes()}
SELECT CAST(r.doc_a AS BIGINT) AS doc_a,
       CAST(r.doc_b AS BIGINT) AS doc_b,
       CAST(r.start_a AS BIGINT) AS start_a,
       CAST(r.start_a - r.off AS BIGINT) AS start_b,
       r.len_tokens,
       {portable_hash_sql("array_to_string(t.ws[r.start_a : r.start_a + r.len_tokens - 1], ' ')")} AS span_h
FROM runs r JOIN t ON t.doc_id = r.doc_a
ORDER BY doc_a, doc_b, start_a, start_b
"""


# --- D85: dedup pipeline evaluation (LSH candidates vs exact truth) ----------


def dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion audit of the minhash-LSH candidate generator against the
    exact n-gram-Jaccard ground truth (D85) — the measurement a pipeline
    owner runs before trusting banded LSH at corpus scale: candidates =
    D6's banded pairs off the PERSISTED signature table (E4; identical
    pair semantics to dedup_minhash, star-routing guard included), truth =
    D8's blocked exact-Jaccard >= t pairs, classified with a full-outer
    join on MARKER columns (never key null-ness — the CLAUDE.md
    full-outer rule) into one row of exact BIGINT counts:
    (n_candidates, n_true, tp, fp, fn). tp+fp == n_candidates and
    tp+fn == n_true by construction (property-tested); fn counts true
    near-dups the banding missed (recall loss — the number the b/r
    S-curve trades against fp's wasted verifies). Complements D46's
    lsh_band_sweep (a tuning curve over band counts with estimated
    Jaccard) with ground-truth-anchored precision/recall at the shipped
    operating point.

    Scale: both inputs are existing banded/blocked joins (never
    all-pairs); the classify join is pair-keyed and output is one row.
    Counts stay un-divided (no-ratios rule) — the consumer divides.
    """
    cand = band_pairs(persisted_minhash_signatures(spark, sf_dir)).select(
        "doc_a", "doc_b", F.lit(1).alias("is_cand")
    )
    truth = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("is_true")
    )
    j = cand.join(truth, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("is_cand", F.lit(0)).alias("c"),
        F.coalesce("is_true", F.lit(0)).alias("t"),
    )
    zero = F.lit(0)
    return j.agg(
        F.coalesce(F.sum("c"), zero).cast("bigint").alias("n_candidates"),
        F.coalesce(F.sum("t"), zero).cast("bigint").alias("n_true"),
        F.coalesce(F.sum(F.col("c") * F.col("t")), zero)
        .cast("bigint").alias("tp"),
        F.coalesce(F.sum(F.col("c") * (1 - F.col("t"))), zero)
        .cast("bigint").alias("fp"),
        F.coalesce(F.sum((1 - F.col("c")) * F.col("t")), zero)
        .cast("bigint").alias("fn"),
    )


def _dedup_eval_sql() -> str:
    return f"""
WITH cand AS ({_dedup_minhash_sql()}),
truth AS (SELECT doc_a, doc_b FROM ({DEDUP_NGRAM_JACCARD_SQL}) q),
cm AS (SELECT doc_a, doc_b, 1 AS is_cand FROM cand),
tm AS (SELECT doc_a, doc_b, 1 AS is_true FROM truth),
j AS (
  SELECT coalesce(cm.is_cand, 0) AS c, coalesce(tm.is_true, 0) AS t
  FROM cm FULL OUTER JOIN tm
    ON cm.doc_a = tm.doc_a AND cm.doc_b = tm.doc_b
)
SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(sum(t), 0) AS BIGINT) AS n_true,
       CAST(coalesce(sum(c * t), 0) AS BIGINT) AS tp,
       CAST(coalesce(sum(c * (1 - t)), 0) AS BIGINT) AS fp,
       CAST(coalesce(sum((1 - c) * t), 0) AS BIGINT) AS fn
FROM j
"""


# --- D84: exact-substring span removal (ExactSubstr, second half) ------------


def dedup_substring_trim_frame(
    docs_in: DataFrame,
    min_tokens: int = SUBSTR_MIN_TOKENS,
    occ_cap: int = SUBSTR_OCC_CAP,
) -> DataFrame:
    """The consumer of D80's maximal spans — the second half of the
    ExactSubstr recipe (Lee et al. 2022, arXiv:2107.06499 §3: "remove
    all but one copy of each duplicated substring"): per maximal
    cross-document run, DELETE the copy in the LATER document (doc_b
    side) and keep the earlier one, then rebuild each document's
    surviving text in order. Keep-earliest preserves one copy per
    NON-OVERLAPPING run: the lowest-id document holding a span is doc_a
    in every pair that run forms, never doc_b, so that run never deletes
    its copy. When distinct maximal runs OVERLAP, the guarantee weakens
    to the greedy position-union — the earliest holder of span S can
    still lose positions inside S through a different, partially-
    overlapping run in which it is doc_b, so no intact copy of S need
    survive (r13 advice). Cross-engine parity is unaffected: the oracle
    mirrors the same position-union semantics.

    Composes _substring_runs_frame (shared with D80 — the span semantics
    cannot drift) with D59's covered-position machinery: run intervals →
    covered (doc_b, position) set (explode of sequence — fan-out bounded
    by span length, then distinct) → token stream anti-join → per-doc
    ordered rebuild (sort_array + concat_ws, the span_trim pattern).
    Versus D59 (which removes EVERY occurrence of any cross-doc gram,
    both copies, fixed-width): this is span-granular, variable-length,
    min-length-gated, and keeps a canonical copy — the actual training
    corpus treatment. All docs report (kept_tokens, trimmed_text);
    untouched docs pass through whole.

    Shuffles beyond D80's: one (doc_id, p)-keyed distinct + anti-join
    over the token stream, one doc-keyed rebuild — equi-keyed, per-group
    state bounded by doc length, nothing quadratic.
    """
    docs, runs = _substring_runs_frame(docs_in, min_tokens, occ_cap)
    covered = (
        runs.select(
            F.col("doc_b").alias("doc_id"),
            F.explode(
                F.sequence(
                    F.col("start_a") - F.col("off"),
                    F.col("start_a") - F.col("off") + F.col("len_tokens") - 1,
                )
            ).alias("p"),
        )
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
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "n_tokens",
            F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias("kept_tokens"),
            F.coalesce("trimmed_text", F.lit("")).alias("trimmed_text"),
        )
        .orderBy("doc_id")
    )


def dedup_substring_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span removal (keep the earliest copy) over the
    documents table — see dedup_substring_trim_frame."""
    return dedup_substring_trim_frame(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def _dedup_substring_trim_sql() -> str:
    return f"""
WITH {_substring_runs_ctes()},
covered AS (
  SELECT DISTINCT doc_id, p FROM (
    SELECT doc_b AS doc_id,
           unnest(range(start_a - off, start_a - off + len_tokens)) AS p
    FROM runs
  )
),
tokens AS (
  SELECT doc_id, u.p AS p, ws[u.p] AS tok
  FROM t, unnest(range(1, len(ws) + 1)) u(p)
),
reb AS (
  SELECT tk.doc_id,
         CAST(count(*) AS BIGINT) AS kept_tokens,
         string_agg(tk.tok, ' ' ORDER BY tk.p) AS trimmed_text
  FROM tokens tk
  LEFT JOIN covered c ON c.doc_id = tk.doc_id AND c.p = tk.p
  WHERE c.p IS NULL
  GROUP BY tk.doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       CAST(coalesce(reb.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       coalesce(reb.trimmed_text, '') AS trimmed_text
FROM documents d LEFT JOIN reb ON d.doc_id = reb.doc_id
ORDER BY doc_id
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    # D76: triplet mining over the persisted signature + ring machinery
    "contrastive_pairs": contrastive_pairs,
    "minhash_containment": minhash_containment,
    "containment_chains": containment_chains,
    "lsh_band_sweep": lsh_band_sweep,
    "dedup_canonical": dedup_canonical,
    "dedup_minhash": dedup_minhash,
    "dedup_incremental": dedup_incremental,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_embedding": dedup_embedding,
    "minhash_jaccard_estimate": minhash_jaccard_estimate,
    # also model-checked against union-find in tests/test_dedup_clusters.py
    "dedup_clusters": dedup_clusters,
    # D80: also brute-force-checked against a diagonal-scan reference in
    # tests/test_dedup_substring.py
    "dedup_substring": dedup_substring,
    # D84: the span-REMOVAL consumer of D80 (keep-earliest), same tests
    "dedup_substring_trim": dedup_substring_trim,
    # D85: LSH-vs-exact-truth confusion audit (identity property tests)
    "dedup_eval": dedup_eval,
}

ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "contrastive_pairs": _contrastive_pairs_sql(),
    "minhash_containment": _minhash_containment_sql(),
    "containment_chains": _containment_chains_sql(),
    "dedup_minhash": _dedup_minhash_sql(),
    "dedup_incremental": _dedup_incremental_sql(),
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_simhash_pairs": DEDUP_SIMHASH_PAIRS_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_JACCARD_SQL,
    "dedup_embedding": _dedup_embedding_sql(),
    "minhash_jaccard_estimate": _minhash_jaccard_estimate_sql(),
    "lsh_band_sweep": _lsh_band_sweep_sql(),
    # recursive-CTE transitive closure: min reachable label == the
    # propagation fixpoint (upgraded from no-oracle in r3)
    "dedup_clusters": _dedup_clusters_sql(),
    "dedup_canonical": _dedup_canonical_sql(),
    "dedup_substring": _dedup_substring_sql(),
    "dedup_substring_trim": _dedup_substring_trim_sql(),
    "dedup_eval": _dedup_eval_sql(),
}
