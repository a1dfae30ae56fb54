"""Tokenizer-training operators (SURVEY §2 D29-D30): corpus vocabulary
and BPE merge-candidate statistics.

Before a 100 TB corpus can be tokenized it needs a tokenizer, and training
one is itself a corpus-scale aggregation job: count every word (vocabulary
induction) and every adjacent word pair (the first BPE merge iteration's
candidate table). Both are pure explode→aggregate→top-K pipelines — zero
Python, fully map-side-combinable, and the top-K is Spark's
TakeOrderedAndProject (per-partition heap + driver merge of K rows), NOT a
global sort.

Reference parity note: the reference (JaapRood/frolyk) is a Kafka
stream-processing library with no corpus layer; these implement the
LLM-data-pipeline surface of the charter (SURVEY §2 D).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frolyk_spark.functions.hashing import portable_hash_expr, portable_hash_spark_sql, portable_hash_sql
from frolyk_spark.functions.portable import round4, round4_sql, round6, round6_sql
from frolyk_spark.sources.catalog import load_table

#: vocabulary entries kept (top-K by term frequency, word tie-break)
VOCAB_K = 200
#: adjacent-pair merge candidates kept (top-K by count, pair tie-break)
BIGRAM_K = 500


def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{VOCAB_K} corpus vocabulary: term frequency and document
    frequency per word — the vocabulary-induction step of tokenizer
    training (and the df side feeds stopword/df-prefix thresholds used by
    dedup_ngram_jaccard's AllPairs filter).

    Scale shape: explode words → ONE hash aggregation keyed by word
    (count + count_distinct(doc_id), both planned as two-phase partial
    aggs, so shuffled volume is distinct words, not corpus tokens) →
    orderBy+limit, which Catalyst plans as TakeOrderedAndProject: each
    partition keeps a K-row heap and the driver merges K rows per
    partition — no global sort, no single-partition window. The tf DESC +
    word ASC tie-break makes boundary membership deterministic across
    engines.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    )
    return (
        words.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.count_distinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), "word")
        .limit(VOCAB_K)
    )


VOCAB_TOPK_SQL = f"""
SELECT w AS word,
       cast(count(*) AS bigint) AS tf,
       cast(count(DISTINCT doc_id) AS bigint) AS df
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
GROUP BY w
ORDER BY tf DESC, word
LIMIT {VOCAB_K}
"""


#: a ``text`` row's adjacent word pairs as one array, built JVM-side
#: (see bigram_counts for the evaluation barrier)
BIGRAMS = (
    "transform(array(split(text, ' ')), ws -> "
    "zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), "
    "(a, b) -> concat(a, ' ', b)))[0]"
)


def bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BIGRAM_K} adjacent word pairs by corpus count — the candidate
    table a BPE trainer scores each merge iteration (word-level here; the
    byte/char loop is the same aggregation shape repeated).

    The pair list is built JVM-side with zip_with over two slices of the
    split array. The outer transform(array(...), ws -> ...)[0] wrapper is
    the evaluation barrier that binds the split result ONCE per row —
    referencing split() directly inside the lambdas would re-inline it per
    element (the O(words²) collapse pitfall this repo hit in
    dedup_ngram_jaccard). One explode, one map-side-combinable count agg,
    TakeOrderedAndProject top-K; count DESC + pair ASC tie-break for
    deterministic boundary membership.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    return (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(F.expr(BIGRAMS)).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(BIGRAM_K)
    )


BIGRAM_COUNTS_SQL = f"""
SELECT p AS pair, cast(count(*) AS bigint) AS cnt
FROM (
  SELECT unnest(list_transform(range(2, len(ws) + 1),
                               i -> ws[i-1] || ' ' || ws[i])) AS p
  FROM (SELECT string_split(text, ' ') AS ws FROM documents)
)
GROUP BY p
ORDER BY cnt DESC, pair
LIMIT {BIGRAM_K}
"""


#: salient terms kept per source
TFIDF_K = 5


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_K} salient terms per source by a TF-IDF-style score —
    the "what is this feed actually about" fingerprint used to spot
    mislabeled or drifting sources in a corpus inventory.

    The IDF factor is the RATIONAL surrogate (n_sources + 1)/(df + 1)
    rather than ln(n/df): IEEE division of exact integers is
    exactly-rounded and therefore bit-identical across engines, while
    ln() is libm-dependent in its last ULP (JVM Math.log vs DuckDB
    std::log) — a transcendental in the compare path is a hash flake
    waiting to happen. Same monotone down-weighting of everywhere-words,
    exact cross-engine equality.

    Scale shape: explode → (source, word) count (map-side-combinable;
    shuffled volume is the per-source vocabulary), df over that aggregate
    (already distinct per source), the one-row source count broadcast
    into the projection, and a per-source top-K window whose partition
    count is the number of sources — never a global sort. Ranked on the
    unrounded score with a word tie-break (same pattern as
    similarity._rerank) so boundary membership is deterministic.
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    words = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("source", F.explode(F.split("text", " ")).alias("word"))
    )
    from frolyk_spark.functions.lineage import cut_lineage

    # tf feeds BOTH sides of the tf⋈df_s self-join AND the source count —
    # cut the lineage (CLAUDE rule) or the explode+aggregate runs three
    # times (3 documents scans observed before the cut)
    tf = cut_lineage(
        words.groupBy("source", "word").agg(F.count(F.lit(1)).alias("tf"))
    )
    df_s = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df_sources"))
    n_sources = tf.agg(F.count_distinct("source").alias("n_sources"))
    score = (F.col("tf") * (F.col("n_sources") + 1)) / (F.col("df_sources") + 1)
    w = Window.partitionBy("source").orderBy(
        F.desc("score_raw"), F.asc("word")
    )
    return (
        tf.join(df_s, "word")
        .crossJoin(F.broadcast(n_sources))
        .withColumn("score_raw", score)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_K)
        .select(
            "source",
            "rank",
            "word",
            "tf",
            "df_sources",
            # derived RATIO: portable floor round, not engine round
            round4(F.col("score_raw")).alias("score"),
        )
    )


TFIDF_TOP_TERMS_SQL = f"""
WITH w AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
tf AS (
  SELECT source, word, cast(count(*) AS bigint) AS tf FROM w GROUP BY 1, 2
),
df AS (
  SELECT word, cast(count(*) AS bigint) AS df_sources FROM tf GROUP BY 1
),
ns AS (SELECT count(DISTINCT source) AS n_sources FROM documents),
scored AS (
  SELECT tf.source, tf.word, tf.tf, df.df_sources,
         (tf.tf * (ns.n_sources + 1)) * 1.0 / (df.df_sources + 1) AS score_raw
  FROM tf JOIN df USING (word), ns
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY score_raw DESC, word ASC) AS rank
  FROM scored
)
SELECT source, rank, word, tf, df_sources,
       {round4_sql("score_raw")} AS score
FROM ranked WHERE rank <= {TFIDF_K}
"""


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary Jaccard between source pairs — the lexical cousin of
    cross_source_duplication's signature-space matrix: two feeds with
    near-identical vocabularies are candidates for merging (or for one
    being a scrape of the other) before any per-document dedup runs.
    The output is SPARSE: only pairs sharing at least one word appear
    (the intersection is an inner join; a fully-disjoint pair is a
    jaccard-0 row the consumer infers by absence — same convention as
    the duplication matrix).

    All counts are exact integers: distinct (source, word) postings, an
    equi-join on word with a src_a < src_b guard for the pairwise
    intersections (each word contributes at most C(sources-it-appears-in,
    2) pairs — bounded by the SOURCE count squared, not the corpus), and
    per-source vocabulary sizes broadcast back twice for the union via
    inclusion-exclusion. Jaccard is ONE division of two exact BIGINTs —
    exactly-rounded IEEE, bit-identical across engines. Output is
    |sources|² rows at most, trivially small at any corpus scale.
    """
    from frolyk_spark.functions.lineage import cut_lineage

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    postings = cut_lineage(
        # materialized once: the self-join would otherwise re-run the
        # explode+distinct on BOTH sides (the dedup_simhash_pairs lesson)
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("source", F.explode(F.split("text", " ")).alias("word"))
        .distinct()
    )
    sizes = postings.groupBy("source").agg(F.count(F.lit(1)).alias("n_vocab"))
    a = postings.alias("a")
    b = postings.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = sizes.select(
        F.col("source").alias("src_a"), F.col("n_vocab").alias("vocab_a")
    )
    sz_b = sizes.select(
        F.col("source").alias("src_b"), F.col("n_vocab").alias("vocab_b")
    )
    union = F.col("vocab_a") + F.col("vocab_b") - F.col("n_common")
    return (
        inter.join(F.broadcast(sz_a), "src_a")
        .join(F.broadcast(sz_b), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            union.alias("n_union"),
            # exact-BIGINT ratio: portable floor round (41/640 = .0640625
            # rounds differently per engine with round(…,6))
            round6(
                F.col("n_common").cast("double") / union.cast("double")
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


VOCAB_OVERLAP_SQL = """
WITH w AS (
  SELECT DISTINCT source, word
  FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
),
sz AS (SELECT source, cast(count(*) AS BIGINT) AS n_vocab FROM w GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b,
         cast(count(*) AS BIGINT) AS n_common
  FROM w a JOIN w b ON a.word = b.word AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_common,
       sa.n_vocab + sb.n_vocab - n_common AS n_union,
       floor((CAST(n_common AS DOUBLE)
              / CAST(sa.n_vocab + sb.n_vocab - n_common AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0
         AS jaccard
FROM inter
JOIN sz sa ON inter.src_a = sa.source
JOIN sz sb ON inter.src_b = sb.source
ORDER BY src_a, src_b
"""


# --- D45: mergeable-sketch corpus profile ------------------------------------

#: heavy hitters reported by the sketch profile
SKETCH_K = 20


def sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketched corpus profile — the sublinear-memory scale path beside
    the exact aggregations (vocab_topk, count_distinct): approximate
    heavy-hitter words with estimated counts (approx_top_k) and an HLL
    (DataSketches) distinct-word estimate, all JVM-side MERGEABLE
    sketch aggregates. At 100 TB this is the profile you can afford to
    keep per shard/day and fold together without re-scanning — the HLL
    mergeability (per-source sketches union to the corpus estimate) is
    asserted in tests/test_approx.py, along with error bounds vs the
    exact answers.

    Output: one row per heavy hitter (rank, word, est_count) with the
    corpus-level estimates repeated per row (keeps every column a
    hashable scalar for the driver's rows-only check). No SQL oracle:
    sketch internals are engine-specific, like approx_stats (C14).
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    words = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(F.split("text", " ")).alias("word"))
    )
    agg = words.agg(
        F.expr(f"approx_top_k(word, {SKETCH_K})").alias("topk"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(word))").alias(
            "distinct_words_est"
        ),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    return agg.select(
        F.posexplode("topk").alias("pos", "hit"),
        "distinct_words_est",
        "n_tokens",
    ).select(
        (F.col("pos") + 1).alias("rank"),
        F.col("hit.item").alias("word"),
        F.col("hit.count").alias("est_count"),
        "distinct_words_est",
        "n_tokens",
    )


# --- D45 companion: KMV distinct sketch (deterministic registers) ------------

#: registers kept by the KMV sketch — deliberately BELOW the synthetic
#: corpus's 31-word vocabulary so the sketch genuinely sketches (k >=
#: distinct degenerates to the exact set and the estimator short-circuits
#: to a count); production sizes k to the target error 1/sqrt(k)
KMV_K = 16


def sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D45's driver-checkable companion: a K-minimum-values distinct-words
    sketch whose STATE is deterministic. sketch_profile's HLL/approx_top_k
    internals are engine-specific (no oracle by design); KMV with the
    portable 60-bit md5 is the same sublinear-memory idea — the {KMV_K}
    smallest hash values of the distinct words ARE the sketch, estimate
    (k-1)·2^60/h_k derivable from the last register — and every register
    is exactly reproducible in any engine with the same hash, so the
    driver hash-checks real sketch state. Mergeability (per-source
    registers union + re-limit == corpus registers) is asserted in
    tests/test_approx.py, mirroring the HLL mergeability gate.

    Scale shape: explode -> ONE hash aggregation keyed by word (two-phase,
    shuffles distinct words, not corpus tokens) -> orderBy+limit, planned
    as TakeOrderedAndProject (per-partition K-row heap, K rows per
    partition to the driver merge, no global sort)."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    words = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .distinct()
    )
    h = portable_hash_expr(F.col("word"))
    regs = words.select("word", h.alias("h")).orderBy("h", "word").limit(KMV_K)
    w = Window.orderBy("h", "word")
    return regs.select(
        F.row_number().over(w).alias("rank"), F.col("h").alias("register"), "word"
    )


def _sketch_kmv_sql() -> str:
    from frolyk_spark.functions.hashing import portable_hash_sql

    h = portable_hash_sql("word")
    return f"""
WITH words AS (
  SELECT DISTINCT w AS word
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
)
SELECT cast(row_number() OVER (ORDER BY {h}, word) as int) AS rank,
       {h} AS register, word
FROM words
ORDER BY register, word
LIMIT {KMV_K}
"""


# --- D47: iterative BPE trainer ----------------------------------------------

#: merge rounds learned by bpe_train — raised 6 -> 24 in r11 to evidence
#: the O(vocab)/round claim at realistic tokenizer depth: the measured
#: marginal cost per round at sf0.1 is flat-to-DECREASING (rounds 1-8
#: ~0.3-0.6 s, rounds 17-24 ~0.05 s — the word-frequency table shrinks as
#: merges fuse tokens), and the unrolled-CTE oracle generator stays linear
#: (DuckDB 0.12 s @6 -> 0.63 s @24 at sf0.01); curve in BASELINE.md r11
BPE_MERGES = 24


def _merge_fold(a: str, b: str):
    """Greedy left-to-right (a, b) -> a+b merge as an F.aggregate lambda."""
    la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)

    def fold(out, t):
        mergeable = (
            (F.size(out) > 0)
            & (F.element_at(out, -1) == la)
            & (t == lb)
        )
        return F.when(
            mergeable,
            F.concat(F.slice(out, 1, F.size(out) - 1), F.array(lab)),
        ).otherwise(F.concat(out, F.array(t)))

    return fold


def _bpe_loop(toks: DataFrame) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """The shared BPE training loop over a WORD-FREQUENCY table:
    {BPE_MERGES} rounds of weighted pair counting -> TakeOrdered(1) merge
    decision -> JVM array-fold re-segmentation with a lineage cut per
    round. `toks` must have `toks: array<string>` and `weight: bigint`
    (occurrence count of that word form — identical words segment
    identically, so the corpus token stream reduces ONCE to (word, count)
    and every round then costs O(|vocab|), not O(corpus); this is how
    production BPE trainers run). Other columns are carried untouched.
    Returns (merge table, final segmentation).
    """
    from frolyk_spark.functions.lineage import cut_lineage

    carry = [c for c in toks.columns if c != "toks"]
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, BPE_MERGES + 1):
        pairs = toks.select(
            "weight",
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1),"
                    " slice(toks, 2, size(toks) - 1),"
                    " (a, b) -> struct(a as a, b as b))"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("weight").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0].a, top[0].b, int(top[0].cnt)
        merges.append((step, a, b, a + b, cnt))
        toks = cut_lineage(
            toks.select(
                *carry,
                F.aggregate(
                    "toks",
                    F.expr("cast(array() as array<string>)"),
                    _merge_fold(a, b),
                ).alias("toks"),
            )
        )
    return merges, toks


def persisted_bpe_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, str, int]]:
    """The trained merge table, persisted ONCE per (dataset, depth) under
    source-keyed scratch and reread afterwards — the E4 pattern
    (persisted_minhash_signatures): a production tokenizer trains once
    and every downstream consumer (encode passes, re-runs, audits) reads
    the model instead of re-running the {BPE_MERGES}-round loop. The
    model is O({BPE_MERGES}) rows — bounded driver state, like IVF
    centroids. Cache key = resolved source path + depth (a depth change
    re-trains, never silently reuses)."""
    import os as _os

    from frolyk_spark.functions.lineage import cut_lineage
    from frolyk_spark.sources.streams import artifact

    def train(d: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("text")
        wf = (
            docs.repartition(spark.sparkContext.defaultParallelism)
            .select(F.explode(F.split("text", " ")).alias("w"))
            .where(F.length("w") > 0)
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
        )
        toks = cut_lineage(
            wf.select(
                "weight",
                F.expr(
                    "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
                ).alias("toks"),
            )
        )
        merges, _ = _bpe_loop(toks)
        spark.createDataFrame(
            merges,
            "step int, left string, right string, merged string, cnt bigint",
        ).coalesce(1).write.mode("overwrite").parquet(d)

    out, _ = artifact(
        "models", [_os.path.join(sf_dir, "documents.parquet")],
        ("bpe", BPE_MERGES), train,
    )
    rows = spark.read.parquet(out).orderBy("step").collect()
    return [(r.step, r.left, r.right, r.merged, r.cnt) for r in rows]


def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A real (small) BPE training loop, distributed: start from
    characters, and for {BPE_MERGES} rounds count adjacent token pairs
    across the corpus, adopt the most frequent pair as a merge
    (count DESC, pair ASC tie-break — deterministic), and re-segment
    every word with a greedy left-to-right fold. bigram_counts is one
    iteration of this; this is the actual trainer loop, the way a
    corpus-scale tokenizer is really induced.

    Scale shape: ONE corpus pass reduces the token stream to the
    word-frequency table (identical word forms segment identically, so
    pair counts weight by occurrence count — bit-identical totals to
    counting every occurrence, at O(|vocab|) per round instead of
    O(corpus); the r6 rewrite measured 9.1 s -> ~1 s at sf0.1, and the
    r11 depth-24 sweep shows marginal per-round cost FALLING as merges
    shrink the vocab table — BASELINE.md r11). Per round: weighted pair
    counting is map-side-combinable; the winning pair is TakeOrdered(1)
    — ONE row of model state to the driver (bounded, like IVF
    centroids); re-segmentation is a map-only JVM array fold with a
    lineage cut so round N+1 doesn't replay rounds 1..N. The trained
    model persists under source-keyed scratch (persisted_bpe_merges, the
    E4 train-once shape); output is the learned merge table
    ({BPE_MERGES} rows). Oracle-checked: the fixed-round
    all-integer/string loop unrolls into DuckDB SQL (`_bpe_iter_ctes`);
    the pure-Python token-for-token model check in
    tests/test_semantics.py remains.
    """
    merges = persisted_bpe_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, cnt bigint"
    )


# --- D52: BPE corpus encoding -------------------------------------------------

def bpe_apply_kernel(merges: list[tuple[str, str, str]]):
    """The trained-tokenizer APPLY kernel as a mapInPandas function:
    (w) -> (w, pw, np), greedy left-to-right application of the merge
    list per word. ONE definition shared by bpe_encode and the streaming
    token feed — two hand-synced copies would let the fold order drift
    from the oracle's gaps-and-islands SQL twin."""
    from typing import Iterator as _Iterator

    import pandas as _pd

    def apply_merges(batches: "_Iterator[_pd.DataFrame]") -> "_Iterator[_pd.DataFrame]":
        for pdf in batches:
            out = {"w": [], "pw": [], "np": []}
            for w in pdf["w"]:
                toks = list(w)
                for a, b, m in merges:
                    i, res = 0, []
                    while i < len(toks):
                        if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                            res.append(m)
                            i += 2
                        else:
                            res.append(toks[i])
                            i += 1
                    toks = res
                out["w"].append(w)
                out["pw"].append("|".join(toks))
                out["np"].append(len(toks))
            yield _pd.DataFrame(out)

    return apply_merges


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the WHOLE corpus with the {BPE_MERGES}-round trained merges —
    the tokenizer-apply pass that turns raw text into training pieces.
    bpe_train emits the model; this re-runs the identical learn loop (the
    honest cost of composition, like dedup_canonical re-running the
    propagation) and emits the encoded corpus: per document, word/piece
    counts and a portable hash of the full piece sequence in document
    order (word pieces joined '|', words joined ' ') so any segmentation
    drift is visible as a hash change.

    Scale shape (r11 train/apply split): the tokenizer-APPLY pass no
    longer re-runs the training loop — it loads the persisted model
    (persisted_bpe_merges, O({BPE_MERGES}) rows of driver state) and
    segments the DISTINCT vocabulary in one Arrow-batched mapInPandas
    pass (greedy left-to-right merge application per word — the
    canonical trained-tokenizer kernel, O(vocab x merges), token-for-token
    equal to the JVM fold by the gaps-and-islands argument the oracle
    pins). The (word form -> pieces) model table then equi-joins onto
    the (doc_id, wpos, word) stream (un-hinted: AQE broadcasts it while
    the vocabulary is small and shuffles when it is not; the hybrid
    head/tail join is the upgrade if the Zipf-shaped tail ever
    dominates, cf. unigram_logprob). The
    final per-doc reduce collects each document's pieces once — bounded
    by document length, the same bound doc_chunks carries. Oracle-checked
    as of r10 (the unrolled-loop SQL, `_bpe_iter_ctes`, plus the encode
    join and doc-order piece hash); the per-document pure-Python model
    check in tests/test_semantics.py remains.
    """
    merges = [(m[1], m[2], m[3]) for m in persisted_bpe_merges(spark, sf_dir)]
    apply_merges = bpe_apply_kernel(merges)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("wpos", "w"))
        .where(F.length("w") > 0)
    )
    seg = words.select("w").distinct().mapInPandas(
        apply_merges, "w string, pw string, np int"
    )
    # no broadcast HINT: the vocabulary scales with corpus size (Heaps'
    # law), so forcing it violates the no-hints-on-SF-scaling rule — AQE
    # broadcasts it while it is small and shuffles when it is not (the
    # hybrid head/tail join is the upgrade path if the shuffled tail ever
    # dominates, cf. unigram_logprob)
    enc = words.join(seg, "w").select("doc_id", "wpos", "pw", "np")
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("np").cast("bigint").alias("n_pieces"),
            F.array_sort(F.collect_list(F.struct("wpos", "pw"))).alias("ps"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_pieces",
            F.expr(
                portable_hash_spark_sql(
                    "concat_ws(' ', transform(ps, s -> s.pw))"
                )
            ).alias("enc_hash"),
        )
        .orderBy("doc_id")
    )


def _bpe_iter_ctes(n: int) -> str:
    """n chained BPE training iterations as DuckDB CTE blocks, s0 -> s{n}.

    The loop at `_bpe_loop` is driver-iterative on the Spark side, but its
    round count is the fixed constant {BPE_MERGES} and every quantity is an
    integer or a string — so the whole training is SQL-expressible by
    UNROLLING the rounds (not WITH RECURSIVE: the per-round global argmax
    is an aggregate over the recursive reference, which SQL forbids).
    Per round k: adjacent pairs via lead() (the zip_with-of-slices twin),
    weighted counts, the (cnt DESC, a, b) top-1 merge decision, and the
    greedy left-to-right re-segmentation. Greedy non-overlapping matching
    is the gaps-and-islands parity trick: consecutive matched start
    positions (only possible when a = b) form islands, and greedy takes
    exactly the even offsets within each island — equivalent to
    `_merge_fold`'s left fold, verified token-for-token against the
    pure-Python reference in tests/test_semantics.py. AS MATERIALIZED on
    every state CTE: p{{k}} is referenced three times and inlining would
    re-evaluate the whole chain per reference (exponential)."""
    parts = []
    for k in range(1, n + 1):
        parts.append(f"""
p{k} AS MATERIALIZED (
  SELECT w, weight, pos, tok AS a,
         lead(tok) OVER (PARTITION BY w ORDER BY pos) AS b
  FROM s{k - 1}
),
b{k} AS MATERIALIZED (
  SELECT a, b, cast(sum(weight) AS bigint) AS cnt
  FROM p{k} WHERE b IS NOT NULL GROUP BY a, b
  ORDER BY cnt DESC, a, b LIMIT 1
),
m{k} AS MATERIALIZED (
  SELECT w, pos FROM (
    SELECT t.w, t.pos,
           t.pos - row_number() OVER (PARTITION BY t.w ORDER BY t.pos) AS grp
    FROM p{k} t, b{k} bb WHERE t.a = bb.a AND t.b = bb.b
  )
  QUALIFY (pos - min(pos) OVER (PARTITION BY w, grp)) % 2 = 0
),
s{k} AS MATERIALIZED (
  SELECT w, weight,
         cast(row_number() OVER (PARTITION BY w ORDER BY opos) AS bigint) AS pos,
         tok
  FROM (
    SELECT p.w, p.weight, p.pos AS opos,
           CASE WHEN mm.pos IS NOT NULL THEN p.a || p.b ELSE p.a END AS tok,
           m2.pos AS consumed
    FROM p{k} p
    LEFT JOIN m{k} mm ON p.w = mm.w AND p.pos = mm.pos
    LEFT JOIN m{k} m2 ON p.w = m2.w AND p.pos = m2.pos + 1
  ) WHERE consumed IS NULL
)""")
    return ",".join(parts)


#: word-frequency table + per-char initial segmentation, shared by both
#: BPE oracles (the `wf`/`toks` build in bpe_train/bpe_encode)
_BPE_WF_S0 = """
wf AS MATERIALIZED (
  SELECT w, cast(count(*) AS bigint) AS weight FROM {word_src} GROUP BY w
),
s0 AS MATERIALIZED (
  SELECT w, weight, cast(pos AS bigint) AS pos,
         substr(w, cast(pos AS int), 1) AS tok
  FROM (SELECT w, weight, unnest(range(1, length(w) + 1)) AS pos FROM wf)
)"""


def _bpe_train_sql() -> str:
    word_src = ("(SELECT unnest(string_split(text, ' ')) AS w FROM documents)"
                " WHERE length(w) > 0")
    union = "\nUNION ALL\n".join(
        f'SELECT cast({k} AS int) AS step, a AS "left", b AS "right",'
        f" a || b AS merged, cnt FROM b{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return (f"WITH {_BPE_WF_S0.format(word_src=word_src)},"
            f"{_bpe_iter_ctes(BPE_MERGES)}\n{union}")


def _bpe_encode_sql() -> str:
    h = portable_hash_sql("string_agg(pw, ' ' ORDER BY wpos)")
    return f"""
WITH words AS MATERIALIZED (
  SELECT doc_id, generate_subscripts(arr, 1) - 1 AS wpos, unnest(arr) AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
),
wnz AS MATERIALIZED (SELECT * FROM words WHERE length(w) > 0),
{_BPE_WF_S0.format(word_src='wnz')},{_bpe_iter_ctes(BPE_MERGES)},
seg AS MATERIALIZED (
  SELECT w, string_agg(tok, '|' ORDER BY pos) AS pw,
         cast(count(*) AS bigint) AS np
  FROM s{BPE_MERGES} GROUP BY w
),
enc AS (
  SELECT wnz.doc_id, wnz.wpos, seg.pw, seg.np
  FROM wnz JOIN seg ON wnz.w = seg.w
)
SELECT doc_id,
       cast(count(*) AS bigint) AS n_words,
       cast(sum(np) AS bigint) AS n_pieces,
       {h} AS enc_hash
FROM enc GROUP BY doc_id
"""


def bpe_doc_token_counts_ctes() -> str:
    """Shared oracle fragment (r11, for the streaming token feed): the
    full unrolled BPE train+apply chain ending in a CTE ``d`` of
    (doc_id, n_tokens = per-document trained-piece count). ONE definition
    next to _bpe_encode_sql's chain so the segmentation SQL can never
    drift between the batch encode and the streaming feed."""
    return f"""words AS MATERIALIZED (
  SELECT doc_id, generate_subscripts(arr, 1) - 1 AS wpos, unnest(arr) AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
),
wnz AS MATERIALIZED (SELECT * FROM words WHERE length(w) > 0),
{_BPE_WF_S0.format(word_src='wnz')},{_bpe_iter_ctes(BPE_MERGES)},
seg AS MATERIALIZED (
  SELECT w, cast(count(*) AS bigint) AS np
  FROM s{BPE_MERGES} GROUP BY w
),
d AS (
  SELECT wnz.doc_id, cast(sum(seg.np) AS bigint) AS n_tokens
  FROM wnz JOIN seg ON wnz.w = seg.w
  GROUP BY wnz.doc_id
)"""


# --- D81: Count-Min-sketch heavy hitters ---------------------------------------

#: sketch geometry: depth (independent hash rows) x width (buckets per row).
#: Fixed and SF-independent — the whole point of a CMS is that state stays
#: CMS_D*CMS_W cells no matter how many distinct words stream through it.
CMS_D = 4
CMS_W = 256
#: heavy hitters reported (top-K by estimate, word tie-break)
CMS_K = 50


def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{CMS_K} corpus BIGRAMS by Count-Min-sketch estimate (D81), with
    the exact count and the sketch's overcount alongside — the mergeable
    fixed-size frequency sketch a 100 TB ingest keeps per shard and adds
    together at the coordinator (Cormode & Muthukrishnan 2005), here
    materialized once over the corpus so the estimate-vs-truth gap is
    itself auditable. The domain is adjacent word pairs (the bigram_counts
    kernel), not unigrams: the testdata vocabulary is a fixed 31 words at
    every SF — unigrams would never collide in {CMS_D}x{CMS_W} cells and
    the overcount column would be degenerately zero; the ~900-bigram
    domain packs ~3.6 keys per bucket, so the sketch genuinely saturates
    and real overcounts surface in the output.

    Unlike approx_percentile/HLL (engine-specific buffers, no_oracle by
    design), a CMS is deterministic given the hash family: cell (r, b)
    holds the exact sum of counts of all keys hashing to b under row
    r's salt. Built on the portable 60-bit md5, both engines reconstruct
    the IDENTICAL sketch, so this entry is fully hash-green — the sketch
    family's first exact-oracle member.

    Scale shape: one bigram-count aggregate (shuffle = distinct bigrams),
    a {CMS_D}x{CMS_W}-cell aggregate (bounded state — broadcast back by
    construction, the genuinely-bounded exception to the no-broadcast
    rule), one groupBy(word) min over {CMS_D} joined rows. No all-pairs
    anywhere; the sketch is CMS_D*CMS_W cells at every SF.
    """
    from frolyk_spark.functions.lineage import cut_lineage

    docs = load_table(spark, sf_dir, "documents").select("text")
    # pair counts feed both the cell aggregate and the estimate join —
    # cut or Spark recomputes the corpus scan per side
    wc = cut_lineage(
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(F.expr(BIGRAMS)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    cells = (
        _cms_rows(wc).groupBy("r", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("tot"))
    )
    return cms_estimate(wc, cells)


def cms_bucket(r: Column) -> Column:
    """The cell of ``word`` in sketch row ``r``: the row-salted portable
    hash mod {CMS_W}."""
    return portable_hash_expr(
        F.concat(F.lit("cms"), r.cast("string"), F.lit(":"), F.col("word"))
    ) % CMS_W


def _cms_rows(wc: DataFrame) -> DataFrame:
    """(word, cnt) to one (word, cnt, r, bucket) row per sketch row."""
    return wc.select(
        "word",
        "cnt",
        F.explode(F.array(*[F.lit(r) for r in range(CMS_D)])).alias("r"),
    ).withColumn("bucket", cms_bucket(F.col("r")))


def cms_estimate(wc: DataFrame, cells: DataFrame) -> DataFrame:
    """D81's output from exact (word, cnt) counts and the (r, bucket,
    tot) sketch cells: each word's estimate is its min cell. Shared with
    the B31 streaming twin, which feeds its aggregation state."""
    return (
        _cms_rows(wc).join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("word")
        .agg(
            F.min("tot").cast("bigint").alias("est_count"),
            F.max("cnt").cast("bigint").alias("true_count"),
            (F.min("tot") - F.max("cnt")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.desc("est_count"), "word")
        .limit(CMS_K)
    )


def _heavy_hitters_cms_sql() -> str:
    h = portable_hash_sql("'cms' || CAST(r AS VARCHAR) || ':' || word")
    return f"""
WITH wc AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(list_transform(range(2, len(ws) + 1),
                                 i -> ws[i-1] || ' ' || ws[i])) AS w
    FROM (SELECT string_split(text, ' ') AS ws FROM documents)
  )
  GROUP BY w),
wb AS MATERIALIZED (
  SELECT word, cnt, r, {h} % {CMS_W} AS bucket
  FROM wc CROSS JOIN (SELECT unnest(range({CMS_D})) AS r)),
cells AS MATERIALIZED (
  SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS tot
  FROM wb GROUP BY r, bucket)
SELECT word,
       CAST(min(c.tot) AS BIGINT) AS est_count,
       CAST(max(wb.cnt) AS BIGINT) AS true_count,
       CAST(min(c.tot) - max(wb.cnt) AS BIGINT) AS overcount
FROM wb JOIN cells c USING (r, bucket)
GROUP BY word
ORDER BY est_count DESC, word
LIMIT {CMS_K}
"""


# --- D82: Heaps-law vocabulary growth curve -------------------------------------

#: fixed corpus-order buckets for the growth curve — scale-free by
#: construction (each bucket is 1/VG_BUCKETS of the doc_id RANGE, derived
#: in-query from min/max, never assuming density or 0-base)
VG_BUCKETS = 20


def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve over corpus order (D82):
    split the doc_id range into {VG_BUCKETS} equal slices and report, per
    slice, its doc and token volume plus the number of NEVER-SEEN-BEFORE
    words it introduces, with running totals — the cumulative
    tokens-vs-distinct-vocabulary curve that sizes tokenizer vocabularies
    and detects corpus drift (a slice whose new-word rate jumps is a new
    domain entering the feed).

    The naive form (distinct-so-far per prefix) rescans the corpus per
    point; this one is a single pass — a word's first occurrence is
    min(doc_id) (ONE aggregate, shuffle = distinct words), and
    "new words in slice b" is just a count over first occurrences. The
    cumulative sums then run over the {VG_BUCKETS}-row bucket frame —
    bounded state, so the unpartitioned window is O({VG_BUCKETS}), not a
    corpus-wide single-partition sort.

    All-integer output (counts and sums) — bit-exact across engines.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bounds = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    span = "(mx - mn + 1)"
    per_doc = (
        docs.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(f"((doc_id - mn) * {VG_BUCKETS}) div {span}").alias("bucket"),
            F.size(F.split("text", " ")).cast("bigint").alias("n_toks"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_b"),
            F.sum("n_toks").cast("bigint").alias("toks"),
        )
    )
    firsts = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.min("doc_id").alias("fd"))
        .crossJoin(F.broadcast(bounds))
        .select(F.expr(f"((fd - mn) * {VG_BUCKETS}) div {span}").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_words"))
    )
    return vocab_curve(spark, per_doc, firsts)


def vocab_curve(spark: SparkSession, slices: DataFrame, new_words: DataFrame) -> DataFrame:
    """D82's curve from per-slice (bucket, n_docs_b, toks) sums and
    per-slice (bucket, new_words) counts, over the {VG_BUCKETS}-row
    spine. Shared with the B32 streaming twin, which feeds its
    aggregation state. No slices (an empty corpus has no id span to
    slice) means no curve: zero rows, not {VG_BUCKETS} rows of zeros."""
    spine = (
        spark.range(VG_BUCKETS)
        .select(F.col("id").cast("bigint").alias("bucket"))
        .crossJoin(slices.select().limit(1))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(slices, "bucket", "left")
        .join(new_words, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_docs_b", F.lit(0)).cast("bigint").alias("n_docs_b"),
            F.coalesce("new_words", F.lit(0)).cast("bigint").alias("new_words"),
            F.coalesce("toks", F.lit(0)).cast("bigint").alias("toks"),
        )
        .select(
            "bucket",
            "n_docs_b",
            "new_words",
            F.sum("toks").over(w).cast("bigint").alias("cum_tokens"),
            F.sum("new_words").over(w).cast("bigint").alias("cum_vocab"),
        )
        .orderBy("bucket")
    )


VOCAB_GROWTH_SQL = f"""
WITH b AS (
  SELECT CAST(min(doc_id) AS BIGINT) AS mn, CAST(max(doc_id) AS BIGINT) AS mx
  FROM documents),
agg AS (
  SELECT ((d.doc_id - b.mn) * {VG_BUCKETS}) // (b.mx - b.mn + 1) AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs_b,
         CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS toks
  FROM documents d CROSS JOIN b
  GROUP BY 1),
fw AS (
  SELECT w, min(doc_id) AS fd
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w),
fb AS (
  SELECT ((fw.fd - b.mn) * {VG_BUCKETS}) // (b.mx - b.mn + 1) AS bucket,
         CAST(count(*) AS BIGINT) AS new_words
  FROM fw CROSS JOIN b
  GROUP BY 1),
sp AS (SELECT unnest(range({VG_BUCKETS})) AS bucket FROM b WHERE b.mn IS NOT NULL)
SELECT CAST(sp.bucket AS BIGINT) AS bucket,
       CAST(coalesce(agg.n_docs_b, 0) AS BIGINT) AS n_docs_b,
       CAST(coalesce(fb.new_words, 0) AS BIGINT) AS new_words,
       CAST(sum(coalesce(agg.toks, 0))
            OVER (ORDER BY sp.bucket) AS BIGINT) AS cum_tokens,
       CAST(sum(coalesce(fb.new_words, 0))
            OVER (ORDER BY sp.bucket) AS BIGINT) AS cum_vocab
FROM sp
LEFT JOIN agg ON agg.bucket = sp.bucket
LEFT JOIN fb ON fb.bucket = sp.bucket
ORDER BY bucket
"""


# --- D83: per-source tokenizer fertility ----------------------------------------


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer FERTILITY (D83): pieces-per-word of the
    persisted depth-{BPE_MERGES} BPE model, broken out by corpus source —
    the standard tokenizer-evaluation metric (a source whose fertility is
    high is poorly served by the vocabulary: its text fragments into many
    pieces per word, inflating sequence lengths and training cost; the
    signal that drives vocabulary re-training or per-source re-weighting).

    Scale shape: the bpe_encode apply idiom — load the persisted model,
    segment the DISTINCT vocabulary once (Arrow-batched mapInPandas),
    equi-join back UN-hinted (Heaps'-law table, AQE decides), then one
    map-side-combinable per-source reduce. The fertility ratio of exact
    BIGINT sums rounds with the portable 4-dp form (never engine round()
    — the CLAUDE.md .xxxx5 boundary rule).
    """
    merges = [(m[1], m[2], m[3]) for m in persisted_bpe_merges(spark, sf_dir)]
    apply_merges = bpe_apply_kernel(merges)

    docs = load_table(spark, sf_dir, "documents").select("text", "source")
    words = (
        docs.repartition(spark.sparkContext.defaultParallelism)
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") > 0)
    )
    seg = words.select("w").distinct().mapInPandas(
        apply_merges, "w string, pw string, np int"
    )
    return (
        words.join(seg, "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("np").cast("bigint").alias("n_pieces"),
        )
        .select(
            "source",
            "n_words",
            "n_pieces",
            round4(F.col("n_pieces") / F.col("n_words")).alias("fertility_4dp"),
        )
        .orderBy("source")
    )


def _tokenizer_fertility_sql() -> str:
    ratio = round4_sql("CAST(n_pieces AS DOUBLE) / n_words")
    return f"""
WITH {bpe_doc_token_counts_ctes()},
nw AS (
  SELECT w.doc_id, cast(count(*) AS bigint) AS n_words
  FROM wnz w GROUP BY w.doc_id
),
per_source AS (
  SELECT d0.source,
         CAST(sum(nw.n_words) AS BIGINT) AS n_words,
         CAST(sum(d.n_tokens) AS BIGINT) AS n_pieces
  FROM documents d0
  JOIN d ON d.doc_id = d0.doc_id
  JOIN nw ON nw.doc_id = d0.doc_id
  GROUP BY d0.source
)
SELECT source, n_words, n_pieces, {ratio} AS fertility_4dp
FROM per_source
ORDER BY source
"""


QUERIES = {
    "vocab_topk": vocab_topk,
    "heavy_hitters_cms": heavy_hitters_cms,
    "vocab_growth": vocab_growth,
    "tokenizer_fertility": tokenizer_fertility,
    "bigram_counts": bigram_counts,
    "tfidf_top_terms": tfidf_top_terms,
    "source_vocab_overlap": source_vocab_overlap,
    # no-oracle: sketch internals are engine-specific; bounded by
    # tests/test_approx.py against the exact aggregates
    "sketch_profile": sketch_profile,
    # D45's deterministic companion row (KMV registers, oracle-checked)
    "sketch_kmv": sketch_kmv,
    # oracle-checked as of r10: the fixed-round loop unrolls into SQL
    # (_bpe_iter_ctes) — all-integer/string state, so the match is exact;
    # the pure-Python model check in tests/test_semantics.py remains
    "bpe_train": bpe_train,
    "bpe_encode": bpe_encode,
}

ORACLES = {
    "vocab_topk": VOCAB_TOPK_SQL,
    "heavy_hitters_cms": _heavy_hitters_cms_sql(),
    "vocab_growth": VOCAB_GROWTH_SQL,
    "tokenizer_fertility": _tokenizer_fertility_sql(),
    "sketch_kmv": _sketch_kmv_sql(),
    "bigram_counts": BIGRAM_COUNTS_SQL,
    "tfidf_top_terms": TFIDF_TOP_TERMS_SQL,
    "source_vocab_overlap": VOCAB_OVERLAP_SQL,
    "bpe_train": _bpe_train_sql(),
    "bpe_encode": _bpe_encode_sql(),
}
