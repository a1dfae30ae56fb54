"""Data-governance operators: the audits a training-data pipeline runs
before it is allowed to ship a corpus.

Three residents:
  - k_anonymity_audit: re-identification risk over the events table —
    group sizes of quasi-identifier combinations (the k-anonymity
    measure of Sweeney 2002), reported as an exact integer histogram
    plus the count of rows violating the k >= {K_MIN} policy.
  - l_diversity_audit: the attribute-disclosure companion (r15) —
    per-QI-group DISTINCT counts of the sensitive column, the leak a
    large-but-homogeneous group hides from the k audit.
  - corpus_card: the per-source dataset card (doc/token/char counts,
    language mix, exact-duplicate rate, length profile) a pipeline
    publishes alongside a corpus release.

All are single-pass (or two-level) aggregations with exact integer (or
portable-rounded) outputs — no sketches, no doubles in the compare path
except one round2 mean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frolyk_spark.functions.portable import round2, round2_sql
from frolyk_spark.sources.catalog import load_table

#: k-anonymity policy threshold: QI groups smaller than this are violations
K_MIN = 5

#: value bucketing for the quasi-identifier (floor(value / VALUE_BUCKET))
VALUE_BUCKET = 10


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity histogram over the events table: quasi-identifiers are
    (event_type, event day, value bucket) — the indirect attributes an
    adversary could link on — and each row's k is the size of its QI
    group. One row per k-band (1, 2-4, 5-9, 10-99, 100+): group count,
    row count, and whether the band violates the k >= {K_MIN} policy.

    All integer: the value bucket is floor(value / {VALUE_BUCKET}) (both
    engines floor the identical double, then everything downstream is
    BIGINT); the day is date-truncated inside the group key only, never
    emitted (the CLAUDE.md dates-as-strings rule applies to outputs).

    Scale: ONE map-side-combinable groupBy on the QI key (the shuffle any
    profiling aggregate pays), then a band roll-up over the
    group-cardinality frame — O(groups), never a second corpus pass.
    """
    return k_band_histogram(
        qi_groups(load_table(spark, sf_dir, "events").select("event_type", "ts", "value"))
    )


def qi_groups(ev: DataFrame) -> DataFrame:
    """The audit's first level — the QI groupBy of an events frame to
    (event_type, d, vb, k). Shared with the B27 streaming twin, which
    applies it to the event stream as a native streaming aggregation, so
    the QI definition cannot drift between the two."""
    return (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").alias("d"),
            F.floor(F.col("value") / VALUE_BUCKET).cast("bigint").alias("vb"),
        )
        .groupBy("event_type", "d", "vb")
        .agg(F.count(F.lit(1)).alias("k"))
    )


def k_band_histogram(groups: DataFrame) -> DataFrame:
    """The audit's second level — QI group sizes to the banded k
    histogram, O(groups). Shared with the B27 streaming twin, which
    applies it to its final aggregation state."""
    band = (
        F.when(F.col("k") == 1, "1")
        .when(F.col("k") <= 4, "2-4")
        .when(F.col("k") <= 9, "5-9")
        .when(F.col("k") <= 99, "10-99")
        .otherwise("100+")
    )
    return (
        groups.select(band.alias("k_band"), "k")
        .groupBy("k_band")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("k").alias("n_rows"),
            F.min("k").alias("min_k"),
        )
        .select(
            "k_band",
            F.col("n_groups").cast("bigint").alias("n_groups"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            (F.col("min_k") < K_MIN).alias("violates_policy"),
        )
    )


K_ANONYMITY_SQL = f"""
WITH g AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         CAST(floor(value / {VALUE_BUCKET}) AS BIGINT) AS vb,
         count(*) AS k
  FROM events GROUP BY 1, 2, 3
),
banded AS (
  SELECT CASE WHEN k = 1 THEN '1'
              WHEN k <= 4 THEN '2-4'
              WHEN k <= 9 THEN '5-9'
              WHEN k <= 99 THEN '10-99'
              ELSE '100+' END AS k_band,
         k
  FROM g
)
SELECT k_band,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(k) AS BIGINT) AS n_rows,
       (min(k) < {K_MIN}) AS violates_policy
FROM banded GROUP BY k_band
"""


#: l-diversity policy threshold: QI groups with fewer than this many
#: DISTINCT sensitive values are violations. Probed on the shipped SFs
#: (r15): l spans 1..5 at every SF (sf0.001: 178/85/104/8 groups in the
#: 1/2/3-4/5+ bands; sf0.01: 155/99/174/278), so every band is
#: populated and the violation predicate is non-degenerate.
L_MIN = 3


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity histogram over the events table (r14 verdict item 6
    — the leak k-anonymity can't see): a QI group of k=50 rows passes
    every k policy, but if its SENSITIVE attribute is constant the
    adversary learns it with certainty from group membership alone.
    Here the quasi-identifiers are (event day, value bucket) — C68's QI
    minus the sensitive column — and the sensitive attribute is
    event_type; each group's l is its count of distinct sensitive
    values (Machanavajjhala et al. 2007's distinct l-diversity). One
    row per l-band (1, 2, 3-4, 5+): group count, row count, and whether
    the band violates the l >= {L_MIN} policy.

    Integer-exact end to end, and deliberately NO count(DISTINCT): the
    distinct count is a two-level aggregate — groupBy (QI, sensitive)
    then count rows per QI — which is both the CLAUDE.md own-pass
    posture and EXACTLY the mergeable state shape the streaming twin
    (stream_l_diversity) accumulates, so the two share this oracle.

    Scale: two map-side-combinable groupBys, the second over O(QI
    groups x |sensitive domain|) — never a second corpus pass.
    """
    return l_band_histogram(qi_sensitive_counts(spark, sf_dir))


def qi_pairs(ev: DataFrame) -> DataFrame:
    """The first-level (QI, sensitive-value) reduction over an events
    frame — factored to ONE definition (r15 second review) because the
    B37 streaming twin's per-batch reduce must stay bit-identical to
    the batch audits' first level for the shared-state/shared-oracle
    claims to hold: a QI tweak applied to one copy would silently
    diverge the other."""
    return (
        ev.select(
            F.date_trunc("day", "ts").alias("d"),
            F.floor(F.col("value") / VALUE_BUCKET).cast("bigint").alias("vb"),
            "event_type",
        )
        .groupBy("d", "vb", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def qi_sensitive_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared first level of the attribute-disclosure audits —
    qi_pairs over the events table, one map-side-combinable groupBy.
    This is also exactly the mergeable state shape the B37 streaming
    twin accumulates (counts add), which is what lets the stream share
    the batch oracles."""
    return qi_pairs(
        load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    )


def l_band_histogram(pairs: DataFrame) -> DataFrame:
    """The audit's second level — (d, vb, event_type, c) pair counts to
    the banded l histogram — factored to ONE definition (r15 review, the
    basket_half_pairs precedent) because the B37 streaming twin's final
    view must stay bit-identical to the batch audit for the shared
    oracle to hold: a band or L_MIN tweak applied to one copy would
    silently diverge the other."""
    ldiv = pairs.groupBy("d", "vb").agg(
        F.count(F.lit(1)).cast("bigint").alias("l"),
        F.sum("c").cast("bigint").alias("k"),
    )
    band = (
        F.when(F.col("l") == 1, "1")
        .when(F.col("l") == 2, "2")
        .when(F.col("l") <= 4, "3-4")
        .otherwise("5+")
    )
    return (
        ldiv.select(band.alias("l_band"), "l", "k")
        .groupBy("l_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("k").cast("bigint").alias("n_rows"),
            F.min("l").alias("min_l"),
        )
        .select(
            "l_band",
            "n_groups",
            "n_rows",
            (F.col("min_l") < L_MIN).alias("violates_policy"),
        )
    )


L_DIVERSITY_SQL = f"""
WITH p AS (
  SELECT date_trunc('day', ts) AS d,
         CAST(floor(value / {VALUE_BUCKET}) AS BIGINT) AS vb,
         event_type,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2, 3
),
g AS (
  SELECT d, vb, CAST(count(*) AS BIGINT) AS l, CAST(sum(c) AS BIGINT) AS k
  FROM p GROUP BY d, vb
),
banded AS (
  SELECT CASE WHEN l = 1 THEN '1'
              WHEN l = 2 THEN '2'
              WHEN l <= 4 THEN '3-4'
              ELSE '5+' END AS l_band,
         l, k
  FROM g
)
SELECT l_band,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(k) AS BIGINT) AS n_rows,
       (min(l) < {L_MIN}) AS violates_policy
FROM banded GROUP BY l_band
"""


#: t-closeness policy: a QI group violates when its sensitive-value
#: distribution sits at total-variation distance >= T_NUM/T_DEN (1/2)
#: from the corpus-wide distribution — evaluated in EXACT integer
#: arithmetic (num·T_DEN >= 2·k·N·T_NUM), never through double ratios.
T_NUM, T_DEN = 1, 2


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness histogram over the events table (C68c) — the third
    rung of the disclosure ladder (Li, Li & Venkatasubramanian 2007):
    l-diversity counts distinct sensitive values but a group can hold
    all five event types at 96%/1%/1%/1%/1% — skewed far from the
    corpus-wide distribution, so membership still leaks the likely
    value. t-closeness measures each QI group's DISTANCE from the
    global sensitive distribution; for a categorical attribute the
    standard distance is total variation, TVD = (1/2)·Σ_v |c_v/k − C_v/N|.

    Exactness (the no-transcendentals/no-ratios posture): every TVD
    comparison happens on the common denominator k·N — the per-group
    numerator num = Σ_v |c_v·N − C_v·k| is exact BIGINT (zero-count
    values included via the group × domain expansion), the quartile
    band is floor(num·4 / (2·k·N)), and the policy predicate is
    num·{T_DEN} >= 2·k·N·{T_NUM}. num itself can reach 2·k·N, so the
    band's num·4 is the binding product: exact while k·N < 2^60
    (N up to ~10^9 rows at k up to N); beyond that the products need
    DECIMAL — documented, not silently wrapped (r15 second review: the
    first bound claimed 2^62, off by the band's factor of 4). Probed
    r15: quartile bands 0..3 all populated at every SF (sf0.001
    1/44/152/178, sf0.1 442/259/194/161), with the t=1/2 violation
    boundary inside the observed spread.

    Shape: the shared first level (qi_sensitive_counts), LINEAGE-CUT —
    it feeds four plan arms (g, gd, the broadcast-scalar nn, and the
    join-back), the exact CLAUDE.md cut rule, pinned by max_scans in
    the plan test; then one bounded group × |sensitive domain|
    expansion (global counts broadcast — the domain is genuinely
    bounded, the CLAUDE.md broadcast rule), one groupBy back to groups,
    one band roll-up. The join-back is NULL-SAFE on all three keys
    (eqNullSafe, mirrored as IS NOT DISTINCT FROM in the oracle): a
    NULL-keyed QI group or NULL sensitive value is one group under
    groupBy, and a null-unsafe join would zero its c while k still
    counted it — forcing the group into the violating band regardless
    of its true distribution (the r9 null-key rule; both engines fixed
    together so the oracle can't mask it). The B37 streaming state is
    this audit's input too — a streaming twin needs no new state."""
    from frolyk_spark.functions.lineage import cut_lineage

    pairs = cut_lineage(qi_sensitive_counts(spark, sf_dir))
    g = pairs.groupBy("d", "vb").agg(F.sum("c").cast("bigint").alias("k"))
    gd = pairs.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("cg")
    )
    nn = pairs.agg(F.sum("c").cast("bigint").alias("nt"))
    exp = (
        g.crossJoin(F.broadcast(gd))
        .crossJoin(F.broadcast(nn))
    )
    p2 = pairs.select(
        F.col("d").alias("pd"), F.col("vb").alias("pvb"),
        F.col("event_type").alias("pet"), "c",
    )
    x = (
        exp.join(
            p2,
            exp["d"].eqNullSafe(p2["pd"])
            & exp["vb"].eqNullSafe(p2["pvb"])
            & exp["event_type"].eqNullSafe(p2["pet"]),
            "left",
        )
        .select(
            "d", "vb", "k", "cg", "nt",
            F.coalesce("c", F.lit(0).cast("bigint")).alias("c"),
        )
    )
    tv = x.groupBy("d", "vb", "k").agg(
        F.max("nt").alias("nt"),
        F.sum(F.abs(F.col("c") * F.col("nt") - F.col("cg") * F.col("k")))
        .cast("bigint")
        .alias("num"),
    )
    quart = F.expr("CAST((num * 4) div (2 * k * nt) AS BIGINT)")
    banded = tv.select(
        F.concat(F.lit("q"), quart.cast("string")).alias("t_band"),
        "k",
        (
            F.col("num") * F.lit(T_DEN)
            >= F.lit(2 * T_NUM) * F.col("k") * F.col("nt")
        ).alias("viol"),
    )
    return (
        banded.groupBy("t_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("k").cast("bigint").alias("n_rows"),
            F.max("viol").alias("violates_policy"),
        )
        .orderBy("t_band")
    )


T_CLOSENESS_SQL = f"""
WITH p AS (
  SELECT date_trunc('day', ts) AS d,
         CAST(floor(value / {VALUE_BUCKET}) AS BIGINT) AS vb,
         event_type,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2, 3
),
g AS (SELECT d, vb, CAST(sum(c) AS BIGINT) AS k FROM p GROUP BY d, vb),
gd AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS cg
       FROM p GROUP BY event_type),
nn AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM p),
x AS (
  SELECT g.d, g.vb, g.k, gd.cg, nn.nt, coalesce(p.c, 0) AS c
  FROM g CROSS JOIN gd CROSS JOIN nn
  LEFT JOIN p ON p.d IS NOT DISTINCT FROM g.d
             AND p.vb IS NOT DISTINCT FROM g.vb
             AND p.event_type IS NOT DISTINCT FROM gd.event_type
),
tv AS (
  SELECT d, vb, k, max(nt) AS nt,
         CAST(sum(abs(c * nt - cg * k)) AS BIGINT) AS num
  FROM x GROUP BY d, vb, k
),
banded AS (
  SELECT 'q' || CAST(CAST((num * 4) // (2 * k * nt) AS BIGINT) AS VARCHAR)
           AS t_band,
         k,
         (num * {T_DEN} >= 2 * {T_NUM} * k * nt) AS viol
  FROM tv
)
SELECT t_band,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(k) AS BIGINT) AS n_rows,
       max(viol) AS violates_policy
FROM banded GROUP BY t_band
ORDER BY t_band
"""


def corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source dataset card: one row per source with document,
    token, and character counts, the language mix (serialized
    "lang:count" pairs, sorted — non-scalar outputs crash the driver
    canonicalizer, the CLAUDE.md concat_ws rule), the exact-duplicate
    rate (documents whose full text appears more than once WITHIN the
    source — surplus copies, the number dedup_exact would remove), and
    the portable-rounded mean document length.

    Two shuffles, both map-side-combinable: one on (source, lang) for
    the mix + totals (rolled up from the lang level so the corpus scans
    once), one on (source, text-hash) for the duplicate surplus —
    hashed 60-bit keys, never full-text shuffle keys.
    """
    from frolyk_spark.functions.hashing import portable_hash_expr

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    by_lang = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )
    per_source = by_lang.groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.concat_ws(
            ",",
            F.array_sort(
                F.collect_list(F.concat_ws(":", "lang", F.col("n_docs").cast("string")))
            ),
        ).alias("lang_mix"),
    )
    dup_surplus = (
        docs.groupBy("source", portable_hash_expr("text").alias("th"))
        .agg((F.count(F.lit(1)) - 1).alias("surplus"))
        .groupBy("source")
        .agg(F.sum("surplus").cast("bigint").alias("n_dup_docs"))
    )
    return (
        per_source.join(dup_surplus, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_dup_docs",
            "lang_mix",
            round2(F.col("n_chars") / F.col("n_docs")).alias("mean_chars"),
        )
    )


def _corpus_card_sql() -> str:
    from frolyk_spark.functions.hashing import portable_hash_sql

    th = portable_hash_sql("text")
    return f"""
WITH by_lang AS (
  SELECT source, lang, count(*) AS n_docs,
         sum(len(string_split(text, ' '))) AS n_tokens,
         sum(n_chars) AS n_chars
  FROM documents GROUP BY source, lang
),
per_source AS (
  SELECT source,
         CAST(sum(n_docs) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         CAST(sum(n_chars) AS BIGINT) AS n_chars,
         list_aggregate(list_sort(list(lang || ':' || CAST(n_docs AS VARCHAR))),
                        'string_agg', ',') AS lang_mix
  FROM by_lang GROUP BY source
),
dups AS (
  SELECT source, CAST(sum(surplus) AS BIGINT) AS n_dup_docs
  FROM (SELECT source, {th} AS th, count(*) - 1 AS surplus
        FROM documents GROUP BY source, th)
  GROUP BY source
)
SELECT p.source, p.n_docs, p.n_tokens, p.n_chars, d.n_dup_docs, p.lang_mix,
       {round2_sql('p.n_chars / CAST(p.n_docs AS DOUBLE)')} AS mean_chars
FROM per_source p JOIN dups d USING (source)
"""


QUERIES = {
    "k_anonymity_audit": k_anonymity_audit,
    "l_diversity_audit": l_diversity_audit,
    "t_closeness_audit": t_closeness_audit,
    "corpus_card": corpus_card,
}

ORACLES = {
    "k_anonymity_audit": K_ANONYMITY_SQL,
    "l_diversity_audit": L_DIVERSITY_SQL,
    "t_closeness_audit": T_CLOSENESS_SQL,
    "corpus_card": _corpus_card_sql(),
}
