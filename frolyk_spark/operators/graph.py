"""Graph analytics over the relational tables.

First resident: fixed-round PageRank over the part co-purchase graph —
"which parts anchor the catalog", the classic importance measure a
merchandising/recommendation pipeline derives from order baskets. The
reference (JaapRood/frolyk) has no graph layer; this extends the engine
the way SURVEY §2's LLM-pipeline block does: a first-class distributed
operator with an exact DuckDB oracle.

Exactness strategy (the CLAUDE.md integer-sufficient-statistics rule,
taken to its logical end): the ENTIRE iteration runs in scaled integer
arithmetic — ranks are parts-per-10^12 mass, every division is a floor
division — so Spark and DuckDB agree bit-for-bit with no rounding policy
at all. Unlike the BPE/k-means unrolled fits (whose double state matches
only because outputs quantize), here there is no double anywhere: the
oracle is exact by construction at every round.

Scale posture (the 100 TB review):
  - The basket self-join shuffles lineitem ONCE on l_orderkey; per-order
    fanout is bounded by basket size (TPC-H orders hold ≤7 lines), so the
    pair explosion is a small constant factor, never quadratic in a key.
  - The edge table is dataset-derived state, persisted once per source
    under source-keyed scratch (the E4 pattern) and reread by every call
    and every round — the basket join never re-runs for a known corpus.
  - Per round: one equi-join of the rank table (O(#parts), scales with
    SF ⇒ deliberately UN-hinted — AQE broadcasts while small, CLAUDE.md
    model-table rule) against the edge table, one groupBy(dst) partial
    aggregate. Fixed ROUNDS rounds ⇒ fixed shuffle count, no convergence
    probe, no driver-side state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frolyk_spark.functions.lineage import cut_lineage
from frolyk_spark.sources.catalog import load_table

#: total rank mass, in integer "mass units" (1e12 ⇒ per-node shares stay
#: comfortably inside BIGINT: 85 * 1e12 < 2^63 by five orders of magnitude)
PR_MASS = 1_000_000_000_000

#: fixed damping as an integer percentage (0.85) — kept integral so the
#: per-round update is pure floor arithmetic on both engines
PR_DAMP_PCT = 85

#: fixed iteration count; PageRank's geometric convergence makes 8 rounds
#: a standard production choice, and a FIXED count is what makes the
#: computation oracle-expressible (one chained CTE per round)
PR_ROUNDS = 8

#: result size: top-K parts by final rank
PR_TOP_K = 50


def basket_half_join(li: DataFrame) -> DataFrame:
    """THE basket self-join: co-purchase HALF-edges (src < dst) from a
    (l_orderkey, l_partkey) frame, one row per (order, pair) — NOT
    distinct. Shuffles ONCE on the order key; per-order fan-out is bounded
    by basket size (TPC-H orders hold <=7 lines), so the output is
    O(rows x basket), never quadratic in the corpus. A consumer that
    re-distincts downstream anyway (stream_components' contraction) uses
    it bare and skips the pair-distinct shuffle."""
    dli = li.select("l_orderkey", "l_partkey").distinct()
    a, b = dli.alias("a"), dli.alias("b")
    return a.join(b, "l_orderkey").where(
        F.col("a.l_partkey") < F.col("b.l_partkey")
    ).select(
        F.col("a.l_partkey").alias("src"),
        F.col("b.l_partkey").alias("dst"),
    )


def basket_half_pairs(li: DataFrame, *, weighted: bool = False) -> DataFrame:
    """THE basket-pair kernel (r15, factored from six inline copies — the
    r14 deferred self-review finding): distinct co-purchase HALF-edges
    (src < dst) over basket_half_join.

    ``weighted=True`` returns (src, dst, w) where w = the number of
    distinct orders containing both parts (count over the pair groupBy
    replacing the distinct — the C74 edge-mass form); both variants are
    ONE expression so the unweighted edge set and the weighted one can
    never drift. Callers that need both directions symmetrize with
    ``symmetric_edges``; B34's per-batch builder consumes the half-edge
    form directly."""
    joined = basket_half_join(li)
    if weighted:
        return joined.groupBy("src", "dst").agg(
            F.count(F.lit(1)).cast("bigint").alias("w")
        )
    return joined.distinct()


def symmetric_edges(pairs: DataFrame, *, carry: tuple[str, ...] = ()) -> DataFrame:
    """Both directions of a half-edge frame: (src, dst, *carry) union
    (dst, src, *carry) — the symmetrizing step every whole-graph
    consumer applies on top of basket_half_pairs."""
    cols = ["src", "dst", *carry]
    return pairs.select(*cols).union(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), *carry
        )
    )


def copurchase_edges_frame(li: DataFrame) -> DataFrame:
    """Symmetric distinct co-purchase edge list from a (l_orderkey,
    l_partkey) frame — basket_half_pairs symmetrized."""
    return symmetric_edges(basket_half_pairs(li))


def _copurchase_artifact(
    spark: SparkSession, sf_dir: str, *, weighted: bool = False
) -> tuple[str, int]:
    """(path, bytes) of the persisted co-purchase edge artifact — the
    bytes size the loop consumers' shuffle partitioning
    (functions.loops.loop_partitions)."""
    from frolyk_spark.sources.streams import artifact

    def build(d: str) -> None:
        li = load_table(spark, sf_dir, "lineitem")
        edges = (
            symmetric_edges(basket_half_pairs(li, weighted=True), carry=("w",))
            if weighted else copurchase_edges_frame(li)
        )
        edges.write.mode("overwrite").parquet(d)

    return artifact(
        "graphs", [os.path.join(sf_dir, "lineitem.parquet")],
        ("copurchase_w" if weighted else "copurchase",), build,
    )


def persisted_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase graph persisted once per source dataset (the E4
    persisted-state pattern, like the minhash signature and dHash code
    tables): the basket self-join is the expensive stage, the edge list
    is dataset-derived state every consumer (PageRank rounds here; any
    future graph analysis) rereads from parquet instead of re-forming."""
    return spark.read.parquet(_copurchase_artifact(spark, sf_dir)[0])


def pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PR_TOP_K} parts by {PR_ROUNDS}-round integer PageRank over the
    co-purchase graph (parts are adjacent iff some order contains both).

    Graph: nodes = parts appearing in at least one multi-part order;
    edges = unweighted, symmetric distinct co-purchase pairs. Every node
    therefore has outdeg ≥ 1 — no dangling-mass correction needed.

    Update (all BIGINT, both engines):
        share[u] = r[u] div outdeg[u]
        r'[v]    = (15 * MASS) div (100 * n)            -- teleport
                 + (85 * sum_{u->v} share[u]) div 100   -- damped inflow

    The node count n enters as a one-row aggregate crossJoined into the
    projection (never a driver collect, never a literal — one plan serves
    every SF, the CLAUDE.md derive-in-query rule).
    """
    # fixed-plan loop (r15 optimization, functions.loops): AQE +
    # auto-broadcast off for the rounds, edges cached PRE-PARTITIONED on
    # the round join key (one shuffle now instead of a per-round
    # broadcast-or-shuffle of the SF-scaling edge table), and the rank
    # state keeps its hash partitioning through every checkpoint — each
    # round runs exactly ONE exchange, the inflow aggregate transport
    # (11.5 s / 56 AQE stage-jobs -> ~5.5 s / 7 jobs at sf0.1, checksum-
    # identical; plan pinned in tests/test_loops.py)
    from frolyk_spark.functions.loops import fixed_plan_loop

    # build the persisted artifact BEFORE sizing/entering the loop (r15
    # ADVICE): the loop is sized from its bytes, and the expensive
    # one-time basket self-join must not run under the loop's pinned tiny
    # partition count with AQE off — severely under-partitioned at scale
    path, ebytes = _copurchase_artifact(spark, sf_dir)
    edge_src = spark.read.parquet(path)
    with fixed_plan_loop(spark, big_bytes=ebytes) as nparts:
        edges = edge_src.repartition(nparts, "src").persist()
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        n1 = deg.agg(F.count(F.lit(1)).alias("n"))
        ranks = (
            deg.select(F.col("src").alias("part"), "outdeg")
            .crossJoin(F.broadcast(n1))
            .withColumn("r", F.expr(f"{PR_MASS} div n"))
        )
        for i in range(PR_ROUNDS):
            shares = ranks.select(
                F.col("part").alias("src"), F.expr("r div outdeg").alias("share")
            )
            inflow = (
                edges.join(shares, "src")
                .groupBy("dst")
                .agg(F.sum("share").alias("inflow"))
            )
            ranks = (
                ranks.join(inflow, ranks.part == inflow.dst, "left")
                .select(
                    "part",
                    "outdeg",
                    "n",
                    (
                        F.expr(f"({15 * PR_MASS} div (100 * n))")
                        + F.expr(
                            f"({PR_DAMP_PCT} * coalesce(inflow, 0)) div 100"
                        )
                    ).alias("r"),
                )
            )
            # the rank frame is O(#parts) — cut lineage EVERY SECOND round:
            # per-round eager checkpoints made each round its own Spark job
            # (8 jobs), every-2 halves the job count at bounded plan depth
            # (re-measured under the fixed-plan regime r15: every-2 5.2-6.4 s
            # vs every-4 6.7-7.3 s vs end-only 8.2-10.5 s, bit-identical)
            if i % 2 == 1:
                ranks = cut_lineage(ranks)
        if PR_ROUNDS % 2 == 1:
            # the every-2 cadence leaves an odd final round uncut — cut it so
            # the returned frame never re-reads the edge cache we release below
            ranks = cut_lineage(ranks)
        # the final cut is EAGER (every-2 cadence lands on the last round when
        # PR_ROUNDS is even; the guard above handles odd), so nothing downstream
        # of the returned frame re-reads the edge cache — release the blocks now
        edges.unpersist()
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("r"), F.asc("part"))
    return (
        ranks.withColumn("rank_pos", F.row_number().over(w))
        .where(F.col("rank_pos") <= PR_TOP_K)
        .select(
            F.col("rank_pos").cast("bigint").alias("rank_pos"),
            F.col("part").cast("bigint").alias("part_key"),
            F.col("r").cast("bigint").alias("pr_score"),
        )
    )


def _pagerank_sql() -> str:
    """Unrolled-CTE oracle: one MATERIALIZED CTE per round (the BPE
    pattern — multiply-referenced CTEs must not re-inline). Pure integer
    floor arithmetic reproduces the Spark iteration exactly; every
    intermediate is cast back to BIGINT so DuckDB's HUGEINT sum never
    leaks a float kind into the compare."""
    rounds = []
    prev = "r0"
    for i in range(1, PR_ROUNDS + 1):
        rounds.append(f"""
r{i} AS MATERIALIZED (
  SELECT d.part, d.outdeg, nn.n,
         CAST(({15 * PR_MASS} // (100 * nn.n))
              + ({PR_DAMP_PCT} * coalesce(i.inflow, 0)) // 100 AS BIGINT) AS r
  FROM deg d
  LEFT JOIN (SELECT e.dst AS part,
                    CAST(sum(p.r // p.outdeg) AS BIGINT) AS inflow
             FROM e JOIN {prev} p ON e.src = p.part
             GROUP BY e.dst) i USING (part)
  CROSS JOIN nn
)""")
        prev = f"r{i}"
    chain = ",".join(rounds)
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       FROM li a JOIN li b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2),
e AS MATERIALIZED (
  SELECT src, dst FROM pr UNION ALL SELECT dst AS src, src AS dst FROM pr),
deg AS MATERIALIZED (SELECT src AS part, count(*) AS outdeg FROM e GROUP BY src),
nn AS (SELECT count(*) AS n FROM deg),
r0 AS MATERIALIZED (
  SELECT part, outdeg, nn.n, CAST({PR_MASS} // nn.n AS BIGINT) AS r
  FROM deg CROSS JOIN nn),{chain}
SELECT CAST(rank_pos AS BIGINT) AS rank_pos,
       CAST(part AS BIGINT) AS part_key,
       CAST(r AS BIGINT) AS pr_score
FROM (SELECT part, r,
             row_number() OVER (ORDER BY r DESC, part ASC) AS rank_pos
      FROM {prev})
WHERE rank_pos <= {PR_TOP_K}
"""


# --- C69: k-core peel decomposition ------------------------------------------

#: fixed peel rounds; the observed fixpoint on the shipped SFs is <= 8
#: (sf0.001: 3, sf0.01/sf0.1: 8-round avalanche collapse), so 12 carries a
#: 50% margin. A graph needing more rounds would get the 12-round truncated
#: peel — still bit-identical across engines (both run exactly 12), just
#: documented-partial, the pagerank fixed-round posture.
KCORE_ROUNDS = 12

#: threshold as a scale-free multiple of mean degree (CLAUDE.md: never a
#: fraction-of-total, never an absolute literal): k = (3 * (m div n)) div 4.
#: Probed on the shipped SFs: 3/4 of mean sits exactly at the avalanche
#: edge of this tight-degree random graph — sf0.001 peels 13 nodes over 3
#: rounds and keeps a 187-node core; sf0.01/sf0.1 cascade to empty over 8
#: rounds — both regimes visible, nothing degenerate-constant.
KCORE_NUM, KCORE_DEN = 3, 4


def kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onion-layer k-core peel of the co-purchase graph (C69): remove all
    nodes of residual degree < k simultaneously, round after round, and
    record for every part WHEN it fell (removed_round 1..{KCORE_ROUNDS};
    0 = survives in the k-core) and its frozen degree at that moment
    (survivors report their final within-core degree). The per-round
    layer index is the "onion decomposition" curation signal (a node
    peeled early is weakly embedded no matter how high its raw degree);
    membership at fixpoint is the classic k-core.

    k is derived IN-QUERY as the scale-free (3/4)·(mean degree) — floor
    arithmetic on BIGINTs end to end, so Spark and DuckDB agree
    bit-for-bit with no rounding policy (the pagerank_parts exactness
    posture; oracle = one MATERIALIZED CTE per round).

    ``converged`` (same boolean on every row — one crossJoined one-row
    aggregate, never a driver collect) reports whether the peel reached
    its fixpoint within {KCORE_ROUNDS} rounds: true iff after the final
    round no still-alive part sits below k. A 100×-scale consumer whose
    avalanche outruns the round budget sees converged=false instead of
    silently trusting a truncated peel (r12 verdict item 7).

    Scale — DELTA peel (r13): only round 1 pays a full degree count.
    Every later round recounts NOTHING; it subtracts, from each alive
    part's running degree, its edge count INTO that round's casualty set
    (degree within alive_t = degree within alive_{{t-1}} − edges to
    removed_t, since the edge table is distinct+symmetric). The per-round
    join input is edges × |removed_t| — near-empty once the avalanche
    passes — instead of the r12 form's two full alive-set equi-joins +
    whole-subgraph recount (bit-identical output, measured vs the
    recount form at sf0.1; oracle unchanged in its round chain). The
    delta form also licenses an EXACT early stop: a zero-casualty round
    changes nothing (no removals ⇒ no degree deltas ⇒ the casualty
    predicate re-evaluates identically), so the loop ends there
    (sf0.001 stops after 4 of {KCORE_ROUNDS} rounds, sf0.1 after 9)
    while the oracle runs the full unroll — identical by the no-op
    argument. At most {KCORE_ROUNDS} rounds ⇒ bounded shuffle count; the
    only driver-side value is one casualty count per round (the
    min_label_propagation fixpoint-action posture); state frame
    lineage-cut per round so plan depth stays constant.
    """
    # fixed-plan loop (r15, functions.loops — see pagerank_parts): edges
    # cached pre-partitioned on dst (the casualty-join key), state keeps
    # hash(part) through every checkpoint, so a round's only exchange is
    # the loss aggregate transport (the casualty join itself runs
    # co-partitioned: removed is a filter+rename of the hash(part) state)
    from frolyk_spark.functions.loops import fixed_plan_loop

    # artifact ensured before sizing/entering the loop — see pagerank_parts
    path, ebytes = _copurchase_artifact(spark, sf_dir)
    edge_src = spark.read.parquet(path)
    with fixed_plan_loop(spark, big_bytes=ebytes) as nparts:
        edges = edge_src.repartition(nparts, "dst").persist()
        deg0 = edges.groupBy("src").agg(
            F.count(F.lit(1)).cast("bigint").alias("deg")
        )
        k1 = deg0.agg(
            F.count(F.lit(1)).alias("n"), F.sum("deg").alias("m")
        ).select(
            F.expr(f"(({KCORE_NUM} * (m div n)) div {KCORE_DEN})").alias("k")
        )
        state = (
            deg0.select(F.col("src").alias("part"), "deg")
            .crossJoin(F.broadcast(k1))
            .withColumn("rr", F.lit(None).cast("bigint"))
        )
        # ONE action per round (r15 optimization): the early-stop casualty
        # count is a filter over the SAME frame the round materializes, so a
        # LAZY lineage cut + one count action replaces the old eager
        # checkpoint + separate count (2 jobs/round -> 1, bit-identical
        # output). The lazy cut truncates the plan exactly like the eager
        # one; the count scans every partition, so the next round's three
        # plan arms (stamp, removed filter, loss join) all read materialized
        # blocks.
        for t in range(1, KCORE_ROUNDS + 1):
            # stamp this round's casualties, freezing their residual degree
            state = state.withColumn(
                "rr",
                F.when(F.col("rr").isNull() & (F.col("deg") < F.col("k")), F.lit(t))
                .otherwise(F.col("rr")),
            )
            # delta: alive parts lose exactly their edges into THIS round's
            # casualty set; everyone else's degree is already correct
            removed = state.where(F.col("rr") == t).select(
                F.col("part").alias("dst")
            )
            loss = (
                edges.join(removed, "dst")
                .groupBy("src")
                .agg(F.count(F.lit(1)).cast("bigint").alias("lost"))
                .withColumnRenamed("src", "part")
            )
            state = cut_lineage(
                state.join(loss, "part", "left").select(
                    "part",
                    F.when(
                        F.col("rr").isNull(),
                        F.col("deg") - F.coalesce("lost", F.lit(0)),
                    ).otherwise(F.col("deg")).cast("bigint").alias("deg"),
                    "k",
                    "rr",
                ),
                eager=False,
            )
            # exact early stop the delta form enables: a zero-casualty round
            # changes NOTHING (no removals ⇒ no degree deltas ⇒ the casualty
            # predicate evaluates identically next round), so every remaining
            # round is a no-op and skipping them is bit-identical to running
            # the budget out — which is exactly what the 12-round oracle does.
            # The count doubles as the materializing action for this round's
            # state (the ORACLE still unrolls all rounds, so cross-engine
            # parity is untouched).
            if state.where(F.col("rr") == t).count() == 0:
                break
        edges.unpersist()
    conv = state.agg(
        (F.sum(
            F.when(F.col("rr").isNull() & (F.col("deg") < F.col("k")), 1)
            .otherwise(0)
        ) == 0).alias("converged")
    )
    return (
        state.crossJoin(F.broadcast(conv))
        .select(
            F.col("part").cast("bigint").alias("part_key"),
            F.coalesce("rr", F.lit(0)).cast("bigint").alias("removed_round"),
            F.col("deg").cast("bigint").alias("last_deg"),
            F.col("converged"),
        )
        .orderBy("part_key")
    )


def _kcore_sql() -> str:
    """Unrolled-CTE oracle, one MATERIALIZED round each (the pagerank
    pattern). Alive after round t = (rr still NULL) AND (deg >= k); the
    stamped round freezes deg, survivors get their recount."""
    rounds = []
    prev = "s0"
    for t in range(1, KCORE_ROUNDS + 1):
        rounds.append(f"""
s{t} AS MATERIALIZED (
  SELECT s.part,
         CAST(CASE WHEN s.rr IS NULL AND s.deg >= s.k
                   THEN coalesce(nd.nd, 0) ELSE s.deg END AS BIGINT) AS deg,
         s.k,
         CASE WHEN s.rr IS NULL AND s.deg < s.k THEN {t} ELSE s.rr END AS rr
  FROM {prev} s
  LEFT JOIN (
    SELECT e.src AS part, CAST(count(*) AS BIGINT) AS nd
    FROM e
    JOIN {prev} a ON a.part = e.src AND a.rr IS NULL
                 AND a.deg >= (SELECT k FROM kk)
    JOIN {prev} b ON b.part = e.dst AND b.rr IS NULL
                 AND b.deg >= (SELECT k FROM kk)
    GROUP BY e.src
  ) nd USING (part)
)""")
        prev = f"s{t}"
    chain = ",".join(rounds)
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       FROM li a JOIN li b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2),
e AS MATERIALIZED (
  SELECT src, dst FROM pr UNION ALL SELECT dst AS src, src AS dst FROM pr),
deg0 AS MATERIALIZED (
  SELECT src AS part, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
kk AS MATERIALIZED (
  SELECT CAST((({KCORE_NUM} * (sum(deg) // count(*))) // {KCORE_DEN})
              AS BIGINT) AS k
  FROM deg0),
s0 AS MATERIALIZED (
  SELECT part, deg, kk.k, CAST(NULL AS BIGINT) AS rr
  FROM deg0 CROSS JOIN kk),{chain},
conv AS (
  SELECT (sum(CASE WHEN rr IS NULL AND deg < k THEN 1 ELSE 0 END) = 0)
         AS converged
  FROM {prev})
SELECT CAST(part AS BIGINT) AS part_key,
       CAST(coalesce(rr, 0) AS BIGINT) AS removed_round,
       CAST(deg AS BIGINT) AS last_deg,
       conv.converged AS converged
FROM {prev} CROSS JOIN conv
ORDER BY part_key
"""


# --- C70: triangle counting (degree-oriented wedge check) ---------------------


def triangle_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation over the co-purchase graph (C70):
    for every part its degree, the number of triangles it sits in, and its
    open-wedge count deg*(deg-1) div 2 — the integer numerator/denominator
    of the local clustering coefficient, left un-divided per the
    no-ratios-in-the-compare-path rule. Triangle density vs wedge count is
    the classic "community part vs hub part" curation signal the graph
    block exists for.

    Algorithm (the standard distributed triangle count, e.g. Suri &
    Vassilvitskii "Counting Triangles and the Curse of the Last Reducer",
    WWW'11): orient every undirected edge from its lower-(degree, id)
    endpoint to the higher one. Out-degree under this orientation is
    O(sqrt(m)) regardless of skew, so the wedge join below never
    explodes on a hub the way a naive neighbor self-join would — the
    100 TB posture. Wedges (a->b, a->c) with order(b) < order(c) are
    generated by ONE equi-join of the oriented table with itself on the
    tail, then closed by ONE equi-join probing edge (b, c); orientation
    consistency means a closing edge can only appear as lo=b, hi=c.

    All arithmetic is BIGINT (counts only) — bit-exact across engines by
    construction, the pagerank/kcore exactness posture.
    """
    # r15 probe, REJECTED (kept for the record): a shuffled-hash closing
    # probe (to skip sorting the 41M-wedge stream side) cannot actually
    # engage — the checkpointed oriented table carries no stats, so both
    # preferSortMergeJoin=false and AQE's maxShuffledHashJoinLocalMapThreshold
    # leave every join SortMergeJoin in the FINAL executed plan
    # (plans/r15/triangle_parts_close_join_*.txt), and 4-rep interleaved
    # timings of base vs pinned vs AQE-threshold variants are within
    # noise (5.3-8.1 vs 5.4-7.2 vs 8.3-13 in a degrading window), all
    # checksum-identical. The wedge volume itself is the cost and is
    # already minimal for the exact algorithm (sqrt(m) orientation).
    edges = persisted_copurchase_edges(spark, sf_dir)
    deg = cut_lineage(
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .withColumnRenamed("src", "part")
    )
    und = edges.where(F.col("src") < F.col("dst"))
    withdeg = (
        und.join(
            deg.select(F.col("part").alias("src"), F.col("deg").alias("sdeg")),
            "src",
        )
        .join(
            deg.select(F.col("part").alias("dst"), F.col("deg").alias("ddeg")),
            "dst",
        )
    )
    src_first = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    # oriented edge table feeds THREE join sides (both wedge legs + the
    # closing probe) — cut or Spark recomputes the degree joins per side
    o = cut_lineage(
        withdeg.select(
            F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("lo"),
            F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("hi"),
            F.when(src_first, F.col("ddeg")).otherwise(F.col("sdeg")).alias("hideg"),
        )
    )
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.lo") == F.col("e2.lo"))
        .where(
            (F.col("e1.hideg") < F.col("e2.hideg"))
            | (
                (F.col("e1.hideg") == F.col("e2.hideg"))
                & (F.col("e1.hi") < F.col("e2.hi"))
            )
        )
        .select(
            F.col("e1.lo").alias("a"),
            F.col("e1.hi").alias("b"),
            F.col("e2.hi").alias("c"),
        )
        .join(
            e3,
            (F.col("b") == F.col("e3.lo")) & (F.col("c") == F.col("e3.hi")),
            "left_semi",
        )
    )
    # ONE pass: exploding the 3 roles per triangle keeps the wedge join a
    # single execution — a 3-way self-union would re-run the whole
    # wedge+probe pipeline once per role (Spark reuses exchanges, not
    # join operators; the 3x lesson measured at sf0.1: 14.8 -> ~6 s)
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tri"))
    )
    return (
        deg.join(per_node, "part", "left")
        .select(
            F.col("part").cast("bigint").alias("part_key"),
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce("tri", F.lit(0)).cast("bigint").alias("tri_count"),
            F.expr("(deg * (deg - 1)) div 2").cast("bigint").alias("open_wedges"),
        )
        .orderBy("part_key")
    )


def _triangle_sql() -> str:
    """Same degree orientation, wedge join, and closing probe in DuckDB —
    counts only, exact by construction."""
    return """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       FROM li a JOIN li b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2),
e AS MATERIALIZED (
  SELECT src, dst FROM pr UNION ALL SELECT dst AS src, src AS dst FROM pr),
deg AS MATERIALIZED (
  SELECT src AS part, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
o AS MATERIALIZED (
  SELECT CASE WHEN ds.deg < dd.deg OR (ds.deg = dd.deg AND p.src < p.dst)
              THEN p.src ELSE p.dst END AS lo,
         CASE WHEN ds.deg < dd.deg OR (ds.deg = dd.deg AND p.src < p.dst)
              THEN p.dst ELSE p.src END AS hi,
         CASE WHEN ds.deg < dd.deg OR (ds.deg = dd.deg AND p.src < p.dst)
              THEN dd.deg ELSE ds.deg END AS hideg
  FROM pr p
  JOIN deg ds ON ds.part = p.src
  JOIN deg dd ON dd.part = p.dst),
tri AS MATERIALIZED (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM o e1
  JOIN o e2 ON e1.lo = e2.lo
           AND (e1.hideg < e2.hideg
                OR (e1.hideg = e2.hideg AND e1.hi < e2.hi))
  WHERE EXISTS (SELECT 1 FROM o e3 WHERE e3.lo = e1.hi AND e3.hi = e2.hi)),
pc AS (
  SELECT part, CAST(count(*) AS BIGINT) AS tri
  FROM (SELECT a AS part FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
  GROUP BY part)
SELECT CAST(d.part AS BIGINT) AS part_key,
       CAST(d.deg AS BIGINT) AS degree,
       CAST(coalesce(pc.tri, 0) AS BIGINT) AS tri_count,
       CAST((d.deg * (d.deg - 1)) // 2 AS BIGINT) AS open_wedges
FROM deg d
LEFT JOIN pc USING (part)
ORDER BY part_key
"""


# --- C71: connected components (min-label propagation) ------------------------

#: fixed unroll depth for the ORACLE and the Spark round budget. The
#: co-purchase graph is near-complete at the shipped SFs (min-label
#: fixpoint in 2-3 rounds); 12 carries the kcore margin. The Spark loop
#: early-stops at the fixpoint (bit-identical to running the budget out),
#: so the only cost of the margin is oracle CTE length.
COMPONENTS_ROUNDS = 12


def components_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase graph (C71): the cluster-id
    assignment that partitions a catalog into independently-processable
    part families — the fourth classic next to importance (pagerank),
    embeddedness (kcore), and community density (triangles). Reuses the
    persisted edge table (E4 pattern) and the level-synchronous min-label
    core the dedup family runs (dedup.min_label_propagation — one
    doc_id-keyed shuffle per round, lineage cut per round, NEVER a
    path-enumerating recursive CTE; the co-purchase component is giant, so
    the D15 closure oracle would enumerate O(n²) (node,label) pairs —
    instead the oracle unrolls {COMPONENTS_ROUNDS} fixed rounds of the
    same propagation, the kcore/pagerank posture).

    Output per part: its component id (= the component's min part key,
    the canonical representative), whether it IS the representative, the
    component size, and the same truncation-honesty ``converged`` flag as
    kcore_parts — true iff label propagation reached its fixpoint within
    the round budget (the Spark loop's early stop and the oracle's
    "last two rounds agree" check coincide in every case, including a
    fixpoint landing exactly on the final round). Labels are part keys
    (BIGINTs) end to end — bit-exact across engines by construction.
    """
    from frolyk_spark.operators.dedup import min_label_propagation

    # the persisted table is already symmetric — declare it so the
    # propagation skips its symmetrizing union; the propagation now
    # checkpoints the scan ONCE pre-partitioned on the round join key
    # (the r15 fixed-plan loop regime — one up-front exchange buys
    # co-partitioned rounds, superseding the r13 bare-rescan posture),
    # and sizes its partitioning from the artifact's on-disk bytes
    path, ebytes = _copurchase_artifact(spark, sf_dir)
    pairs = spark.read.parquet(path).select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    labels, converged = min_label_propagation(
        pairs, COMPONENTS_ROUNDS, symmetric=True, big_bytes=ebytes,
    )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("component_size")
    )
    return (
        labels.join(sizes, "label")
        .select(
            F.col("doc_id").cast("bigint").alias("part_key"),
            F.col("label").cast("bigint").alias("component_id"),
            (F.col("doc_id") == F.col("label")).alias("is_canonical"),
            "component_size",
            F.lit(converged).alias("converged"),
        )
        .orderBy("part_key")
    )


def _components_sql() -> str:
    """Unrolled fixed-round min-label propagation (one MATERIALIZED CTE
    per round — the pagerank/kcore pattern), plus a last-two-rounds
    agreement check for the converged flag."""
    rounds = []
    prev = "l0"
    for t in range(1, COMPONENTS_ROUNDS + 1):
        rounds.append(f"""
l{t} AS MATERIALIZED (
  SELECT l.part, least(l.label, coalesce(nm.m, l.label)) AS label
  FROM {prev} l
  LEFT JOIN (SELECT e.src AS part, min(p.label) AS m
             FROM e JOIN {prev} p ON p.part = e.dst
             GROUP BY e.src) nm USING (part)
)""")
        prev = f"l{t}"
    chain = ",".join(rounds)
    last, second_last = prev, f"l{COMPONENTS_ROUNDS - 1}"
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS (SELECT a.l_partkey AS src, b.l_partkey AS dst
       FROM li a JOIN li b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2),
e AS MATERIALIZED (
  SELECT src, dst FROM pr UNION ALL SELECT dst AS src, src AS dst FROM pr),
l0 AS MATERIALIZED (
  SELECT DISTINCT src AS part, src AS label FROM e),{chain},
conv AS (
  SELECT (sum(CASE WHEN a.label != b.label THEN 1 ELSE 0 END) = 0)
         AS converged
  FROM {last} a JOIN {second_last} b USING (part)),
sizes AS (
  SELECT label, CAST(count(*) AS BIGINT) AS component_size
  FROM {last} GROUP BY label)
SELECT CAST(f.part AS BIGINT) AS part_key,
       CAST(f.label AS BIGINT) AS component_id,
       (f.part = f.label) AS is_canonical,
       s.component_size,
       conv.converged AS converged
FROM {last} f
JOIN sizes s USING (label)
CROSS JOIN conv
ORDER BY part_key
"""


# --- C72: graph profile (degree-distribution health card) ----------------------


def graph_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass health card of the co-purchase graph (C72): TWO log2
    histograms distinguished by ``kind`` — 'deg' buckets the unweighted
    degree, 'strength' buckets the weighted degree (Σ co-order counts,
    the C74 edge mass; added r15, verdict item 5 — degree alone can't
    show whether a hub's relationships are habitual or incidental) —
    each row carrying the bucket's node count, value mass, and min/max,
    plus the whole-graph sufficient statistics (crossJoined one-row
    aggregates, never a driver collect): node count n, directed edge
    count m, Σdeg² (the wedge-count/variance numerator), the
    degree-assortativity numerator Σ_{(u,v)∈E} deg_u·deg_v, total
    strength mass total_w, and Σstrength² (the strength-variance
    numerator). This is the pre-flight a pipeline runs before
    pagerank/kcore/triangles: the histograms price the wedge joins and
    pick the kcore/kcore_weighted thresholds, and the assortativity
    numerator (divided by m and the marginal moments downstream —
    counts stay un-divided per the no-ratios rule) says whether hubs
    attach to hubs.

    All BIGINT end to end ⇒ bit-exact mirror oracle. Overflow bound:
    exact while m·(max deg)² < 2^63 and n·(max strength)² < 2^63 —
    beyond ~10^6-degree hubs on 10^12-edge graphs these sums need
    bucketing, noted here rather than silently wrapped. Shuffles: ONE
    fused aggregate over the persisted WEIGHTED edge table (E4) yields
    the lineage-cut (part, deg, s) table, then two bounded bucket
    groupBys and one edge scan joining that table on both endpoints —
    un-hinted, AQE broadcasts while small (CLAUDE.md model-table rule).
    So graph_profile builds the weighted artifact on its first call
    (besides the unweighted one), even in a deployment whose other
    consumers read only the unweighted table.
    log2 buckets via the bin-string bit-width trick
    (length(bin(x))-1), never libm.
    """
    # ONE pass over the weighted table yields BOTH per-part measures
    # (r16, verdict item 4): the weighted and unweighted artifacts hold
    # the SAME symmetric pair set (one row per directed pair — weighted
    # adds only the count column), so deg = count(*) per src over the
    # weighted table is bit-identical to the old unweighted count while
    # the strength sum rides the same aggregate. The old shape scanned
    # a persisted table once per measure (deg build + strength build);
    # this one builds a single (part, deg, s) checkpoint and every
    # downstream consumer (both histograms, the fused global stats, the
    # assortativity join) reads it.
    edges = persisted_copurchase_edges(spark, sf_dir)
    ds = cut_lineage(
        persisted_copurchase_weighted(spark, sf_dir)
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("deg"),
            F.sum("w").cast("bigint").alias("s"),
        )
        .withColumnRenamed("src", "part")
    )

    def hist(df: DataFrame, col: str, kind: str) -> DataFrame:
        return (
            df.withColumn(
                "bucket", (F.length(F.bin(col)) - 1).cast("bigint")
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_parts"),
                F.sum(col).cast("bigint").alias("sum_val"),
                F.min(col).cast("bigint").alias("min_val"),
                F.max(col).cast("bigint").alias("max_val"),
            )
            .select(F.lit(kind).alias("kind"), "bucket", "n_parts",
                    "sum_val", "min_val", "max_val")
        )

    buckets = hist(ds, "deg", "deg").unionByName(hist(ds, "s", "strength"))
    # the five whole-graph sufficient statistics in ONE aggregate over
    # the shared checkpoint (was two: deg-side + strength-side)
    globals_ = ds.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("deg").cast("bigint").alias("m"),
        F.sum(F.col("deg") * F.col("deg")).cast("bigint").alias("sum_deg2"),
        F.sum("s").cast("bigint").alias("total_w"),
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("sum_strength2"),
    )
    assort = (
        edges.join(
            ds.select(F.col("part").alias("src"), F.col("deg").alias("dsrc")),
            "src",
        )
        .join(
            ds.select(F.col("part").alias("dst"), F.col("deg").alias("ddst")),
            "dst",
        )
        .agg(
            F.sum(F.col("dsrc") * F.col("ddst")).cast("bigint").alias("assort_num")
        )
    )
    return (
        buckets.crossJoin(F.broadcast(globals_))
        .crossJoin(F.broadcast(assort))
        .select(
            "kind", "bucket", "n_parts", "sum_val", "min_val", "max_val",
            "n", "m", "sum_deg2", "assort_num", "total_w", "sum_strength2",
        )
        .orderBy("kind", "bucket")
    )


def _graph_profile_sql() -> str:
    return """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS (SELECT a.l_partkey AS src, b.l_partkey AS dst,
              CAST(count(*) AS BIGINT) AS w
       FROM li a JOIN li b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2),
e AS MATERIALIZED (
  SELECT src, dst, w FROM pr
  UNION ALL SELECT dst AS src, src AS dst, w FROM pr),
deg AS MATERIALIZED (
  SELECT src AS part, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
stren AS MATERIALIZED (
  SELECT src AS part, CAST(sum(w) AS BIGINT) AS s FROM e GROUP BY src),
buckets AS (
  SELECT 'deg' AS kind,
         CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_parts,
         CAST(sum(deg) AS BIGINT) AS sum_val,
         CAST(min(deg) AS BIGINT) AS min_val,
         CAST(max(deg) AS BIGINT) AS max_val
  FROM deg GROUP BY 2
  UNION ALL
  SELECT 'strength' AS kind,
         CAST(length(bin(s)) - 1 AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_parts,
         CAST(sum(s) AS BIGINT) AS sum_val,
         CAST(min(s) AS BIGINT) AS min_val,
         CAST(max(s) AS BIGINT) AS max_val
  FROM stren GROUP BY 2),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(deg) AS BIGINT) AS m,
         CAST(sum(deg * deg) AS BIGINT) AS sum_deg2
  FROM deg),
wg AS (
  SELECT CAST(sum(s) AS BIGINT) AS total_w,
         CAST(sum(s * s) AS BIGINT) AS sum_strength2
  FROM stren),
a AS (
  SELECT CAST(sum(ds.deg * dd.deg) AS BIGINT) AS assort_num
  FROM e JOIN deg ds ON ds.part = e.src JOIN deg dd ON dd.part = e.dst)
SELECT b.kind, b.bucket, b.n_parts, b.sum_val, b.min_val, b.max_val,
       g.n, g.m, g.sum_deg2, a.assort_num, wg.total_w, wg.sum_strength2
FROM buckets b CROSS JOIN g CROSS JOIN a CROSS JOIN wg
ORDER BY kind, bucket
"""


# --- C74: weighted PageRank (co-purchase COUNTS as edge mass) ------------------


def persisted_copurchase_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WEIGHTED co-purchase graph persisted once per source dataset
    (the E4 pattern persisted_copurchase_edges uses): (src, dst, w) where
    w = the number of distinct orders containing both parts. The basket
    self-join is the same single l_orderkey shuffle; the only change from
    the unweighted build is count(*) instead of distinct over the pair
    groupBy. Kept as a SEPARATE artifact from the unweighted table: its
    consumers (C74, graph_profile) need the weight column, while the
    unweighted table's residents (C67/C69-C72) reuse their established
    schema — a schema change under one key would silently serve old
    files to new readers."""
    return spark.read.parquet(_copurchase_artifact(spark, sf_dir, weighted=True)[0])


def pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PR_TOP_K} parts by {PR_ROUNDS}-round WEIGHTED integer PageRank
    (C74): the curation-relevant form of C67 — two parts co-bought in 50
    orders are 50× the signal of a one-off basket, and the unweighted walk
    throws that mass away. Edge weight w(u,v) = distinct co-orders of the
    pair (the persisted weighted table above); rank mass flows
    proportionally to w.

    Update (all BIGINT, both engines — C67's floor-arithmetic exactness
    posture extended to weights):
        rate[u]  = r[u] div W[u]          -- W[u] = Σ_v w(u,v)
        r'[v]    = (15 * MASS) div (100 * n)
                 + (85 * Σ_{{u->v}} w(u,v) * rate[u]) div 100

    The per-edge product w·rate never overflows: rate ≤ r ≤ MASS (1e12)
    and w ≤ #orders, so w·rate < 2^63 with orders of margin, and the
    inflow sum is bounded by the total mass. Same loop shape as C67:
    persisted+cached edges, un-hinted O(#parts) rank joins (AQE
    broadcasts while small), lineage cut every second round, fixed
    {PR_ROUNDS} rounds ⇒ fixed shuffle count. Output adds each part's
    weighted degree W (exact BIGINT) next to its score.
    """
    # fixed-plan loop — the C67 r15 regime (see pagerank_parts): one
    # exchange per round, edges cached pre-partitioned on src
    from frolyk_spark.functions.loops import fixed_plan_loop

    # artifact ensured before sizing/entering the loop — see pagerank_parts
    path, ebytes = _copurchase_artifact(spark, sf_dir, weighted=True)
    edge_src = spark.read.parquet(path)
    with fixed_plan_loop(spark, big_bytes=ebytes) as nparts:
        edges = edge_src.repartition(nparts, "src").persist()
        wdeg = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("wdeg"))
        n1 = wdeg.agg(F.count(F.lit(1)).alias("n"))
        ranks = (
            wdeg.select(F.col("src").alias("part"), "wdeg")
            .crossJoin(F.broadcast(n1))
            .withColumn("r", F.expr(f"{PR_MASS} div n"))
        )
        for i in range(PR_ROUNDS):
            rates = ranks.select(
                F.col("part").alias("src"), F.expr("r div wdeg").alias("rate")
            )
            inflow = (
                edges.join(rates, "src")
                .groupBy("dst")
                .agg(
                    F.sum(F.col("w") * F.col("rate")).cast("bigint").alias("inflow")
                )
            )
            ranks = (
                ranks.join(inflow, ranks.part == inflow.dst, "left")
                .select(
                    "part",
                    "wdeg",
                    "n",
                    (
                        F.expr(f"({15 * PR_MASS} div (100 * n))")
                        + F.expr(
                            f"({PR_DAMP_PCT} * coalesce(inflow, 0)) div 100"
                        )
                    ).alias("r"),
                )
            )
            if i % 2 == 1:
                ranks = cut_lineage(ranks)
        if PR_ROUNDS % 2 == 1:
            ranks = cut_lineage(ranks)
        edges.unpersist()
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("r"), F.asc("part"))
    return (
        ranks.withColumn("rank_pos", F.row_number().over(w))
        .where(F.col("rank_pos") <= PR_TOP_K)
        .select(
            F.col("rank_pos").cast("bigint").alias("rank_pos"),
            F.col("part").cast("bigint").alias("part_key"),
            F.col("r").cast("bigint").alias("pr_score"),
            F.col("wdeg").cast("bigint").alias("w_deg"),
        )
    )


def _pagerank_weighted_sql() -> str:
    """C67's unrolled-CTE oracle with the weight column threaded through:
    one MATERIALIZED CTE per round, pure BIGINT floor arithmetic, every
    HUGEINT sum cast back to BIGINT."""
    rounds = []
    prev = "r0"
    for i in range(1, PR_ROUNDS + 1):
        rounds.append(f"""
r{i} AS MATERIALIZED (
  SELECT d.part, d.wdeg, nn.n,
         CAST(({15 * PR_MASS} // (100 * nn.n))
              + ({PR_DAMP_PCT} * coalesce(i.inflow, 0)) // 100 AS BIGINT) AS r
  FROM wdeg d
  LEFT JOIN (SELECT e.dst AS part,
                    CAST(sum(e.w * (p.r // p.wdeg)) AS BIGINT) AS inflow
             FROM e JOIN {prev} p ON e.src = p.part
             GROUP BY e.dst) i USING (part)
  CROSS JOIN nn
)""")
        prev = f"r{i}"
    chain = ",".join(rounds)
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
prw AS (SELECT a.l_partkey AS src, b.l_partkey AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
e AS MATERIALIZED (
  SELECT src, dst, w FROM prw
  UNION ALL SELECT dst AS src, src AS dst, w FROM prw),
wdeg AS MATERIALIZED (
  SELECT src AS part, CAST(sum(w) AS BIGINT) AS wdeg FROM e GROUP BY src),
nn AS (SELECT count(*) AS n FROM wdeg),
r0 AS MATERIALIZED (
  SELECT part, wdeg, nn.n, CAST({PR_MASS} // nn.n AS BIGINT) AS r
  FROM wdeg CROSS JOIN nn),{chain}
SELECT CAST(rank_pos AS BIGINT) AS rank_pos,
       CAST(part AS BIGINT) AS part_key,
       CAST(r AS BIGINT) AS pr_score,
       CAST(wdeg AS BIGINT) AS w_deg
FROM (SELECT part, r, wdeg,
             row_number() OVER (ORDER BY r DESC, part ASC) AS rank_pos
      FROM {prev})
WHERE rank_pos <= {PR_TOP_K}
"""


# --- C75: weighted k-core (peel by co-purchase STRENGTH) -----------------------

#: strength threshold as a scale-free multiple of mean strength
#: (CLAUDE.md: never a fraction-of-total, never an absolute literal):
#: k = (11 * (total_w div n)) div 16. Probed on the shipped SFs (r15,
#: pure-python peel): both regimes visible everywhere — sf0.001 peels
#: 13 parts over 4 rounds keeping a 187-part core, sf0.01 peels 121
#: over 5 keeping 1879, sf0.1 peels 1278 over 9 keeping 18722 — while
#: the unweighted-kcore 3/4 ratio fully collapses the STRENGTH peel at
#: every SF (the weight distribution is tighter than the degree one).
WKCORE_NUM, WKCORE_DEN = 11, 16


def kcore_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted k-core of the co-purchase graph (C75, r14 verdict item
    5): the onion peel by STRENGTH — each round removes every part whose
    residual strength (sum of co-order counts to still-alive neighbors,
    the C74 edge mass) falls below the scale-free threshold
    ({WKCORE_NUM}/{WKCORE_DEN})·(mean strength). This is the curation
    signal kcore_parts can't give: a part co-bought once with many
    different parts survives the DEGREE peel but carries no repeated
    co-purchase MASS — the weighted peel drops it, keeping the parts
    whose basket relationships are habitual rather than incidental.

    Same machinery as kcore_parts end to end, over the persisted
    WEIGHTED edge table (C74's artifact): k derived in-query (BIGINT
    floor arithmetic, one crossJoined one-row aggregate), DELTA peel
    (round 1 pays the full strength sum; later rounds subtract only
    Σw into the casualty set — exact because the edge table is
    distinct+symmetric), exact early stop on a zero-casualty round,
    lineage cut per round, truncation-honest ``converged``. Overflow:
    strengths are bounded by total edge mass Σw (≈ 2m at basket
    weights), far inside BIGINT. Oracle = one MATERIALIZED CTE per
    round with the alive-recount form (bit-identical to the delta by
    the kcore no-op argument). Python reference:
    tests/test_graph.py::_python_wkcore."""
    # fixed-plan loop — the kcore_parts r15 regime: edges pre-partitioned
    # on dst, one exchange (the loss transport) + one count action per round
    from frolyk_spark.functions.loops import fixed_plan_loop

    # artifact ensured before sizing/entering the loop — see pagerank_parts
    path, ebytes = _copurchase_artifact(spark, sf_dir, weighted=True)
    edge_src = spark.read.parquet(path)
    with fixed_plan_loop(spark, big_bytes=ebytes) as nparts:
        edges = edge_src.repartition(nparts, "dst").persist()
        s0 = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("s"))
        k1 = s0.agg(
            F.count(F.lit(1)).alias("n"), F.sum("s").alias("tw")
        ).select(
            F.expr(f"(({WKCORE_NUM} * (tw div n)) div {WKCORE_DEN})").alias("k")
        )
        state = (
            s0.select(F.col("src").alias("part"), "s")
            .crossJoin(F.broadcast(k1))
            .withColumn("rr", F.lit(None).cast("bigint"))
        )
        # ONE action per round — the kcore_parts lazy-cut+count fusion (r15
        # optimization): 2 jobs/round -> 1, bit-identical output.
        for t in range(1, KCORE_ROUNDS + 1):
            state = state.withColumn(
                "rr",
                F.when(F.col("rr").isNull() & (F.col("s") < F.col("k")), F.lit(t))
                .otherwise(F.col("rr")),
            )
            removed = state.where(F.col("rr") == t).select(
                F.col("part").alias("dst")
            )
            loss = (
                edges.join(removed, "dst")
                .groupBy("src")
                .agg(F.sum("w").cast("bigint").alias("lost"))
                .withColumnRenamed("src", "part")
            )
            state = cut_lineage(
                state.join(loss, "part", "left").select(
                    "part",
                    F.when(
                        F.col("rr").isNull(),
                        F.col("s") - F.coalesce("lost", F.lit(0)),
                    ).otherwise(F.col("s")).cast("bigint").alias("s"),
                    "k",
                    "rr",
                ),
                eager=False,
            )
            if state.where(F.col("rr") == t).count() == 0:
                break
        edges.unpersist()
    conv = state.agg(
        (F.sum(
            F.when(F.col("rr").isNull() & (F.col("s") < F.col("k")), 1)
            .otherwise(0)
        ) == 0).alias("converged")
    )
    return (
        state.crossJoin(F.broadcast(conv))
        .select(
            F.col("part").cast("bigint").alias("part_key"),
            F.coalesce("rr", F.lit(0)).cast("bigint").alias("removed_round"),
            F.col("s").cast("bigint").alias("last_strength"),
            F.col("converged"),
        )
        .orderBy("part_key")
    )


def _kcore_weighted_sql() -> str:
    """Unrolled-CTE oracle, the _kcore_sql recount form with Σw in place
    of count(*)."""
    rounds = []
    prev = "s0"
    for t in range(1, KCORE_ROUNDS + 1):
        rounds.append(f"""
s{t} AS MATERIALIZED (
  SELECT s.part,
         CAST(CASE WHEN s.rr IS NULL AND s.s >= s.k
                   THEN coalesce(nd.nd, 0) ELSE s.s END AS BIGINT) AS s,
         s.k,
         CASE WHEN s.rr IS NULL AND s.s < s.k THEN {t} ELSE s.rr END AS rr
  FROM {prev} s
  LEFT JOIN (
    SELECT e.src AS part, CAST(sum(e.w) AS BIGINT) AS nd
    FROM e
    JOIN {prev} a ON a.part = e.src AND a.rr IS NULL
                 AND a.s >= (SELECT k FROM kk)
    JOIN {prev} b ON b.part = e.dst AND b.rr IS NULL
                 AND b.s >= (SELECT k FROM kk)
    GROUP BY e.src
  ) nd USING (part)
)""")
        prev = f"s{t}"
    chain = ",".join(rounds)
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS (SELECT a.l_partkey AS src, b.l_partkey AS dst,
              CAST(count(*) AS BIGINT) AS w
       FROM li a JOIN li b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2),
e AS MATERIALIZED (
  SELECT src, dst, w FROM pr
  UNION ALL SELECT dst AS src, src AS dst, w FROM pr),
str0 AS MATERIALIZED (
  SELECT src AS part, CAST(sum(w) AS BIGINT) AS s FROM e GROUP BY src),
kk AS MATERIALIZED (
  SELECT CAST((({WKCORE_NUM} * (sum(s) // count(*))) // {WKCORE_DEN})
              AS BIGINT) AS k
  FROM str0),
s0 AS MATERIALIZED (
  SELECT part, s, kk.k, CAST(NULL AS BIGINT) AS rr
  FROM str0 CROSS JOIN kk),{chain},
conv AS (
  SELECT (sum(CASE WHEN rr IS NULL AND s < k THEN 1 ELSE 0 END) = 0)
         AS converged
  FROM {prev})
SELECT CAST(part AS BIGINT) AS part_key,
       CAST(coalesce(rr, 0) AS BIGINT) AS removed_round,
       CAST(s AS BIGINT) AS last_strength,
       conv.converged AS converged
FROM {prev} CROSS JOIN conv
ORDER BY part_key
"""


QUERIES = {
    "pagerank_parts": pagerank_parts,
    "kcore_parts": kcore_parts,
    "triangle_parts": triangle_parts,
    "components_parts": components_parts,
    "graph_profile": graph_profile,
    "pagerank_weighted": pagerank_weighted,
    "kcore_weighted": kcore_weighted,
}

ORACLES = {
    "pagerank_parts": _pagerank_sql(),
    "kcore_parts": _kcore_sql(),
    "triangle_parts": _triangle_sql(),
    "components_parts": _components_sql(),
    "graph_profile": _graph_profile_sql(),
    "pagerank_weighted": _pagerank_weighted_sql(),
    "kcore_weighted": _kcore_weighted_sql(),
}
