"""Relational / OLAP operator suite (SURVEY §2 C1-C20).

Every operator is a declarative DataFrame plan — Catalyst gets full
visibility for predicate pushdown, column pruning and join planning; AQE
re-plans shuffles at runtime. Only the fixed-cardinality dimensions
(region: 5 rows, nation: 25 rows) carry broadcast hints; customer,
supplier and part all scale linearly with the data volume (~1.5e9, ~1e8
and ~2e9 rows respectively at 100 TB), so their joins carry no hint — they
shuffle on the join key, and AQE is free to pick broadcast at the small
scale factors where they genuinely fit.

Output hygiene for the DuckDB oracle gate: every computed column is aliased
identically in Spark and SQL, dates are emitted as 'yyyy-MM-dd' strings,
timestamps as epoch-microsecond bigints, doubles rounded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from frolyk_spark.functions.portable import (
    round2, round2_sql, round4, round4_sql, round6, round6_sql,
)
from frolyk_spark.sources.catalog import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- C1: TPC-H Q1 pricing summary -----------------------------------------
# One shuffle (partial agg map-side via hash aggregate), scan prunes to the
# 7 referenced columns and pushes the shipdate filter into parquet.

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            # derived RATIOS (sum/count): portable floor round — engine
            # round() is the r5 .xxxx5 shortest-repr divergence class
            round4(F.avg("l_quantity")).alias("avg_qty"),
            round4(F.avg("l_extendedprice")).alias("avg_price"),
            round6(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                                        AS sum_qty,
       round(sum(l_extendedprice), 2)                                   AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       floor(avg(l_quantity) * 10000.0 + 0.5) / 10000.0                AS avg_qty,
       floor(avg(l_extendedprice) * 10000.0 + 0.5) / 10000.0            AS avg_price,
       floor(avg(l_discount) * 1000000.0 + 0.5) / 1000000.0             AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- C2: TPC-H Q3 shipping priority (adapted to available columns) --------
# customer is the small side at any SF relative to orders⋈lineitem; the
# orders⋈lineitem join shuffles on orderkey (both sides already keyed).

def q3_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < timestamp '1998-03-15 00:00:00'
  AND l_shipdate  > timestamp '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --- C3: TPC-H Q5 local supplier volume (adapted) --------------------------
# region/nation broadcast; supplier/customer shuffle on their keys; the
# plan keeps one shuffle for orders⋈lineitem and one for the final
# group-by on n_name.

def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= timestamp '1996-01-01 00:00:00'
  AND o_orderdate <  timestamp '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --- C4: TPC-H Q6 forecasting revenue change -------------------------------
# Pure scan+filter+agg: all three predicates push into the parquet reader;
# no shuffle at all (single global agg, partial per partition).

def q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= timestamp '1996-01-01 00:00:00'
  AND l_shipdate <  timestamp '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# --- C5: TPC-H Q10 returned items (adapted) --------------------------------

def q10_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= timestamp '1996-10-01 00:00:00'
  AND o_orderdate <  timestamp '1997-01-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- C6: top-K per group (window) ------------------------------------------
# Single shuffle on the partition key; rank prunes before any later join.

def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rnk")
    )


TOPK_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rnk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
)
WHERE rnk <= 3
"""


# --- C7: running aggregate ---------------------------------------------------

def running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
"""


# --- C8: lag/lead deltas ------------------------------------------------------

def event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


DELTAS_SQL = """
SELECT event_id, user_id,
       round(value - lag(value) OVER w, 6) AS delta,
       lead(event_id) OVER w AS next_event_id
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# --- C9: ROLLUP ---------------------------------------------------------------

def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "revenue",
            "n_orders",
        )
    )


ROLLUP_SQL = """
SELECT coalesce(r_name, 'ALL') AS region,
       coalesce(n_name, 'ALL') AS nation,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# --- C10: CUBE -----------------------------------------------------------------

def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


CUBE_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# --- C11/C12: semi / anti joins --------------------------------------------------

def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


SEMI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= timestamp '2001-01-01 00:00:00')
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= timestamp '2001-01-01 00:00:00')
"""


# --- C13: exact count-distinct per group ------------------------------------------

def distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


DISTINCT_SQL = """
SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_orderkey) AS n_orders
FROM lineitem GROUP BY l_suppkey
"""


# --- C15: pivot --------------------------------------------------------------------

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    pivoted = ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).count()
    cols = [F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}") for t in EVENT_TYPES]
    return pivoted.select("user_id", *cols)


PIVOT_SQL = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')    AS n_click,
       count(*) FILTER (WHERE event_type = 'view')     AS n_view,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
       count(*) FILTER (WHERE event_type = 'error')    AS n_error
FROM events GROUP BY user_id
"""


# --- C16: as-of join ----------------------------------------------------------------
# Spark has no native ASOF JOIN. Composition: tag both row kinds, single
# window pass ordered by time carries the "latest click so far" to each
# purchase — one shuffle on user_id, no self-join, no skew amplification.
# (Reference analogue: frolyk leaves temporal joins to user processors —
# src/processors.ts gives only per-message hooks; this is the declarative
# replacement.)

def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .withColumn("last_click_us", F.unix_micros(F.max(click_ts).over(w)))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "last_click_us",
        )
    )


ASOF_SQL = """
SELECT event_id, user_id, ts_us, last_click_us FROM (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
         epoch_us(max(CASE WHEN event_type = 'click' THEN ts END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS last_click_us
  FROM events
  WHERE event_type IN ('click', 'purchase')
)
WHERE event_type = 'purchase'
"""


# --- C17: range join (time-interval) --------------------------------------------------
# Non-equi time-range joins explode on naive engines. Scale strategy:
# bucketize the time axis to the range width, explode the probe side into
# the two candidate buckets, equi-join, then apply the exact range filter.
# Shuffle is on (user_id, bucket) — bounded fan-out of 2×.

def clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    base = ev.select("event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us"))
    clicks = base.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("ts_us").alias("click_us"),
        (F.col("ts_us") / hour_us).cast("bigint").alias("bucket"),
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts_us",
            F.explode(
                F.array(
                    (F.col("ts_us") / hour_us).cast("bigint"),
                    (F.col("ts_us") / hour_us).cast("bigint") - 1,
                )
            ).alias("bucket"),
        )
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.cu)
        & (purchases.bucket == clicks.bucket)
        & (clicks.click_us < purchases.ts_us)
        & (clicks.click_us >= purchases.ts_us - hour_us),
    )
    return (
        joined.groupBy("event_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks_prev_hour"))
    )


RANGE_SQL = """
SELECT p.event_id, p.user_id, count(*) AS n_clicks_prev_hour
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND epoch_us(c.ts) <  epoch_us(p.ts)
 AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id
"""


# --- C18: set operations ----------------------------------------------------------------

def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    y96 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey")).distinct()
    y97 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select(F.col("o_custkey").alias("custkey")).distinct()
    return (
        y96.exceptAll(y97).select(F.lit("only_1996").alias("op"), "custkey")
        .unionAll(y96.intersect(y97).select(F.lit("both").alias("op"), "custkey"))
    )


SETOPS_SQL = """
WITH y96 AS (SELECT DISTINCT o_custkey AS custkey FROM orders
             WHERE o_orderdate >= timestamp '1996-01-01 00:00:00' AND o_orderdate < timestamp '1997-01-01 00:00:00'),
     y97 AS (SELECT DISTINCT o_custkey AS custkey FROM orders
             WHERE o_orderdate >= timestamp '1997-01-01 00:00:00' AND o_orderdate < timestamp '1998-01-01 00:00:00')
SELECT 'only_1996' AS op, custkey FROM (SELECT custkey FROM y96 EXCEPT SELECT custkey FROM y97)
UNION ALL
SELECT 'both' AS op, custkey FROM (SELECT custkey FROM y96 INTERSECT SELECT custkey FROM y97)
"""


# --- C19: explode / posexplode -----------------------------------------------------------

def explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "word")


EXPLODE_SQL = """
SELECT doc_id,
       unnest(range(len(string_split(text, ' ')))) AS pos,
       unnest(string_split(text, ' ')) AS word
FROM documents WHERE doc_id < 50
"""


# --- C20: time-bucketed rollup -------------------------------------------------------------

def daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias("day"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


DAILY_SQL = """
SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders GROUP BY 1
"""


# --- C21: TPC-H Q4 order priority checking (adapted) ------------------------
# EXISTS via left-semi join with a mixed equi + non-equi condition; the semi
# join shuffles on orderkey only and never materializes lineitem columns.

def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


# --- C22: TPC-H Q7 volume shipping between two nations (adapted) ------------
# nation broadcast twice under two aliases; supplier/customer shuffle on their
# join keys; the nation-pair filter prunes before the aggregate.

def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    n1, n2 = "NATION_18", "NATION_19"
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), supp.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn_key"))
        .where(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


Q7_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       cast(year(l_shipdate) as int) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
   OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18')
GROUP BY 1, 2, 3
"""


# --- C23: TPC-H Q12 shipping-delay priority mix (adapted: no shipmode col) --

def q12_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay < 30, "under_30d").when(delay < 90, "30_to_90d").otherwise("over_90d")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(bucket.alias("delay_bucket"), high.alias("is_high"))
        .groupBy("delay_bucket")
        .agg(
            F.sum(F.when(F.col("is_high"), 1).otherwise(0)).alias("high_priority_lines"),
            F.sum(F.when(F.col("is_high"), 0).otherwise(1)).alias("low_priority_lines"),
        )
    )


Q12_SQL = """
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) < 30 THEN 'under_30d'
            WHEN date_diff('day', o_orderdate, l_shipdate) < 90 THEN '30_to_90d'
            ELSE 'over_90d' END AS delay_bucket,
       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS bigint) AS high_priority_lines,
       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS bigint) AS low_priority_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


# --- C24: TPC-H Q14 promotion revenue share (adapted) -----------------------

def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-06-01") & (F.col("l_shipdate") < "1997-07-01")
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            round4(
                100 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)) / F.sum(rev)
            ).alias("promo_revenue_pct")
        )
    )


Q14_SQL = """
SELECT floor((100 * sum(CASE WHEN p_type = 'PROMO'
                             THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
              / sum(l_extendedprice * (1 - l_discount)))
             * 10000.0 + 0.5) / 10000.0 AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '1997-06-01' AND l_shipdate < '1997-07-01'
"""


# --- C25: TPC-H Q9-style product profit by nation/year (adapted) ------------

def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("profit"))
    )


Q9_SQL = """
SELECT n_name AS nation, cast(year(l_shipdate) as int) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_brand = 'Brand#2'
GROUP BY 1, 2
"""


# --- C16b: as-of join via cogrouped pandas ----------------------------------
# The same as-of semantics as C16, through the OTHER engine facility:
# cogroup(purchases, clicks).applyInPandas. One shuffle on user_id per side,
# Arrow batches per group, numpy running-max inside. Useful when the merge
# logic outgrows SQL (custom tolerance, multi-column conditions); the
# window composition (C16) stays the default — it is one shuffle, not two.
# Shares C16's oracle: both must produce identical rows.

def asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "event_type")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    clicks = ev.filter(F.col("event_type") == "click").drop("event_type")

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                {"event_id": pd.Series(dtype="int64"), "user_id": pd.Series(dtype="int64"),
                 "ts_us": pd.Series(dtype="int64"), "last_click_us": pd.Series(dtype="Int64")}
            )
        both = pd.concat(
            [left.assign(__p=1), right.assign(__p=0)], ignore_index=True
        ).sort_values(["ts_us", "event_id"], kind="mergesort")
        click_ts = np.where(both["__p"].to_numpy() == 0, both["ts_us"].to_numpy(), np.iinfo("int64").min)
        last_click = np.maximum.accumulate(click_ts)
        both = both.assign(__lc=last_click)
        out = both[both["__p"] == 1][["event_id", "user_id", "ts_us", "__lc"]].rename(
            columns={"__lc": "last_click_us"}
        )
        out["last_click_us"] = pd.array(
            [None if v == np.iinfo("int64").min else int(v) for v in out["last_click_us"]],
            dtype="Int64",
        )
        return out

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(merge, "event_id bigint, user_id bigint, ts_us bigint, last_click_us bigint")
    )


# --- C27: retention cohorts --------------------------------------------------
# First-seen day = cohort; count distinct users active at each day offset.
# The distinct-day projection collapses events to user-days first, then the
# cohort day rides along as a window min over the SAME user_id partitioning
# the distinct just produced — no join back, two shuffles total
# ((user_id, day) distinct, then the (cohort, offset) aggregate).

def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    user_days = ev.distinct()
    cohort = F.min("day").over(W.partitionBy("user_id"))
    return (
        user_days.withColumn("cohort_day", cohort)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


RETENTION_SQL = """
WITH user_days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
),
cohorts AS (
  SELECT user_id, min(day) AS cohort_day FROM user_days GROUP BY user_id
)
SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
       date_diff('day', c.cohort_day, u.day) AS day_offset,
       count(*) AS n_users
FROM user_days u JOIN cohorts c ON u.user_id = c.user_id
GROUP BY 1, 2
"""


# --- C28: GROUPING SETS ------------------------------------------------------
# Disjoint grouping sets ((region), (nation)) — not expressible as
# rollup/cube; phrased through the SQL API over registered views, one
# aggregate pass producing both groupings.

def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frolyk_spark.sources.catalog import register_views

    register_views(spark, sf_dir, ("orders", "customer", "nation", "region"))
    return spark.sql(
        """
        SELECT r_name, n_name,
               grouping(r_name) AS g_region, grouping(n_name) AS g_nation,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (n_name))
        """
    )


GROUPING_SETS_SQL = """
SELECT r_name, n_name,
       grouping(r_name) AS g_region, grouping(n_name) AS g_nation,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (n_name))
"""


# --- C29: TPC-H Q8 market share (adapted) -----------------------------------
# One nation's share of yearly revenue within a region: ratio of conditional
# aggregates over the joined facts.

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = "NATION_19"
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            round6(
                F.sum(F.when(F.col("n_name") == target, rev).otherwise(0.0)) / F.sum(rev)
            ).alias("mkt_share")
        )
    )


Q8_SQL = """
SELECT cast(year(o_orderdate) as int) AS o_year,
       floor((sum(CASE WHEN n_name = 'NATION_19'
                       THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
              / sum(l_extendedprice * (1 - l_discount)))
             * 1000000.0 + 0.5) / 1000000.0 AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY 1
"""


# --- C30: TPC-H Q13 customer order-count distribution -----------------------
# Left join so zero-order customers count; double aggregation (per-customer,
# then histogram over counts).

def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


# --- C31: TPC-H Q15 top supplier ---------------------------------------------
# Global max as a one-row aggregate broadcast back over the per-supplier
# revenues — a global window (partitionBy()) would funnel every supplier
# row through a single partition; the broadcast keeps both sides parallel.

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.mx)
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


# --- C32: TPC-H Q18 large-volume customers (adapted) ------------------------
# Aggregate-then-semi-filter: orders whose lineitem quantity total exceeds a
# threshold, joined back to customer detail.

def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    threshold = 120
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > threshold)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_totalprice, total_qty
FROM (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 120
) big
JOIN orders   ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --- C26: salted two-stage aggregation (skew mitigation demo) ---------------
# events.event_type has ~5 distinct values over the whole fact table — the
# canonical skewed-key aggregation. A straight groupBy lands each key on one
# reducer; salting fans each key across 16 partial aggregates, then a tiny
# second aggregate merges them. At 100 TB stage 1 parallelizes fully and
# stage 2 touches 5*16 rows. (AQE's skew handling covers joins; aggregation
# skew is mitigated exactly like this.)

SALT_BUCKETS = 16


def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    salted = ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(SALT_BUCKETS)))
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")
    )
    return partial.groupBy("event_type").agg(
        F.sum("cnt").alias("n_events"),
        F.round(F.sum("sv"), 2).alias("sum_value"),
    )


SALTED_SQL = """
SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type
"""


# --- C14: sketch-based approximate statistics -------------------------------
# HyperLogLog++ count-distinct and KLL/GK approximate percentiles: both are
# mergeable sketches, so at 100 TB they aggregate map-side and ship
# constant-size state per partition — the only sane way to do distincts /
# percentiles over ~15B keys. Approximation is engine-specific, so there is
# deliberately NO DuckDB oracle; tests/test_approx.py bounds the error
# against exact answers instead.

def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_custkeys"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50_totalprice"),
        F.percentile_approx("o_totalprice", 0.95, 10000).alias("p95_totalprice"),
    )


# --- C14 companion: bounds-verdict row for the engine-native sketches -------

#: documented accuracy knobs for approx_stats and the (generous) gates the
#: bounds verdict enforces: HLL++ rsd 0.02 -> |err| <= 10% of exact (5x
#: the standard error); percentile_approx accuracy 10000 -> rank error
#: 1e-4 -> gate at rank eps 0.005 (50x), expressed per-mille so the
#: verdict is exact integer arithmetic (no transcendentals, CLAUDE.md)
APPROX_DISTINCT_RSD = 0.02
APPROX_PCT_ACCURACY = 10000
_PCT_EPS_PERMILLE = 5


def approx_stats_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14's driver-checkable companion (pattern: sketch_kmv for D45).

    approx_stats's outputs are engine-native sketch estimates (HLL++,
    GK percentiles) — no SQL oracle can reproduce the VALUES. But the
    VERDICT is oracle-expressible: one row per metric carrying the exact
    answer where it is cross-engine exact (row / distinct counts, BIGINT)
    and an integer within_tolerance flag that Spark computes by checking
    its own sketch output against exact rank/count statistics. The DuckDB
    oracle emits the same exact values with within_tolerance=1, so a red
    driver row means precisely "a sketch violated its documented bound".

    Scale shape: two aggregation passes over orders — the sketch+exact
    pass, then a rank-count pass against the 1-row result via a broadcast
    crossJoin (bounded scalar state, CLAUDE.md-sanctioned). Both passes
    are two-phase hash aggregates: no sort, no collect, no window. The
    exact count(DISTINCT) shuffles distinct keys once — the documented
    audit cost; the production profile keeps only approx_stats and runs
    this verdict on sampled shards.
    """
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    # The exact count(DISTINCT) runs in its OWN aggregate: mixing it with
    # the sketch aggregates routes them through Spark's distinct-Expand
    # rewrite, which carries the GK-percentile/HLL buffers into a
    # regroup over every distinct key — measured 13 s vs 1.3 s split at
    # sf0.1 (r11). Both quantiles share ONE GK sketch via the array form.
    sketch = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("o_custkey", APPROX_DISTINCT_RSD).alias("apx_d"),
        F.percentile_approx(
            "o_totalprice",
            F.array(F.lit(0.5), F.lit(0.95)),
            F.lit(APPROX_PCT_ACCURACY),
        ).alias("pcts"),
    ).select(
        "n",
        "apx_d",
        F.col("pcts")[0].alias("p50"),
        F.col("pcts")[1].alias("p95"),
    )
    exact = orders.agg(F.countDistinct("o_custkey").alias("exact_d"))
    sk = sketch.crossJoin(exact)  # 1 row x 1 row
    ranks = orders.crossJoin(F.broadcast(sk)).agg(
        F.first("n").alias("n"),
        F.first("exact_d").alias("exact_d"),
        F.first("apx_d").alias("apx_d"),
        F.sum(F.when(F.col("o_totalprice") <= F.col("p50"), 1).otherwise(0)).alias("le50"),
        F.sum(F.when(F.col("o_totalprice") < F.col("p50"), 1).otherwise(0)).alias("lt50"),
        F.sum(F.when(F.col("o_totalprice") <= F.col("p95"), 1).otherwise(0)).alias("le95"),
        F.sum(F.when(F.col("o_totalprice") < F.col("p95"), 1).otherwise(0)).alias("lt95"),
    )
    # a GK-sketch percentile is a real element whose rank r satisfies
    # |r - p*n| <= eps*n; with c_lt < r <= c_le that is equivalent to
    # c_le >= (p-eps)*n AND c_lt <= (p+eps)*n — all-integer per-mille form
    def _pct_ok(le: str, lt: str, permille: int):
        lo, hi = permille - _PCT_EPS_PERMILLE, permille + _PCT_EPS_PERMILLE
        return (
            (F.col(le) * 1000 >= lo * F.col("n"))
            & (F.col(lt) * 1000 <= hi * F.col("n"))
        ).cast("int")

    flags = ranks.select(
        "n",
        "exact_d",
        (F.abs(F.col("apx_d") - F.col("exact_d")) * 10 <= F.col("exact_d"))
        .cast("int")
        .alias("d_ok"),
        _pct_ok("le50", "lt50", 500).alias("p50_ok"),
        _pct_ok("le95", "lt95", 950).alias("p95_ok"),
    )
    return flags.selectExpr(
        "stack(4, "
        "'n_orders', n, 1, "
        "'approx_custkeys', exact_d, d_ok, "
        "'p50_totalprice', cast(null as bigint), p50_ok, "
        "'p95_totalprice', cast(null as bigint), p95_ok"
        ") as (metric, exact_value, within_tolerance)"
    )


APPROX_STATS_BOUNDS_SQL = """
SELECT * FROM (
  SELECT 'n_orders' AS metric, CAST(count(*) AS BIGINT) AS exact_value,
         CAST(1 AS INTEGER) AS within_tolerance FROM orders
  UNION ALL
  SELECT 'approx_custkeys', CAST(count(DISTINCT o_custkey) AS BIGINT),
         CAST(1 AS INTEGER) FROM orders
  UNION ALL
  SELECT 'p50_totalprice', CAST(NULL AS BIGINT), CAST(1 AS INTEGER)
  UNION ALL
  SELECT 'p95_totalprice', CAST(NULL AS BIGINT), CAST(1 AS INTEGER)
)
"""


# --- C33: TPC-H Q17 small-quantity-order revenue (adapted) ------------------

def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue loss from small-quantity orders of Brand#23 SMALL parts:
    lineitems under 20% of their part's average quantity. The correlated
    scalar subquery decorrelates to a per-part aggregate joined back on
    partkey — both passes scan only the (already part-filtered) lineitems,
    and the threshold table is one row per qualifying part (broadcastable
    at any SF, planner's choice)."""
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "SMALL")
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    fli = li.join(part, li.l_partkey == part.p_partkey).drop("p_partkey")
    thresholds = fli.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        fli.join(thresholds, "l_partkey")
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(round2(F.sum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


Q17_SQL = """
SELECT floor((sum(l_extendedprice) / 7.0) * 100.0 + 0.5) / 100.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23' AND p_type = 'SMALL'
  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


# --- C34: TPC-H Q19 discounted-revenue disjunction (adapted) ----------------

def q19_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue under a disjunction of (brand, size-range, quantity-range)
    clauses — the OR-of-ANDs predicate TPC-H Q19 uses to stress predicate
    evaluation over a join. Single equi-join on partkey; the disjunction
    stays one codegen'd filter (the per-side conjuncts l_quantity <= 30 /
    p_size >= 1 are implied by every branch and push into the scans)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.where(clause).agg(F.round(F.sum(rev), 2).alias("revenue"))


Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1  AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


# --- C35: TPC-H Q22 idle wealthy customers (adapted: no phone column) -------

def q22_idle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with above-average (positive) balance and no RECENT
    orders (none since 2001-01-01 — Q22's "lapsed customers" flavor),
    rolled up by nation. The scalar avg decorrelates to a one-row aggregate
    cross-joined in (broadcast — the standard scalar-subquery shape); "no
    recent orders" is a left-anti join on custkey against the date-filtered
    orders (filter pushes into the scan); nation is a hinted broadcast
    (fixed 25 rows)."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("n_name")
    )


Q22_SQL = """
SELECT n_name, count(*) AS n_custs, round(sum(c_acctbal), 2) AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= timestamp '2001-01-01 00:00:00')
GROUP BY n_name
ORDER BY n_name
"""


# --- C36: decile assignment (ntile) -----------------------------------------

def value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users bucketed into spend deciles (ntile over total event value,
    user_id tie-break for a deterministic total order), rolled up to decile
    boundaries. The global ntile window sorts the PER-USER AGGREGATE — tiny
    next to the event log but still single-partition; at extreme user
    cardinality the scale path swaps exact ntile for approx_percentile
    cutoffs + a when-chain assignment (engine-specific, hence not used for
    this oracle-checked variant)."""
    ev = _t(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(F.round(F.sum("value"), 2).alias("total_value"))
    w = W.orderBy("total_value", "user_id")
    return (
        totals.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.min("total_value"), 2).alias("min_total"),
            F.round(F.max("total_value"), 2).alias("max_total"),
        )
        .orderBy("decile")
    )


VALUE_DECILES_SQL = """
WITH totals AS (
  SELECT user_id, round(sum(value), 2) AS total_value
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT user_id, total_value,
         ntile(10) OVER (ORDER BY total_value, user_id) AS decile
  FROM totals
)
SELECT decile, count(*) AS n_users,
       round(min(total_value), 2) AS min_total,
       round(max(total_value), 2) AS max_total
FROM ranked GROUP BY decile ORDER BY decile
"""


# --- C37: time-series resample + gap fill -----------------------------------

#: user cap for the resample demo (spine rows = users x span hours)
RESAMPLE_USERS = 20


def resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with forward-fill: per user, an hourly spine from
    first to last activity (sequence + explode — generated executor-side,
    never on the driver), left-joined against the hourly rollup; empty
    hours carry the last seen value forward (last-ignorenulls over an
    ordered window). The canonical time-series gap-fill: one aggregation,
    one equi-join on (user, hour), one per-user window — every stage
    partitions on user_id, so the shape is unchanged at any user count."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < RESAMPLE_USERS)
    hourly = ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("hour_value"),
    )
    bounds = hourly.groupBy("user_id").agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    spine = bounds.select(
        "user_id", F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("h")
    )
    w = W.partitionBy("user_id").orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    return (
        spine.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.round(F.last("hour_value", ignorenulls=True).over(w), 2).alias("value_ffill"),
        )
    )


RESAMPLE_SQL = f"""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h,
         count(*) AS n_events, round(sum(value), 2) AS hour_value
  FROM events WHERE user_id < {RESAMPLE_USERS}
  GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY user_id
),
spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds
)
SELECT s.user_id,
       strftime(s.h, '%Y-%m-%d %H:%M:%S') AS hour,
       coalesce(n_events, 0) AS n_events,
       round(last_value(hour_value IGNORE NULLS)
             OVER (PARTITION BY s.user_id ORDER BY s.h ROWS UNBOUNDED PRECEDING), 2)
         AS value_ffill
FROM spine s LEFT JOIN hourly USING (user_id, h)
"""


# --- C38: explicit salted join for skewed keys ------------------------------

#: salt fan-out for the salted-join demo
JOIN_SALT = 8


def salted_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment purchase revenue via an EXPLICITLY SALTED join:
    the fact side gets a deterministic salt (event_id % {JOIN_SALT}), the
    dimension side is exploded {JOIN_SALT}x, and the join runs on
    (key, salt) — splitting any hot key's rows across {JOIN_SALT} tasks.
    This is the manual fallback for skew AQE can't fix (a single logical
    key too hot for one task, with the join not broadcastable); cost =
    replicating the smaller side {JOIN_SALT}x through its shuffle.
    Results are identical to the plain join, which is the oracle."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id", "value", F.pmod("event_id", F.lit(JOIN_SALT)).alias("salt"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn("salt", F.explode(F.expr(f"sequence(0, {JOIN_SALT - 1})")))
    )
    return (
        ev.join(cust, (ev.user_id == cust.c_custkey) & (ev.salt == cust.salt))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


SALTED_JOIN_SQL = """
SELECT c_mktsegment, count(*) AS n_purchases, round(sum(value), 2) AS revenue
FROM events JOIN customer ON user_id = c_custkey
WHERE event_type = 'purchase'
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# --- C39: TPC-H Q21 waiting suppliers (adapted) ------------------------------
# No l_receiptdate/l_commitdate in the test schema, so "late" is adapted to
# l_shipdate > o_orderdate + 60 days (same spirit as C23/q12's delay buckets).
# Q21's textbook form is a semi-join (another supplier exists in the order)
# plus an anti-join (no OTHER supplier is late) against lineitem itself —
# two extra shuffles of the fact table. The Spark-first rewrite aggregates
# per-order supplier counts ONCE (one shuffle on l_orderkey, map-side
# combinable count_distinct) and keeps orders with >1 supplier but exactly
# 1 late one; every late row in such an order belongs to the waiting
# supplier by construction. At 100 TB: lineitem shuffles on l_orderkey once
# for the aggregate and once for the join back, and AQE co-locates both on
# the same key; the supplier dimension stays planner-chosen (scales with sf).

def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders_f = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    flagged = (
        li.join(orders_f, li.l_orderkey == orders_f.o_orderkey)
        .withColumn(
            "is_late",
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        )
    )
    ord_stats = flagged.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late_supp"),
    )
    waiting_orders = ord_stats.where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    late_rows = flagged.where(F.col("is_late")).select("l_orderkey", "l_suppkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        late_rows.join(waiting_orders.select("l_orderkey"), "l_orderkey", "left_semi")
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders   ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
"""


# --- C40: semi-structured JSON extraction over events.props -----------------

def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read extraction from the JSON `props` payload column,
    aggregated per event type — the "parse the event envelope" step every
    telemetry pipeline starts with.

    `from_json` with a pinned schema runs JVM-side (Jackson inside
    codegen; no Python), tolerates missing keys as NULL, and prunes to
    the one referenced field. Map-only projection + one map-side-
    combinable aggregation over {event_type} keys; the avg is exact
    cross-engine because sum and count are integers (k ∈ [0, 99], so
    every partial sum is exact) and both engines divide the same two
    exact values.
    """
    ev = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k bigint")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.count_distinct("k").alias("n_distinct_k"),
            round4(F.avg("k")).alias("avg_k"),
        )
    )


# The oracle mirrors Spark's from_json('k bigint') null semantics for
# drifted data, not just the happy path: malformed JSON -> NULL (the
# json_valid guard; DuckDB's json_extract ERRORS there), and a k that is
# not a JSON integer literal (1.5, "69", true) -> NULL (the raw-text
# regex; a bare CAST would round '1.5' to 2 and coerce quoted strings).
JSON_PROPS_SQL = """
WITH k AS (
  SELECT event_type,
         CASE WHEN raw IS NOT NULL AND regexp_matches(raw, '^-?[0-9]+$')
              THEN CAST(raw AS BIGINT) END AS k
  FROM (
    SELECT event_type,
           CASE WHEN json_valid(props)
                THEN CAST(json_extract(props, '$.k') AS VARCHAR) END AS raw
    FROM events
  )
)
SELECT event_type,
       count(*) AS n_events,
       count(k) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       count(DISTINCT k) AS n_distinct_k,
       floor(avg(k) * 10000.0 + 0.5) / 10000.0 AS avg_k
FROM k
GROUP BY event_type
"""


# --- C41: event-type transition matrix (Markov counts) -----------------------

def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition counts — the first-order Markov
    matrix behind session-flow analysis (what follows a click?).

    One shuffle: the lead() window partitions by user_id (millions of
    small per-user sequences — no skew, no global sort) with a
    deterministic (ts, event_id) order; the transition-pair aggregation
    is a handful of keys and map-side-combines. At 100 TB the window
    state is one user's events at a time.
    """
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "event_id", "ts", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .select(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


MARKOV_SQL = """
WITH s AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       count(*) AS n_transitions
FROM s
WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""


# --- C42: exact grouped quartiles --------------------------------------------

def order_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 of order value per order priority — the exact
    (sort-based) complement of approx_stats' sketches.

    Spark's percentile() is a true distributed exact percentile: partial
    per-partition value-count maps merge map-side, so the shuffle
    carries (value, count) pairs per group, not rows. Quartile fractions
    (.25/.5/.75) are binary-exact, the interpolation index q*(n-1) is
    exact, and both engines interpolate lower + (upper-lower)*frac over
    identical doubles — so the compare holds bit-exactly (a q like 0.9
    would NOT be portable: 0.9 has no exact binary representation).
    """
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.expr("percentile(o_totalprice, 0.25D)"), 4).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.5D)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75D)"), 4).alias("p75"),
    )


QUARTILES_SQL = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
FROM orders
GROUP BY o_orderpriority
"""


# --- C43: correlation from exact integer sums --------------------------------

def price_discount_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs discount per return flag,
    computed from EXACT integer sufficient statistics.

    Built-in corr() accumulates doubles whose partial-sum order differs
    between engines (and between runs at different parallelism) — a
    last-ULP lottery the repo bans from compared outputs. Instead both
    columns are scaled to small integers (quantity is integer-valued;
    discount is cents-valued, floor(x*100+0.5) portable rounding), the
    five sufficient sums are exact BIGINTs (order-free), and the closed
    form combines them in double with the identical expression on both
    engines — deterministic to the last bit. One map-side-combinable
    aggregation; 3 group keys. The sums are cast to double BEFORE
    combining: n·Sxx overflows int64 around petabyte row counts, while
    the double path stays deterministic (same operands, same IEEE ops)
    at every scale.
    """
    li = _t(spark, sf_dir, "lineitem")
    pre = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.expr("cast(floor(l_discount * 100.0d + 0.5d) as bigint)").alias("y"),
    )
    agg = pre.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    corr = (d("n") * d("sxy") - d("sx") * d("sy")) / (
        F.sqrt(d("n") * d("sxx") - d("sx") * d("sx"))
        * F.sqrt(d("n") * d("syy") - d("sy") * d("sy"))
    )
    return agg.select(
        "l_returnflag", "n", round6(corr).alias("corr_qty_discount")
    )


CORR_SQL = """
WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(y * y) AS DOUBLE) AS syy
  FROM (SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS y
        FROM lineitem)
  GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       floor(((n * sxy - sx * sy)
              / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
             * 1000000.0 + 0.5) / 1000000.0 AS corr_qty_discount
FROM s
"""


# --- C44: z-score outlier counts from exact sums -----------------------------

def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type 3-sigma outlier counts — the monitoring-style
    anomaly scan, built so the flag decision is bit-deterministic across
    engines.

    The trick is the same exact-sufficient-statistics discipline as
    price_discount_corr: values are cents-scaled to BIGINT, per-type
    (n, Σx, Σx²) are exact order-free integer sums, and the 3-sigma test
    is algebraically cleared of divisions — |z| > 3 becomes
    (n·x − Σx)² > 9·(n·Σx² − (Σx)²) — evaluated in double with the
    identical expression on both engines. Two passes: a 5-row stats
    aggregate broadcast back over the scan (the classic
    small-stats-join-back shape; no driver collect), then a
    map-side-combinable outlier count.
    """
    ev = _t(spark, sf_dir, "events")
    pre = ev.select(
        "event_type",
        F.expr("cast(floor(value * 100.0d + 0.5d) as bigint)").alias("x"),
    )
    stats = pre.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    dn, dx = F.col("n").cast("double"), F.col("x").cast("double")
    dsx, dsxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    dev = dn * dx - dsx
    outliers = (
        pre.join(F.broadcast(stats), "event_type")
        .where(dev * dev > F.lit(9.0) * (dn * dsxx - dsx * dsx))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return stats.join(outliers, "event_type", "left").select(
        "event_type",
        F.col("n").alias("n_events"),
        F.coalesce("n_outliers", F.lit(0)).cast("bigint").alias("n_outliers"),
        round4(dsx / dn / 100.0).alias("mean_value"),
        round4(F.sqrt(dn * dsxx - dsx * dsx) / dn / 100.0).alias("std_value"),
    )


ZSCORE_SQL = """
WITH pre AS (
  SELECT event_type, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x
  FROM events
),
s AS (
  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(x * x) AS DOUBLE) AS sxx
  FROM pre GROUP BY event_type
),
o AS (
  SELECT p.event_type, count(*) AS n_outliers
  FROM pre p JOIN s USING (event_type)
  WHERE (n * x - sx) * (n * x - sx) > 9.0 * (n * sxx - sx * sx)
  GROUP BY p.event_type
)
SELECT s.event_type,
       CAST(s.n AS BIGINT) AS n_events,
       CAST(coalesce(o.n_outliers, 0) AS BIGINT) AS n_outliers,
       floor((sx / n / 100.0) * 10000.0 + 0.5) / 10000.0 AS mean_value,
       floor((sqrt(n * sxx - sx * sx) / n / 100.0) * 10000.0 + 0.5) / 10000.0 AS std_value
FROM s LEFT JOIN o ON s.event_type = o.event_type
"""


# --- C45: ordered conversion funnel ------------------------------------------

#: funnel conversion window: each stage must follow the previous one
#: within this interval (makes the funnel selective — without a window
#: every long-lived user eventually "converts")
FUNNEL_WINDOW_HOURS = 6


def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered windowed funnel: users who viewed, then clicked
    within {FUNNEL_WINDOW_HOURS}h AFTER their first view, then purchased
    within {FUNNEL_WINDOW_HOURS}h after that click — the
    product-analytics staple (what ClickHouse's windowFunnel
    specializes).

    Three stages of (conditional-min aggregate ⋈ events), each an
    equi-join on user_id between the big scan and a per-user timestamp
    frame — all shuffle-partitioned on the same key, so AQE plans them
    as one co-partitioned chain (no re-shuffles of the aggregates), and
    every aggregation map-side-combines. Strict > comparisons and min
    anchors make each stage deterministic; timestamps are microsecond-
    exact on both engines, so the window comparisons are too. Output is
    one row of funnel counts — count(t) over nullable anchors.
    """
    win = F.expr(f"INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    t1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.join(t1, "user_id")
        .where(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + win)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.join(t2, "user_id")
        .where(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + win)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    users = ev.select("user_id").distinct()
    return (
        users.join(t1, "user_id", "left")
        .join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count("t1").alias("n_viewed"),
            F.count("t2").alias("n_clicked_after_view"),
            F.count("t3").alias("n_purchased_after_click"),
        )
    )


FUNNEL_SQL = f"""
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view'
  GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.t1
    AND e.ts <= t1.t1 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
    AND e.ts <= t2.t2 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
  GROUP BY e.user_id
),
users AS (SELECT DISTINCT user_id FROM events)
SELECT count(*) AS n_users,
       count(t1.t1) AS n_viewed,
       count(t2.t2) AS n_clicked_after_view,
       count(t3.t3) AS n_purchased_after_click
FROM users
LEFT JOIN t1 USING (user_id)
LEFT JOIN t2 USING (user_id)
LEFT JOIN t3 USING (user_id)
"""


# --- C45b: the same funnel as one JVM array fold -----------------------------

def funnel_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """conversion_funnel's semantics in ONE pass: events shuffle once by
    user_id into a per-user struct array, and the stage anchors fold out
    with higher-order functions (filter → transform → array_min) —
    entirely JVM-side, zero Python. The complement of the join-chain
    form (C45), same oracle.

    Trade-off at 100 TB: C45 re-scans events per stage but each scan
    prunes to one event_type and never shuffles the fact table; this
    form shuffles the (3-column) stream once and holds one user's events
    as an in-memory array — bounded by per-user activity, the same bound
    every per-user window op has. Which wins depends on stage-filter
    selectivity; both are linear and skew-free. An applyInPandas
    per-user fold was measured and REJECTED: 1500 tiny pandas groups pay
    ~4 ms/group of per-group overhead (6.3 s vs this form's JVM fold and
    the join chain's 0.8 s at sf0.1, equal control). A NULL user_id
    group mirrors the join form exactly: counted in n_users, reaches no
    stage (equi-joins never match a null key).
    """
    win = f"INTERVAL {FUNNEL_WINDOW_HOURS} HOURS"
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.collect_list(F.struct("ts", "event_type")).alias("evs")
    )
    anchored = (
        per_user.withColumn(
            "t1",
            F.expr(
                "if(user_id is null, null, array_min(transform("
                "filter(evs, e -> e.event_type = 'view'), e -> e.ts)))"
            ),
        )
        .withColumn(
            "t2",
            F.expr(
                "if(t1 is null, null, array_min(transform("
                "filter(evs, e -> e.event_type = 'click'"
                f" and e.ts > t1 and e.ts <= t1 + {win}), e -> e.ts)))"
            ),
        )
        .withColumn(
            "t3",
            F.expr(
                "if(t2 is null, null, array_min(transform("
                "filter(evs, e -> e.event_type = 'purchase'"
                f" and e.ts > t2 and e.ts <= t2 + {win}), e -> e.ts)))"
            ),
        )
    )
    return anchored.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_viewed"),
        F.count("t2").alias("n_clicked_after_view"),
        F.count("t3").alias("n_purchased_after_click"),
    )


# --- C46: join-key skew profile ----------------------------------------------

def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key cardinality profile of a join key (here lineitem.l_partkey)
    — the diagnostic a 100 TB operator runs BEFORE choosing a join
    strategy (broadcast head? salt? AQE skew threshold?). Reports key
    count, row count, the exact p50/p75 of rows-per-key, the hottest key
    and its share of the table.

    One map-side-combinable count aggregation, then two consumers of the
    tiny per-key frame: a one-row summary (exact quartiles of integer
    counts — binary-exact fractions, portable) and a deterministic top-1
    heap (TakeOrderedAndProject). The hot-key share is a division of two
    exact integers, identical on both engines.
    """
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").alias("max_key_rows"),
        F.round(F.expr("percentile(c, 0.5D)"), 4).alias("p50_key_rows"),
        F.round(F.expr("percentile(c, 0.75D)"), 4).alias("p75_key_rows"),
    )
    top = (
        counts.orderBy(F.desc("c"), "l_partkey")
        .limit(1)
        .select(
            F.col("l_partkey").alias("top_key"),
            F.col("c").alias("top_key_rows"),
        )
    )
    return stats.crossJoin(F.broadcast(top)).select(
        "n_keys",
        "n_rows",
        "max_key_rows",
        "p50_key_rows",
        "p75_key_rows",
        "top_key",
        round6(
            F.col("top_key_rows").cast("double") / F.col("n_rows").cast("double")
        ).alias("top_key_share"),
    )


KEY_SKEW_SQL = """
WITH c AS (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey),
s AS (
  SELECT count(*) AS n_keys,
         CAST(sum(c) AS BIGINT) AS n_rows,
         max(c) AS max_key_rows,
         round(quantile_cont(c, 0.5), 4) AS p50_key_rows,
         round(quantile_cont(c, 0.75), 4) AS p75_key_rows
  FROM c
),
t AS (
  SELECT l_partkey AS top_key, c AS top_key_rows
  FROM c ORDER BY c DESC, l_partkey LIMIT 1
)
SELECT s.n_keys, s.n_rows, s.max_key_rows, s.p50_key_rows, s.p75_key_rows,
       t.top_key,
       floor((CAST(t.top_key_rows AS DOUBLE) / CAST(s.n_rows AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0
         AS top_key_share
FROM s, t
"""


# --- C54: rank-based distribution profile (percent_rank / cume_dist) --------

def spending_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer spending position WITHIN their nation: percent_rank
    and cume_dist over lifetime order value, plus the within-nation ntile
    quartile — the rank-window trio value_deciles (global ntile) doesn't
    cover. Rank-based outputs are cross-engine exact by construction:
    both engines define percent_rank = (rank-1)/(n-1) and cume_dist =
    n_le/n as single IEEE divisions of small integers, and the money sum
    ranks on cents-exact doubles, so no portable-rounding shim is needed
    (ties broken by custkey to keep ranks deterministic).

    Scale shape: one custkey-shuffle aggregation over orders, one
    UN-HINTED customer equi-join (customer scales with SF, so no
    broadcast hint — AQE broadcasts while it is small, per the
    no-hints-on-SF-scaling rule), then all three windows share ONE
    n_nationkey partitioning.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    spend = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    w = W.partitionBy("c_nationkey").orderBy("spend", "c_custkey")
    return spend.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"),
        "spend",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    ).orderBy("custkey")


SPENDING_PERCENTILES_SQL = """
WITH spend AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
  FROM orders GROUP BY o_custkey
)
SELECT c.c_custkey AS custkey,
       c.c_nationkey AS nationkey,
       s.spend,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       cast(ntile(4) OVER w AS BIGINT) AS quartile
FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
WINDOW w AS (PARTITION BY c.c_nationkey ORDER BY s.spend, c.c_custkey)
ORDER BY custkey
"""


# --- C57: data-quality audit --------------------------------------------------
# The expectation gate a pipeline runs before trusting an ingested table:
# null/domain checks fold into ONE map-side-combinable aggregation over one
# pruned scan; key uniqueness is one groupBy; referential integrity is one
# left join on the key (counting unmatched rows — the outer-join form keeps
# it a single pass over the pairs). All counts are integers → exact oracle.

def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation audit of `lineitem`: one row per check with its
    violation and checked counts. Checks: quantity in [1, 50], discount in
    [0, 0.1], extendedprice > 0 (all null-counting), (l_orderkey,
    l_linenumber) uniqueness (violations = surplus rows beyond the first
    per key), and lineitem→orders referential integrity.

    Scale shape: the three domain checks share one scan + one partial_sum
    aggregation; uniqueness shuffles once on the compound key; the
    referential check shuffles on orderkey only (no hint — orders scales
    with SF, AQE broadcasts while small). Each branch reduces to one row
    before the union, so the union is driver-cheap at any scale."""
    li = _t(spark, sf_dir, "lineitem")

    def bad(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    scalar = li.agg(
        F.count(F.lit(1)).alias("n"),
        bad(
            F.col("l_quantity").isNull()
            | (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
        ).alias("q_bad"),
        bad(
            F.col("l_discount").isNull()
            | (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
        ).alias("d_bad"),
        bad(
            F.col("l_extendedprice").isNull() | (F.col("l_extendedprice") <= 0)
        ).alias("p_bad"),
    ).selectExpr(
        "stack(3, 'quantity_range', q_bad, n,"
        " 'discount_range', d_bad, n,"
        " 'price_positive', p_bad, n) AS (check_name, n_violations, n_checked)"
    )
    keys = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.lit("line_key_unique").alias("check_name"),
            F.sum(F.when(F.col("c") > 1, F.col("c") - 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
            F.count(F.lit(1)).alias("n_checked"),
        )
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey")
    ref = (
        li.select("l_orderkey")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .agg(
            F.lit("order_ref_integrity").alias("check_name"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_violations"),
            F.count(F.lit(1)).alias("n_checked"),
        )
    )
    return scalar.unionAll(keys).unionAll(ref)


DATA_QUALITY_SQL = """
WITH scalar AS (
  SELECT count(*) AS n,
         sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
                  THEN 1 ELSE 0 END) AS q_bad,
         sum(CASE WHEN l_discount IS NULL OR l_discount < 0 OR l_discount > 0.1
                  THEN 1 ELSE 0 END) AS d_bad,
         sum(CASE WHEN l_extendedprice IS NULL OR l_extendedprice <= 0
                  THEN 1 ELSE 0 END) AS p_bad
  FROM lineitem
)
SELECT 'quantity_range' AS check_name, cast(q_bad AS BIGINT) AS n_violations,
       cast(n AS BIGINT) AS n_checked FROM scalar
UNION ALL
SELECT 'discount_range', cast(d_bad AS BIGINT), cast(n AS BIGINT) FROM scalar
UNION ALL
SELECT 'price_positive', cast(p_bad AS BIGINT), cast(n AS BIGINT) FROM scalar
UNION ALL
SELECT 'line_key_unique',
       cast(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT),
       cast(count(*) AS BIGINT)
FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
UNION ALL
SELECT 'order_ref_integrity',
       cast(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       cast(count(*) AS BIGINT)
FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
"""


# --- C62: skyline (Pareto frontier) query ---------------------------------------

def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of `part`: the Pareto frontier of (retail price ↓,
    size ↑) — a part survives iff no other part is at most as expensive
    AND at least as large with one strict. Classic multi-criteria catalog
    query (Börzsönyi et al., "The Skyline Operator", ICDE 2001), in the
    O(sort) window form instead of the naive O(n²) dominance self-join:
    cents-exact price groups reduce to their max size map-side, one
    ordered window takes the running max size over STRICTLY cheaper
    groups (lag-1 of the running max), and a group survives iff its max
    size exceeds it; frontier parts are the group members at that size
    (price-size ties are mutually non-dominating and all kept).

    Scale note: the window orders the per-PRICE aggregate — the
    value_deciles caveat (single partition over distinct prices; at
    extreme price cardinality the swap is range-partitioned prefix maxima,
    the two-phase prefix-sum shape sequence_pack already uses)."""
    part = _t(spark, sf_dir, "part")
    base = part.select(
        "p_partkey", "p_size",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
    )
    groups = base.groupBy("price_cents").agg(F.max("p_size").alias("max_size"))
    wp = W.orderBy("price_cents")
    frontier = (
        groups.withColumn(
            "prev_max",
            F.max("max_size").over(wp.rowsBetween(W.unboundedPreceding, -1)),
        )
        .where(
            F.col("prev_max").isNull() | (F.col("max_size") > F.col("prev_max"))
        )
        .select(
            F.col("price_cents").alias("f_price"),
            F.col("max_size").alias("f_size"),
        )
    )
    return base.join(
        frontier,
        (F.col("price_cents") == F.col("f_price"))
        & (F.col("p_size") == F.col("f_size")),
    ).select("p_partkey", "price_cents", "p_size")


SKYLINE_SQL = """
WITH base AS (
  SELECT p_partkey, p_size,
         cast(round(p_retailprice * 100) AS BIGINT) AS price_cents
  FROM part
),
groups AS (
  SELECT price_cents, max(p_size) AS max_size FROM base GROUP BY price_cents
),
frontier AS (
  SELECT price_cents, max_size
  FROM (
    SELECT price_cents, max_size,
           max(max_size) OVER (
             ORDER BY price_cents ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_max
    FROM groups
  )
  WHERE prev_max IS NULL OR max_size > prev_max
)
SELECT b.p_partkey, b.price_cents, b.p_size
FROM base b
JOIN frontier f ON b.price_cents = f.price_cents AND b.p_size = f.max_size
"""


# --- C61: session path analysis ------------------------------------------------

#: session gap (µs) — matches streaming sessionize's 30 minutes
PATH_GAP_US = 1_800_000_000
#: path truncation (events per session) — bounds the path-string domain
PATH_MAX_EVENTS = 8


def top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session paths: sessionize each user's event stream
    (gaps-and-islands, {PATH_GAP_US} µs gap), string the first
    {PATH_MAX_EVENTS} event types of each session into a `a>b>c` path,
    and rank paths by session count — the "how do users actually move"
    table funnel analysis starts from. Deterministic (ts_us, event_id)
    total order everywhere; count-DESC + path-ASC tie-break;
    TakeOrderedAndProject top-K, never a global sort.

    Scale shape: two windows share ONE user_id exchange (break flags and
    running session id), the per-session path is one ordered aggregation
    (array_sort over ≤ session-length structs, sliced to the cap before
    the join), and the final count is a map-side-combinable groupBy over
    the bounded path domain."""
    ev = _t(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    base = ev.select(
        "user_id", "event_id", "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    flagged = base.withColumn(
        "brk",
        F.when(
            F.lag("ts_us").over(wo).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(wo) >= PATH_GAP_US),
            1,
        ).otherwise(0),
    ).withColumn(
        "sid", F.sum("brk").over(wo.rowsBetween(W.unboundedPreceding, 0))
    )
    # truncate to the path cap BEFORE aggregating — the session window
    # shares the existing user_id sort, and a never-idle key (a bot
    # pinging inside the gap forever) contributes {PATH_MAX_EVENTS} rows
    # to the collect, not its entire history (unbounded per-group state
    # was the r7 review's finding here; the oracle already had this shape)
    ws = W.partitionBy("user_id", "sid").orderBy("ts_us", "event_id")
    capped = flagged.withColumn("rn", F.row_number().over(ws)).where(
        F.col("rn") <= PATH_MAX_EVENTS
    )
    paths = (
        capped.groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts_us", "event_id", "event_type"))
                    ),
                    lambda x: x.event_type,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


def _top_paths_sql() -> str:
    return f"""
WITH ord AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {PATH_GAP_US}
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sess AS (
  SELECT *, sum(brk) OVER (
    PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING
  ) AS sid
  FROM ord
),
numbered AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, sid ORDER BY ts_us, event_id
  ) AS rn
  FROM sess
),
paths AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
  FROM numbered WHERE rn <= {PATH_MAX_EVENTS}
  GROUP BY user_id, sid
)
SELECT path, cast(count(*) AS BIGINT) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
"""


# --- C60: exponentially-weighted moving average (exact-arithmetic form) --------

#: EWMA window (events per user) — bounded so the power-of-two weight sum
#: stays integer-exact in int64
EWMA_K = 16


def ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event value — the time-series smoothing signal —
    in the one parameterization that is exact cross-engine: α = 1/2 over
    the last {EWMA_K} events, so every weight is a power of two and the
    weighted sum is INTEGER arithmetic on cents (newest event weight
    2^{EWMA_K}-1 halving backwards; the recursive s_i = (v_i + s_(i-1))/2
    form is this, truncated). A float recursion would be order-sensitive
    and engine-divergent; here only the FINAL displayed average divides,
    through the portable round4. Deterministic (ts, event_id) ordering.

    Scale shape: one window rank per user partition (WindowGroupLimit
    prunes to the top-{EWMA_K} per user before the full sort materializes,
    the same partial top-K any per-group recency query uses), then one
    map-side-combinable weighted sum."""
    from frolyk_spark.functions.portable import round4

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.desc(F.unix_micros("ts")), F.desc("event_id")
    )
    ranked = (
        ev.select(
            "user_id", "ts", "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= EWMA_K)
    )
    weight = F.expr(
        f"shiftleft(cast(1 as bigint), cast({EWMA_K} - rk as int))"
    )
    return (
        ranked.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_used"),
            F.sum(F.col("cents") * weight).alias("ewma_num"),
            F.sum(weight).alias("weight_sum"),
        )
        .select(
            "user_id", "n_used", "ewma_num", "weight_sum",
            round4(
                F.col("ewma_num").cast("double")
                / (F.col("weight_sum") * 100).cast("double")
            ).alias("ewma_value"),
        )
    )


def _ewma_sql() -> str:
    from frolyk_spark.functions.portable import round4_sql

    ratio = round4_sql(
        "cast(ewma_num as double) / cast(weight_sum * 100 as double)"
    )
    return f"""
WITH ranked AS (
  SELECT user_id,
         cast(round(value * 100) AS BIGINT) AS cents,
         row_number() OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC
         ) AS rk
  FROM events
),
agg AS (
  SELECT user_id,
         count(*) AS n_used,
         sum(cents * (1::BIGINT << ({EWMA_K} - rk))) AS ewma_num,
         sum(1::BIGINT << ({EWMA_K} - rk)) AS weight_sum
  FROM ranked WHERE rk <= {EWMA_K}
  GROUP BY user_id
)
SELECT user_id,
       cast(n_used AS BIGINT) AS n_used,
       cast(ewma_num AS BIGINT) AS ewma_num,
       cast(weight_sum AS BIGINT) AS weight_sum,
       {ratio} AS ewma_value
FROM agg
"""


# --- C59: market-basket co-occurrence lift -------------------------------------

def market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining over (user, day) event baskets: for every
    event-type pair (a < b), the baskets containing both, each alone, and
    the lift n_both·n_baskets / (n_a·n_b) (>1 = the types co-occur within
    a day more than independence predicts). Integer supports + one
    portable-round4 ratio. Baskets are per-DAY because lifetime user sets
    saturate (every long-lived user eventually does every type — lift
    degenerates to 1).

    Scale shape: the per-basket distinct-type set reduces events map-side
    first (one shuffle on the basket key); the pair expansion is a
    self-join of that set ON the basket key (each basket contributes at
    most |types|² pairs — bounded by the FIXED event-type cardinality, not
    by event volume); per-type and total supports are bounded frames
    (≤ type-cardinality rows / one row) and broadcast; the basket frame
    feeds three consumers and is lineage-cut once."""
    from frolyk_spark.functions.lineage import cut_lineage
    from frolyk_spark.functions.portable import round4

    ev = _t(spark, sf_dir, "events")
    baskets = cut_lineage(
        ev.select(
            "user_id", F.date_trunc("day", "ts").alias("bday"), "event_type"
        ).distinct()
    )
    singles = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_single")
    )
    total = baskets.select("user_id", "bday").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    a = baskets.select("user_id", "bday", F.col("event_type").alias("type_a"))
    b = baskets.select("user_id", "bday", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "bday"])
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = singles.select(
        F.col("event_type").alias("type_a"), F.col("n_single").alias("n_a")
    )
    nb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n_single").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .crossJoin(F.broadcast(total))
        .select(
            "type_a", "type_b", "n_both", "n_a", "n_b",
            round4(
                (F.col("n_both") * F.col("n_baskets")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


def _market_basket_sql() -> str:
    from frolyk_spark.functions.portable import round4_sql

    lift = round4_sql(
        "cast(n_both * n_baskets as double) / cast(n_a * n_b as double)"
    )
    return f"""
WITH baskets AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS bday, event_type
  FROM events
),
singles AS (SELECT event_type, count(*) AS n_single FROM baskets GROUP BY 1),
total AS (
  SELECT count(*) AS n_baskets
  FROM (SELECT DISTINCT user_id, bday FROM baskets)
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM baskets a JOIN baskets b USING (user_id, bday)
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both,
       na.n_single AS n_a, nb.n_single AS n_b,
       {lift} AS lift
FROM pairs
JOIN singles na ON na.event_type = type_a
JOIN singles nb ON nb.event_type = type_b
CROSS JOIN total
"""


# --- C58: RFM customer segmentation --------------------------------------------

#: RFM scoring cutoff ("today" for recency)
RFM_CUTOFF = "2001-09-01"


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of the customer base: per customer, recency (days
    from last order to {RFM_CUTOFF}), frequency (order count) and monetary
    value (cents-exact bigint), each quartiled by ntile — bucket 1 is best
    (most recent / most frequent / highest spend) — then rolled up to
    segment cells (segment = 100·R + 10·F + M). All-integer output →
    exact oracle; monetary follows the cents-scale BIGINT rule, and every
    ntile ordering carries a custkey tie-break for total order.

    Scale note (the value_deciles caveat): the three ntile windows sort
    the PER-CUSTOMER aggregate — tiny next to orders but single-partition;
    at extreme customer cardinality the scale path swaps exact ntile for
    approx_percentile cutoffs + a when-chain (engine-specific, hence not
    used in this oracle-checked variant). The orders scan itself reduces
    map-side to one row per customer first."""
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(RFM_CUTOFF).cast("date"), F.max(F.col("o_orderdate").cast("date"))
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "monetary_cents"
        ),
    )
    wr = W.orderBy("recency_days", "o_custkey")
    wf = W.orderBy(F.desc("frequency"), "o_custkey")
    wm = W.orderBy(F.desc("monetary_cents"), "o_custkey")
    scored = per_cust.select(
        "monetary_cents",
        F.ntile(4).over(wr).alias("r_b"),
        F.ntile(4).over(wf).alias("f_b"),
        F.ntile(4).over(wm).alias("m_b"),
    )
    return (
        scored.groupBy("r_b", "f_b", "m_b")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_cents").alias("monetary_cents"),
        )
        .select(
            (F.col("r_b") * 100 + F.col("f_b") * 10 + F.col("m_b"))
            .cast("bigint")
            .alias("segment"),
            "n_customers",
            "monetary_cents",
        )
    )


RFM_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         date_diff('day', cast(max(o_orderdate) AS DATE), DATE '{RFM_CUTOFF}')
           AS recency_days,
         count(*) AS frequency,
         sum(cast(round(o_totalprice * 100) AS BIGINT)) AS monetary_cents
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT monetary_cents,
         ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r_b,
         ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_b,
         ntile(4) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_b
  FROM per_cust
)
SELECT cast(r_b * 100 + f_b * 10 + m_b AS BIGINT) AS segment,
       cast(count(*) AS BIGINT) AS n_customers,
       cast(sum(monetary_cents) AS BIGINT) AS monetary_cents
FROM scored
GROUP BY r_b, f_b, m_b
"""


# --- C64: incremental materialized-view maintenance ---------------------------

#: refresh horizon — rows shipped before this date are "yesterday's MV"
MV_CUTOFF = "1998-06-01"


def _mv_partials(li: DataFrame) -> DataFrame:
    """Per-(returnflag, linestatus) partial aggregate in exact integer
    sufficient statistics (cents-scaled BIGINT sums + count) — the state a
    merge can combine in any order and across any base/delta split."""
    qty_c = F.expr("cast(floor(l_quantity * 100.0d + 0.5d) as bigint)")
    price_c = F.expr("cast(floor(l_extendedprice * 100.0d + 0.5d) as bigint)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qty_c).alias("qty_c"),
        F.sum(price_c).alias("price_c"),
    )


def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the pricing-summary MV
    is kept as PERSISTED partial-aggregate state (count + cents-scaled
    BIGINT sums per group — mergeable in any order), and a refresh merges
    only the DELTA's partials into that state. This is the 100-TB shape:
    a production refresh reads the compact state table (group-cardinality
    rows, not corpus rows) plus the new partition, never rescanning the
    base corpus — refresh cost is O(delta + |groups|) while a recompute
    is O(corpus). For self-containment this operator also BUILDS the base
    state (lineitem shipped before {MV_CUTOFF}) in the same call — that
    scan is the one-time MV build a deployment amortizes, and it runs
    with the cutoff predicate pushed to the parquet scan.

    The oracle is the DIRECT aggregate over the whole table, so any drift
    in the partial schema, the merge, or the base/delta split boundary
    (a row landing in both or neither side) diverges. Money sums round
    cents-exactly (CLAUDE rule: money-sum rounds are safe); no ratios.

    The state is a persisted artifact (streams.artifact) keyed by the
    resolved source path and the cutoff, so a changed refresh horizon
    never reuses state built for the old one. The base build runs ONCE
    per dataset: later calls in the same or another process read the
    compact state and pay only the delta. The state sits OUTSIDE the
    streaming janitor's pid-scoped results root, so a streaming op in the
    same process can never reclaim it out from under the returned
    (lazily-read) frame.
    """
    from frolyk_spark.sources.streams import artifact

    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit(MV_CUTOFF).cast("timestamp")
    state_dir, _ = artifact(
        "mv_state", [os.path.join(sf_dir, "lineitem.parquet")],
        ("pricing", MV_CUTOFF),
        lambda d: _mv_partials(li.filter(F.col("l_shipdate") < cutoff))
        .write.mode("overwrite").parquet(d),
    )
    state = spark.read.parquet(state_dir)
    delta = _mv_partials(li.filter(F.col("l_shipdate") >= cutoff))
    merged = (
        state.unionByName(delta)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("n").alias("count_order"),
            F.sum("qty_c").alias("qty_c"),
            F.sum("price_c").alias("price_c"),
        )
    )
    return merged.select(
        "l_returnflag",
        "l_linestatus",
        "count_order",
        F.round(F.col("qty_c").cast("double") / 100.0, 2).alias("sum_qty"),
        F.round(F.col("price_c").cast("double") / 100.0, 2).alias("sum_base_price"),
    ).orderBy("l_returnflag", "l_linestatus")


MV_REFRESH_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS count_order,
       round(cast(sum(cast(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             / 100.0, 2) AS sum_qty,
       round(cast(sum(cast(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             / 100.0, 2) AS sum_base_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- C65: snapshot reconciliation (table diff) --------------------------------

def _diff_versions(li: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic v1/v2 snapshot pair derived from orders: bucket
    r = o_orderkey % 100 routes each row — r=0 exists only in v1
    (removed), r=1 only in v2 (added), r in {2,3} in both with v2's
    price bumped by 1.00 (changed), the rest identical. Disjoint,
    scale-free rules: the diff's row mix is the same at any SF."""
    from frolyk_spark.functions.lineage import cut_lineage

    r = F.pmod("o_orderkey", F.lit(100))
    cents = F.expr("cast(floor(o_totalprice * 100.0d + 0.5d) as bigint)")
    # base feeds BOTH sides of the full-outer self-join — cut the lineage
    # (CLAUDE rule) so the diff reads one materialized snapshot twice
    # instead of scanning orders twice
    base = cut_lineage(
        li.select("o_orderkey", r.alias("r"), cents.alias("price_c"))
    )
    v1 = base.where(F.col("r") != 1).select("o_orderkey", "price_c")
    v2 = base.where(F.col("r") != 0).select(
        "o_orderkey",
        (F.col("price_c") + F.when(F.col("r").isin(2, 3), 100).otherwise(0))
        .alias("price_c"),
    )
    return v1, v2


#: inactivity gap bounding an activity burst (µs)
OVERLAP_GAP_US = 30 * 60 * 1_000_000


def _bursts(ev: DataFrame, typ: str) -> DataFrame:
    """Per-user activity bursts of one event type via gaps-and-islands:
    a burst breaks where the gap to the previous event exceeds
    {OVERLAP_GAP_US} µs; the burst INTERVAL extends the gap past its last
    event (sessionize's session-window convention — a singleton burst is
    a 30-minute interval, not a zero-length point, which would make
    overlaps vacuously rare). All integer µs — lag ordering is total
    ((ts, event_id)), so burst ids and bounds are engine-deterministic."""
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("ts_us").over(w)
    is_new = F.when(
        prev.isNull() | (F.col("ts_us") - prev > OVERLAP_GAP_US), 1
    ).otherwise(0)
    return (
        ev.where(F.col("event_type") == typ)
        .select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"))
        .withColumn("burst", F.sum(is_new).over(w))
        .groupBy("user_id", "burst")
        .agg(
            F.min("ts_us").alias("start_us"),
            (F.max("ts_us") + F.lit(OVERLAP_GAP_US)).alias("end_us"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def session_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (C66) — the Flink-interval-join / range-join
    operator class none of the other C entries exercise: per-user CLICK
    bursts × PURCHASE bursts (both gaps-and-islands intervals with a
    30-minute gap), keeping pairs whose time intervals overlap, with the
    exact overlap duration. The behavioral question it answers: which
    browsing bursts co-occurred with buying activity.

    Scale shape: the join is an EQUI-join on user_id with the range
    predicate as a post-join filter within each key group — the standard
    interval-join plan when intervals are keyed (the key prunes; ranges
    filter within the key's bursts, bounded per user). No cartesian, no
    cross-key range search. Everything is integer µs: burst bounds,
    overlap arithmetic (least/greatest of exact integers), so the oracle
    matches bit-for-bit with zero float traffic."""
    ev = _t(spark, sf_dir, "events")
    clicks = _bursts(ev, "click").alias("c")
    buys = _bursts(ev, "purchase").alias("p")
    overlap = F.least(F.col("c.end_us"), F.col("p.end_us")) - F.greatest(
        F.col("c.start_us"), F.col("p.start_us")
    )
    return (
        clicks.join(buys, F.col("c.user_id") == F.col("p.user_id"))
        .where(
            (F.col("c.start_us") <= F.col("p.end_us"))
            & (F.col("p.start_us") <= F.col("c.end_us"))
        )
        .select(
            F.col("c.user_id").alias("user_id"),
            F.col("c.burst").alias("click_burst"),
            F.col("p.burst").alias("purchase_burst"),
            overlap.alias("overlap_us"),
            F.col("c.n").alias("n_clicks"),
            F.col("p.n").alias("n_purchases"),
        )
        .orderBy("user_id", "click_burst", "purchase_burst")
    )


SESSION_OVERLAPS_SQL = f"""
WITH base AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
),
marked AS (
  SELECT user_id, event_type, event_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > {OVERLAP_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM base WHERE event_type IN ('click', 'purchase')
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts_us, event_id)
),
bursts AS (
  -- the running sum orders by the SAME total order as the lag (ties on
  -- ts_us broken by event_id), so per-row burst ids match Spark's
  SELECT user_id, event_type, ts_us,
         sum(is_new) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS burst
  FROM marked
),
agg AS (
  SELECT user_id, event_type, cast(burst AS BIGINT) AS burst,
         min(ts_us) AS start_us, max(ts_us) + {OVERLAP_GAP_US} AS end_us,
         cast(count(*) AS BIGINT) AS n
  FROM bursts GROUP BY user_id, event_type, burst
)
SELECT c.user_id, c.burst AS click_burst, p.burst AS purchase_burst,
       least(c.end_us, p.end_us) - greatest(c.start_us, p.start_us)
         AS overlap_us,
       c.n AS n_clicks, p.n AS n_purchases
FROM (SELECT * FROM agg WHERE event_type = 'click') c
JOIN (SELECT * FROM agg WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
WHERE c.start_us <= p.end_us AND p.start_us <= c.end_us
ORDER BY c.user_id, click_burst, purchase_burst
"""


def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation report — the data-ops diff between two
    versions of a keyed table (the check a pipeline runs after a CDC
    replay, a backfill, or an E14 snapshot restore): full-outer join the
    two versions on the key, classify every key as added / removed /
    changed by comparing exact integer row images (cents-scaled BIGINT —
    no double equality), and report only the non-identical rows.

    Scale shape: ONE sort-merge full-outer join on the table key — the
    canonical reconciliation plan; at 100 TB both snapshots come from the
    bucketed writer (E2) on the same key count, so the join is co-located
    and shuffle-free. Output is bounded by the actual drift (~4% of keys
    under the deterministic test mutation), never the table size. The v1
    and v2 frames here are derived from one orders scan by disjoint
    scale-free bucket rules (see _diff_versions), so the oracle rebuilds
    both sides exactly and any misclassification diverges.
    """
    li = _t(spark, sf_dir, "orders")
    v1, v2 = _diff_versions(li)
    a, b = v1.alias("a"), v2.alias("b")
    joined = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    status = (
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .when(F.col("a.price_c") != F.col("b.price_c"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(
            F.coalesce("a.o_orderkey", "b.o_orderkey").alias("o_orderkey"),
            status.alias("status"),
            F.col("a.price_c").alias("v1_price_c"),
            F.col("b.price_c").alias("v2_price_c"),
        )
        .where(F.col("status") != "unchanged")
        .orderBy("o_orderkey")
    )


TABLE_DIFF_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderkey % 100 AS r,
         cast(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_c
  FROM orders
), v1 AS (
  SELECT o_orderkey, price_c FROM base WHERE r != 1
), v2 AS (
  SELECT o_orderkey,
         price_c + CASE WHEN r IN (2, 3) THEN 100 ELSE 0 END AS price_c
  FROM base WHERE r != 0
)
SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
       CASE WHEN a.o_orderkey IS NULL THEN 'added'
            WHEN b.o_orderkey IS NULL THEN 'removed'
            WHEN a.price_c != b.price_c THEN 'changed'
            ELSE 'unchanged' END AS status,
       a.price_c AS v1_price_c,
       b.price_c AS v2_price_c
FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
WHERE (CASE WHEN a.o_orderkey IS NULL THEN 'added'
            WHEN b.o_orderkey IS NULL THEN 'removed'
            WHEN a.price_c != b.price_c THEN 'changed'
            ELSE 'unchanged' END) != 'unchanged'
ORDER BY o_orderkey
"""


# --- C73: mergeable histogram quantile sketch + exact-error audit -------------

#: fixed sketch width: one row of 256 counters per shard, added at the
#: coordinator — the bounded-state quantile monitor (the CMS posture for
#: rank statistics). Estimate error is bounded by one bin width.
QSKETCH_BINS = 256


def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantile sketch over order totals with its own exact
    audit (C73): a {QSKETCH_BINS}-bin equi-width counter sketch —
    MERGEABLE state (counts add; a 100 TB ingest keeps one per shard and
    adds at the coordinator, exactly like heavy_hitters_cms for
    frequencies) — inverted to decile estimates, reported side by side
    with the TRUE order statistics so the consumer sees the actual error
    (est <= exact < est + bin width by construction, property-tested).

    All integer: prices cents-scale to BIGINT, bin(v) = ((v-lo) *
    {QSKETCH_BINS}) div (hi-lo+1) with lo/hi derived in-query (scale-free,
    one crossJoined one-row aggregate), decile target ranks r_d =
    ceil(d*n/10) in floor arithmetic. The EXACT side never global-sorts:
    the sketch accelerates its own audit — rank r's bin comes from the
    cumulative over the bounded {QSKETCH_BINS}-row bin frame (the
    vocab_growth bounded-window class), and the true value is selected by
    a row_number window PARTITIONED BY decile over only that bin's rows
    (~n/{QSKETCH_BINS} each) — distributed selection, no single-partition
    data-scale sort (the value_deciles scale note, solved rather than
    documented). Output per decile: (decile, target_rank, est_cents,
    exact_cents, err_cents).
    """
    binned = _quantile_binned(
        _t(spark, sf_dir, "orders").select(
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    return _quantile_decile_audit(binned, bins)


def _quantile_binned(o: DataFrame) -> DataFrame:
    """(cents) → lineage-cut (cents, lo, hi, n, bin) with the in-query
    scale-free bin geometry. Cut because the frame feeds BOTH the sketch
    aggregate and the exact in-bin selection (CLAUDE.md self-join rule).
    Shared by C73 and its streaming twin B35 so the binning rule can
    never drift between them."""
    from frolyk_spark.functions.lineage import cut_lineage

    rng = o.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    return cut_lineage(
        o.crossJoin(F.broadcast(rng)).select(
            "cents", "lo", "hi", "n",
            F.expr(f"((cents - lo) * {QSKETCH_BINS}) div (hi - lo + 1)").alias("bin"),
        )
    )


def _quantile_decile_audit(binned: DataFrame, bins: DataFrame) -> DataFrame:
    """Inverse-CDF decile estimates from a (bin, cnt) sketch + the exact
    in-bin audit against the binned rows — C73's second half, factored so
    B35 can feed its STREAM-MERGED state as ``bins`` (the estimates then
    genuinely come from the maintained sketch, the audit from the data)."""
    geo = binned.agg(
        F.min("lo").alias("lo"), F.min("hi").alias("hi"), F.min("n").alias("n")
    )
    bins = bins.select("bin", "cnt").crossJoin(F.broadcast(geo))
    wb = W.orderBy("bin")  # bounded: <= QSKETCH_BINS rows
    cum = bins.select(
        "bin", "lo", "hi", "n", "cnt",
        (F.sum("cnt").over(wb) - F.col("cnt")).alias("cum_before"),
    )
    targets = geo.select(
        F.explode(F.expr("sequence(1, 9)")).alias("decile"), "n"
    ).withColumn("target_rank", F.expr("((decile * n) + 9) div 10"))
    placed = targets.drop("n").join(
        F.broadcast(cum),
        (F.col("target_rank") > F.col("cum_before"))
        & (F.col("target_rank") <= F.col("cum_before") + F.col("cnt")),
    ).select(
        "decile", "target_rank", "bin", "cum_before",
        F.expr(f"lo + (bin * (hi - lo + 1)) div {QSKETCH_BINS}").alias("est_cents"),
    )
    # exact in-bin selection: only the 9 target bins' rows are touched
    inbin = binned.join(
        F.broadcast(placed.select("decile", "target_rank", "bin", "cum_before")),
        "bin",
    )
    ws = W.partitionBy("decile").orderBy("cents")
    exact = (
        inbin.withColumn("rk", F.row_number().over(ws))
        .where(F.col("rk") == F.col("target_rank") - F.col("cum_before"))
        .select("decile", F.col("cents").alias("exact_cents"))
    )
    return (
        placed.join(exact, "decile")
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            F.col("target_rank").cast("bigint").alias("target_rank"),
            F.col("est_cents").cast("bigint").alias("est_cents"),
            F.col("exact_cents").cast("bigint").alias("exact_cents"),
            (F.col("exact_cents") - F.col("est_cents"))
            .cast("bigint").alias("err_cents"),
        )
        .orderBy("decile")
    )


QUANTILE_SKETCH_SQL = f"""
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
rng AS (
  SELECT CAST(min(cents) AS BIGINT) AS lo, CAST(max(cents) AS BIGINT) AS hi,
         CAST(count(*) AS BIGINT) AS n
  FROM o
),
binned AS (
  SELECT cents, lo, hi, n,
         ((cents - lo) * {QSKETCH_BINS}) // (hi - lo + 1) AS bin
  FROM o CROSS JOIN rng
),
bins AS (
  SELECT bin, lo, hi, n, CAST(count(*) AS BIGINT) AS cnt
  FROM binned GROUP BY bin, lo, hi, n
),
cum AS (
  SELECT bin, lo, hi, n, cnt,
         CAST(sum(cnt) OVER (ORDER BY bin) - cnt AS BIGINT) AS cum_before
  FROM bins
),
targets AS (
  SELECT unnest(range(1, 10)) AS decile, n FROM rng
),
placed AS (
  SELECT t.decile, ((t.decile * t.n) + 9) // 10 AS target_rank,
         c.bin, c.cum_before,
         CAST(c.lo + (c.bin * (c.hi - c.lo + 1)) // {QSKETCH_BINS} AS BIGINT)
           AS est_cents
  FROM targets t
  JOIN cum c ON ((t.decile * t.n) + 9) // 10 > c.cum_before
            AND ((t.decile * t.n) + 9) // 10 <= c.cum_before + c.cnt
),
exact AS (
  SELECT p.decile, b.cents AS exact_cents,
         row_number() OVER (PARTITION BY p.decile ORDER BY b.cents) AS rk,
         p.target_rank - p.cum_before AS want_rk
  FROM placed p JOIN binned b ON b.bin = p.bin
)
SELECT CAST(p.decile AS BIGINT) AS decile,
       CAST(p.target_rank AS BIGINT) AS target_rank,
       p.est_cents,
       CAST(e.exact_cents AS BIGINT) AS exact_cents,
       CAST(e.exact_cents - p.est_cents AS BIGINT) AS err_cents
FROM placed p
JOIN (SELECT decile, exact_cents FROM exact WHERE rk = want_rk) e USING (decile)
ORDER BY decile
"""


QUERIES = {
    "quantile_sketch": quantile_sketch,
    "data_quality_audit": data_quality_audit,
    "rfm_segments": rfm_segments,
    "market_basket": market_basket,
    "ewma_value": ewma_value,
    "top_paths": top_paths,
    "skyline_parts": skyline_parts,
    "mv_incremental_refresh": mv_incremental_refresh,
    "table_diff": table_diff,
    "session_overlaps": session_overlaps,
    "json_props_stats": json_props_stats,
    "spending_percentiles": spending_percentiles,
    "anomaly_zscore": anomaly_zscore,
    "conversion_funnel": conversion_funnel,
    "funnel_fold": funnel_fold,
    "key_skew_profile": key_skew_profile,
    "markov_transitions": markov_transitions,
    "order_value_quartiles": order_value_quartiles,
    "price_discount_corr": price_discount_corr,
    "value_deciles": value_deciles,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "resample_gapfill": resample_gapfill,
    "salted_join_segments": salted_join_segments,
    "q17_small_qty_revenue": q17_small_qty_revenue,
    "q19_discount_revenue": q19_discount_revenue,
    "q22_idle_balance": q22_idle_balance,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_unshipped_revenue": q3_unshipped_revenue,
    "q5_local_supplier": q5_local_supplier,
    "q6_forecast": q6_forecast,
    "q10_returned": q10_returned,
    "topk_orders_per_customer": topk_orders_per_customer,
    "running_revenue": running_revenue,
    "event_deltas": event_deltas,
    "rollup_revenue": rollup_revenue,
    "cube_lineitem": cube_lineitem,
    "customers_with_orders": customers_with_orders,
    "customers_without_orders": customers_without_orders,
    "distinct_parts_per_supplier": distinct_parts_per_supplier,
    "event_type_pivot": event_type_pivot,
    "asof_purchase_click": asof_purchase_click,
    "clicks_before_purchase": clicks_before_purchase,
    "set_ops_customers": set_ops_customers,
    "explode_words": explode_words,
    "daily_revenue": daily_revenue,
    "q4_order_priority": q4_order_priority,
    "q7_volume_shipping": q7_volume_shipping,
    "q12_delay_priority": q12_delay_priority,
    "q14_promo_revenue": q14_promo_revenue,
    "q9_product_profit": q9_product_profit,
    "salted_skew_agg": salted_skew_agg,
    "asof_cogroup": asof_cogroup,
    "retention_cohorts": retention_cohorts,
    "grouping_sets_revenue": grouping_sets_revenue,
    "q8_market_share": q8_market_share,
    "q13_order_distribution": q13_order_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q18_large_orders": q18_large_orders,
    # no-oracle: approximate results are engine-specific; bounded by
    # tests/test_approx.py against exact answers
    "approx_stats": approx_stats,
    # C14's oracle-checkable bounds verdict (r10 verdict #2)
    "approx_stats_bounds": approx_stats_bounds,
}

ORACLES = {
    "quantile_sketch": QUANTILE_SKETCH_SQL,
    "approx_stats_bounds": APPROX_STATS_BOUNDS_SQL,
    "data_quality_audit": DATA_QUALITY_SQL,
    "rfm_segments": RFM_SQL,
    "market_basket": _market_basket_sql(),
    "ewma_value": _ewma_sql(),
    "top_paths": _top_paths_sql(),
    "skyline_parts": SKYLINE_SQL,
    "mv_incremental_refresh": MV_REFRESH_SQL,
    "table_diff": TABLE_DIFF_SQL,
    "session_overlaps": SESSION_OVERLAPS_SQL,
    "json_props_stats": JSON_PROPS_SQL,
    "spending_percentiles": SPENDING_PERCENTILES_SQL,
    "anomaly_zscore": ZSCORE_SQL,
    "conversion_funnel": FUNNEL_SQL,
    # same semantics, different engine facility: shares C45's oracle
    "funnel_fold": FUNNEL_SQL,
    "key_skew_profile": KEY_SKEW_SQL,
    "markov_transitions": MARKOV_SQL,
    "order_value_quartiles": QUARTILES_SQL,
    "price_discount_corr": CORR_SQL,
    "value_deciles": VALUE_DECILES_SQL,
    "q21_waiting_suppliers": Q21_SQL,
    "resample_gapfill": RESAMPLE_SQL,
    "salted_join_segments": SALTED_JOIN_SQL,
    "q17_small_qty_revenue": Q17_SQL,
    "q19_discount_revenue": Q19_SQL,
    "q22_idle_balance": Q22_SQL,
    "q1_pricing_summary": Q1_SQL,
    "q3_unshipped_revenue": Q3_SQL,
    "q5_local_supplier": Q5_SQL,
    "q6_forecast": Q6_SQL,
    "q10_returned": Q10_SQL,
    "topk_orders_per_customer": TOPK_SQL,
    "running_revenue": RUNNING_SQL,
    "event_deltas": DELTAS_SQL,
    "rollup_revenue": ROLLUP_SQL,
    "cube_lineitem": CUBE_SQL,
    "customers_with_orders": SEMI_SQL,
    "customers_without_orders": ANTI_SQL,
    "distinct_parts_per_supplier": DISTINCT_SQL,
    "event_type_pivot": PIVOT_SQL,
    "asof_purchase_click": ASOF_SQL,
    "clicks_before_purchase": RANGE_SQL,
    "set_ops_customers": SETOPS_SQL,
    "explode_words": EXPLODE_SQL,
    "daily_revenue": DAILY_SQL,
    "q4_order_priority": Q4_SQL,
    "q7_volume_shipping": Q7_SQL,
    "q12_delay_priority": Q12_SQL,
    "q14_promo_revenue": Q14_SQL,
    "q9_product_profit": Q9_SQL,
    "salted_skew_agg": SALTED_SQL,
    # same semantics, different engine facility: shares C16's oracle
    "asof_cogroup": ASOF_SQL,
    "retention_cohorts": RETENTION_SQL,
    "grouping_sets_revenue": GROUPING_SETS_SQL,
    "q8_market_share": Q8_SQL,
    "q13_order_distribution": Q13_SQL,
    "q15_top_supplier": Q15_SQL,
    "q18_large_orders": Q18_SQL,
}
