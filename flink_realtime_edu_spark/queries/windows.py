"""Analytic window functions — SURVEY.md §2.5 (W1-W4) + §2.6 (O1/O2).

Reference semantics [R]: ADS top-N per dimension, quantile bucketing,
session stitching deltas, running totals. Determinism discipline:
any ranking over a float measure ranks the ROUNDED value with a
unique tie-breaker so Spark and DuckDB pick identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_realtime_edu_spark.functions import dec_avg, dec_avg_sql, dec_sum, dec_sum_sql
from flink_realtime_edu_spark.queries import register
from flink_realtime_edu_spark.session import materialize as _materialize
from flink_realtime_edu_spark.sources import load


# --------------------------------------------------------------------------
# W1 + O2 — per-group top-k by ranking
# --------------------------------------------------------------------------
@register(
    "top_parts_per_nation",
    survey_rows=("W1", "O2", "J1", "J3"),
    bench=True,
    oracle=f"""
WITH pr AS (
  SELECT n_name, l_partkey,
    {dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name, l_partkey)
SELECT n_name, l_partkey, revenue, rnk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY n_name ORDER BY revenue DESC, l_partkey) AS INTEGER) AS rnk
  FROM pr) t
WHERE rnk <= 3
""",
)
def top_parts_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by revenue per supplier nation (the reference's
    top-courses-per-province ADS query [R]). Ranking happens on the
    already-aggregated (small) frame, so the WindowExec sort is per
    nation, not over raw lineitem."""
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = (
        li.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "l_partkey")
        .agg(dec_sum(revenue).alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy(F.col("revenue").desc(), F.col("l_partkey"))
    return (
        per_part.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
    )


# --------------------------------------------------------------------------
# W2 — ntile / percent_rank / cume_dist
# --------------------------------------------------------------------------
@register(
    "customer_balance_quartiles",
    survey_rows=("W2",),
    oracle="""
SELECT c_custkey,
  CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
  ROUND(CUME_DIST() OVER w, 6) AS cume
FROM customer
WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey)
""",
)
def customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-bucket customers by account balance — EXACT global
    ntile/percent_rank/cume_dist WITHOUT the single-partition global
    window (the oracle keeps the naive `NTILE(4) OVER (ORDER BY ...)`
    form as the exact twin).

    Scale shape (the two-phase distributed rank): range-partition on
    the window's full sort key so each partition holds a contiguous
    key range, count rows per range bucket (one tiny row per bucket —
    the only driver-side data), prefix-sum those counts into bucket
    offsets, then rank WITHIN each bucket (`Window.partitionBy(pid)` —
    a parallel per-bucket sort, never one task holding all rows) and
    add the bucket's offset for the exact global rank r. The sort key
    ends in the unique c_custkey, so every row is its own peer group
    and the three window functions are closed-form in (r, n):
    percent_rank = (r-1)/(n-1), cume_dist = r/n, and NTILE(4) deals
    the first n%4 buckets ceil(n/4) rows. The range frame is
    materialized (session.materialize) so the counts job and the rank
    job see identical bucket assignment."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    key = [F.col("c_acctbal").desc(), F.col("c_custkey")]
    part = _materialize(
        c.repartitionByRange(32, *key).withColumn("pid", F.spark_partition_id())
    )
    counts = sorted(
        (r["pid"], r["cnt"])
        for r in part.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    n = sum(cnt for _, cnt in counts)
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    off = spark.createDataFrame(offsets, "pid int, off long")
    w = Window.partitionBy("pid").orderBy(*key)
    r = F.col("off") + F.row_number().over(w)
    big, rem = divmod(n, 4)
    threshold = rem * (big + 1)
    if big == 0:  # fewer rows than buckets: NTILE deals one row each
        quartile = r.cast("int")
    else:
        quartile = (
            F.when(r <= threshold, F.floor((r - 1) / (big + 1)) + 1)
            .otherwise(rem + F.floor((r - threshold - 1) / big) + 1)
            .cast("int")
        )
    pct = (
        F.round((r - 1).cast("double") / (n - 1), 6) if n > 1 else F.lit(0.0)
    )
    return (
        part.join(F.broadcast(off), on="pid")
        .select(
            "c_custkey",
            quartile.alias("quartile"),
            pct.alias("pct_rank"),
            F.round(r.cast("double") / n, 6).alias("cume"),
        )
    )


# --------------------------------------------------------------------------
# W3 — lead/lag (prev-event deltas, the session-stitching primitive)
# --------------------------------------------------------------------------
@register(
    "event_gaps",
    survey_rows=("W3", "F2"),
    oracle="""
SELECT user_id, event_id,
  epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us,
  LEAD(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap (µs, exact integers — no float noise)
    and next event type."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    return load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


# --------------------------------------------------------------------------
# W4 — frame aggregates: running total + moving average
# --------------------------------------------------------------------------
@register(
    "running_customer_spend",
    survey_rows=("W4",),
    oracle=f"""
SELECT o_custkey, o_orderkey,
  {dec_sum_sql('o_totalprice', over='cum')} AS run_spend,
  {dec_avg_sql('o_totalprice', over='m3')} AS mov3_avg
FROM orders
WINDOW
  cum AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
  m3  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""",
)
def running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative and 3-order moving spend per customer (decimal
    window sums → order-independent, hash-identical to the oracle)."""
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m3 = base.rowsBetween(-2, Window.currentRow)
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        dec_sum("o_totalprice", over=cum).alias("run_spend"),
        dec_avg("o_totalprice", over=m3).alias("mov3_avg"),
    )


# --------------------------------------------------------------------------
# O1/O2 — global top-k with deterministic ties
# --------------------------------------------------------------------------
@register(
    "topk_orders",
    survey_rows=("O1", "O2"),
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""",
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 orders by price (unique tie-breaker → identical
    row set in both engines). Spark executes orderBy+limit as
    TakeOrderedAndProject: per-partition heaps + driver merge of k
    rows — no global sort, safe at any scale."""
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# W4 — RANGE frame: value-based (event-time) trailing window
# --------------------------------------------------------------------------
@register(
    "trailing_24h_user_value",
    survey_rows=("W4", "F2"),
    oracle=f"""
SELECT event_id, user_id,
  COUNT(*) OVER w AS n_24h,
  {dec_sum_sql('value', 4, over='w')} AS sum_value_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
""",
)
def trailing_24h_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: that user's event count and value sum over the
    trailing 24 hours of EVENT TIME — a RANGE frame over epoch
    micros, W4's value-based half (the ROWS-frame half lives in
    running_customer_spend / revenue_trend_daily). RANGE frames are
    peer-inclusive, so equal timestamps share one frame and the
    result is deterministic without a tie-breaker; the inner SUM is
    the exact decimal so frame evaluation order can't move it.

    Scale: one shuffle on user_id, per-partition sort on ts —
    identical cost to any ordered window; the frame bound is a
    pointer walk, not a self-join (contrast the J4 interval join,
    which materializes pairs)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-86_400_000_000, Window.currentRow)
    )
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_24h"),
        dec_sum("value", 4, over=w).alias("sum_value_24h"),
    )
