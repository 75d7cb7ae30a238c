"""Aggregation operators — SURVEY.md §2.4 (A1-A10) + pivot.

Reference semantics [R]: every DWS job is a keyed windowed aggregate
(counts, sums, unique visitors); ADS adds rollups across granularity
levels and latest-per-key (ClickHouse ReplacingMergeTree) semantics.
All hash aggregates here run partial (map-side) + final automatically;
the only shuffle is on the grouping key.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from flink_realtime_edu_spark.functions import dec_sum, dec_sum_sql
from flink_realtime_edu_spark.queries import register
from flink_realtime_edu_spark.sources import load


# --------------------------------------------------------------------------
# A3 — distinct aggregation (unique visitors per event type)
# --------------------------------------------------------------------------
@register(
    "distinct_users_by_type",
    survey_rows=("A1", "A2", "A3"),
    oracle=f"""
SELECT event_type,
  COUNT(DISTINCT user_id) AS uniq_users,
  COUNT(*) AS n_events,
  {dec_sum_sql('value')} AS sum_value,
  MIN(value) AS min_value,
  MAX(value) AS max_value
FROM events GROUP BY event_type
""",
)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type UV + totals — the reference's per-source unique
    visitor DWS bean [R]."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("uniq_users"),
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


# --------------------------------------------------------------------------
# A4 — approximate distinct (HLL). Estimates are engine-specific →
# rows-only check; the test suite asserts the estimate is within 5%
# of exact.
# --------------------------------------------------------------------------
@register(
    "approx_unique_visitors",
    survey_rows=("A4",),
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id) AS exact_uv,
       TRUE AS approx_within_tol, TRUE AS hll_within_tol
FROM events GROUP BY 1
""",
)
def approx_unique_visitors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-based UV estimation (`approx_count_distinct` +
    `hll_sketch_agg`/`hll_sketch_estimate`) — the scale path for
    100 TB-cardinality UV counts where exact countDistinct would need
    a full shuffle of the key universe. Sketches are also mergeable
    across windows/partitions (ClickHouse-side HLL in the reference
    [R]).

    Tolerance oracle (upgraded from rows-only in r4): raw estimates
    are engine-specific, so the query emits the EXACT distinct count
    plus within-tolerance booleans for both estimators — 25% relative
    error, 5× the default 5% rsd of approx_count_distinct and far
    above the ~1.6% rsd of the lgK=12 HLL sketch, so the booleans are
    deterministically TRUE unless an estimator is catastrophically
    broken — and the DuckDB oracle asserts exact_uv and both booleans
    exactly. (4-sigma property bounds are additionally pinned in
    tests/test_operators.py.)"""
    ev = load(spark, sf_dir, "events")
    est = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_uv"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("hll_uv"),
        F.countDistinct("user_id").alias("exact_uv"),
    )
    exact = F.col("exact_uv").cast("double")

    def within(col: str):
        return (F.abs(F.col(col).cast("double") - exact) / exact) <= 0.25

    return est.select(
        "event_type",
        "exact_uv",
        within("approx_uv").alias("approx_within_tol"),
        within("hll_uv").alias("hll_within_tol"),
    )


# --------------------------------------------------------------------------
# A6 — rollup (multi-granularity DWS: by nation, by region, total)
# --------------------------------------------------------------------------
@register(
    "rollup_revenue",
    survey_rows=("A6", "J1", "J3"),
    oracle=f"""
SELECT r_name, n_name,
  CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INTEGER) AS gid,
  {dec_sum_sql('o_totalprice')} AS revenue,
  COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
""",
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order revenue at (region, nation), (region), and grand-total
    granularity in one pass — the reference computes these as three
    separate DWS jobs; rollup shares the scan and partial aggs."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.rollup("r_name", "n_name").agg(
        (F.grouping("r_name") * 2 + F.grouping("n_name")).cast("int").alias("gid"),
        dec_sum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# A7 — collect to array/set (deterministic: sorted, stringified)
# --------------------------------------------------------------------------
@register(
    "collect_event_types",
    survey_rows=("A7", "F1"),
    oracle="""
SELECT user_id,
  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv,
  COUNT(*) AS n_events
FROM events GROUP BY user_id
""",
)
def collect_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user set of event types as a sorted CSV (array_sort makes
    collect_set deterministic for the oracle hash — SURVEY.md §5.2)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("types_csv"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# A9 — latest record per key (ReplacingMergeTree / changelog-compaction)
# --------------------------------------------------------------------------
@register(
    "latest_event_per_user",
    survey_rows=("A9", "W1", "T8"),
    oracle="""
SELECT user_id, event_id, event_type, ts FROM (
  SELECT user_id, event_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t
WHERE rn = 1
""",
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user — the batch re-expression of the
    reference's ClickHouse ReplacingMergeTree upsert sink (T8) and of
    CDC changelog compaction (S2): row_number over (key ORDER BY
    version DESC) = 1."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "event_type", "ts")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --------------------------------------------------------------------------
# A8 — percentiles / median / mode
# --------------------------------------------------------------------------
@register(
    "value_percentiles",
    survey_rows=("A8",),
    oracle="""
SELECT event_type,
  ROUND(quantile_cont(value, 0.5), 6) AS p50,
  ROUND(quantile_cont(value, 0.9), 6) AS p90,
  ROUND(median(value), 6) AS med,
  COUNT(*) AS n
FROM events GROUP BY event_type
""",
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type. Spark
    `percentile` (exact) ≡ DuckDB `quantile_cont`, and `median` ≡
    `quantile_cont(0.5)` on both engines (checked as its own output
    column); at 100 TB swap to `percentile_approx` (mergeable
    t-digest-style sketch, no global sort) — exact percentiles need
    all values of a group together."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.percentile("value", 0.5), 6).alias("p50"),
            F.round(F.percentile("value", 0.9), 6).alias("p90"),
            F.round(F.median("value"), 6).alias("med"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# A10/X2 — custom UDAF via Arrow-batched pandas grouped aggregation
# --------------------------------------------------------------------------
@register(
    "weighted_avg_udaf",
    survey_rows=("A10", "X2", "P3"),
    oracle="""
SELECT event_type,
  ROUND(SUM(CAST(value * (CAST(regexp_extract(props, '"k": *([0-9]+)', 1) AS INTEGER) + 1) AS DECIMAL(30,8)))
        / SUM(CAST(CAST(regexp_extract(props, '"k": *([0-9]+)', 1) AS INTEGER) + 1 AS DECIMAL(30,8))), 4) AS wavg_value
FROM events GROUP BY event_type
""",
)
def weighted_avg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-weighted average of event value per type, computed by a
    custom pandas GROUPED_AGG UDAF (Arrow-batched — the ~10-100×
    faster path vs row-at-a-time Python, SURVEY.md §2.10). math.fsum
    keeps the sum exact so it hash-matches the oracle's decimal sums
    after rounding. This is the A10 'ProcessWindowFunction combo'
    escape hatch; built-ins remain the default."""

    @pandas_udf("double")
    def wavg(v: pd.Series, w: pd.Series) -> float:
        num = math.fsum((v * w).tolist())
        den = math.fsum(w.tolist())
        return round(num / den, 4) if den else None

    ev = load(spark, sf_dir, "events").withColumn(
        "weight", (F.get_json_object("props", "$.k").cast("int") + 1).cast("double")
    )
    return ev.groupBy("event_type").agg(wavg("value", "weight").alias("wavg_value"))


# --------------------------------------------------------------------------
# Pivot — wide daily activity matrix
# --------------------------------------------------------------------------
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@register(
    "pivot_daily_activity",
    survey_rows=("A1", "F2"),
    oracle="""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
  COUNT(*) FILTER (event_type = 'click')    AS click,
  COUNT(*) FILTER (event_type = 'view')     AS view,
  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
  COUNT(*) FILTER (event_type = 'signup')   AS signup,
  COUNT(*) FILTER (event_type = 'error')    AS error
FROM events GROUP BY 1
""",
)
def pivot_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily counts pivoted wide by event type (explicit value list →
    single-pass, no extra job to discover pivot values)."""
    df = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    return df.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


# --------------------------------------------------------------------------
# Salted two-phase aggregation over a genuinely skewed key (the 100 TB
# skew posture, run through the driver's oracle gate)
# --------------------------------------------------------------------------
@register(
    "skewed_event_type_stats",
    survey_rows=("A1", "A2", "A3"),
    oracle=f"""
SELECT event_type,
  {dec_sum_sql('value')} AS sum_value,
  COUNT(*) AS n_rows,
  COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
""",
)
def skewed_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type totals computed through the SALTED two-phase
    operators (operators/skew.py): event_type has only 5 values, so
    a direct groupBy gives each reducer a fifth of the fact table —
    the power-law-key shape that melts a 1000-executor job. Phase 1
    shuffles on (key, salt-of-unique-id) spreading each hot key over
    16 reducers; phase 2 combines 16 tiny partials. The exact salted
    COUNT(DISTINCT user_id) salts by hash(user_id) so shard-local
    distincts are globally disjoint. Bit-equal to the direct
    aggregate — which is exactly what the DuckDB oracle computes."""
    from flink_realtime_edu_spark.operators.skew import (
        salted_count_distinct,
        salted_sum_count,
    )

    ev = load(spark, sf_dir, "events")
    sums = salted_sum_count(ev, ["event_type"], "value", "event_id")
    uniq = salted_count_distinct(ev, ["event_type"], "user_id")
    return sums.join(uniq, on="event_type").select(
        "event_type",
        "sum_value",
        "n_rows",
        F.col("n_distinct").alias("n_users"),
    )


@register(
    "unpivot_daily_activity",
    survey_rows=("A1", "F2"),
    oracle="""
WITH days AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
counts AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2)
SELECT d.day, t.event_type, COALESCE(c.n, 0) AS n
FROM days d
CROSS JOIN (VALUES ('click'), ('view'), ('purchase'), ('signup'), ('error')) t(event_type)
LEFT JOIN counts c ON c.day = d.day AND c.event_type = t.event_type
""",
)
def unpivot_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) the wide daily-activity matrix back to long form
    — the wide→long inverse of pivot_daily_activity, zero-filled
    cells preserved (the oracle reconstructs them as the day × type
    cross join)."""
    wide = pivot_daily_activity(spark, sf_dir)
    return wide.unpivot(
        ids=["day"],
        values=_EVENT_TYPES,
        variableColumnName="event_type",
        valueColumnName="n",
    )


# --------------------------------------------------------------------------
# A8/A4 — mergeable approximate percentiles (the 100 TB path)
# --------------------------------------------------------------------------
@register(
    "approx_value_percentiles",
    survey_rows=("A8", "A4"),
    # Raw sketch values stay engine-specific (Spark percentile_approx
    # is Greenwald-Khanna; DuckDB approx_quantile is t-digest), so the
    # oracle asserts the RANK GUARANTEE instead: the returned
    # quantiles' ranks, recounted against the raw data, must sit
    # within the documented error window (booleans TRUE both sides).
    oracle="""
SELECT event_type, COUNT(*) AS n,
       TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
FROM events GROUP BY 1
""",
)
def approx_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`value_percentiles`' scale twin: percentile_approx is a
    mergeable Greenwald-Khanna sketch — partial sketches combine at
    the reducer like any partial agg, so no group ever needs all its
    values co-resident (exact `percentile` does). accuracy=10000
    bounds rank error at n/10000 per group. This is the operator the
    exact query's docstring promises for 100 TB.

    Tolerance oracle (upgraded from rows-only in r4): the query joins
    the sketch outputs back to the raw values and recounts each
    returned quantile's true rank; `abs(rank - q·n) ≤ n/100 + 1`
    (100× the sketch's n/10000 guarantee, robust to ties) becomes a
    boolean the DuckDB oracle asserts exactly, alongside the exact
    per-group count. Tighter 4-sigma-style bounds live in
    tests/test_operators.py::test_approx_percentiles_within_rank_error."""
    ev = load(spark, sf_dir, "events")
    ap = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50"),
        F.percentile_approx("value", 0.9, 10000).alias("p90"),
    )
    joined = ev.join(F.broadcast(ap), on="event_type")
    chk = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("value") <= F.col("p50")).cast("long")).alias("r50"),
        F.sum((F.col("value") <= F.col("p90")).cast("long")).alias("r90"),
    )
    n = F.col("n").cast("double")

    def rank_ok(rank_col: str, q: float):
        return F.abs(F.col(rank_col).cast("double") - q * n) <= (n / 100 + 1)

    return chk.select(
        "event_type",
        "n",
        rank_ok("r50", 0.5).alias("p50_rank_ok"),
        rank_ok("r90", 0.9).alias("p90_rank_ok"),
    )
