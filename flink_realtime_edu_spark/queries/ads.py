"""ADS serving-layer reports — SURVEY.md §1.1 layer 5.

The reference's ADS layer answers product questions over the DWS
aggregates: trend lines, ratios, retention [R] — for an online-
education business these are THE dashboard queries. Each composes
several §2 operators (that's the point of ADS): aggregation +
window functions + conditional counting, with the usual determinism
discipline so both engines hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_realtime_edu_spark.functions import dec_avg, dec_avg_sql, dec_sum, dec_sum_sql
from flink_realtime_edu_spark.queries import register
from flink_realtime_edu_spark.sources import load


@register(
    "revenue_trend_daily",
    survey_rows=("W3", "W4", "A1", "F2"),
    oracle=f"""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         {dec_sum_sql('value')} AS revenue
  FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT day, revenue,
  ROUND(revenue - LAG(revenue) OVER (ORDER BY day), 2) AS dod_change,
  {dec_avg_sql('revenue', over='w')} AS ma7
FROM d
WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def revenue_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase revenue with day-over-day delta and a 7-day
    moving average — the ADS trend line. The series is tiny (one row
    per day) so the global ORDER BY window is fine; at scale the
    window would partition by a dimension (course/region)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        dec_sum("value").alias("revenue")
    )
    seq = Window.orderBy("day")
    ma = seq.rowsBetween(-6, Window.currentRow)
    return daily.select(
        "day",
        "revenue",
        F.round(F.col("revenue") - F.lag("revenue").over(seq), 2).alias("dod_change"),
        dec_avg("revenue", over=ma).alias("ma7"),
    )


@register(
    "cohort_retention",
    survey_rows=("T6", "J2", "A3", "F2"),
    oracle="""
WITH signup AS (
  SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
  FROM events WHERE event_type = 'signup' GROUP BY user_id),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS active_day
  FROM events)
SELECT cohort_day,
  COUNT(DISTINCT s.user_id) AS cohort_size,
  COUNT(DISTINCT CASE WHEN a.active_day = cohort_day + 1 THEN s.user_id END) AS retained_d1,
  COUNT(DISTINCT CASE WHEN a.active_day = cohort_day + 7 THEN s.user_id END) AS retained_d7
FROM signup s LEFT JOIN activity a ON s.user_id = a.user_id
GROUP BY cohort_day
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-cohort retention (D1/D7): for each first-signup day,
    how many of that cohort were active exactly 1 and 7 days later —
    the canonical edu-warehouse engagement report [R]. Cohort
    assignment shuffles on user_id once; the activity join is
    user-keyed; the final rollup is per cohort day."""
    ev = load(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("cohort_day"))
    )
    activity = ev.select("user_id", F.to_date("ts").alias("active_day")).distinct()
    joined = signup.join(activity, on="user_id", how="left")
    return joined.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("cohort_size"),
        F.countDistinct(
            F.when(F.col("active_day") == F.date_add("cohort_day", 1), F.col("user_id"))
        ).alias("retained_d1"),
        F.countDistinct(
            F.when(F.col("active_day") == F.date_add("cohort_day", 7), F.col("user_id"))
        ).alias("retained_d7"),
    )
