"""Semi-structured JSON / map handling + dirty-data split.

SURVEY.md §2.2 P3/P4, §2.8 F6/F7, §2.1 S7. Reference semantics [R]:
every ODS log record is a JSON payload (`common`/`page`/`props`);
records failing the parse go to a side output; DWD jobs extract
typed fields. Spark mapping: `from_json` returns NULL on bad input
(no exceptions → the dirty split is a pair of complementary filters,
one pass each side, no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, MapType, StringType

from flink_realtime_edu_spark.functions import dec_avg, dec_avg_sql, dec_sum, dec_sum_sql
from flink_realtime_edu_spark.queries import register
from flink_realtime_edu_spark.sources import load

# DuckDB-side extraction of props.k without the JSON extension
# (regexp keeps the oracle dependency-free; FIXTURES.md note 3).
_K_SQL = "CAST(regexp_extract(props, '\"k\": *([0-9]+)', 1) AS INTEGER)"


# --------------------------------------------------------------------------
# P3/F7 — JSON field extraction + aggregation over extracted fields
# --------------------------------------------------------------------------
@register(
    "json_props_stats",
    survey_rows=("P3", "F7", "A1"),
    oracle=f"""
SELECT event_type, ({_K_SQL}) % 10 AS k_bucket,
  COUNT(*) AS n,
  {dec_sum_sql('value')} AS sum_value,
  {dec_avg_sql(f'value / NULLIF({_K_SQL}, 0)')} AS avg_value_per_k
FROM events
GROUP BY 1, 2
""",
)
def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract `props.k` (get_json_object → cast), bucket it, and
    aggregate — with a try_divide null-safe ratio (P4). The oracle
    uses regexp extraction: same values, no JSON extension needed."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    ratio = F.try_divide(F.col("value"), k)
    return (
        ev.select("event_type", (k % 10).alias("k_bucket"), "value", ratio.alias("ratio"))
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("value").alias("sum_value"),
            dec_avg("ratio").alias("avg_value_per_k"),
        )
    )


# --------------------------------------------------------------------------
# F6 — map functions (from_json to MapType, key/value access)
# --------------------------------------------------------------------------
@register(
    "map_funcs_props",
    survey_rows=("F6", "F7", "P3"),
    oracle=f"""
SELECT event_id,
  {_K_SQL} AS k_val,
  CAST(len(string_split(props, ':')) - 1 AS INTEGER) AS n_keys,
  array_to_string(['k'], ',') AS keys_csv
FROM events
""",
)
def map_funcs_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse props as MapType (the reference's `common` field map [R])
    and access it with element_at / map_keys. The oracle recomputes
    the same scalars from the raw JSON text."""
    ev = load(spark, sf_dir, "events")
    m = F.from_json("props", MapType(StringType(), IntegerType()))
    return ev.select(
        "event_id",
        F.element_at(m, "k").alias("k_val"),
        F.size(F.map_keys(m)).cast("int").alias("n_keys"),
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("keys_csv"),
    )


# --------------------------------------------------------------------------
# S7/P4 — dirty-data side-output split
# --------------------------------------------------------------------------
@register(
    "dirty_data_split",
    survey_rows=("S7", "P4", "U1"),
    oracle=f"""
SELECT
  CASE WHEN {_K_SQL} IS NOT NULL AND {_K_SQL} BETWEEN 0 AND 99
       THEN 'clean' ELSE 'dirty' END AS stream,
  COUNT(*) AS n,
  COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
""",
)
def dirty_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's side-output pattern [R]: strict-parse props,
    route rows whose payload fails validation to a 'dirty' stream.
    `from_json` yields NULL on malformed input, so both streams are
    cheap complementary filters over one scan (union'd back here for
    a one-frame report; at scale each side writes its own sink)."""
    ev = load(spark, sf_dir, "events")
    k = F.from_json("props", "k INT")["k"]
    tagged = ev.withColumn(
        "stream",
        F.when(k.isNotNull() & k.between(0, 99), "clean").otherwise("dirty"),
    )
    clean = tagged.filter(F.col("stream") == "clean")
    dirty = tagged.filter(F.col("stream") == "dirty")
    return clean.unionByName(dirty).groupBy("stream").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )
