"""Skew mitigation — the 100 TB posture's explicit tools.

AQE's skew-join splitting (on by default, session.py) covers joins.
For AGGREGATIONS over power-law keys, the classic fix is salted
two-phase aggregation: shard each hot key into `n_salts` sub-keys,
pre-aggregate per (key, salt), then combine per key. Spark's hash
aggregate already does partial aggregation map-side, which usually
suffices — the salted form matters when the FINAL aggregation's
per-key state is itself heavy (large collect-like states, or
count-distinct where one reducer would own the whole hot key).

The salt must be deterministic (oracle discipline — never rand()):
derived by hashing a unique column.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_realtime_edu_spark.functions import dec_exact, dec_round


def salted_sum_count(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    unique_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """SUM + COUNT per key via two-phase salted aggregation.

    Phase 1 shuffles on (keys..., salt) — a hot key's rows spread
    over `n_salts` reducers; phase 2 combines `n_salts` tiny partial
    rows per key. Decimal accumulation keeps the result bit-equal to
    the direct single-phase aggregate, ``functions.dec_sum`` (asserted
    in tests).
    """
    salt = F.pmod(F.xxhash64(F.col(unique_col)), F.lit(n_salts)).alias("__salt")
    partial = (
        df.select(*keys, salt, dec_exact(value_col).alias("__v"))
        .groupBy(*keys, "__salt")
        .agg(F.sum("__v").alias("__psum"), F.count(F.lit(1)).alias("__pcnt"))
    )
    return partial.groupBy(*keys).agg(
        dec_round(F.sum("__psum"), 2).alias("sum_value"),
        F.sum("__pcnt").alias("n_rows"),
    )


def salted_count_distinct(
    df: DataFrame,
    keys: Sequence[str],
    distinct_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Exact COUNT(DISTINCT x) per key without one reducer owning a
    hot key: salt by hash of the DISTINCT column (all copies of one
    value land in the same shard → shard-local distinct is globally
    correct), count distinct per shard, sum shards."""
    salt = F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(n_salts)).alias("__salt")
    per_shard = (
        df.select(*keys, salt, distinct_col)
        .groupBy(*keys, "__salt")
        .agg(F.countDistinct(distinct_col).alias("__d"))
    )
    return per_shard.groupBy(*keys).agg(F.sum("__d").alias("n_distinct"))
