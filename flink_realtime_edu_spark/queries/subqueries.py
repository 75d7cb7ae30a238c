"""Correlated/uncorrelated subquery queries — Catalyst decorrelation.

SURVEY.md §4.2 lists subquery decorrelation as a built-in Catalyst
rewrite needed for J5/J6 "written as subqueries"; the join-API forms
live in queries/joins.py. This module exercises the SQL-subquery
forms the reference family's ADS layer would write against
ClickHouse [R] — EXISTS, IN-with-HAVING, correlated scalar
subqueries in WHERE, and scalar subqueries over a CTE — shaped after
the classic TPC-H patterns (Q4/Q11/Q15/Q17/Q18) restricted to the
driver's star schema (no partsupp table, FIXTURES.md).

Every query here runs the IDENTICAL SQL text on Spark (lifecycle 2:
``spark.sql`` over temp views, SURVEY.md §3.2) and DuckDB, so the
oracle checks both the decorrelation rewrite and value parity.
Catalyst turns each subquery into a join (left-semi for EXISTS /
IN, an aggregate + left-outer join for correlated scalar subqueries,
a broadcast scalar for uncorrelated ones) — verified in the plans/
snapshots; nothing here falls back to per-row re-execution, which is
what makes these shapes survive 100 TB facts.

Determinism notes (SURVEY.md §5.2): every rounded floating aggregate
is a ``functions.dec_sum_sql`` / ``dec_avg_sql`` twin (the one SQL
text runs in both engines); threshold comparisons happen on
exact decimal sums (l_quantity is integral in the testdata —
measured, FIXTURES.md) or on identically-derived doubles, so no
boundary ulp can flip membership between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_realtime_edu_spark.functions import dec_avg_sql, dec_sum_sql
from flink_realtime_edu_spark.queries import register
from flink_realtime_edu_spark.sources import load


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        load(spark, sf_dir, n).createOrReplaceTempView(n)


# --------------------------------------------------------------------------
# J5 via EXISTS with a two-column correlation (TPC-H Q4 shape)
# --------------------------------------------------------------------------
_LATE_SHIP_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


@register(
    "late_ship_priority_counts",
    survey_rows=("J5", "A1", "F2"),
    oracle=_LATE_SHIP_SQL,
)
def late_ship_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1996 orders having a line shipped >60 days after order date,
    counted per priority (TPC-H Q4 shape). The EXISTS correlates on
    the join key AND an outer timestamp expression; Catalyst
    decorrelates it to one left-semi join, so the predicate ships
    with the shuffle instead of re-running per outer row."""
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_LATE_SHIP_SQL)


# --------------------------------------------------------------------------
# Correlated scalar subquery in WHERE (TPC-H Q17 shape)
# --------------------------------------------------------------------------
_SMALL_QTY_SQL = f"""
SELECT p_brand,
  {dec_sum_sql('l_extendedprice')}
    AS small_qty_revenue,
  COUNT(*) AS n_small_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
GROUP BY p_brand
"""


@register(
    "small_qty_parts_revenue",
    survey_rows=("J1", "A1", "A2"),
    oracle=_SMALL_QTY_SQL,
)
def small_qty_parts_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from lines ordering less than half a part's average
    quantity, per brand (TPC-H Q17 shape). The correlated AVG
    subquery decorrelates into one per-partkey aggregate joined back
    to the fact — a single extra shuffle on l_partkey, not a per-row
    rescan. Safe across engines because l_quantity is integral
    (exact double sums → identical AVG) and ties at exactly half the
    mean cannot occur (quantity*2 vs mean both exact)."""
    _views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_SMALL_QTY_SQL)


# --------------------------------------------------------------------------
# IN + HAVING subquery (TPC-H Q18 shape)
# --------------------------------------------------------------------------
_BIG_VOLUME_SQL = f"""
SELECT c_custkey, c_name, o_orderkey,
  {dec_sum_sql('l_quantity')} AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey
                     HAVING SUM(CAST(l_quantity AS DECIMAL(30,8))) > 300)
GROUP BY c_custkey, c_name, o_orderkey
"""


@register(
    "big_volume_customers",
    survey_rows=("J5", "A1", "A2"),
    oracle=_BIG_VOLUME_SQL,
)
def big_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers behind orders totalling >300 units (TPC-H Q18
    shape). The IN-subquery becomes a left-semi join against a
    pre-aggregated key set; the threshold compares exact decimal
    sums so engine shuffle order cannot flip membership. At scale
    the semi-join side is tiny (only qualifying keys) → broadcast."""
    _views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(_BIG_VOLUME_SQL)


# --------------------------------------------------------------------------
# CTE + uncorrelated scalar subquery (TPC-H Q15 shape)
# --------------------------------------------------------------------------
_TOP_SUPPLIER_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-07-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name,
  ROUND(CAST(total_rev AS DOUBLE), 2) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
"""


@register(
    "top_revenue_supplier",
    survey_rows=("J1", "A5", "A9"),
    oracle=_TOP_SUPPLIER_SQL,
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum H1-1996 revenue (TPC-H Q15
    shape): a CTE aggregated once, compared against its own MAX via
    an uncorrelated scalar subquery (a one-row broadcast, no
    re-aggregation per row). Equality is on the exact decimal sum,
    so ties are real ties, not float accidents."""
    _views(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(_TOP_SUPPLIER_SQL)


# --------------------------------------------------------------------------
# Scalar subquery threshold in HAVING (TPC-H Q11 shape)
# --------------------------------------------------------------------------
_NATION_SHARE_SQL = f"""
SELECT n_name,
  {dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS nation_revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY n_name
HAVING CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8)))
       AS DOUBLE)
     > (SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(30,8))) AS DOUBLE) * 0.05
        FROM lineitem)
"""


@register(
    "nation_revenue_share",
    survey_rows=("J1", "J3", "A1", "A5"),
    oracle=_NATION_SHARE_SQL,
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier nations contributing >5% of global revenue (TPC-H
    Q11 shape): group-level HAVING against an uncorrelated global
    scalar. Both sides of the comparison derive from exact decimal
    sums cast to DOUBLE with the same expression shape, so the
    threshold test is bit-identical across engines. The global sum
    is one extra scan reduced to a single row — at 100 TB, AQE
    broadcasts it; no per-group rescan."""
    _views(spark, sf_dir, "lineitem", "supplier", "nation")
    return spark.sql(_NATION_SHARE_SQL)


# --------------------------------------------------------------------------
# EXISTS + correlated NOT EXISTS over the same fact (TPC-H Q21 shape)
# --------------------------------------------------------------------------
_WAITING_SUPPLIER_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
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


@register(
    "waiting_supplier_counts",
    survey_rows=("J5", "J6", "J1", "A1", "F2"),
    oracle=_WAITING_SUPPLIER_SQL,
)
def waiting_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the SOLE late shipper (>60 days after order
    date) on finished multi-supplier orders — TPC-H Q21 restated on
    this schema (no commit/receipt dates, FIXTURES.md). The hard
    decorrelation shape: an EXISTS and a NOT EXISTS over the same
    fact, the NOT EXISTS correlating on l1's key AND the outer
    orders' o_orderdate. Catalyst rewrites both into left-semi /
    left-anti joins on l_orderkey (plans/waiting_supplier_counts.txt)
    — no per-row subquery re-execution, so the shape survives a
    100 TB lineitem (three key-partitioned shuffles of the same
    fact, which AQE can co-plan)."""
    _views(spark, sf_dir, "supplier", "lineitem", "orders")
    return spark.sql(_WAITING_SUPPLIER_SQL)


# --------------------------------------------------------------------------
# Uncorrelated scalar threshold + NOT EXISTS (TPC-H Q22 shape)
# --------------------------------------------------------------------------
_WEALTHY_INACTIVE_SQL = f"""
SELECT c_mktsegment AS segment, COUNT(*) AS n_custs,
  {dec_sum_sql('c_acctbal')}
    AS total_bal
FROM customer
WHERE c_acctbal > (SELECT {dec_avg_sql('c2.c_acctbal')}
                   FROM customer c2 WHERE c2.c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderstatus = 'O'
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
"""


@register(
    "wealthy_inactive_customers",
    survey_rows=("J6", "A5", "A1"),
    oracle=_WEALTHY_INACTIVE_SQL,
)
def wealthy_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with above-positive-average balance and no OPEN
    URGENT order, per segment — TPC-H Q22 restated (no phone column;
    every customer in this testdata has *some* order, so the anti
    condition is restricted to open+urgent to stay non-vacuous,
    ~50% selective at every SF). One uncorrelated scalar subquery
    (broadcast single-row threshold, exact-decimal-derived so
    membership can't flip engines) + a NOT EXISTS Catalyst turns
    into a left-anti join on o_custkey with the status/priority
    filter pushed below the join — at scale the anti join shuffles
    only the filtered orders' custkeys."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_WEALTHY_INACTIVE_SQL)
