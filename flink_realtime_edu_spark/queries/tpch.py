"""TPC-H-shaped ADS queries (Q2/Q7/Q8/Q9/Q10/Q13/Q14/Q16/Q19/Q20).

The reference family's ADS layer serves exactly these analytics
shapes over the DWS tables [R, SURVEY.md §1.1]: revenue flows
between dimensions, market shares, ratio reports, distributions of
per-key activity, and "best item per key" lookups. This module
restates the classic TPC-H patterns on the driver's star schema
(FIXTURES.md — no partsupp/shipmode/container columns, so Q2/Q9/
Q16/Q19/Q20 substitute measured columns: ``s_acctbal`` for supply
cost, ``p_retailprice*l_quantity`` for cost basis, lineitem-derived
supplier↔part pairs for partsupp).

Every query runs the IDENTICAL SQL text on Spark (``spark.sql``
over temp views) and DuckDB, so the driver's value-hash checks both
engines' optimizer rewrites: multi-way join reordering (Q7/Q8/Q9),
two-level aggregation (Q13), disjunctive predicate pushdown (Q19),
NOT-IN anti join (Q16), and correlated-scalar decorrelation over a
derived table (Q2/Q20).

Determinism (SURVEY.md §5.2): rounded float sums are
``functions.dec_sum_sql`` (exact decimal sum, rounded, then cast to
DOUBLE) in the one text both engines run; ratio outputs are
rounded doubles derived from exact decimal sums; LIMIT queries
carry a unique tie-breaker; equality predicates on doubles compare
stored values (no arithmetic), so membership cannot flip engines.

Scale posture (100 TB): all fact-fact joins key on orderkey/partkey
/suppkey and shuffle only filtered projections; dims (nation,
region, supplier, part at reference scale) stay broadcast-side.
No query materializes an unaggregated cross product; the Q20/Q2
decorrelations become per-partkey aggregates joined back — one
extra keyed shuffle, never a per-row rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_realtime_edu_spark.functions import dec_sum_sql
from flink_realtime_edu_spark.queries import register
from flink_realtime_edu_spark.sources import load


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        load(spark, sf_dir, n).createOrReplaceTempView(n)


# --------------------------------------------------------------------------
# Q7 — volume shipping between region pairs, per year
# --------------------------------------------------------------------------
_VOLUME_SHIPPING_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
  {dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON o_orderkey  = l_orderkey
JOIN customer ON c_custkey   = o_custkey
JOIN supplier ON s_suppkey   = l_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
WHERE r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE'
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY n1.n_name, n2.n_name, CAST(EXTRACT(YEAR FROM l_shipdate) AS INT)
"""


@register(
    "volume_shipping_pairs",
    survey_rows=("J1", "J3", "A1", "F2"),
    oracle=_VOLUME_SHIPPING_SQL,
)
def volume_shipping_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue shipped from ASIA suppliers to EUROPE customers per
    nation pair and year (TPC-H Q7 shape). Eight-way join: two fact
    joins (lineitem⋈orders on orderkey, ⋈customer on custkey) plus
    four broadcastable dim hops (supplier→nation→region twice).
    Catalyst reorders so the region filters prune nations BEFORE the
    fact join — at 100 TB the lineitem shuffle carries only rows
    whose supplier survived the ASIA filter."""
    _views(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier",
        "nation", "region",
    )
    return spark.sql(_VOLUME_SHIPPING_SQL)


# --------------------------------------------------------------------------
# Q8 — national market share within a customer region, per year
# --------------------------------------------------------------------------
_MARKET_SHARE_SQL = """
SELECT o_year,
  ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                      ELSE CAST(0 AS DECIMAL(30,8)) END) AS DOUBLE)
        / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8)) AS volume,
    n1.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey  = o_custkey
  JOIN supplier ON s_suppkey  = l_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
  WHERE r2.r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1998-01-01'
) flows
GROUP BY o_year
"""


@register(
    "market_share_by_year",
    survey_rows=("J1", "J3", "A1", "F4"),
    oracle=_MARKET_SHARE_SQL,
)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3 suppliers' share of ASIA-customer revenue per year
    (TPC-H Q8 shape). Conditional aggregation over one join tree —
    numerator and denominator come from the SAME scan, so no second
    pass. Both sums are exact DECIMAL(30,8); the final divide is a
    rounded double of exact inputs, hash-stable across engines."""
    _views(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier",
        "nation", "region",
    )
    return spark.sql(_MARKET_SHARE_SQL)


# --------------------------------------------------------------------------
# Q9 — profit proxy per supplier nation and year
# --------------------------------------------------------------------------
_NATION_PROFIT_SQL = """
SELECT nation,
  o_year,
  CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
    CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))
      - CAST(p_retailprice * l_quantity AS DECIMAL(30,8)) AS amount
  FROM lineitem
  JOIN part     ON p_partkey  = l_partkey
  JOIN supplier ON s_suppkey  = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
"""


@register(
    "nation_profit_trend",
    survey_rows=("J1", "J3", "A1", "F1", "F3"),
    oracle=_NATION_PROFIT_SQL,
)
def nation_profit_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit proxy (revenue minus retail cost basis) per supplier
    nation and order year for widget parts (TPC-H Q9 shape; this
    schema has no partsupp, so ``p_retailprice*l_quantity`` stands
    in for supply cost — FIXTURES.md). The LIKE filter pushes to the
    part scan, pruning the partkey join's build side. Each product
    is cast to DECIMAL individually (double→decimal rounds
    identically in both engines) so the subtraction and sum stay
    exact; the final ROUND happens ON THE DECIMAL (both engines
    round decimals half-away-from-zero — verified) because these
    scale-4-exact sums land on .xx5 boundaries where double
    rounding diverges."""
    _views(spark, sf_dir, "lineitem", "part", "supplier", "orders", "nation")
    return spark.sql(_NATION_PROFIT_SQL)


# --------------------------------------------------------------------------
# Q10 — top customers by returned-item revenue
# --------------------------------------------------------------------------
_RETURNED_TOP_SQL = f"""
SELECT c_custkey, c_name, n_name,
  {dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders   ON c_custkey  = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register(
    "returned_item_top_customers",
    survey_rows=("J1", "J3", "A1", "O1", "O2"),
    oracle=_RETURNED_TOP_SQL,
)
def returned_item_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue on returned lines in 1997-H1
    (TPC-H Q10 shape). Revenue is a rounded double of an exact
    decimal sum, so the ORDER BY key is identical in both engines;
    ``c_custkey`` breaks rounded-revenue ties so the LIMIT-20 set is
    deterministic. At scale the top-k runs as partial
    TakeOrderedAndProject per partition — no global sort
    materializes."""
    _views(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return spark.sql(_RETURNED_TOP_SQL)


# --------------------------------------------------------------------------
# Q13 — distribution of per-customer order counts
# --------------------------------------------------------------------------
_CUSTDIST_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) per_customer
GROUP BY c_count
"""


@register(
    "customer_order_distribution",
    survey_rows=("J2", "A1", "A2"),
    oracle=_CUSTDIST_SQL,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of non-urgent order counts per customer, zeros
    included (TPC-H Q13 shape). The priority predicate lives in the
    LEFT JOIN's ON clause — filtering the right side without
    dropping orderless customers, which a WHERE would do. Two-level
    aggregation: the first groups on the join key (so AQE can reuse
    the join's hash partitioning), the second is a tiny shuffle on
    the count value."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_CUSTDIST_SQL)


# --------------------------------------------------------------------------
# Q14 — promo revenue share in a shipdate window
# --------------------------------------------------------------------------
_PROMO_SHARE_SQL = """
SELECT
  ROUND(CAST(100 AS DOUBLE)
        * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN volume
                        ELSE CAST(0 AS DECIMAL(30,8)) END) AS DOUBLE)
        / CAST(SUM(volume) AS DOUBLE), 6) AS promo_revenue_pct,
  COUNT(*) AS n_lines
FROM (
  SELECT CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8)) AS volume,
         p_type
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
) monthly
"""


@register(
    "promo_revenue_share",
    survey_rows=("J1", "A5", "F4"),
    oracle=_PROMO_SHARE_SQL,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentage of March-1997 revenue from PROMO parts (TPC-H Q14
    shape): one global conditional aggregate, single-row result.
    The month filter pushes into the lineitem scan (at scale:
    partition pruning on a shipdate-partitioned table); part joins
    broadcast. Exact decimal numerator/denominator → rounded double
    ratio."""
    _views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_PROMO_SHARE_SQL)


# --------------------------------------------------------------------------
# Q16 — supplier diversity per part attribute, NOT IN exclusion
# --------------------------------------------------------------------------
_SUPPLIER_CNT_SQL = """
SELECT p_brand, p_type, p_size,
  COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 9, 14, 20, 25, 30, 40)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@register(
    "part_supplier_diversity",
    survey_rows=("J1", "J6", "A3"),
    oracle=_SUPPLIER_CNT_SQL,
)
def part_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct shipping suppliers per (brand, type, size), excluding
    suppliers in arrears (TPC-H Q16 shape). The NOT IN subquery is
    null-safe here (s_suppkey is a non-null key) and planned as a
    broadcast anti join; brand/size predicates push to the part
    scan. COUNT(DISTINCT) expands to a two-phase aggregate — at
    100 TB the first phase dedups (group-keys, suppkey) pairs
    map-side before the final count."""
    _views(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(_SUPPLIER_CNT_SQL)


# --------------------------------------------------------------------------
# Q19 — disjunctive multi-attribute predicate revenue
# --------------------------------------------------------------------------
_DISJUNCTIVE_SQL = f"""
SELECT
  {dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
  COUNT(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


@register(
    "disjunctive_predicate_revenue",
    survey_rows=("J1", "P2", "A5"),
    oracle=_DISJUNCTIVE_SQL,
)
def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue matching any of three brand/size/quantity conjunctions
    (TPC-H Q19 shape). Catalyst factors the common join key out of
    the OR and pushes the derivable single-table residuals
    (brand+size → part scan, quantity envelope → lineitem scan)
    below the join, so the disjunction never forces a full cross
    evaluation — verify via PushedFilters in the plan snapshot."""
    _views(spark, sf_dir, "lineitem", "part")
    return spark.sql(_DISJUNCTIVE_SQL)


# --------------------------------------------------------------------------
# Q20 — suppliers holding an excess share of a part's volume
# --------------------------------------------------------------------------
_EXCESS_SUPPLIER_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT sp.l_suppkey
  FROM (
    SELECT l_suppkey, l_partkey,
      SUM(CAST(l_quantity AS DECIMAL(30,8))) AS supp_qty
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_type = 'PROMO'
    GROUP BY l_suppkey, l_partkey
  ) sp
  WHERE sp.supp_qty > (SELECT 0.2 * SUM(CAST(l2.l_quantity
                                             AS DECIMAL(30,8)))
                       FROM lineitem l2
                       WHERE l2.l_partkey = sp.l_partkey))
"""


@register(
    "excess_share_suppliers",
    survey_rows=("J5", "A1", "A2"),
    oracle=_EXCESS_SUPPLIER_SQL,
)
def excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers shipping >20% of some PROMO part's total quantity
    (TPC-H Q20 shape on lineitem-derived supplier↔part volumes —
    no partsupp in this schema). Nested decorrelation: the
    correlated scalar SUM becomes a per-partkey aggregate joined to
    the (suppkey, partkey) rollup, then the IN collapses to a
    left-semi join on suppkey. Quantities are integral (FIXTURES.md)
    so both sums are exact decimals; 0.2×exact is exact at scale 9 —
    the > threshold cannot flip engines."""
    _views(spark, sf_dir, "supplier", "lineitem", "part")
    return spark.sql(_EXCESS_SUPPLIER_SQL)


# --------------------------------------------------------------------------
# Q2 — cheapest qualifying supplier per part (correlated MIN)
# --------------------------------------------------------------------------
_MIN_COST_SUPPLIER_SQL = """
SELECT DISTINCT p_partkey, s_suppkey, s_name
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
WHERE p_size = 20
  AND s_acctbal = (SELECT MIN(s2.s_acctbal)
                   FROM supplier s2
                   JOIN lineitem l2 ON s2.s_suppkey = l2.l_suppkey
                   WHERE l2.l_partkey = p_partkey)
"""


@register(
    "min_cost_supplier_per_part",
    survey_rows=("J1", "A2", "U3"),
    oracle=_MIN_COST_SUPPLIER_SQL,
)
def min_cost_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each size-20 part, the shipping supplier(s) with the
    minimum account balance (TPC-H Q2 shape; ``s_acctbal`` stands in
    for ``ps_supplycost``). The correlated MIN decorrelates into a
    per-partkey aggregate over the supplier⋈lineitem pairs, joined
    back on partkey. The equality compares a stored double to the
    MIN of stored doubles — no arithmetic, so both engines pick the
    identical winner set; DISTINCT collapses the per-lineitem
    multiplicity."""
    _views(spark, sf_dir, "part", "lineitem", "supplier")
    return spark.sql(_MIN_COST_SUPPLIER_SQL)


# --------------------------------------------------------------------------
# Q3 — unshipped-order revenue for a market segment, heap top-10
# --------------------------------------------------------------------------
_UNSHIPPED_REVENUE_SQL = f"""
SELECT o_orderkey,
  {dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
  o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey  = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@register(
    "unshipped_order_revenue",
    survey_rows=("J1", "O2", "A1"),
    oracle=_UNSHIPPED_REVENUE_SQL,
)
def unshipped_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 highest-revenue orders of one market segment placed
    before but not fully shipped by a cutoff date (TPC-H Q3 shape;
    ``o_orderpriority`` stands in for ``o_shippriority``). Ranking
    is over the exact-decimal rounded revenue with o_orderkey as the
    unique tie-breaker, so both engines select the identical set;
    Spark plans the LIMIT as TakeOrderedAndProject (per-partition
    heaps, no global sort)."""
    _views(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(_UNSHIPPED_REVENUE_SQL)


# --------------------------------------------------------------------------
# Q5 — local-supplier volume per nation within a region
# --------------------------------------------------------------------------
_LOCAL_SUPPLIER_SQL = f"""
SELECT n_name,
  {dec_sum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders   ON c_custkey   = o_custkey
JOIN lineitem ON l_orderkey  = o_orderkey
JOIN supplier ON l_suppkey   = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


@register(
    "local_supplier_volume",
    survey_rows=("J1", "J3", "A1"),
    oracle=_LOCAL_SUPPLIER_SQL,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation where customer and supplier share the
    nation, within one region-year (TPC-H Q5 shape). The
    c_nationkey = s_nationkey condition rides the supplier join as
    an extra equi key — Catalyst keeps the whole 6-way join keyed
    (dims broadcast), no theta residuals."""
    _views(spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region")
    return spark.sql(_LOCAL_SUPPLIER_SQL)


# --------------------------------------------------------------------------
# Q6 — forecast revenue change (pure scan-filter-aggregate)
# --------------------------------------------------------------------------
_FORECAST_REVENUE_SQL = f"""
SELECT
  {dec_sum_sql('l_extendedprice * l_discount')} AS promo_uplift,
  COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


@register(
    "forecast_revenue_change",
    survey_rows=("P2", "A5", "A1"),
    oracle=_FORECAST_REVENUE_SQL,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue that would be recovered by eliminating a discount band
    (TPC-H Q6 shape): single scan, all four predicates pushed to the
    parquet reader, one global aggregate — the canonical
    filter-pushdown benchmark. Discount bounds compare STORED doubles
    against literals (no arithmetic), so the selected set is
    identical on both engines."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(_FORECAST_REVENUE_SQL)


# --------------------------------------------------------------------------
# Q12 shape — late-line priority mix by line status
# --------------------------------------------------------------------------
_LATE_PRIORITY_MIX_SQL = """
SELECT l_linestatus,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
"""


@register(
    "late_priority_mix",
    survey_rows=("J1", "A2", "F4"),
    oracle=_LATE_PRIORITY_MIX_SQL,
)
def late_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-vs-other order counts among lines shipped >90 days
    after ordering, by line status (TPC-H Q12 shape; the shipdate
    lag stands in for the missing commit/receipt dates, and
    o_orderpriority for l_shipmode). Conditional SUM(CASE ...)
    aggregates fold into one pass; the date-lag predicate evaluates
    on the join output, everything else pushes to the scans."""
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(_LATE_PRIORITY_MIX_SQL)
