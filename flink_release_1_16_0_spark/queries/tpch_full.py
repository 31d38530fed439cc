"""The remaining TPC-H query shapes (Q2,Q4,Q8,Q9,Q11,Q12,Q13,Q16,Q20,Q21).

The reference validates its engine end-to-end with the complete TPC-H
suite (flink-end-to-end-tests/flink-tpch-test — SURVEY.md section 5);
together with tpch.py / tpch_more.py this module completes all 22 query
shapes against the driver schema. Adaptations (the fixture has no
partsupp table and no l_commitdate/l_receiptdate/l_shipmode columns):

- partsupp-dependent shapes (Q2, Q11, Q16, Q20) use lineitem as the
  part-supplier relation (cost = extendedprice, availqty = quantity);
- date-lag predicates (Q4, Q12, Q21) use l_shipdate vs o_orderdate;
- LIKE-on-comment filters use available attribute columns.

Every query keeps its defining operator shape: Q2's correlated scalar
MIN, Q4/Q21's (NOT) EXISTS decorrelation, Q8's two-level conditional
market share, Q11's group-HAVING against a scalar subquery, Q13's
left-join count distribution, Q16's NOT IN + count-distinct, Q20's
nested IN with HAVING. Single dual-dialect SQL string per query runs
on both Spark and DuckDB — aggregates route through DECIMAL per
queries/_util.py rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_release_1_16_0_spark.catalog import load_table, register_tables
from flink_release_1_16_0_spark.queries import register

# --------------------------------------------------------------------------
# Q2-shape: min-cost supplier per part (correlated scalar MIN subquery)
# --------------------------------------------------------------------------

_Q2_SQL = """
SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name, l_extendedprice
FROM part, supplier, lineitem, nation, region
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND p_size = 15
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND l_extendedprice = (
    SELECT MIN(l2.l_extendedprice)
    FROM lineitem l2, supplier s2, nation n2, region r2
    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE'
  )
"""


@register("q2_min_cost_supplier", _Q2_SQL, tags=("join", "subquery", "sql"))
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_Q2_SQL)


# --------------------------------------------------------------------------
# Q4-shape: order priority checking (EXISTS -> semi-join decorrelation)
# --------------------------------------------------------------------------

_Q4_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


@register("q4_order_priority", _Q4_SQL, tags=("agg", "subquery", "sql"))
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_Q4_SQL)


# --------------------------------------------------------------------------
# Q8-shape: national market share (two-level conditional aggregation)
# --------------------------------------------------------------------------

_Q8_SQL = """
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_1' THEN volume
                     ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4)) AS volume,
         n2.n_name AS nation
  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'ASIA'
    AND s_nationkey = n2.n_nationkey
    AND p_type = 'PROMO'
) all_nations
GROUP BY o_year
"""


@register("q8_market_share", _Q8_SQL, tags=("join", "agg", "sql"))
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_Q8_SQL)


# --------------------------------------------------------------------------
# Q9-shape: product type profit (p_retailprice stands in for
# ps_supplycost; profit amount in exact DECIMAL)
# --------------------------------------------------------------------------

_Q9_SQL = """
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))
           - CAST(p_retailprice * l_quantity AS DECIMAL(38,4)) AS amount
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
    AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
    AND p_name LIKE '%l%'
) profit
GROUP BY nation, o_year
"""


# Spread twin of _Q9_SQL for single-split fixtures: lineitem is the
# streamed side of a 4-deep broadcast-join chain, and a one-row-group
# parquet file would run every probe + the decimal arithmetic serially
# in ONE task. The numbered REPARTITION hint (number = the session's
# defaultParallelism, so it scales with the deployment, never a
# constant) hash-spreads the fact scan; the branch below only takes
# this form when the scan has fewer splits than the session's
# parallelism — on a many-split corpus the plain SQL runs unchanged
# (same conditional contract as queries._util.spread_scan). Measured
# 0.91 s -> 0.76 s at sf0.1 (round-13 optimization round).
_Q9_SQL_SPREAD = _Q9_SQL.replace(
    "FROM part, supplier, lineitem, orders, nation",
    "FROM part, supplier,"
    " (SELECT /*+ REPARTITION({par}, l_orderkey) */ * FROM lineitem) lineitem,"
    " orders, nation",
)
assert _Q9_SQL_SPREAD != _Q9_SQL  # guard against silent drift of _Q9_SQL


@register("q9_product_profit", _Q9_SQL, tags=("join", "agg", "sql"), bench=True)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    par = spark.sparkContext.defaultParallelism
    if li.rdd.getNumPartitions() < par:
        return spark.sql(_Q9_SQL_SPREAD.format(par=par))
    return spark.sql(_Q9_SQL)


# --------------------------------------------------------------------------
# Q11-shape: important stock identification (group HAVING vs a scalar
# subquery over the same join; lineitem value stands in for partsupp)
# --------------------------------------------------------------------------

_Q11_SQL = """
SELECT l_partkey, CAST(val AS DOUBLE) AS value
FROM (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2))) AS val
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_3'
  GROUP BY l_partkey
) grouped
WHERE val > (
  SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2))) * CAST(0.001 AS DECIMAL(4,3))
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_3'
)
"""


@register("q11_important_stock", _Q11_SQL, tags=("agg", "subquery", "sql"))
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_Q11_SQL)


# --------------------------------------------------------------------------
# Q12-shape: priority counting by return flag (two-branch conditional
# counts over a join; l_returnflag stands in for l_shipmode)
# --------------------------------------------------------------------------

_Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
"""


@register("q12_priority_shipping", _Q12_SQL, tags=("join", "agg", "sql"))
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_Q12_SQL)


# --------------------------------------------------------------------------
# Q13-shape: customer order-count distribution (left outer join + two
# aggregation levels)
# --------------------------------------------------------------------------

_Q13_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


@register("q13_customer_distribution", _Q13_SQL, tags=("join", "agg", "sql"))
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_Q13_SQL)


# --------------------------------------------------------------------------
# Q16-shape: supplier count by part attributes (NOT IN anti-join +
# COUNT DISTINCT; lineitem stands in for partsupp)
# --------------------------------------------------------------------------

_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
"""

# Spark-side twin: NOT IN spelled as NOT EXISTS — Spark's null-aware
# anti join (the NOT IN plan) can only broadcast its subquery side,
# which scales with SF here (supplier); the NOT EXISTS anti join
# degrades to sort-merge past the threshold. NOT EXISTS keeps a NULL
# l_suppkey line that NOT IN drops, so the twin drops it explicitly
# (exact while the subquery is non-empty: NULL NOT IN () is TRUE). A
# NULL s_suppkey, the supplier primary key, is assumed impossible: it
# would make every NOT IN row NULL. The ORACLE text keeps the NOT IN,
# so every oracle run re-proves the rewrite. Pinned by
# test_semi_anti_fact_broadcast_degrades (plan) and
# test_q16_null_suppkey_matches_not_in (NULL keys).
_Q16_SPARK_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey IS NOT NULL
  AND NOT EXISTS (
    SELECT 1 FROM supplier
    WHERE s_suppkey = l_suppkey AND s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
"""


@register("q16_parts_supplier", _Q16_SQL, tags=("agg", "subquery", "sql"))
def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_Q16_SPARK_SQL)


# --------------------------------------------------------------------------
# Q20-shape: suppliers with excess shipped volume (nested IN with
# group-HAVING; shipped quantity stands in for ps_availqty)
# --------------------------------------------------------------------------

_Q20_SQL = """
SELECT s_name, s_acctbal
FROM supplier, nation
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem, part
  WHERE l_partkey = p_partkey AND p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 100
)
  AND s_nationkey = n_nationkey
"""


@register("q20_excess_suppliers", _Q20_SQL, tags=("subquery", "sql"))
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_Q20_SQL)


# --------------------------------------------------------------------------
# Q21-shape: suppliers who kept orders waiting (EXISTS + NOT EXISTS
# double decorrelation; ship-lag vs order date stands in for
# receipt-vs-commit lag)
# --------------------------------------------------------------------------

_Q21_SQL = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY
  )
  AND s_nationkey = n_nationkey
GROUP BY s_name
"""


@register(
    "q21_waiting_suppliers", _Q21_SQL, tags=("subquery", "agg", "sql"), bench=True
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(_Q21_SQL)
