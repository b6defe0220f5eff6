"""Remaining TPC-H query shapes (Q6-Q9, Q11, Q13, Q15-Q17, Q19-Q22).

Together with Q1/Q3/Q4/Q5/Q10/Q12/Q14/Q18 in relational.py this completes
the classic 22-query relational surface, adapted to the driver's slimmed
schemas (TESTDATA.md): there is no partsupp table and no
commitdate/receiptdate/phone/comment columns, so Q11/Q16/Q20/Q21/Q22 are
*shape-preserving* adaptations — the plan skeleton (decorrelated
subqueries, multi-EXISTS self-joins, distinct-count + NOT IN, scalar
aggregate thresholds) is the real thing; only the predicates differ.

The reference implements no joins/aggregations at all (SURVEY.md §2.B,
src/RestoreProcessor.php:99 anti-join aside) — this module is pure
Catalyst table-stakes coverage.

Scale notes (100 TB):
- Q7/Q8/Q9 are the widest joins in the suite (5-6 way).  Fact-fact
  (lineitem ⋈ orders) shuffles on orderkey; every dimension that is
  fixed-cardinality (nation, region) broadcasts explicitly; part/
  supplier/customer ride the default sort-merge path so AQE can flip
  them to broadcast when a deployment's SF makes them small enough.
- Correlated subqueries (Q17 avg-per-part, Q21 EXISTS pair, Q22 scalar
  avg) are written in SQL so Catalyst decorrelates them into aggregates
  + joins — never a per-row subplan.  Q21's two correlated EXISTS over
  the same table become two self-joins on l_orderkey sharing one
  exchange of lineitem.
- Q19's disjunction stays ONE join: the OR of conjuncts is a residual
  filter on the p_partkey equi-join, and Catalyst extracts the common
  p_partkey conjunct; per-branch scan predicates (brand IN, quantity
  range union) push down as coarse bounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from firebase_realtime_database_backup_spark.catalog import read_table, register_views
from firebase_realtime_database_backup_spark.operators.relational import oround
from firebase_realtime_database_backup_spark.registry import Registry

REG = Registry()


@REG.query(
    "tpch_q6_forecast",
    oracle=f"""
    SELECT {oround("SUM(l_extendedprice * l_discount)")} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure scan-filter-agg
    query.  All three predicates push to the parquet scan (PushedFilters
    on l_shipdate/l_discount/l_quantity); the aggregate is a map-side
    partial + single-row final — the cheapest possible plan, and the
    canonical pushdown benchmark at 100 TB (I/O bound, zero shuffle)."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.04, 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@REG.query(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(YEAR FROM l_shipdate) AS l_year,
           {oround("SUM(l_extendedprice * (1 - l_discount))")} AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    GROUP BY n1.n_name, n2.n_name, EXTRACT(YEAR FROM l_shipdate)
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): the two-role dimension pattern — the
    same nation table joined twice under different aliases (supplier
    nation vs customer nation).  Both nation joins broadcast (25 rows at
    any SF) so the disjunctive nation-pair filter evaluates map-side
    right after each broadcast probe; only lineitem ⋈ orders ⋈ customer
    shuffle.  4 groups out — final agg is free."""
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    lineitem = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        lineitem.join(
            read_table(spark, sf_dir, "supplier"),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(
            read_table(spark, sf_dir, "orders"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            read_table(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_3")
                & (F.col("cust_nation") == "NATION_7")
            )
            | (
                (F.col("supp_nation") == "NATION_7")
                & (F.col("cust_nation") == "NATION_3")
            )
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


_Q8_MKT = oround("SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0.0 END)")
_Q8_TOTAL = oround("SUM(volume)")

@REG.query(
    "tpch_q8_market_share",
    oracle=f"""
    WITH all_sales AS (
        SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n1.n_name AS supp_nation
        FROM part
        JOIN lineitem ON l_partkey = p_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region   ON n2.n_regionkey = r_regionkey
        WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           {_Q8_MKT} AS mkt_volume,
           {_Q8_TOTAL} AS total_volume,
           {oround(f"({_Q8_MKT}) / ({_Q8_TOTAL})", 6)} AS mkt_share
    FROM all_sales
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): 8-table join with conditional
    aggregation — share = one nation's volume over total volume per
    year.  nation x2 + region broadcast; the p_type filter prunes part
    BEFORE its join so the probe side shrinks first.  The share is
    computed from the two already-rounded sums (not the raw doubles) so
    the quotient is reproducible across engines regardless of partial-
    aggregation fold order."""
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    mkt = F.round(
        F.sum(F.when(F.col("supp_nation") == "NATION_5", volume).otherwise(0.0)), 2
    )
    total = F.round(F.sum(volume), 2)
    return (
        read_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            read_table(spark, sf_dir, "supplier"),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            read_table(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(region), F.col("n2_region") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            mkt.alias("mkt_volume"),
            total.alias("total_volume"),
            F.round(mkt / total, 6).alias("mkt_share"),
        )
    )


@REG.query(
    "tpch_q9_profit",
    oracle=f"""
    SELECT n_name AS nation, EXTRACT(YEAR FROM l_shipdate) AS o_year,
           {oround("SUM(l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity)")} AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, EXTRACT(YEAR FROM l_shipdate)
    """,
)
def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): there is no partsupp table
    in this schema, so supply cost is proxied as 0.5 * p_retailprice per
    unit — the plan shape (LIKE-filtered part join, per-nation-per-year
    profit agg) is unchanged.  The substring filter cannot push to
    parquet as a range, but column pruning still drops everything but
    p_name/p_partkey/p_retailprice at the scan; nation broadcasts.
    The profit expression keeps one fixed IEEE evaluation order shared
    with the oracle for bit-identical per-row amounts."""
    part = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    return (
        read_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            read_table(spark, sf_dir, "supplier"),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(
            F.broadcast(read_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year")
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
                ),
                2,
            ).alias("profit")
        )
    )


@REG.query(
    "tpch_q11_value_share",
    oracle=f"""
    SELECT l_partkey AS partkey,
           {oround("SUM(l_extendedprice * (1 - l_discount))")} AS value
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_2'
    GROUP BY l_partkey
    HAVING SUM(l_extendedprice * (1 - l_discount)) > (
        SELECT 0.001 * SUM(l_extendedprice * (1 - l_discount))
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_2')
    """,
)
def tpch_q11_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part value for one
    nation's suppliers, kept only when above a fraction of the GLOBAL
    total — a scalar subquery over the same join in the HAVING clause.
    With no partsupp table, lineitem revenue stands in for stock value;
    the skeleton (grouped agg thresholded by an uncorrelated scalar
    aggregate, which Spark plans as a one-row broadcast into the
    filter) is identical.  Expressed in SQL so Catalyst reuses one
    definition of the join subtree for both the groups and the total."""
    register_views(spark, sf_dir, "lineitem", "supplier", "nation")
    return spark.sql(
        """
        WITH natl AS (
            SELECT l_partkey, l_extendedprice * (1 - l_discount) AS val
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_2'
        )
        SELECT l_partkey AS partkey, ROUND(SUM(val), 2) AS value
        FROM natl
        GROUP BY l_partkey
        HAVING SUM(val) > (SELECT 0.001 * SUM(val) FROM natl)
        """
    )


@REG.query(
    "tpch_q13_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): the double-aggregation
    histogram — count orders per customer (LEFT OUTER so zero-order
    customers keep a 0 row; the priority predicate lives in the JOIN
    condition, not a WHERE, which would silently turn the join inner),
    then count customers per order-count.  First agg shuffles on
    custkey; the second input is one row per customer, so the histogram
    shuffle is tiny at any scale."""
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        read_table(spark, sf_dir, "customer")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@REG.query(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {oround("SUM(l_extendedprice * (1 - l_discount))")} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): a reused "view" (quarterly revenue per
    supplier) consumed twice — once for the rows, once inside a scalar
    MAX subquery selecting the argmax.  Revenue is rounded INSIDE the
    view so the equality against MAX compares engine-stable values
    rather than raw fold-order-dependent doubles.  Spark plans the
    scalar subquery as a one-row broadcast; the view's shuffle (suppkey
    agg) is computed once per consumer — at scale, materialize the CTE
    if the optimizer doesn't collapse the reuse."""
    register_views(spark, sf_dir, "lineitem", "supplier")
    return spark.sql(
        """
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s_suppkey
        """
    )


@REG.query(
    "tpch_q16_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct-supplier
    count per (brand, type, size) with a NOT IN exclusion subquery.
    lineitem stands in for partsupp; negative-balance suppliers stand
    in for the complaints LIKE filter.  Catalyst turns the NOT IN into
    a null-aware anti join (s_suppkey is non-null here, so it executes
    as a broadcast anti join); COUNT(DISTINCT) expands to a two-phase
    aggregate — both shuffles are on already-filtered data."""
    register_views(spark, sf_dir, "part", "lineitem", "supplier")
    return spark.sql(
        """
        SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM part JOIN lineitem ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#5'
          AND p_size IN (1, 4, 9, 16, 25, 36, 49)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        """
    )


@REG.query(
    "tpch_q17_small_qty_revenue",
    oracle=f"""
    SELECT {oround("SUM(l_extendedprice) / 7.0")} AS avg_yearly,
           COUNT(*) AS n_small
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13' AND p_size <= 10
      AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): correlated scalar AVG
    per part in the WHERE clause.  Catalyst decorrelates it into a
    per-partkey aggregate joined back to the filtered fact — one extra
    aggregation over lineitem instead of a per-row subplan.  Quantities
    are integer-valued doubles, so AVG is exact in both engines and the
    strict `<` threshold is engine-independent without rounding."""
    register_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
               COUNT(*) AS n_small
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#13' AND p_size <= 10
          AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                            FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        """
    )


@REG.query(
    "tpch_q19_disjunctive",
    oracle=f"""
    SELECT {oround("SUM(l_extendedprice * (1 - l_discount))")} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): disjunction of conjunct branches
    mixing both sides of the join.  Stays ONE equi join on p_partkey
    with the OR as a residual condition; Catalyst additionally derives
    the per-side implied filters (p_brand IN (...) AND p_size <= 15;
    l_quantity BETWEEN 1 AND 30) and pushes them into each scan, so
    the join only sees candidate rows — the 100 TB win is in that
    derived pushdown, not the join strategy."""
    part = read_table(spark, sf_dir, "part")
    branch = (
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
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        read_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(branch)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@REG.query(
    "tpch_q20_excess_shippers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'red%'
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
        HAVING SUM(l_quantity) > 300)
      AND s_nationkey IN (
        SELECT n_nationkey FROM nation
        WHERE n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4',
                         'NATION_5','NATION_6','NATION_7','NATION_8'))
    """,
)
def tpch_q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): nested IN subqueries
    — suppliers whose shipped quantity of LIKE-matched parts in one
    year cleared a threshold, restricted to a nation set.  With no
    partsupp, shipped quantity stands in for excess availability; the
    skeleton (semi join against a HAVING-filtered aggregate, semi join
    against a dimension subquery) is identical.  Both INs become left
    semi joins; quantity sums are integer-exact so the HAVING boundary
    is engine-stable."""
    register_views(spark, sf_dir, "supplier", "lineitem", "part", "nation")
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_name LIKE 'red%'
              AND l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
            GROUP BY l_suppkey
            HAVING SUM(l_quantity) > 300)
          AND s_nationkey IN (
            SELECT n_nationkey FROM nation
            WHERE n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4',
                             'NATION_5','NATION_6','NATION_7','NATION_8'))
        """
    )


@REG.query(
    "tpch_q21_sole_returned",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def tpch_q21_sole_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    hardest correlated query — an EXISTS and a NOT EXISTS over the same
    fact table, correlated on l_orderkey with an inequality on suppkey.
    Without commit/receipt dates, "late" is re-expressed as "the only
    supplier whose line was returned in a finished multi-supplier
    order" — same plan skeleton: two self-joins of lineitem (left semi
    + left anti after decorrelation), then the supplier rollup and
    top-k.  The two subquery scans do NOT share an exchange (verified
    in the physical plan): the anti side's extra l_returnflag='R'
    predicate pushes into its parquet scan, which beats exchange reuse
    at 100 TB — a filtered re-scan moves less data than a reused
    shuffle of the unfiltered side."""
    register_views(spark, sf_dir, "supplier", "lineitem", "orders")
    return spark.sql(
        """
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
        """
    )


@REG.query(
    "tpch_q22_idle_customers",
    oracle=f"""
    WITH eligible AS (
        SELECT c_custkey, c_acctbal, c_nationkey % 5 AS cntrycode
        FROM customer WHERE c_nationkey % 5 IN (1, 2, 3)
    )
    SELECT cntrycode, COUNT(*) AS numcust,
           {oround("SUM(c_acctbal)")} AS totacctbal
    FROM eligible
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM eligible
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY cntrycode
    """,
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): above-average-balance
    customers in a country-code subset with no recent orders.  The
    phone-prefix country code becomes c_nationkey % 5 (same role: a
    derived grouping attribute with an IN filter); "no orders at all"
    becomes "no orders since 2000" so the anti join is non-trivial on
    this data.  One uncorrelated scalar AVG (broadcast one-row), one
    left anti join against the date-filtered orders scan, then a tiny
    grouped agg — three shuffles, all on filtered data."""
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        WITH eligible AS (
            SELECT c_custkey, c_acctbal, c_nationkey % 5 AS cntrycode
            FROM customer WHERE c_nationkey % 5 IN (1, 2, 3)
        )
        SELECT cntrycode, COUNT(*) AS numcust,
               ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM eligible
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM eligible
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY cntrycode
        """
    )


_Q2_SQL = """
SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name,
       l_extendedprice / l_quantity AS unit_cost
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE p_size <= 15 AND p_type = 'LARGE' AND r_name = 'EUROPE'
  AND l_extendedprice / l_quantity = (
      SELECT MIN(l2.l_extendedprice / l2.l_quantity)
      FROM lineitem l2
      JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
      JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
      JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
      WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
"""


@REG.query("tpch_q2_min_cost_supplier", oracle=_Q2_SQL)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier), completing the 22-query
    suite.  There is no partsupp table in TESTDATA, so lineitem plays
    the part<->supplier bridge and ps_supplycost becomes the observed
    unit price l_extendedprice / l_quantity — the plan skeleton is
    unchanged: a correlated scalar-MIN subquery over the same 4-way
    join as the outer block.  Catalyst decorrelates it into one
    per-partkey MIN aggregate joined back on (p_partkey, unit_cost);
    the region/nation dims broadcast on both sides, so at 100 TB the
    cost is two shuffles of the size-filtered bridge (one for the MIN,
    one for the join-back) and nothing per-row.  Unit price is a single
    double division — bit-identical in any IEEE engine — so the
    MIN-equality match needs no rounding.  No LIMIT: the full match set
    is returned, sidestepping tie-break nondeterminism entirely.
    Reference has no joins at all (SURVEY.md §2.B)."""
    register_views(
        spark, sf_dir, "part", "lineitem", "supplier", "nation", "region"
    )
    return spark.sql(_Q2_SQL)
