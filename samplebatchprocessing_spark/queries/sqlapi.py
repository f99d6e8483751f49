"""SQL-entry-point queries (SURVEY §3B entry point 2) + relational
patterns best expressed in SQL: pivot/unpivot, EXISTS / IN /
scalar / correlated subqueries, CTEs, and the MERGE/SCD2/salted-join
operator family from operators/{scd,skew}.py.

These run through ``spark.sql`` over the registered temp views —
Catalyst's parser path — while their oracles run the (nearly
identical) ANSI text on DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, register_views
from ..exprs import dsum, local_df, sql_davg, sql_dsum
from ..operators.scd import scd2_apply, upsert
from ..operators.skew import salted_join


def v1_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: linestatus columns per returnflag (declared pivot
    values -> stable schema)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .pivot("l_linestatus", ["O", "F"])
            .agg(dsum("l_quantity")))


V1_SQL = f"""
SELECT l_returnflag,
       {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS "O",
       {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS "F"
FROM lineitem GROUP BY l_returnflag
"""


def v2_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide part metrics -> (metric, value) rows."""
    part = load_table(spark, sf_dir, "part")
    wide = part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"))
    return wide.unpivot("p_partkey", ["size", "retailprice"],
                        "metric", "value")


V2_SQL = """
SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
"""


def v3_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
          AND NOT EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_discount > 0.09)
    """)


V3_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
  AND NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_discount > 0.09)
"""


def v4_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT c_mktsegment, COUNT(*) AS n
        FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders
                            WHERE o_totalprice > 400000)
        GROUP BY c_mktsegment
    """)


V4_SQL = """
SELECT c_mktsegment, COUNT(*) AS n
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
GROUP BY c_mktsegment
"""


def v5_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery threshold: median is exact-deterministic on
    both engines (linear interpolation over sorted doubles)."""
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT c_custkey, c_acctbal
        FROM customer
        WHERE c_acctbal > (SELECT percentile(c_acctbal, 0.5) FROM customer)
    """)


V5_SQL = """
SELECT c_custkey, c_acctbal
FROM customer
WHERE c_acctbal > (SELECT QUANTILE_CONT(c_acctbal, 0.5) FROM customer)
"""


def v6_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(f"""
        WITH spend AS (
          SELECT o_custkey,
                 {sql_dsum('o_totalprice')
                  .replace('DECIMAL(30,6)', 'DECIMAL(30,6)')} AS total
          FROM orders GROUP BY o_custkey
        ), ranked AS (
          SELECT o_custkey, total,
                 ROW_NUMBER() OVER (ORDER BY total DESC, o_custkey) AS rn
          FROM spend
        )
        SELECT o_custkey, total, rn FROM ranked WHERE rn <= 20
    """)


V6_SQL = f"""
WITH spend AS (
  SELECT o_custkey, {sql_dsum('o_totalprice')} AS total
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT o_custkey, total,
         ROW_NUMBER() OVER (ORDER BY total DESC, o_custkey) AS rn
  FROM spend
)
SELECT o_custkey, total, rn FROM ranked WHERE rn <= 20
"""


def v7_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT s_suppkey, s_name,
               (SELECT COUNT(*) FROM lineitem
                WHERE l_suppkey = s_suppkey) AS n_items
        FROM supplier
    """)


V7_SQL = """
SELECT s_suppkey, s_name,
       (SELECT COUNT(*) FROM lineitem WHERE l_suppkey = s_suppkey) AS n_items
FROM supplier
"""


# -- Classic TPC-H-shaped analytic pipelines (single shared ANSI text) ---
#
# The reference has no relational surface (its operator is a per-file
# shell transform); these are the canonical warehouse pipelines any
# replacement engine must run.  One ANSI string drives BOTH engines —
# Spark parses it through Catalyst (AQE broadcasts the dimension
# sides; revenue sums use the exact-decimal dsum shape so the double
# outputs are order-independent and hash-stable cross-engine).

_REVENUE = sql_dsum("l_extendedprice * (1 - l_discount)")

V8_SQL = f"""
SELECT l_orderkey, o_orderdate, {_REVENUE} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def v8_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8 (TPC-H Q3 shape): shipping-priority revenue top-10.

    Catalyst broadcasts the filtered customer side; the order/line
    join shuffles on the orderkey only after both date filters have
    been pushed to the scans.  Top-10 plans TakeOrderedAndProject
    (no global sort); l_orderkey tiebreak keeps the LIMIT
    deterministic.
    """
    register_views(spark, sf_dir)
    return spark.sql(V8_SQL)


V9_SQL = f"""
SELECT n_name, {_REVENUE} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def v9_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V9 (TPC-H Q5 shape): local-supplier volume per nation.

    Six-table join tree: region/nation/supplier/customer are all
    dimension-sized and broadcast; the lineitem-orders join is the
    only big shuffle, keyed on orderkey.  The c_nationkey =
    s_nationkey co-nationality predicate rides the supplier join.
    """
    register_views(spark, sf_dir)
    return spark.sql(V9_SQL)


V10_SQL = f"""
SELECT c_custkey, c_name, {_REVENUE} AS revenue, c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def v10_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V10 (TPC-H Q10 shape): returned-item revenue losers, top-20.

    One quarter of orders joins returned lineitems; the customer and
    nation dims broadcast onto the fact shuffle.  Same deterministic
    TakeOrderedAndProject top-k as V8.
    """
    register_views(spark, sf_dir)
    return spark.sql(V10_SQL)


_QTY_SUM = sql_dsum("l_quantity")

V11_SQL = f"""
SELECT c_custkey, o_orderkey, o_totalprice, {_QTY_SUM} AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING {_QTY_SUM} > 150.0)
GROUP BY c_custkey, o_orderkey, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


def v11_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V11 (TPC-H Q18 shape): large-volume customers — the classic
    group-HAVING-in-subquery pipeline.  The IN subquery aggregates the
    FACT table and Catalyst plans it as a semi-join of lineitem
    against its own aggregate: both sides shuffle on l_orderkey (one
    key, co-partitioned), then the qualifying orders join customer.

    Scale: the HAVING aggregate is the classic pre-filter — at 100 TB
    it reduces the fact table to the handful of qualifying orderkeys
    BEFORE the customer join, so the second join's probe side is tiny.
    Quantity sums use the exact-decimal dsum shape (order-independent,
    hash-stable cross-engine)."""
    register_views(spark, sf_dir)
    return spark.sql(V11_SQL)


V12_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_quantity > 30.0
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_quantity > 30.0)
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


def v12_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V12 (TPC-H Q21 shape): the multi-EXISTS anti-join chain —
    suppliers who were the SOLE high-quantity line in multi-supplier
    finished orders.  (The fixture lineitem has no commit/receipt
    dates, so ``l_quantity > 30`` stands in for Q21's late-delivery
    predicate; the join/subquery topology — fact self-EXISTS plus
    fact self-NOT-EXISTS, both correlated on the order key — is the
    shape under test.)

    Scale: Catalyst plans both correlated subqueries as
    LeftSemi/LeftAnti hash joins of lineitem against itself, all
    keyed on l_orderkey — with the fact table hash-partitioned once
    on orderkey, all three fact-fact joins co-locate on the same
    exchange; supplier/orders broadcast."""
    register_views(spark, sf_dir)
    return spark.sql(V12_SQL)


V13_SQL = f"""
SELECT supp_nation, cust_nation, yr, {sql_dsum('volume')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         YEAR(o_orderdate) AS yr,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
) shipping
GROUP BY supp_nation, cust_nation, yr
ORDER BY supp_nation, cust_nation, yr
"""


def v13_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V13 (TPC-H Q7 shape): cross-nation volume shipping — the
    two-role dimension pattern (nation joined TWICE under different
    aliases, a symmetric OR predicate across both roles).

    Scale: both nation aliases and supplier/customer broadcast; the
    OR pair predicate cannot prune either scan alone, so it applies
    at the joins — the single big shuffle remains lineitem-orders on
    orderkey.  Revenue uses the exact-decimal dsum shape."""
    register_views(spark, sf_dir)
    return spark.sql(V13_SQL)


V14_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_brand = (SELECT MIN(p_brand) FROM part)
  GROUP BY l_suppkey
  HAVING SUM(l_quantity) > (
    SELECT 1.2 * SUM(l_quantity)
           / ((SELECT COUNT(*) FROM supplier)
              * (SELECT COUNT(DISTINCT p_brand) FROM part))
    FROM lineitem))
ORDER BY s_suppkey
"""


def v14_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V14 (TPC-H Q20 shape): nested IN with an aggregate-threshold
    subquery — suppliers whose shipped quantity of one brand's parts
    exceeds a global-aggregate-derived threshold.  Three optimizer
    patterns compose: uncorrelated scalar subqueries (MIN brand, the
    quantity threshold) that must evaluate once and broadcast, an
    aggregate-HAVING filter on the fact table, and a semi-join back
    to the dimension.  The threshold is 1.2x the EXPECTED
    per-(supplier, brand) quantity — scale-free selectivity (keeps
    ~10-17% of suppliers at every fixture sf).

    Scale: both scalar subqueries are one-row broadcasts; the brand
    filter reaches the part scan and prunes the fact join before the
    single shuffle on l_suppkey for the HAVING aggregate; supplier
    joins the surviving handful of suppkeys semi-side."""
    register_views(spark, sf_dir)
    return spark.sql(V14_SQL)


V15_SQL = """
SELECT l_partkey, COUNT(*) AS n_small_lines
FROM lineitem l1
WHERE l_quantity < (
  SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
  WHERE l2.l_partkey = l1.l_partkey)
GROUP BY l_partkey
ORDER BY l_partkey
"""


def v15_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V15 (TPC-H Q17 shape): the correlated-AVERAGE threshold —
    lines below half their part's average quantity.  Catalyst
    de-correlates the subquery into an aggregate of lineitem grouped
    by partkey joined back to lineitem on partkey: both sides shuffle
    once on the SAME key (co-partitioned), no per-row re-execution.

    The comparison averages integer-valued quantities over per-part
    groups: AVG = exact-integer sum / count in double on both
    engines — deterministic, and the 0.5x threshold never lands
    exactly on a representable quantity boundary ambiguity (compare
    is strict <)."""
    register_views(spark, sf_dir)
    return spark.sql(V15_SQL)


V16_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {sql_dsum("l_extendedprice * (1 - l_discount)")} AS total_rev
  FROM lineitem GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
ORDER BY s_suppkey
"""


def v16_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V16 (TPC-H Q15 shape): top supplier by revenue view — a CTE
    referenced twice (once as the join input, once inside the scalar
    MAX subquery).  The classic argmax-over-aggregate: the revenue
    aggregate is ONE shuffle on suppkey; the MAX is a one-row
    broadcast; supplier joins the surviving row(s).  Exact-decimal
    dsum makes the revenue — and therefore the argmax — reproducible
    cross-engine (a plain double SUM here can flip the winner on
    summation order)."""
    register_views(spark, sf_dir)
    return spark.sql(V16_SQL)


V17_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey
   AND o_orderpriority NOT LIKE '%URGENT%'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def v17_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V17 (TPC-H Q13 shape): customer order-count distribution — a
    LEFT OUTER join whose ON clause carries a NON-key residual
    predicate (priority NOT LIKE), then two stacked aggregations:
    COUNT per customer (outer-join nulls counting as zero), then the
    count-of-counts histogram.  (The fixture orders table has no
    o_comment, so ``o_orderpriority NOT LIKE '%URGENT%'`` stands in
    for Q13's comment pattern; the topology — residual-predicate
    outer join + double aggregation — is the shape under test.)

    Scale: the residual references only orders columns, so Catalyst
    legally pushes it BELOW the outer join — the orders side is
    filtered before the join while customers remain preserved-side
    (plan-tested).  One partitioning on custkey serves both the join
    and the first aggregate; the second aggregate's domain is tiny
    (distinct order counts, ~tens of values) so its exchange moves
    almost nothing."""
    register_views(spark, sf_dir)
    return spark.sql(V17_SQL)


V18_SQL = f"""
SELECT COUNT(*) AS n_lines,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def v18_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V18 (TPC-H Q19 shape): disjunctive discounted-revenue — an OR
    of three conjunct groups, each mixing predicates from BOTH join
    sides (part attrs + lineitem quantity).  The optimizer test: no
    single disjunct can be pushed below the join whole, but the
    per-side common factors CAN — Catalyst extracts the p_brand/
    p_size union as a part-scan filter and the l_quantity range union
    as a lineitem-scan filter (CNF conversion), so both scans prune
    before the join and the full OR re-applies on the joined rows.

    Scale: part (filtered to 3 brand/size slices) broadcasts; the
    lineitem scan reads only rows in the quantity envelope [1,30] —
    pushed-filter behavior a naive disjunction would lose."""
    register_views(spark, sf_dir)
    return spark.sql(V18_SQL)


V19_SQL = f"""
SELECT cntrycode, COUNT(*) AS numcust,
       {sql_dsum('c_acctbal')} AS totacctbal
FROM (
  SELECT SUBSTRING(c_name, LENGTH(c_name) - 1, 2) AS cntrycode,
         c_custkey, c_acctbal
  FROM customer
  WHERE SUBSTRING(c_name, LENGTH(c_name) - 1, 2)
          IN ('13', '31', '23', '29', '30', '18', '17')
    AND c_acctbal > (
      SELECT {sql_davg('c_acctbal')} FROM customer
      WHERE c_acctbal > 0.0
        AND SUBSTRING(c_name, LENGTH(c_name) - 1, 2)
              IN ('13', '31', '23', '29', '30', '18', '17'))
) wealthy
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = wealthy.c_custkey
    AND o_orderpriority = '1-URGENT')
GROUP BY cntrycode
ORDER BY cntrycode
"""


def v19_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V19 (TPC-H Q22 shape): global-market-opportunity — a
    country-code bucketing (substring of an identifier), an
    uncorrelated scalar AVG subquery as the balance threshold, and a
    correlated NOT EXISTS anti-join against orders, then aggregation
    by code.  (Fixture customers lack c_phone and every customer has
    orders, so the code comes from the c_name suffix and the anti-join
    excludes customers with URGENT orders; the composition — IN-list
    on a computed column + scalar subquery + anti-join + group —
    is the shape under test.)

    Scale: the AVG subquery is a one-row broadcast; the anti-join
    builds only from URGENT orders (pushed predicate shrinks the
    build side ~5x); the cntrycode aggregate has a 7-value domain.
    The balance sum is exact-decimal (the dsum shape) on both
    engines."""
    register_views(spark, sf_dir)
    return spark.sql(V19_SQL)


V20_SQL = f"""
SELECT yr,
       {sql_dsum("CASE WHEN supp_nation = 'NATION_1' THEN volume"
                 " ELSE 0.0 END")}
         / {sql_dsum('volume')} AS mkt_share
FROM (
  SELECT YEAR(o_orderdate) AS yr,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
) all_nations
GROUP BY yr
ORDER BY yr
"""


def v20_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V20 (TPC-H Q8 shape): national market share — the share of one
    supplier nation in a customer region's spend on one part type,
    per year.  The distinguishing shape: a conditional-sum RATIO
    (CASE inside the numerator aggregate, same rows in the
    denominator) over an 8-table join with nation in two roles.

    Scale: part (type-filtered), customer-side dims, supplier and
    both nation aliases all broadcast; the only large shuffle is
    lineitem-orders on orderkey.  The region filter prunes the
    customer side BEFORE the fact join.  Both sums are exact-decimal;
    the single double division per year-group is the last step, so
    the ratio is reproducible cross-engine."""
    register_views(spark, sf_dir)
    return spark.sql(V20_SQL)


V21_SQL = f"""
SELECT 100.0 * {sql_dsum("CASE WHEN p_type = 'PROMO'"
                         " THEN l_extendedprice * (1 - l_discount)"
                         " ELSE 0.0 END")}
       / {sql_dsum('l_extendedprice * (1 - l_discount)')}
         AS promo_revenue_pct,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1996-04-01'
"""


def v21_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V21 (TPC-H Q14 shape): promotion-revenue percentage — a global
    conditional-sum ratio over a date-sliced fact-dim join.  The
    optimizer properties under test: the ship-date range reaches the
    lineitem scan as a pushed filter (partition-pruning stand-in at
    100 TB, where l_shipdate is the natural partition column), part
    broadcasts, and the two decimal sums fold into ONE aggregate pass
    (a single HashAggregate computes both, not two scans).

    The date literals are TIMESTAMP (not DATE) because the fixture
    l_shipdate is a timestamp column on both engines."""
    register_views(spark, sf_dir)
    return spark.sql(V21_SQL)


V22_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def v22_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V22 (TPC-H Q4 shape): order-priority checking — a date-sliced
    orders scan semi-joined to lineitem through a CORRELATED EXISTS
    whose inner predicate compares columns ACROSS the correlation
    (l_shipdate > o_orderdate), then a tiny-domain aggregate.  The
    cross-table comparison is what distinguishes this from V3's
    EXISTS: the predicate can't evaluate on either side alone, so it
    must ride the semi join as a join condition, not a pushed filter.

    Scale: the date range prunes the orders scan; the semi join
    shuffles both sides on orderkey once (no duplication from the
    multi-line inner side — semi join short-circuits); the aggregate
    domain is the 5 priorities."""
    register_views(spark, sf_dir)
    return spark.sql(V22_SQL)


V23_SQL = f"""
SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.05
  AND l_quantity < 24.0
"""


def v23_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V23 (TPC-H Q6 shape): forecasting-revenue-change — the purest
    scan benchmark in the suite: no join, one conjunctive filter
    (date range + discount band + quantity cap), one global
    aggregate.  Its whole cost is scan efficiency, which is why it's
    the classic measure of pushdown + vectorization: every predicate
    must reach PushedFilters and the aggregate must be a two-phase
    partial/final with no exchange before the partials.

    Scale: at 100 TB with l_shipdate partitioning this is a
    partition-pruned scan of ~1/7 of the data and nothing else."""
    register_views(spark, sf_dir)
    return spark.sql(V23_SQL)


# -- MERGE / SCD2 / skew family ------------------------------------------

def m1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert: every 100th order re-priced."""
    ord_ = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    updates = (ord_.filter(F.col("o_orderkey") % 100 == 0)
               .withColumn("o_totalprice", F.col("o_totalprice") * 2)
               .withColumn("o_orderstatus", F.lit("U")))
    return upsert(ord_, updates, "o_orderkey")


M1_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey % 100 <> 0
UNION ALL
SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
       o_totalprice * 2 AS o_totalprice
FROM orders WHERE o_orderkey % 100 = 0
"""


V29_SQL = """
WITH RECURSIVE chain(doc_id, node, depth) AS (
  SELECT doc_id, doc_id, 0 FROM documents
  UNION ALL
  SELECT c.doc_id, c.node // 2, c.depth + 1
  FROM chain c WHERE c.node >= 1
)
SELECT d.depth_to_root,
       COUNT(*) AS n_docs,
       CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
FROM (SELECT doc_id, MAX(depth) AS depth_to_root
      FROM chain GROUP BY doc_id) d
GROUP BY d.depth_to_root
"""


def v29_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V29 (r5): RECURSIVE CTE through the SQL entry point — new in
    Spark 4 (WITH RECURSIVE), previously the one classic ANSI
    construct this engine could not run and the reason iterative
    operators (L11 components, X49 recurrences) ship as DataFrame
    loops with DuckDB recursive twins.  The query walks each
    document's halving parent chain (node -> node/2, a log-depth
    synthetic hierarchy) and rolls up documents by their depth to
    the root — ONE shared ANSI text executed verbatim on both
    engines (modulo the one-token integer-division spelling — DIV
    vs //), the TPC-H sub-suite discipline.  Non-negative ids make
    the truncation identical, so every depth is exact."""
    register_views(spark, sf_dir)
    return spark.sql(V29_SQL.replace("c.node // 2", "c.node DIV 2"))


def j13_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13 (r5): POINT-IN-TIME (temporal) join — each order joined to
    the customer-dimension version that was valid ON ITS ORDER DATE,
    the feature-store / warehouse correctness rule that prevents
    future data from leaking into historical facts.  The dimension is
    the M2 SCD2 build with the change effective mid-history
    (1997-01-01: every 10th customer re-balanced +100), so orders
    genuinely split across versions; the join is the custkey
    equi-join with the validity-interval residual
    ``valid_from <= d < valid_to`` — hash-partitioned on the key,
    never a range blow-up (versions per key are bounded).  Output:
    per (status, dim version) exact counts + decimal balance sums —
    any order matched to the wrong version moves a row."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal")
    dim = (cust
           .withColumn("valid_from", F.lit("1990-01-01").cast("date"))
           .withColumn("valid_to",
                       F.when(F.col("c_custkey") % 10 == 0,
                              F.lit("1997-01-01").cast("date")))
           .unionByName(
               cust.filter(F.col("c_custkey") % 10 == 0)
               .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
               .withColumn("valid_from",
                           F.lit("1997-01-01").cast("date"))
               .withColumn("valid_to", F.lit(None).cast("date"))))
    ord_ = (load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderstatus",
                    F.to_date("o_orderdate").alias("d")))
    j = ord_.join(dim, (F.col("o_custkey") == F.col("c_custkey"))
                  & (F.col("d") >= F.col("valid_from"))
                  & (F.col("valid_to").isNull()
                     | (F.col("d") < F.col("valid_to"))))
    ver = (F.col("valid_from") == F.lit("1997-01-01").cast("date")) \
        .cast("int")
    return (j.groupBy("o_orderstatus", ver.alias("dim_version"))
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("c_acctbal", "bal_sum")))


J13_SQL = f"""
WITH dim AS (
  SELECT c_custkey, c_acctbal, DATE '1990-01-01' AS valid_from,
         CASE WHEN c_custkey % 10 = 0 THEN DATE '1997-01-01' END
           AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, c_acctbal + 100.0, DATE '1997-01-01',
         CAST(NULL AS DATE)
  FROM customer WHERE c_custkey % 10 = 0)
SELECT o_orderstatus,
       CAST(valid_from = DATE '1997-01-01' AS INT) AS dim_version,
       COUNT(*) AS n, {sql_dsum('c_acctbal')} AS bal_sum
FROM orders JOIN dim
  ON o_custkey = c_custkey
 AND CAST(o_orderdate AS DATE) >= valid_from
 AND (valid_to IS NULL OR CAST(o_orderdate AS DATE) < valid_to)
GROUP BY o_orderstatus, CAST(valid_from = DATE '1997-01-01' AS INT)
"""


def m6_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 (r5): INCREMENTAL MATERIALIZED-VIEW MAINTENANCE — the
    100 TB reason summary tables exist: the per-source aggregate is a
    persisted parquet artifact, and a change batch (inserts =
    doc_id % 10 = 0, deletes = doc_id % 7 = 0 of the old corpus)
    updates it by merging +/- DELTAS — sums of signed contributions
    through one full-outer join — instead of re-scanning the corpus.
    Groups whose count reaches zero drop out.  The audit recomputes
    the aggregate FROM SCRATCH on the post-change corpus and joins it
    against the incrementally-maintained artifact; the declared
    boolean states they agree row-for-row, and the oracle derives
    the same numbers arithmetically."""
    import os
    from .sources import _work_dir
    doc = load_table(spark, sf_dir, "documents")
    base = doc.filter(F.col("doc_id") % 10 != 0)
    inserts = doc.filter(F.col("doc_id") % 10 == 0)
    deletes = base.filter(F.col("doc_id") % 7 == 0)

    mv_dir = _work_dir(sf_dir, "m6_mv")
    (base.groupBy("source")
     .agg(F.count(F.lit(1)).alias("n"),
          F.sum("n_chars").alias("chars"))
     .write.mode("overwrite").parquet(mv_dir))
    mv = spark.read.parquet(mv_dir)

    delta = (inserts.select("source", "n_chars",
                            F.lit(1).alias("w"))
             .unionByName(deletes.select("source", "n_chars",
                                         F.lit(-1).alias("w")))
             .groupBy("source")
             .agg(F.sum("w").alias("dn"),
                  F.sum(F.col("w") * F.col("n_chars")).alias("dchars")))
    mv2 = (mv.join(delta, "source", "full_outer")
           .select("source",
                   (F.coalesce("n", F.lit(0))
                    + F.coalesce("dn", F.lit(0))).alias("n"),
                   (F.coalesce("chars", F.lit(0))
                    + F.coalesce("dchars", F.lit(0))).alias("chars"))
           .filter(F.col("n") > 0))

    full = (doc.filter((F.col("doc_id") % 10 == 0)
                       | (F.col("doc_id") % 7 != 0))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("fn"),
                 F.sum("n_chars").alias("fchars")))
    return (mv2.join(full, "source", "full_outer")
            .select("source",
                    F.coalesce("n", F.lit(0)).cast("long")
                    .alias("n_docs"),
                    F.coalesce("chars", F.lit(0)).cast("long")
                    .alias("chars_sum"),
                    ((F.col("n") == F.col("fn"))
                     & (F.col("chars") == F.col("fchars")))
                    .alias("incremental_matches_full")))


M6_SQL = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
       TRUE AS incremental_matches_full
FROM documents
WHERE doc_id % 10 = 0 OR doc_id % 7 <> 0
GROUP BY source
"""


def m5_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 (r5): deletion-list PURGE — the right-to-be-forgotten
    maintenance job every stored corpus eventually runs: a deletion
    list (here doc_id % 83 = 0) anti-joins out of the corpus, the
    purged corpus is REWRITTEN to parquet, and the audit re-reads the
    sink to PROVE the deletion (ids still present after re-read —
    must be zero) and the integrity of everything else (exact
    char-mass of survivors, from the re-read bytes, not the plan).
    Per-source exact report; the oracle derives the same numbers
    arithmetically, so a match proves delete + rewrite + re-read.

    Scale (100 TB): the deletion list is by-contract small
    (broadcast anti-join); the rewrite is partition-parallel
    overwrite — same idempotent-output discipline as P6; nothing
    driver-side."""
    import os
    from .sources import _work_dir
    doc = load_table(spark, sf_dir, "documents")
    dels = doc.filter(F.col("doc_id") % 83 == 0).select("doc_id")
    purged = doc.join(F.broadcast(dels), "doc_id", "left_anti")
    out = _work_dir(sf_dir, "m5_purge")
    purged.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    leaked = (back.join(F.broadcast(dels), "doc_id", "left_semi")
              .groupBy("source")
              .agg(F.count(F.lit(1)).alias("n_leaked")))
    before = doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_before"),
        F.sum((F.col("doc_id") % 83 == 0).cast("long"))
         .alias("n_deleted"))
    after = back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_after"),
        F.sum("n_chars").cast("long").alias("chars_after"))
    return (before.join(after, "source", "left")
            .join(leaked, "source", "left")
            .select("source", "n_before", "n_deleted",
                    F.coalesce("n_after", F.lit(0).cast("long"))
                    .alias("n_after"),
                    F.coalesce("chars_after", F.lit(0).cast("long"))
                    .alias("chars_after"),
                    F.coalesce("n_leaked", F.lit(0).cast("long"))
                    .alias("n_leaked")))


M5_SQL = """
SELECT source, COUNT(*) AS n_before,
       CAST(SUM(CASE WHEN doc_id % 83 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_deleted,
       CAST(SUM(CASE WHEN doc_id % 83 <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_after,
       CAST(SUM(CASE WHEN doc_id % 83 <> 0 THEN n_chars ELSE 0 END)
            AS BIGINT) AS chars_after,
       CAST(0 AS BIGINT) AS n_leaked
FROM documents GROUP BY source
"""


def m2_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 over the customer dimension: every 10th customer gets a
    new balance effective 2020-01-01."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal")
    dim = (cust
           .withColumn("valid_from", F.lit("1990-01-01").cast("date"))
           .withColumn("valid_to", F.lit(None).cast("date"))
           .withColumn("is_current", F.lit(True)))
    changes = (cust.filter(F.col("c_custkey") % 10 == 0)
               .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
               .withColumn("eff_date", F.lit("2020-01-01").cast("date")))
    out = scd2_apply(dim, changes, key="c_custkey")
    return out.select("c_custkey", "c_acctbal", "valid_from",
                      "valid_to", "is_current")


M2_SQL = """
SELECT c_custkey, c_acctbal, DATE '1990-01-01' AS valid_from,
       CASE WHEN c_custkey % 10 = 0 THEN DATE '2020-01-01' END AS valid_to,
       c_custkey % 10 <> 0 AS is_current
FROM customer
UNION ALL
SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal,
       DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
       TRUE AS is_current
FROM customer WHERE c_custkey % 10 = 0
"""


def m3_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join == plain join, row for row."""
    ord_ = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    joined = salted_join(ord_, cust, "o_custkey",
                         salt_mod=8, unique_col="o_orderkey")
    return (joined.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("o_totalprice", "spend")))


M3_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS n, {sql_dsum('o_totalprice')} AS spend
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def m4_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join == plain join, row for row; the plan
    property (no Exchange under the join) is pinned in
    tests/test_plans.py."""
    from ..operators import bucketing
    ord_ = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    bucketing.write_bucketed(ord_, "m4_orders_b", "o_orderkey", 4)
    bucketing.write_bucketed(li, "m4_lineitem_b", "l_orderkey", 4)
    joined = bucketing.cogrouped_join(
        spark, "m4_orders_b", "m4_lineitem_b",
        "o_orderkey", "l_orderkey")
    return (joined.groupBy("o_orderstatus", "l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("l_extendedprice", "revenue")))


M4_SQL = f"""
SELECT o_orderstatus, l_returnflag, COUNT(*) AS n,
       {sql_dsum('l_extendedprice')} AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus, l_returnflag
"""




# Q9/Q12 need columns the fixtures lack (partsupp.ps_supplycost,
# l_shipmode, commit/receipt dates).  V24/V25 recover the OPTIMIZER
# SHAPES with deterministically DERIVED stand-ins — pure integer
# arithmetic on existing keys, identical in both engines, documented
# here rather than silently synthesized — so the last two classic
# TPC-H plan patterns (multi-way profit join with a computed cost;
# IN-filter + conditional priority counts) are exercised end to end.
_V24_SUPPLYCOST = ("CAST(1 + (l_partkey * 7 + l_suppkey * 13) % 1000"
                   " AS DOUBLE) / 100")

V24_SQL = f"""
SELECT n_name AS nation,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
       {sql_dsum(f"l_extendedprice * (1 - l_discount)"
                 f" - {_V24_SUPPLYCOST} * l_quantity")} AS sum_profit
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER)
"""


def v24_tpch_q9_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V24 (TPC-H Q9 shape): product-type profit by nation and year —
    the 5-way join with a computed per-line cost.  ps_supplycost is a
    DERIVED deterministic stand-in (the fixtures ship no partsupp):
    integer arithmetic on (l_partkey, l_suppkey), identical on both
    engines.  The p_name LIKE filter prunes the part build side
    before the fact join; profit sums in exact decimal."""
    register_views(spark, sf_dir)
    return spark.sql(V24_SQL)


V25_SQL = """
SELECT shipmode,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM (
  SELECT o_orderpriority,
         CASE (l_orderkey * 31 + l_linenumber) % 7
              WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'AIR'
              WHEN 3 THEN 'RAIL' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'FOB'
              ELSE 'REG AIR' END AS shipmode,
         l_shipdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
WHERE shipmode IN ('MAIL', 'SHIP')
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY shipmode
"""


def v25_tpch_q12_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V25 (TPC-H Q12 shape): shipping-mode priority counts — the
    orderkey join with an IN filter and conditional aggregation.
    l_shipmode is a DERIVED deterministic stand-in (the fixtures lack
    it): a keyed CASE over (l_orderkey, l_linenumber), identical on
    both engines; the date window rides l_shipdate."""
    register_views(spark, sf_dir)
    return spark.sql(V25_SQL)




# Derived partsupp for V26-V28: TPC-H's missing relation rebuilt
# deterministically — exactly 4 suppliers per part (the real
# partsupp's density), supplier keys by modular arithmetic over the
# contiguous key space, cost/availqty by keyed integer formulas.
# Portable: VALUES inline table + integer % behave identically on
# both engines, and the 4-row CROSS JOIN is a bounded broadcast.
_PS_CTE = """
ps AS (
  SELECT p_partkey AS ps_partkey,
         (p_partkey * 37 + k * 101)
           % (SELECT COUNT(*) FROM supplier) AS ps_suppkey,
         CAST(1 + (p_partkey * 7 + k * 13) % 1000 AS DOUBLE) / 100
           AS ps_supplycost,
         1 + (p_partkey * 11 + k * 17) % 9999 AS ps_availqty
  FROM part CROSS JOIN (VALUES (0), (1), (2), (3)) AS ks(k))
"""

V26_SQL = f"""
WITH {_PS_CTE}
SELECT s_name, n_name, p_partkey, p_brand,
       CAST(ROUND(ps_supplycost, 2) AS DOUBLE) AS min_cost
FROM part
JOIN ps       ON p_partkey = ps_partkey
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE p_size = 5 AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT MIN(ps2.ps_supplycost)
    FROM ps ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
    JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
ORDER BY p_partkey, s_name
LIMIT 100
"""


def v26_tpch_q2_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V26 (TPC-H Q2 shape): minimum-cost supplier — the correlated
    scalar MIN over a second copy of the partsupp join tree, the
    classic decorrelation pattern.  partsupp is the derived relation
    above (documented stand-in); everything else is the fixture."""
    register_views(spark, sf_dir)
    return spark.sql(V26_SQL)


V27_SQL = f"""
WITH {_PS_CTE}
SELECT ps_partkey,
       {sql_dsum("ps_supplycost * ps_availqty")} AS value
FROM ps
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
GROUP BY ps_partkey
HAVING SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(30,6))) > (
  SELECT SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(30,6))) * 0.01
  FROM ps
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3')
"""


def v27_tpch_q11_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V27 (TPC-H Q11 shape): important-stock identification — a
    grouped HAVING against a scalar fraction of the SAME aggregate
    over the whole relation (evaluate-once subquery, v14's pattern at
    relation scale).  Exact decimal sums on both sides of the
    comparison."""
    register_views(spark, sf_dir)
    return spark.sql(V27_SQL)


V28_SQL = f"""
WITH {_PS_CTE}
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM ps JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 7, 10, 14, 23, 45, 50)
  AND ps_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_suppkey % 17 = 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 50
"""


def v28_tpch_q16_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V28 (TPC-H Q16 shape): supplier-count per (brand, type, size)
    with a NOT IN anti-join on an excluded-supplier subquery (the
    complaint filter, stand-in: every 17th key) and a distinct-count
    rollup under a disjunctive size IN list."""
    register_views(spark, sf_dir)
    return spark.sql(V28_SQL)


def _snapshot_materialize(spark: SparkSession, sf_dir: str,
                          name: str = "m8_tt") -> dict[int, list]:
    """Shared M8/M10 snapshot store: orders bucketed by
    ``o_orderkey % 8`` as snapshot 1; the upsert (every 100th order
    re-priced x2, status 'U') rewrites only the buckets containing
    changed keys, snapshot 2's manifest reuses the rest by
    reference.  Returns {snapshot_id: [file dirs]} and persists the
    manifest JSON alongside the data."""
    import json
    from .sources import _work_dir
    out = _work_dir(sf_dir, name)
    ord_ = (load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_totalprice",
                    (F.col("o_orderkey") % 8).alias("bkt")))
    (ord_.write.partitionBy("bkt").mode("overwrite")
     .parquet(f"{out}/data_v1"))
    changed = sorted(
        r["bkt"] for r in ord_.filter(F.col("o_orderkey") % 100 == 0)
        .select("bkt").distinct().collect())
    upd = (ord_.filter(F.col("bkt").isin([int(b) for b in changed]))
           .withColumn("o_totalprice",
                       F.when(F.col("o_orderkey") % 100 == 0,
                              F.col("o_totalprice") * 2)
                       .otherwise(F.col("o_totalprice")))
           .withColumn("o_orderstatus",
                       F.when(F.col("o_orderkey") % 100 == 0,
                              F.lit("U"))
                       .otherwise(F.col("o_orderstatus"))))
    (upd.write.partitionBy("bkt").mode("overwrite")
     .parquet(f"{out}/data_v2"))
    manifests = {
        1: [f"{out}/data_v1/bkt={b}" for b in range(8)],
        2: [(f"{out}/data_v2/bkt={b}" if b in changed
             else f"{out}/data_v1/bkt={b}") for b in range(8)],
    }
    with open(f"{out}/manifest.json", "w") as f:
        json.dump({str(k): v for k, v in manifests.items()}, f)
    return manifests


def m8_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 (r6): SNAPSHOT TIME TRAVEL with copy-on-write file reuse —
    the Iceberg/Delta idea stripped to its load-bearing parts: a
    table is a MANIFEST (an ordered list of data files), a write
    makes a new manifest, and reading "as of" snapshot N is reading
    N's file list — no data copied for time travel, no rewrite of
    unchanged files for an update.

    Concretely: orders land bucketed by ``o_orderkey % 8`` as
    snapshot 1; an upsert (every 100th order re-priced x2, status
    'U') touches keys in only 2 of the 8 buckets, so snapshot 2's
    manifest REWRITES those 2 files and REUSES the other 6 by
    reference.  The query reads both snapshots through their
    manifests and reports per-(snapshot, status) counts and exact
    price sums, plus the declared copy-on-write booleans (6 files
    reused, 2 rewritten) the oracle pins TRUE.

    Scale (100 TB): time travel costs one manifest read; an update
    rewrites only the files whose keys changed (here 1/4 of the
    data).  The manifest is deployment-sized metadata, never
    data-scale — exactly the table-format contract."""
    manifests = _snapshot_materialize(spark, sf_dir)
    reused = sum(1 for p in manifests[2] if "/data_v1/" in p)
    rewritten = len(manifests[2]) - reused

    def read_asof(snap: int) -> DataFrame:
        return spark.read.parquet(*manifests[snap])

    parts = []
    for snap in (1, 2):
        parts.append(
            read_asof(snap).groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("o_totalprice", "price_sum"))
            .select(F.lit(snap).alias("snapshot"), "o_orderstatus",
                    "n", "price_sum"))
    res = parts[0].unionByName(parts[1])
    return (res
            .withColumn("cow_files_reused", F.lit(reused == 6))
            .withColumn("cow_files_rewritten", F.lit(rewritten == 2)))


M8_SQL = f"""
SELECT 1 AS snapshot, o_orderstatus, COUNT(*) AS n,
       {sql_dsum('o_totalprice')} AS price_sum,
       TRUE AS cow_files_reused, TRUE AS cow_files_rewritten
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT 2, CASE WHEN o_orderkey % 100 = 0 THEN 'U'
               ELSE o_orderstatus END, COUNT(*),
       {sql_dsum("CASE WHEN o_orderkey % 100 = 0 "
                 "THEN o_totalprice * 2 ELSE o_totalprice END")},
       TRUE, TRUE
FROM orders
GROUP BY CASE WHEN o_orderkey % 100 = 0 THEN 'U'
              ELSE o_orderstatus END
"""


def m10_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10 (r6): SNAPSHOT VACUUM — the retention half of M8's table
    format: expiring snapshot 1 makes every file referenced ONLY by
    its manifest removable (here: the 2 bucket files the upsert
    rewrote; the 6 shared files stay because the live snapshot still
    references them).  Vacuum deletes exactly that set, then the
    live snapshot is read back THROUGH ITS MANIFEST to prove the
    delete touched nothing reachable.  Declared: the live snapshot's
    per-status aggregate post-vacuum plus the pinned booleans
    (2 files removed, 6 retained shared files).

    Scale: removability is a manifest set-difference — metadata-sized,
    never a data scan; this is why table formats can expire petabytes
    of history in seconds."""
    import shutil
    # own work dir (m10_tt): m8_time_travel reads m8_tt through its
    # manifests lazily — vacuuming under the same dir would race it
    manifests = _snapshot_materialize(spark, sf_dir, name="m10_tt")
    live = set(manifests[2])
    removable = [p for p in manifests[1] if p not in live]
    for p in removable:
        shutil.rmtree(p, ignore_errors=True)
    back = spark.read.parquet(*manifests[2])
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("o_totalprice", "price_sum"))
            .withColumn("n_removed_ok",
                        F.lit(len(removable) == 2))
            .withColumn("n_shared_kept_ok",
                        F.lit(len(live & set(manifests[1])) == 6)))


M10_SQL = f"""
SELECT CASE WHEN o_orderkey % 100 = 0 THEN 'U'
            ELSE o_orderstatus END AS o_orderstatus,
       COUNT(*) AS n,
       {sql_dsum("CASE WHEN o_orderkey % 100 = 0 "
                 "THEN o_totalprice * 2 ELSE o_totalprice END")}
         AS price_sum,
       TRUE AS n_removed_ok, TRUE AS n_shared_kept_ok
FROM orders
GROUP BY CASE WHEN o_orderkey % 100 = 0 THEN 'U'
              ELSE o_orderstatus END
"""


def m9_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 (r6): DATA-SKIPPING effectiveness report — the audit that
    justifies T5/M7 layout work: per-file min/max key statistics
    (what a lakehouse keeps in its manifest and parquet footers
    anyway) decide how many files a range predicate can prune
    WITHOUT opening them.  lineitem is written twice — range-sorted
    on l_orderkey (T5's layout) and hash-scattered (the layout a
    shuffle leaves behind) — into 16 files each; for a mid-range
    10%-of-keyspace predicate the sorted layout's [min,max] spans
    overlap at most 3 files while the scattered layout overlaps all
    16.  Declared: exact row counts + key checksum of the predicate's
    true result (identical from either layout) and the two skipping
    booleans the oracle pins TRUE.

    Scale: min/max-per-file is one aggregate keyed by file (the
    write-time metadata pass every table format does); the report
    reads STATS, not data.  This is the measurable form of the
    SCALE.md partition-pruning notes."""
    import os
    from .sources import _work_dir
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity")
    sorted_dir = _work_dir(sf_dir, "m9_sorted")
    scatter_dir = _work_dir(sf_dir, "m9_scatter")
    (li.repartitionByRange(16, "l_orderkey", "l_linenumber")
     .sortWithinPartitions("l_orderkey", "l_linenumber")
     .write.mode("overwrite").parquet(sorted_dir))
    (li.repartition(16)   # round-robin: every file spans the keyspace
     .write.mode("overwrite").parquet(scatter_dir))
    lo_hi = li.agg(F.min("l_orderkey").alias("lo"),
                   F.max("l_orderkey").alias("hi")).first()
    # mid-range 10% band [p45, p55) of the key space
    lo = lo_hi["lo"] + (lo_hi["hi"] - lo_hi["lo"]) * 45 // 100
    hi = lo_hi["lo"] + (lo_hi["hi"] - lo_hi["lo"]) * 55 // 100

    def overlap_count(d: str) -> int:
        stats = (spark.read.parquet(d)
                 .groupBy(F.input_file_name().alias("f"))
                 .agg(F.min("l_orderkey").alias("mn"),
                      F.max("l_orderkey").alias("mx")))
        return (stats.filter((F.col("mn") <= hi)
                             & (F.col("mx") >= lo)).count())
    n_sorted = overlap_count(sorted_dir)
    n_scatter = overlap_count(scatter_dir)
    truth = (li.filter((F.col("l_orderkey") >= lo)
                       & (F.col("l_orderkey") <= hi))
             .agg(F.count(F.lit(1)).alias("n_rows"),
                  F.sum("l_orderkey").alias("key_sum")))
    return truth.select(
        "n_rows", "key_sum",
        F.lit(n_sorted <= 3).alias("sorted_skips_most"),
        F.lit(n_scatter >= 12).alias("scatter_skips_none"))


M9_SQL = """
WITH b AS (SELECT MIN(l_orderkey) AS lo0, MAX(l_orderkey) AS hi0
           FROM lineitem),
r AS (SELECT lo0 + (hi0 - lo0) * 45 // 100 AS lo,
             lo0 + (hi0 - lo0) * 55 // 100 AS hi FROM b)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
       TRUE AS sorted_skips_most, TRUE AS scatter_skips_none
FROM lineitem, r
WHERE l_orderkey >= lo AND l_orderkey <= hi
"""


def m11_codec_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 (r6): COMPRESSION-CODEC audit — the storage decision a
    100 TB lakehouse makes once and pays for forever: lineitem
    written three times (uncompressed, snappy, zstd), byte sizes
    measured from the produced files, values verified preserved
    through each roundtrip.  Declared: the exact row count + value
    checksum (identical from every codec) and the ordering booleans
    the oracle pins TRUE: zstd < snappy < uncompressed (the
    universal ranking on columnar numeric data; zstd's edge is why
    it became the modern default over snappy's decode-speed trade)
    and a >= 10% zstd saving — conservative enough to hold even at
    the tiny fixture where parquet metadata dominates (measured 38%
    at sf0.001), and trivially true at real scale.

    Scale: codec choice changes ONLY the write/read CPU-IO balance —
    the audit proves bit-preservation so the decision is purely the
    measured ratio; sizes come from the file listing (metadata), not
    a data scan."""
    import os
    from .sources import _work_dir
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag")

    def write_and_size(codec: str) -> tuple[str, int]:
        out = _work_dir(sf_dir, f"m11_{codec}")
        (li.coalesce(4).write.mode("overwrite")
         .option("compression", codec).parquet(out))
        size = sum(os.path.getsize(os.path.join(out, f))
                   for f in os.listdir(out) if f.endswith(".parquet"))
        return out, size

    _, sz_none = write_and_size("none")
    p_snappy, sz_snappy = write_and_size("snappy")
    _, sz_zstd = write_and_size("zstd")
    back = spark.read.parquet(p_snappy)
    return (back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_orderkey") * 8 + F.col("l_linenumber"))
        .cast("long").alias("key_checksum"),
        dsum("l_extendedprice", "price_sum"))
        .withColumn("zstd_smallest",
                    F.lit(sz_zstd < sz_snappy < sz_none))
        .withColumn("compression_helps",
                    F.lit(10 * sz_zstd < 9 * sz_none)))


M11_SQL = f"""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(l_orderkey * 8 + l_linenumber) AS BIGINT)
         AS key_checksum,
       {sql_dsum('l_extendedprice')} AS price_sum,
       TRUE AS zstd_smallest, TRUE AS compression_helps
FROM lineitem
"""


def m12_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 (r9): PIGGYBACKED DATA-QUALITY METRICS via the Spark 4
    ``Observation`` / ``DataFrame.observe`` API (public): row count
    and exact decimal total collected as CollectMetrics on the SAME
    single pass that computes the per-status aggregate — the 100 TB
    observability contract, where a separate "count the input" DQ
    job would double the scan bill.  The plan gate
    (tests/test_plans.py) pins exactly ONE orders scan with a
    CollectMetrics node on it.

    Declared output: the per-status aggregate joined with the
    observed metrics as columns, plus ``metrics_consistent`` — the
    observed row count must equal the sum of the grouped counts (a
    divergence means the metrics read a different pass than the
    result, the bug class observe exists to rule out)."""
    from pyspark.sql import Observation

    ord_ = load_table(spark, sf_dir, "orders")
    obs = Observation("dq")
    observed = ord_.observe(
        obs, F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice", "total"))
    res = (observed.groupBy("o_orderstatus")
           .agg(F.count(F.lit(1)).alias("n"),
                dsum("o_totalprice", "status_total")))
    rows = res.collect()               # the action that fills obs
    metrics = obs.get
    consistent = metrics["n_rows"] == sum(r["n"] for r in rows)
    # local_df (r15): the collected rows are (string, bigint, double)
    # non-null aggregates — Arrow round-trip asserted identical
    # (tests/test_operators.py::test_local_df_decimal_binary_roundtrip
    # covers the wider type surface incl. Decimal), so the pickled-RDD
    # holdout is retired
    from ..exprs import local_df
    return (local_df(spark, rows, res.schema)
            .withColumn("observed_rows",
                        F.lit(metrics["n_rows"]).cast("bigint"))
            .withColumn("observed_total",
                        F.lit(float(metrics["total"])))
            .withColumn("metrics_consistent", F.lit(bool(consistent))))


M12_SQL = f"""
SELECT o_orderstatus, COUNT(*) AS n,
       {sql_dsum('o_totalprice')} AS status_total,
       (SELECT COUNT(*) FROM orders) AS observed_rows,
       (SELECT {sql_dsum('o_totalprice')} FROM orders) AS observed_total,
       TRUE AS metrics_consistent
FROM orders GROUP BY o_orderstatus
"""


def m13_index_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13 (r11, VERDICT r10 #2): the ATOMIC VERSIONED-POINTER
    PUBLISH — the executable form of the swap l17/x123/x133 all
    documented and left to the caller (``operators.publish``).  An
    index root holds immutable layout directories plus one
    atomically-replaced ``_current.json`` pointer; probes resolve
    the pointer once and read a single consistent version.

    Exercised on the x132 LSH band index over the documents table:
    BUILD the base layout and publish v1, probe the incoming batch
    THROUGH the root, append the delta through the root (lands in
    the live layout), COMPACT into a fresh unpublished layout (an
    in-flight maintenance pass), probe again — then PUBLISH v2 and
    probe once more.  Declared booleans:
    - ``routed_parity``: probe(root) == probe(layout dir) — the
      pointer adds routing, never rows;
    - ``swap_invariant``: candidates immediately before and after
      the v2 publish are identical and nonempty (compaction is a
      pure layout change; the swap is invisible to results);
    - ``crash_leaves_old_live``: with a fully-written but
      UNPUBLISHED layout on disk (the crash window between rewrite
      and publish), the root still resolves to the published
      version;
    - ``old_layout_alive``: after publish + prune(keep=2) the v1
      layout still holds its objects — the in-flight-reader horizon
      (m10's vacuum rule).
    ``version_after`` is the pointer's monotone version (exactly 2).

    Scale (100 TB): the pointer is O(history) JSON bytes; publish
    cost is independent of index size; readers pay one metadata read
    to resolve.  Spec parity note: the reference's closest analog is
    its atomic S3 PUT visibility contract (GetJobs.py:57-60) — this
    row extends that single-object atomicity to whole index
    layouts."""
    return _lsh_publish_lifecycle(spark, sf_dir, "m13_root", "{}")


def _lsh_publish_lifecycle(spark: SparkSession, sf_dir: str,
                           work: str, location: str) -> DataFrame:
    """The m13/m13b sequence over the index root ``location``
    (formatted with the fresh scratch directory ``work``): build v1
    -> publish -> routed-vs-direct probe -> append -> compact into
    an unpublished v2 -> crash-window probe -> publish v2 -> probe
    -> prune.  Probes and appends take the root location itself;
    the publisher names, points and retires."""
    import os
    import shutil

    from ..exprs import multiset_diff_and_count
    from ..operators import dedup, publish
    from .sources import _work_dir

    doc = load_table(spark, sf_dir, "documents")
    base = doc.filter(~F.col("source").isin("src1", "src2"))
    delta = doc.filter(F.col("source") == "src1")
    batch = doc.filter(F.col("source") == "src2")

    scratch = _work_dir(sf_dir, work)
    if os.path.exists(scratch):         # idempotent across runs
        shutil.rmtree(scratch)
    os.makedirs(scratch)
    root = location.format(scratch)
    pub = publish.open_root(root)
    v1 = pub.new_layout_dir()
    dedup.lsh_index_write(base, pub.data_path(v1))
    pub.publish(v1)

    def probe(target):
        return (dedup.lsh_index_probe(spark, target, batch)
                .localCheckpoint(eager=True))

    routed, direct = probe(root), probe(pub.data_path(v1))
    d_rp, n_rp = multiset_diff_and_count(routed, direct)
    routed_parity = d_rp == 0 and n_rp > 0

    dedup.lsh_index_append(delta, root)
    v2 = pub.new_layout_dir()
    dedup.lsh_index_compact(spark, [publish.resolve(root)],
                            pub.data_path(v2))
    before = probe(root)                 # v2 written, NOT published
    crash_leaves_old_live = pub.resolve() == v1
    pub.publish(v2)
    after = probe(root)
    d_si, n_si = multiset_diff_and_count(before, after)
    swap_invariant = d_si == 0 and n_si > 0
    pub.prune(keep=2)
    old_layout_alive = bool(pub.store.list(f"{v1}/"))
    return local_df(
        spark,
        [(base.count(), delta.count(), batch.count(), routed_parity,
          swap_invariant, crash_leaves_old_live, old_layout_alive,
          pub.current_version())],
        "n_base long, n_delta long, n_batch long, "
        "routed_parity boolean, swap_invariant boolean, "
        "crash_leaves_old_live boolean, old_layout_alive boolean, "
        "version_after int")


M13_SQL = """
SELECT CAST(SUM(CASE WHEN source NOT IN ('src1', 'src2')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_delta,
       CAST(SUM(CASE WHEN source = 'src2' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_batch,
       TRUE AS routed_parity, TRUE AS swap_invariant,
       TRUE AS crash_leaves_old_live, TRUE AS old_layout_alive,
       CAST(2 AS INT) AS version_after
FROM documents
"""


def m13b_store_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13b: the m13 versioned-pointer lifecycle run over an
    OBJECT-STORE BUCKET root, ``mock://<bucket>/lsh`` — the
    reference's actual deployment surface (``README.md:114``
    input/output prefixes; ``role.json`` grants S3 object verbs) on
    the 5-verb ``ObjectStoreClient`` contract (the p20/p21
    quarantine discipline).

    Same sequence, code and declared booleans as m13 — a local
    directory is one more store root, so the bucket spelling changes
    only how ``publish.open_root`` splits the location: the pointer
    swap is ONE atomic PUT (the guarantee the P8 commit leans on),
    layouts are key prefixes, and prune is a paged list + idempotent
    deletes.  Layout parquet moves through Spark against the store's
    data plane (``fs_path``: the backing file here, ``s3a://`` URIs
    on a real bucket).

    Scale (100 TB): publish cost is one O(history)-byte PUT
    regardless of index size; prune memory is bounded by the list
    page size, never by layout key count; readers pay one GET to
    resolve."""
    return _lsh_publish_lifecycle(spark, sf_dir, "m13b_bucket",
                                  "mock://{}/lsh")


# the lifecycle booleans are declared invariants (TRUE on any input);
# the data-dependent columns replay m13's split arithmetic
M13B_SQL = M13_SQL


def m14_cas_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14 (r13, ADVICE r12): MULTI-MAINTAINER pointer lifecycle —
    ``StorePublisher(store, root, cas=True)`` routes every pointer
    write through the conditional-PUT verb (S3 If-Match on the
    pointer's ETag / If-None-Match:* for the first version, public
    API since 2024; the file-backed double flock-serializes same-key
    writers and ETags by content md5), so concurrent maintainers
    RETRY instead of silently overwriting — the upgrade from m13b's
    single-writer last-writer-wins mode.

    Two deterministic races are replayed in-query (the threaded and
    seeded-interleaving forms are fuzzed in tests/test_publish.py):

    1. *publish vs publish*: maintainer A's pointer PUT is
       intercepted so maintainer B's publish lands FIRST; A's CAS
       fails, A re-reads and retries, and BOTH versions land in
       order (``race_both_landed``) — the exact update m13b's plain
       mode loses.
    2. *publish vs prune*: a publish lands inside prune's
       read-modify window; prune's stale conditional PUT fails its
       precondition and the retry recomputes the horizon against
       the fresh pointer, so the racing version stays live
       (``prune_kept_racer``) and the history is exactly the keep
       horizon (``no_lost_updates``).

    The data columns anchor the oracle: the per-source document
    counts ride the published layouts as payload bytes and
    ``n_batch`` is read BACK through ``resolve()`` from the bucket,
    so the row proves the pointer the racers fought over serves
    consistent data.

    Scale (100 TB): the CAS loop costs one extra GET per lost race
    and nothing uncontended; pointer size stays O(history) — the
    contention domain is one metadata object, never the layouts.

    Reference parity: the reference's S3 flow has no conditional
    writes (boto2 predates them); this is the operational upgrade a
    multi-writer deployment of its bucket layout needs."""
    import json as _json
    import os
    import shutil

    from ..operators import publish
    from ..pipeline.manifest import LocalObjectStoreClient
    from .sources import _work_dir

    doc = load_table(spark, sf_dir, "documents")
    n_base = doc.filter(~F.col("source").isin("src1", "src2")).count()
    n_delta = doc.filter(F.col("source") == "src1").count()
    n_batch = doc.filter(F.col("source") == "src2").count()

    bucket = _work_dir(sf_dir, "m14_bucket")
    if os.path.exists(bucket):          # idempotent across runs
        shutil.rmtree(bucket)
    os.makedirs(bucket)
    store = LocalObjectStoreClient(bucket)
    root = "indexes/cas"

    class InterceptStore:
        """Fires a hook once, immediately before a conditional
        pointer PUT — the widest possible race window."""

        def __init__(self, inner):
            self._inner = inner
            self.hook = None

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def put_if(self, key, data, etag):
            if key.endswith(publish.POINTER) and self.hook:
                hook, self.hook = self.hook, None
                hook()
            return self._inner.put_if(key, data, etag)

    wrapped = InterceptStore(store)
    pub_a = publish.StorePublisher(wrapped, root, cas=True)
    pub_b = publish.StorePublisher(store, root, cas=True)

    def layout(name: str, payload: dict) -> str:
        key = f"{root}/{name}"
        store.put(f"{key}/part-0.json",
                  _json.dumps(payload).encode())
        return key

    # race 1: A's v1 PUT is preempted by B's publish — A retries,
    # both land, versions strictly ordered B then A
    l_base = layout("layout-base", {"n": n_base})
    l_delta = layout("layout-delta", {"n": n_delta})
    versions = {}

    def b_publishes_first():
        versions["b"] = pub_b.publish(l_delta)

    wrapped.hook = b_publishes_first
    versions["a"] = pub_a.publish(l_base)
    race_both_landed = (versions == {"b": 1, "a": 2}
                        and pub_b.current_version() == 2)

    # race 2: C's publish lands inside prune's read-modify window
    l_batch = layout("layout-batch", {"n_batch": n_batch})

    def c_publishes_midprune():
        versions["c"] = pub_b.publish(l_batch)

    wrapped.hook = c_publishes_midprune
    pub_a.prune(keep=2)
    prune_kept_racer = (versions.get("c") == 3
                        and pub_b.resolve() == l_batch)
    history = [h["version"] for h in _json.loads(
        store.get(f"{root}/{publish.POINTER}"))["history"]]
    no_lost_updates = history == [2, 3]

    # the pointer the racers fought over serves consistent data
    n_batch_rb = int(_json.loads(store.get(
        f"{pub_b.resolve()}/part-0.json"))["n_batch"])

    return local_df(
        spark,
        [(n_base, n_delta, n_batch_rb, race_both_landed,
          prune_kept_racer, no_lost_updates,
          pub_b.current_version())],
        "n_base long, n_delta long, n_batch long, "
        "race_both_landed boolean, prune_kept_racer boolean, "
        "no_lost_updates boolean, version_after int")


M14_SQL = """
SELECT CAST(SUM(CASE WHEN source NOT IN ('src1', 'src2')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_delta,
       CAST(SUM(CASE WHEN source = 'src2' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_batch,
       TRUE AS race_both_landed, TRUE AS prune_kept_racer,
       TRUE AS no_lost_updates, CAST(3 AS INT) AS version_after
FROM documents
"""


def v30_tpch_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V30 (r6): the TPC-H REFRESH stream (RF1 insert / RF2 delete) —
    the half of the benchmark read-only ports skip: a deterministic
    RF1 batch (every 100th order re-keyed +10^7, with its lineitems,
    prices x1.1 via exact decimal) is inserted, a deterministic RF2
    batch (orderkey % 77 = 0) is deleted, and Q1's pricing summary
    re-runs over the refreshed corpus — insert, delete, and the
    flagship read in ONE lineage.  The oracle replays the identical
    set algebra; decimal(30,6) keeps the x1.1 reprice exact so the
    dsum columns stay bit-stable.

    Scale: RF batches are filters + unions (no shuffle beyond Q1's
    own aggregate); a real deployment lands them through M1's upsert
    / M5's purge paths — this row pins the arithmetic contract."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_linestatus")
    rf1 = (li.filter(F.col("l_orderkey") % 100 == 0)
           .withColumn("l_orderkey",
                       F.col("l_orderkey") + 10_000_000)
           .withColumn("l_extendedprice",
                       (F.col("l_extendedprice").cast(
                           "decimal(30,6)") * F.lit(11)
                        / F.lit(10)).cast("double")))
    refreshed = (li.unionByName(rf1)
                 .filter(F.col("l_orderkey") % 77 != 0))
    return (refreshed.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("l_quantity", "sum_qty"),
                 dsum("l_extendedprice", "sum_price")))


V30_SQL = f"""
WITH rf1 AS (
  SELECT l_orderkey + 10000000 AS l_orderkey, l_quantity,
         CAST(CAST(l_extendedprice AS DECIMAL(30,6)) * 11 / 10
              AS DOUBLE) AS l_extendedprice,
         l_returnflag, l_linestatus
  FROM lineitem WHERE l_orderkey % 100 = 0),
refreshed AS (
  SELECT l_orderkey, l_quantity, l_extendedprice, l_returnflag,
         l_linestatus
  FROM lineitem
  UNION ALL
  SELECT * FROM rf1)
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_price
FROM refreshed WHERE l_orderkey % 77 <> 0
GROUP BY l_returnflag, l_linestatus
"""


W10_SQL = """
SELECT event_id, user_id,
       COUNT(*) OVER w AS n_trailing_1h,
       CAST(SUM(event_id) OVER w AS BIGINT) AS idsum_trailing_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


def w10_interval_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10 (r6): TIME-INTERVAL range frames — the trailing-1-hour
    window ordered by EVENT TIME (``RANGE BETWEEN INTERVAL 1 HOUR
    PRECEDING``), the frame W3/W4's row/numeric-offset forms cannot
    express when rows are irregularly spaced: the frame boundary is
    a timestamp subtraction, ties are peers, and the result is
    independent of row order within an instant.  Runs through the
    SQL entry point — one shared ANSI text on both engines (the
    TPC-H sub-suite discipline).  Exact integer aggregates only
    (count + event-id checksum), so the hash gate is bit-stable."""
    register_views(spark, sf_dir)
    return spark.sql(W10_SQL)


QUERIES: dict[str, tuple] = {
    "v1_pivot": (v1_pivot, V1_SQL),
    "v2_unpivot": (v2_unpivot, V2_SQL),
    "v3_exists_subquery": (v3_exists_subquery, V3_SQL),
    "v4_in_subquery": (v4_in_subquery, V4_SQL),
    "v5_scalar_subquery": (v5_scalar_subquery, V5_SQL),
    "v6_cte": (v6_cte, V6_SQL),
    "v7_correlated_scalar": (v7_correlated_scalar, V7_SQL),
    "v8_tpch_q3": (v8_tpch_q3, V8_SQL),
    "v9_tpch_q5": (v9_tpch_q5, V9_SQL),
    "v10_tpch_q10": (v10_tpch_q10, V10_SQL),
    "v11_tpch_q18": (v11_tpch_q18, V11_SQL),
    "v12_tpch_q21": (v12_tpch_q21, V12_SQL),
    "v13_tpch_q7": (v13_tpch_q7, V13_SQL),
    "v14_tpch_q20": (v14_tpch_q20, V14_SQL),
    "v15_tpch_q17": (v15_tpch_q17, V15_SQL),
    "v16_tpch_q15": (v16_tpch_q15, V16_SQL),
    "v17_tpch_q13": (v17_tpch_q13, V17_SQL),
    "v18_tpch_q19": (v18_tpch_q19, V18_SQL),
    "v19_tpch_q22": (v19_tpch_q22, V19_SQL),
    "v20_tpch_q8": (v20_tpch_q8, V20_SQL),
    "v21_tpch_q14": (v21_tpch_q14, V21_SQL),
    "v22_tpch_q4": (v22_tpch_q4, V22_SQL),
    "v23_tpch_q6": (v23_tpch_q6, V23_SQL),
    "v24_tpch_q9_shape": (v24_tpch_q9_shape, V24_SQL),
    "v25_tpch_q12_shape": (v25_tpch_q12_shape, V25_SQL),
    "v26_tpch_q2_shape": (v26_tpch_q2_shape, V26_SQL),
    "v27_tpch_q11_shape": (v27_tpch_q11_shape, V27_SQL),
    "v28_tpch_q16_shape": (v28_tpch_q16_shape, V28_SQL),
    "m1_upsert": (m1_upsert, M1_SQL),
    "m2_scd2": (m2_scd2, M2_SQL),
    "m5_purge": (m5_purge, M5_SQL),
    "m6_incremental_mv": (m6_incremental_mv, M6_SQL),
    "j13_temporal_join": (j13_temporal_join, J13_SQL),
    "v29_recursive_cte": (v29_recursive_cte, V29_SQL),
    "m3_salted_join": (m3_salted_join, M3_SQL),
    "m4_bucketed_join": (m4_bucketed_join, M4_SQL),
    "m8_time_travel": (m8_time_travel, M8_SQL),
    "m9_skipping_report": (m9_skipping_report, M9_SQL),
    "m10_vacuum": (m10_vacuum, M10_SQL),
    "m11_codec_report": (m11_codec_report, M11_SQL),
    "m12_observed_metrics": (m12_observed_metrics, M12_SQL),
    "m13_index_publish": (m13_index_publish, M13_SQL),
    "m13b_store_publish": (m13b_store_publish, M13B_SQL),
    "m14_cas_publish": (m14_cas_publish, M14_SQL),
    "v30_tpch_refresh": (v30_tpch_refresh, V30_SQL),
    "w10_interval_frames": (w10_interval_frames, W10_SQL),
}
