"""TPC-H widening, part 2: Q7/Q8/Q9/Q13/Q22 adapted to the driver tables.

These five close the remaining *plan shapes* the earlier TPC-H set
(q1/q3/q5/q6/q10/q14/q15/q16/q18/q19 in relational.py) does not cover:

* Q7  — one dimension joined in TWO ROLES (supplier nation vs customer
  nation) with a cross-role inequality predicate.
* Q8  — conditional market-share ratio (CASE inside both numerator and
  denominator of a per-group division).
* Q9  — multi-fact profit expression spanning four tables with mixed-sign
  decimal arithmetic.
* Q13 — LEFT OUTER join with a predicate INSIDE the join condition,
  followed by a double aggregation (count per customer, then histogram
  of counts — zero-order customers must survive).
* Q22 — uncorrelated scalar aggregate threshold + NOT EXISTS anti join
  in one WHERE clause.

Adaptations to the available schema (no partsupp / l_shipmode /
l_commitdate / c_phone in the driver data): Q8's "market" is a region of
customer nations; Q9's supply cost is modeled as 10% of p_retailprice;
Q13 filters urgent orders inside the join condition; Q22's "country code
prefix" becomes a market-segment subset and "no past orders" becomes "no
urgent orders".  Shapes — and the Catalyst features they exercise — are
unchanged.

Reference parity note: the reference engine (see SURVEY.md §2.1) exposes a
generic stream/table join-and-aggregate surface (StreamsBuilder topology,
kafka-streams-log-correlation); these queries are the batch-relational
closure of that surface, mandated by SURVEY.md §2.2 rows 59-64 and the
driver's relational north star.

All follow the cross-engine determinism rules in queries/__init__.py:
decimal-exact sums → ROUND → DOUBLE, ratios as exact-sum/exact-count in
IEEE double, BIGINT counts, unique-key sort tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logflow.functions.money import dec, money
from logflow.operators.cache import track
from logflow.queries import register
from logflow.sources.tables import load_table


_VOLUME_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))"
)


def _volume() -> F.Column:
    return dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)")


@register(
    "q7_nation_volume",
    f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         {_VOLUME_SQL} AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
    AND n2.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
    AND n1.n_name <> n2.n_name
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
""",
    doc="TPC-H Q7 volume shipping: the nation dimension participates in TWO "
    "roles (seller side via supplier, buyer side via customer) with a "
    "cross-role inequality. Both role joins are broadcasts of the 25-row "
    "dim — at 100 TB the only shuffles are the two fact-fact key joins "
    "(lineitem⋈orders⋈customer); the nation IN-filters cut each fact "
    "early because they push through the broadcast join onto the "
    "s_nationkey/c_nationkey columns via Catalyst's join-predicate "
    "inference. year() on TIMESTAMP_NTZ is timezone-free in both engines.",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    nations = ["NATION_1", "NATION_2", "NATION_3", "NATION_4"]
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    supp = load_table(spark, "supplier", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin(nations))
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin(nations))
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(money(F.sum(_volume())).alias("revenue"))
    )


@register(
    "q8_market_share",
    f"""
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume
                           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 4) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         {_VOLUME_SQL} AS volume,
         n2.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA'
    AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
) all_nations
GROUP BY o_year
""",
    doc="TPC-H Q8 national market share: conditional ratio — the CASE'd "
    "nation volume over total volume per order-year. Numerator and "
    "denominator are both exact DECIMAL sums, divided once as IEEE "
    "doubles, so the quotient is bit-identical cross-engine. Dims "
    "(part-filter, nation×2, region, supplier) all broadcast; the only "
    "big shuffles are lineitem⋈orders⋈customer. The p_type filter prunes "
    "lineitem via the broadcast part join before either fact shuffle.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir).filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    zero = F.lit(0).cast("decimal(12,2)")
    all_nations = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            _volume().alias("volume"),
            "supp_nation",
        )
    )
    nation_vol = F.sum(F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(zero))
    return all_nations.groupBy("o_year").agg(
        F.round(nation_vol.cast("double") / F.sum("volume").cast("double"), 4).alias("mkt_share")
    )


@register(
    "q9_product_profit",
    """
SELECT nation, o_year,
       CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))
           - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.1 AS DECIMAL(4,2))
             * CAST(l_quantity AS DECIMAL(12,2)) AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%gear%'
) profit
GROUP BY nation, o_year
""",
    doc="TPC-H Q9 product-type profit (supply cost modeled as 10% of "
    "p_retailprice — no partsupp table in the driver data): mixed-sign "
    "decimal expression over part⋈lineitem⋈supplier⋈orders⋈nation. The "
    "LIKE filter prunes part BEFORE the broadcast join, which prunes "
    "lineitem before its orders shuffle — selectivity flows fact-ward. "
    "Decimal subtraction keeps negative amounts exact; one ROUND at the "
    "end. At 100 TB: one broadcast (filtered part), one small-dim "
    "broadcast (nation via supplier), one fact-fact shuffle join.",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir).filter(F.col("p_name").like("%gear%"))
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    amount = _volume() - (
        dec("p_retailprice")
        * F.lit(0.1).cast("decimal(4,2)")
        * dec("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(money(F.sum("amount")).alias("sum_profit"))
    )


@register(
    "q13_order_count_distribution",
    """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
""",
    doc="TPC-H Q13 customer order-count distribution: the predicate lives "
    "INSIDE the left-outer join condition (not a post-filter — customers "
    "whose only orders are urgent must appear with c_count=0), then a "
    "double aggregation folds per-customer counts into a histogram. "
    "COUNT(o_orderkey) counts only matched rows — the outer-join NULL "
    "convention both engines share. At 100 TB: one shuffle join on "
    "custkey, one partial-agg'd count, then a tiny histogram agg.",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    joined = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey) & (orders.o_orderpriority != "1-URGENT"),
        "left_outer",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").cast("long").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).cast("long").alias("custdist"))


@register(
    "q22_dormant_balance",
    """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
  AND c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
    FROM customer
    WHERE c_acctbal > 0.0
      AND c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
  )
GROUP BY c_mktsegment
""",
    doc="TPC-H Q22 global-sales-opportunity shape: an uncorrelated scalar "
    "aggregate (segment-wide mean balance, computed as exact-decimal-sum "
    "over exact-count so the threshold double is bit-identical in both "
    "engines) gates the outer scan, composed with a NOT EXISTS anti join "
    "in the same WHERE. Catalyst plans the scalar subquery as a 1-row "
    "broadcast and the NOT EXISTS as a left-anti shuffle join; the "
    "segment IN-filter is pushed to both customer scans. Adaptation: "
    "phone-prefix country codes → market segments, 'no orders' → 'no "
    "urgent orders' (every synthetic customer has orders).",
)
def q22_dormant_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "orders"):
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS totacctbal
        FROM customer
        WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
          AND c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
            FROM customer
            WHERE c_acctbal > 0.0
              AND c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
          )
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
          )
        GROUP BY c_mktsegment
        """
    )


# ---------------------------------------------------------------------------
# TPC-H completion (round 3, part 2): Q2/Q4/Q11/Q12/Q17/Q20.  With these the
# full 22-query TPC-H suite is covered (q21's EXISTS/NOT-EXISTS combo lives
# in relational.py as subquery_exists_not_exists).  Plan shapes added here:
#
# * Q2  — per-group minimum selection (window min = correlated MIN subquery)
#         over a multi-dimension snowflake join.
# * Q4  — EXISTS with a non-equi correlated predicate (left-semi join whose
#         condition mixes the key equality with an interval comparison).
# * Q11 — HAVING against an uncorrelated global scalar (group sum vs a
#         fraction of the grand total).
# * Q12 — conditional two-way counts (CASE inside SUM) after a non-equi
#         late-shipment filter.
# * Q17 — correlated per-group AVG threshold (window sum/count) feeding a
#         scan-level filter, then a single global aggregate.
# * Q20 — IN-within-IN with a grouped HAVING between them (stacked semi
#         joins, no fact duplication).
#
# Schema adaptations (no partsupp/l_commitdate/l_receiptdate/l_shipmode in
# the driver data): "supply cost" is the minimum observed unit sale price
# per (part, supplier); "late" means shipped >N days after the order date;
# Q12's ship mode becomes the return flag.  The Catalyst features each
# query exercises are unchanged.


@register(
    "q2_min_cost_supplier",
    """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS mincost
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_size BETWEEN 20 AND 30 AND p_type = 'SMALL'
  GROUP BY l_partkey, l_suppkey
), regional AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name, mincost
  FROM ps
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, s_suppkey,
       CAST(mincost AS DOUBLE) AS supply_cost
FROM (
  SELECT r.*, MIN(mincost) OVER (PARTITION BY p_partkey) AS part_min
  FROM regional r
)
WHERE mincost = part_min
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
LIMIT 100
""",
    doc="TPC-H Q2 minimum-cost supplier: the correlated MIN subquery is "
    "expressed as a window MIN over p_partkey — same semantics, ONE pass "
    "over the candidate set instead of a re-scan (supply cost = min "
    "observed unit sale price per part/supplier; no partsupp table). The "
    "part filter broadcasts into lineitem BEFORE the (partkey,suppkey) "
    "aggregate, so the big scan is pruned first; supplier/nation/region "
    "all broadcast. Cost is exact DECIMAL, so the min-equality filter is "
    "bit-stable cross-engine; the top-100 carries a full unique-key "
    "tiebreak (…,p_partkey,s_suppkey). At 100 TB: one shuffle on "
    "(partkey,suppkey), one on partkey for the window — both over the "
    "already-pruned candidate set.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir)
    part_f = load_table(spark, "part", sf_dir).filter(
        F.col("p_size").between(20, 30) & (F.col("p_type") == "SMALL")
    )
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE")
    ps = (
        li.join(F.broadcast(part_f), li.l_partkey == part_f.p_partkey)
        .groupBy("l_partkey", "l_suppkey", "p_partkey", "p_name")
        .agg(F.min(dec("l_extendedprice")).alias("mincost"))
    )
    regional = (
        ps.join(supp, ps.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        regional.withColumn("part_min", F.min("mincost").over(w))
        .filter(F.col("mincost") == F.col("part_min"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            "s_suppkey",
            F.col("mincost").cast("double").alias("supply_cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            "n_name",
            "s_name",
            "p_partkey",
            "s_suppkey",
        )
        .limit(100)
    )


@register(
    "q4_order_priority_check",
    """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4 order-priority checking: EXISTS whose correlated predicate "
    "is NON-equi (shipped more than 60 days after the order date — the "
    "commitdate/receiptdate lateness test adapted to the available "
    "columns). Catalyst plans it as a left-semi join on l_orderkey with "
    "the interval comparison as a join residual, so each order is counted "
    "once no matter how many late lines it has — no fact duplication, no "
    "DISTINCT. The date window prunes orders at the scan. At 100 TB: one "
    "semi-join shuffle on orderkey, then a 5-row aggregate.",
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders_f = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir)
    late = (orders_f.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > orders_f.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders_f.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


@register(
    "q11_important_parts",
    """
WITH v AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE n_name IN ('NATION_1','NATION_2','NATION_3')
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(ROUND(val, 2) AS DOUBLE) AS part_value
FROM v
WHERE CAST(val * 100 AS BIGINT) * (SELECT CAST(COUNT(*) AS BIGINT) FROM v)
      > 2 * (SELECT CAST(SUM(val) * 100 AS BIGINT) FROM v)
""",
    doc="TPC-H Q11 important stock: per-part value (sum of sale value from "
    "suppliers in a 3-nation group) kept only where it exceeds 2x the "
    "MEAN per-part share — a HAVING against an uncorrelated global "
    "scalar. The fraction is data-derived (2/n_parts), the TPC-H "
    "0.0001/SF scaling done from the data itself: a fixed 0.1%-of-total "
    "floor went degenerate-empty at sf0.1 as the part count grows with "
    "SF (r11 verdict item 4; probed 14/125/1236 rows at the three SFs). "
    "The comparison cross-multiplies in exact integer cents — no "
    "division, so the boundary part is never engine-dependent. "
    "The per-part aggregate is computed once and persisted (parts-table "
    "sized, millions of rows at 100 TB, trivially cached); the grand "
    "total folds that frame to one row which re-enters as a broadcast — "
    "the fact table is scanned exactly once, and the threshold "
    "comparison is exact DECIMAL on both sides so the boundary part is "
    "never engine-dependent. nation/supplier broadcast into lineitem "
    "before its one shuffle on l_partkey.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir).filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    per_part = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice", 18)).alias("val"))
        .persist()  # read twice: grand total + threshold filter
    )
    track(per_part)
    threshold = per_part.agg(
        (F.lit(2) * (F.sum("val") * 100).cast("long")).alias("thr2"),
        F.count(F.lit(1)).cast("long").alias("n_parts"),
    )
    return (
        per_part.join(F.broadcast(threshold))
        .filter((F.col("val") * 100).cast("long") * F.col("n_parts") > F.col("thr2"))
        .select("l_partkey", F.round("val", 2).cast("double").alias("part_value"))
    )


@register(
    "q12_late_shipment_priority",
    """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_returnflag
""",
    doc="TPC-H Q12 shipping-mode priority (ship mode adapted to the return "
    "flag; 'late' = shipped >30 days after ordering): a non-equi "
    "late-shipment residual on the orderkey join, then two CASE'd "
    "conditional counts in one aggregate — the high/low split is one "
    "pass, not two filtered scans. The shipdate year-window prunes "
    "lineitem at the parquet scan before the join. At 100 TB: one "
    "shuffle join on orderkey (both sides pruned), one 3-row partial+ "
    "final aggregate. Integer CASE sums are exact everywhere.",
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, "orders", sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "q17_small_quantity_revenue",
    """
WITH cand AS (
  SELECT l_extendedprice, l_quantity,
         SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (PARTITION BY l_partkey) AS qty_sum,
         COUNT(*) OVER (PARTITION BY l_partkey) AS qty_cnt
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#7' AND p_type = 'PROMO'
)
SELECT CAST(ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 2)
            AS DOUBLE) AS avg_yearly
FROM cand
WHERE CAST(l_quantity AS DOUBLE) < 0.2 * (CAST(qty_sum AS DOUBLE) / qty_cnt)
""",
    doc="TPC-H Q17 small-quantity-order revenue: the correlated per-part "
    "AVG(l_quantity) threshold is a window sum/count over l_partkey — "
    "one pass, no re-scan of lineitem for the subquery. The average is "
    "exact-decimal-sum over exact-count divided once in IEEE double "
    "(identical operand bits cross-engine → identical threshold), and "
    "the brand/type filter broadcasts into lineitem before the window "
    "shuffle, so at 100 TB the windowed set is only the filtered "
    "part's lines. Single-row global aggregate at the end.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, "lineitem", sf_dir)
    part_f = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") == "Brand#7") & (F.col("p_type") == "PROMO")
    )
    w = Window.partitionBy("l_partkey")
    cand = (
        li.join(F.broadcast(part_f), li.l_partkey == part_f.p_partkey)
        .withColumn("qty_sum", F.sum(dec("l_quantity")).over(w))
        .withColumn("qty_cnt", F.count(F.lit(1)).over(w))
    )
    thr = F.lit(0.2) * (F.col("qty_sum").cast("double") / F.col("qty_cnt"))
    return cand.filter(F.col("l_quantity").cast("double") < thr).agg(
        F.round(F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0), 2)
        .cast("double")
        .alias("avg_yearly")
    )


@register(
    "q20_promotion_suppliers",
    """
SELECT s_name, n_name
FROM supplier JOIN nation ON n_nationkey = s_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'hot%')
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey, l_partkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > CAST(30 AS DECIMAL(12,2))
)
""",
    doc="TPC-H Q20 potential part promotion: IN-within-IN with a grouped "
    "HAVING between the levels — the part-name semi join prunes lineitem "
    "(broadcast, no duplication), the (suppkey,partkey) aggregate applies "
    "the exact-decimal volume threshold, and the surviving supplier keys "
    "semi-join back to supplier. Every join is a semi join, so no fact "
    "row is ever duplicated and the distinct-supplier set needs no "
    "DISTINCT. At 100 TB: broadcast prune → one grouped shuffle on "
    "(suppkey,partkey) → a tiny semi join against the supplier dim.",
)
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    part_hot = load_table(spark, "part", sf_dir).filter(F.col("p_name").like("hot%"))
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    qualified = (
        li.join(F.broadcast(part_hot), li.l_partkey == part_hot.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
        .filter(F.col("qty") > F.lit(30).cast("decimal(12,2)"))
        .select("l_suppkey")
    )
    return (
        supp.join(qualified, supp.s_suppkey == qualified.l_suppkey, "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
    )


@register(
    "q21_waiting_suppliers",
    """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
  AND s_nationkey = n_nationkey
  AND n_name = 'NATION_7'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
    doc="TPC-H Q21 suppliers-who-kept-orders-waiting: the last genuinely "
    "distinct TPC-H plan shape — a DOUBLE correlated self-reference on "
    "the same fact (EXISTS another supplier in the order AND NOT EXISTS "
    "another LATE supplier) + dim filter + top-100. Adaptation to the "
    "driver schema (no l_receiptdate/l_commitdate): 'late' = returned "
    "(l_returnflag = 'R'), finalized orders o_orderstatus = 'F'. The "
    "oracle keeps the literal EXISTS/NOT-EXISTS form; the Spark plan "
    "collapses both correlated subqueries into ONE per-orderkey "
    "aggregate — n_supp>=2 IS the EXISTS, n_late_supp=1 IS the "
    "NOT-EXISTS (l1 is itself late, so the late-supplier set equals "
    "{l1.suppkey} iff its size is 1), and SUM(n_late_rows) reproduces "
    "COUNT(*) over l1 rows exactly. At 100 TB: lineitem is scanned ONCE "
    "and shuffled ONCE on l_orderkey (where the textbook plan re-scans "
    "the fact twice for the two correlated subqueries); everything "
    "downstream is order-cardinality, the supplier/nation dims "
    "broadcast, and the final top-100 is a tiny ordered limit.",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    late = F.col("l_returnflag") == "R"
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
        F.sum(F.when(late, 1).otherwise(0)).alias("n_late_rows"),
        # well-defined: only read under the n_late_supp = 1 filter, where
        # the MIN over a single distinct suppkey IS that supplier
        F.min(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
    )
    orders_f = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir).filter(F.col("n_name") == "NATION_7")
    qualifying = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    ).join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    return (
        qualifying.join(F.broadcast(supp), F.col("late_supp") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .groupBy("s_name")
        .agg(F.sum("n_late_rows").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
