"""Relational operator queries over the TPC-H-ish tables (SURVEY.md §2.2).

Coverage: broadcast/shuffle joins, semi/anti, range (theta), as-of;
hash aggregation, rollup/cube/grouping sets, exact+approx distinct;
ranking/analytic windows; sort/limit top-k; set operations; scalar
string/json/datetime functions; sessionization; tumbling windows; dedup.

All aggregates follow the cross-engine determinism rules in
logflow/queries/__init__.py (decimal-exact sums → round → double).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logflow.functions.hashing import md5_int
from logflow.functions.money import dec, money
from logflow.operators.joins import asof_join, broadcast_dim_join
from logflow.queries import register
from logflow.sources.tables import load_table


def _ratio(num: F.Column, den: F.Column, ndigits: int = 4) -> F.Column:
    """Exact numerator/denominator → identical IEEE quotient → round."""
    return F.round(num.cast("double") / den.cast("double"), ndigits)


# --------------------------------------------------------------------------
# Aggregation: TPC-H Q1-style pricing summary (hash agg, partial+final)
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
SELECT l_returnflag,
       l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))
                      * CAST(1 + l_tax AS DECIMAL(4,2))), 2) AS DOUBLE) AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 pricing summary: filter→hash agg w/ partial aggregation",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    price = dec("l_extendedprice")
    disc_f = (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)")
    tax_f = (F.lit(1.0) + F.col("l_tax")).cast("decimal(4,2)")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money(F.sum(dec("l_quantity"))).alias("sum_qty"),
            money(F.sum(price)).alias("sum_base_price"),
            money(F.sum(price * disc_f)).alias("sum_disc_price"),
            money(F.sum(price * disc_f * tax_f)).alias("sum_charge"),
            _ratio(F.sum(dec("l_quantity")), n).alias("avg_qty"),
            _ratio(F.sum(price), n).alias("avg_price"),
            _ratio(F.sum(F.col("l_discount").cast("decimal(8,2)")), n).alias("avg_disc"),
            n.cast("long").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    """
SELECT l_orderkey,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
       o_orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
    doc="TPC-H Q3: fact⋈fact⋈dim joins + agg + deterministic top-10",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    revenue = F.sum(dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(money(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "q5_local_revenue",
    """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY n_name
""",
    doc="TPC-H Q5-style multi-way join (2 facts + 4 broadcast dims) + agg",
)
def q5_local_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name").isin("ASIA", "EUROPE"))
    revenue = F.sum(dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), (li.l_suppkey == supp.s_suppkey) & (supp.s_nationkey == cust.c_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        money(revenue).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "join_broadcast_dims",
    """
SELECT r_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    doc="Broadcast hash join chain: fact ⋈ dim ⋈ dim, zero fact shuffle before agg",
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    dim = broadcast_dim_join(nation, region, nation.n_regionkey == region.r_regionkey)
    return (
        broadcast_dim_join(cust, dim, cust.c_nationkey == dim.n_nationkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money(F.sum(dec("c_acctbal"))).alias("total_acctbal"),
        )
    )


@register(
    "join_semi_buyers",
    """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_buyers
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
)
GROUP BY c_mktsegment
""",
    doc="Left-semi join: customers with ≥1 recent order",
)
def join_semi_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_buyers"))
    )


@register(
    "join_anti_dormant",
    """
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_dormant
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1998-07-01')
GROUP BY n_name
""",
    doc="Left-anti join: customers DORMANT since 1998-07 (no order in the "
    "trailing ~3y of the 1995-2001 order history), per nation. The anti "
    "window is deliberately NARROWER than the full history: every customer "
    "has some order ever, so an unwindowed anti join is degenerate-empty "
    "(0 rows at sf0.01, r11 verdict item 2 / the CLAUDE.md anti-vs-exists "
    "rule); the 1998-07 cutoff is non-degenerate at sf0.001/0.01/0.1 "
    "(4/10/154 dormant customers probed). At 100 TB the dated predicate "
    "pushes into the orders scan before the anti-join shuffle.",
)
def join_anti_dormant(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        # NTZ column: the literal must be TIMESTAMP_NTZ or coercion goes
        # through the vanilla session's timezone (CLAUDE.md)
        F.expr("o_orderdate >= TIMESTAMP_NTZ'1998-07-01 00:00:00'")
    )
    nation = load_table(spark, "nation", sf_dir)
    dormant = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return (
        broadcast_dim_join(dormant, nation, dormant.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_dormant"))
    )


@register(
    "join_range_bands",
    """
WITH bands(band, lo, hi) AS (
  VALUES ('900-905', 900.0, 905.0), ('905-910', 905.0, 910.0),
         ('910-915', 910.0, 915.0), ('915-920', 915.0, 920.0)
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(ROUND(SUM(CAST(p_retailprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_price
FROM part
JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band
""",
    doc="Range (theta) join: band matching against a broadcast value table, "
    "executed via operators/joins.py:range_band_join — the binning rewrite "
    "that turns the non-equi predicate into a codegen'd broadcast HASH join "
    "(explode bands into fixed-width bins, equi-join on floor(value/width), "
    "re-check the exact range residual). The naive BroadcastNestedLoopJoin "
    "evaluates every band predicate per fact row with no codegen'd key — "
    "O(|fact|·|bands|); the binned form is one hash probe per row, the plan "
    "shape that survives 100 TB of facts and thousands of bands.",
)
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.joins import range_band_join

    part = load_table(spark, "part", sf_dir)
    bands = spark.createDataFrame(
        [("900-905", 900.0, 905.0), ("905-910", 905.0, 910.0),
         ("910-915", 910.0, 915.0), ("915-920", 915.0, 920.0)],
        "band string, lo double, hi double",
    )
    return (
        range_band_join(part, bands, value="p_retailprice")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            money(F.sum(dec("p_retailprice"))).alias("total_price"),
        )
    )


@register(
    "join_asof_purchase_click",
    """
SELECT p.event_id,
       c.event_id AS click_event_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
    doc="As-of join: each purchase matched to the user's latest prior click "
    "(union+window implementation — one shuffle, no range explosion)",
)
def join_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    out = asof_join(purchases, clicks, on=["user_id"], left_ts="ts", right_ts="ts",
                    right_cols=["event_id"])
    return out.select(
        F.col("event_id"),
        F.col("event_id_right").alias("click_event_id"),
        # timestamp_diff, not unix_micros: works on both TIMESTAMP layouts
        # the driver has shipped (r1 nanos→LTZ conversion, r2 native NTZ).
        F.timestamp_diff("MICROSECOND", F.col("ts_right"), F.col("ts")).alias("gap_us"),
    )


# --------------------------------------------------------------------------
# Windows
# --------------------------------------------------------------------------


@register(
    "window_top3_orders_per_customer",
    """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
  FROM orders
) WHERE rn <= 3
""",
    doc="Ranking window: top-3 orders per customer (row_number, unique tiebreak)",
)
def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "window_running_spend",
    """
SELECT o_custkey, o_orderkey,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w, 2) AS DOUBLE) AS cum_spend,
       LAG(o_totalprice) OVER w AS prev_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    doc="Analytic window: running decimal-exact spend + lag, explicit row frame",
)
def window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_nof = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w_nof).cast("long").alias("order_seq"),
        F.round(F.sum(dec("o_totalprice")).over(w), 2).cast("double").alias("cum_spend"),
        F.lag("o_totalprice").over(w_nof).alias("prev_price"),
    )


@register(
    "join_full_outer_daily",
    """
WITH o AS (
  SELECT date_trunc('day', o_orderdate) AS d, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-07-01 00:00:00' GROUP BY 1
),
l AS (
  SELECT date_trunc('day', l_shipdate) AS d, CAST(COUNT(*) AS BIGINT) AS n_ships
  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-07-01 00:00:00' GROUP BY 1
)
SELECT COALESCE(o.d, l.d) AS d, n_orders, n_ships
FROM o FULL OUTER JOIN l ON o.d = l.d
""",
    doc="Full outer join: daily order counts vs daily ship counts — the tail "
    "dates exist on only one side, exercising null rows from both inputs",
)
def join_full_outer_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") >= F.lit("1998-07-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_shipdate") >= F.lit("1998-07-01 00:00:00").cast("timestamp")
    )
    o = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    l = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.count(F.lit(1)).alias("n_ships")
    )
    return (
        o.join(l, o.d == l.d, "full")
        .select(F.coalesce(o.d, l.d).alias("d"), "n_orders", "n_ships")
    )


@register(
    "window_lead_gap",
    """
SELECT event_id, user_id, event_type,
       LEAD(event_type) OVER w AS next_type,
       epoch_us(LEAD(ts) OVER w) - epoch_us(ts) AS gap_to_next_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    doc="Analytic window (lead): next event type + time-to-next per user, "
    "unique (ts, event_id) tiebreak for cross-engine determinism",
)
def window_lead_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        F.timestamp_diff("MICROSECOND", F.col("ts"), F.lead("ts").over(w)).alias(
            "gap_to_next_us"
        ),
    )


@register(
    "events_sliding_2h",
    """
WITH expanded AS (
  SELECT unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
         value
  FROM events
)
SELECT win_start,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
FROM expanded
GROUP BY win_start
""",
    doc="Sliding window (batch form of the streaming op): 2h windows sliding "
    "1h — each event lands in exactly two windows; Spark's window() vs an "
    "explicit unnest-of-starts mirror in the oracle",
)
def events_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("win_start"), "n", "sum_value")
    )


# --------------------------------------------------------------------------
# Grouping sets / rollup / cube / distinct
# --------------------------------------------------------------------------


@register(
    "agg_rollup_lineitem",
    """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    doc="ROLLUP aggregation with grouping-id disambiguation",
)
def agg_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        money(F.sum(dec("l_quantity"))).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_cube_orders",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="CUBE aggregation over two dimensions",
)
def agg_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        money(F.sum(dec("o_totalprice"))).alias("total"),
    )


@register(
    "agg_grouping_sets",
    """
SELECT c_mktsegment, c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_bal
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
""",
    doc="GROUPING SETS via the SQL surface",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "customer", sf_dir).createOrReplaceTempView("lf_customer_gs")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_bal
        FROM lf_customer_gs
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


@register(
    "agg_distinct_per_segment",
    """
SELECT c_mktsegment,
       CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(ROUND(MIN(c_acctbal), 2) AS DOUBLE) AS min_bal,
       CAST(ROUND(MAX(c_acctbal), 2) AS DOUBLE) AS max_bal
FROM customer
GROUP BY c_mktsegment
""",
    doc="Exact distinct aggregation (expand+two-phase under the hood)",
)
def agg_distinct_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    return cust.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.min("c_acctbal"), 2).cast("double").alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).cast("double").alias("max_bal"),
    )


@register(
    "agg_approx_distinct",
    None,  # HLL sketches differ across engines by design → rows-only check
    doc="approx_count_distinct (HyperLogLog++) — the 100TB-scale path for "
    "distinct counts; validated against exact counts in tests, not the oracle",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_customers"),
        F.countDistinct("o_custkey").alias("exact_customers"),
    )


# --------------------------------------------------------------------------
# Sort / limit / set ops / dedup
# --------------------------------------------------------------------------


@register(
    "topk_orders",
    """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
    doc="Global top-k: TakeOrderedAndProject, not a full sort",
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "setops_customer_cohorts",
    """
WITH buyers AS (SELECT DISTINCT o_custkey AS k FROM orders),
     rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000)
SELECT
  CAST((SELECT COUNT(*) FROM (SELECT k FROM buyers INTERSECT SELECT k FROM rich)) AS BIGINT) AS n_rich_buyers,
  CAST((SELECT COUNT(*) FROM (SELECT k FROM rich EXCEPT SELECT k FROM buyers)) AS BIGINT) AS n_rich_dormant,
  CAST((SELECT COUNT(*) FROM (SELECT k FROM buyers UNION SELECT k FROM rich)) AS BIGINT) AS n_either
""",
    doc="Set operations: INTERSECT / EXCEPT / UNION-distinct cohort counts",
)
def setops_customer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    buyers = orders.select(F.col("o_custkey").alias("k")).distinct()
    rich = cust.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("k"))
    a = buyers.intersect(rich).agg(F.count(F.lit(1)).alias("n_rich_buyers"))
    b = rich.exceptAll(buyers).distinct().agg(F.count(F.lit(1)).alias("n_rich_dormant"))
    c = buyers.union(rich).distinct().agg(F.count(F.lit(1)).alias("n_either"))
    return a.crossJoin(b).crossJoin(c)


@register(
    "dedup_first_event",
    """
SELECT user_id, event_type, event_id, ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1
""",
    doc="Deterministic keyed dedup: keep lowest event_id per (user, type) — "
    "the order-stable form of dropDuplicates",
)
def dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


# --------------------------------------------------------------------------
# Scalar functions: string / json / datetime
# --------------------------------------------------------------------------


@register(
    "scalar_string_suite",
    """
SELECT n_name,
       upper(n_name) AS uname,
       substr(n_name, 1, 3) AS prefix,
       CAST(length(n_name) AS BIGINT) AS name_len,
       reverse(n_name) AS rname,
       md5(n_name) AS name_md5,
       regexp_extract(n_name, '([0-9]+)', 1) AS nation_num,
       lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS padded_key,
       replace(n_name, '_', '-') AS dashed
FROM nation
""",
    doc="Scalar string functions: case/substr/length/reverse/md5/regexp/pad/replace",
)
def scalar_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, "nation", sf_dir)
    return nation.select(
        "n_name",
        F.upper("n_name").alias("uname"),
        F.substring("n_name", 1, 3).alias("prefix"),
        F.length("n_name").cast("long").alias("name_len"),
        F.reverse(F.col("n_name")).alias("rname"),
        F.md5(F.col("n_name").cast("binary")).alias("name_md5"),
        F.regexp_extract("n_name", "([0-9]+)", 1).alias("nation_num"),
        F.lpad(F.col("n_nationkey").cast("string"), 4, "0").alias("padded_key"),
        F.replace(F.col("n_name"), F.lit("_"), F.lit("-")).alias("dashed"),
    )


@register(
    "scalar_json_props",
    """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
""",
    doc="JSON extraction on the events.props payload (get_json_object)",
)
def scalar_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "scalar_datetime_monthly",
    """
SELECT date_trunc('month', o_orderdate) AS month,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
       CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
GROUP BY 1, 2, 3
""",
    doc="Datetime functions: date_trunc + extract + monthly aggregation",
)
def scalar_datetime_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.year("o_orderdate").cast("long").alias("yr"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


# --------------------------------------------------------------------------
# Event-time: tumbling windows + sessionization (batch forms)
# --------------------------------------------------------------------------


@register(
    "events_tumbling_hourly",
    """
SELECT date_trunc('hour', ts) AS hour_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    doc="Tumbling event-time window (window() over batch; streaming form in "
    "logflow.streaming shares the expression)",
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money(F.sum(dec("value"))).alias("total_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type", "n", "total_value")
    )


@register(
    "sessionize_events",
    """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, event_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       CAST(MAX(session_id) AS BIGINT) AS n_sessions,
       CAST(SUM(events_in_session) AS BIGINT) AS n_events,
       CAST(MAX(events_in_session) AS BIGINT) AS max_session_events
FROM (
  SELECT user_id, session_id, COUNT(*) AS events_in_session
  FROM sessions GROUP BY user_id, session_id
) s
GROUP BY user_id
""",
    doc="Sessionization: 30-min-gap sessions via lag + running sum (batch "
    "analog of session_window; streaming form in logflow.streaming)",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts"))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > 1800 * 1000 * 1000), 1).otherwise(0),
    )
    sess = flagged.withColumn("session_id", F.sum("new_session").over(wrun))
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("events_in_session")
    )
    return per_session.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.sum("events_in_session").cast("long").alias("n_events"),
        F.max("events_in_session").cast("long").alias("max_session_events"),
    )


# --------------------------------------------------------------------------
# Pivot / percentile / range frame / codec / collect
# --------------------------------------------------------------------------


@register(
    "agg_pivot_event_types",
    """
SELECT date_trunc('day', ts) AS day,
       CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS click,
       CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS error,
       CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(COUNT(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
       CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS view
FROM events
GROUP BY day
""",
    doc="Pivot aggregation: daily event counts, one column per event type. "
    "Explicit pivot value list keeps the output schema fixed (no extra "
    "distinct-scan job, and stable columns at any SF); nulls filled to 0 to "
    "match conditional-aggregation semantics.",
)
def agg_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    piv = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )
    return piv.select("day", *[F.col(t).cast("long").alias(t) for t in types])


@register(
    "agg_percentile_value",
    """
SELECT event_type,
       ROUND(quantile_cont(CAST(value AS DOUBLE), 0.5), 3) AS p50,
       ROUND(quantile_cont(CAST(value AS DOUBLE), 0.9), 3) AS p90,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
""",
    doc="Exact interpolated percentiles (percentile_cont semantics) per "
    "group. Exact percentile requires a per-group sort — fine for low-"
    "cardinality groups; the 100TB path is approx_percentile (t-digest), "
    "validated against this in tests.",
)
def agg_percentile_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    v = F.col("value").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile(v, F.lit(0.5)), 3).alias("p50"),
        F.round(F.percentile(v, F.lit(0.9)), 3).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "window_range_7day_revenue",
    """
SELECT o_orderkey, o_custkey,
       CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS day,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
           PARTITION BY o_custkey
           ORDER BY CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT)
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS rev_7d
FROM orders
""",
    doc="RANGE-frame analytic window: per-customer trailing-7-day revenue. "
    "rangeBetween on epoch-day (value-based frame, peers included) — "
    "deterministic without tiebreaks, unlike ROWS frames.",
)
def window_range_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    # timestamp_diff, not unix_timestamp: NTZ-safe epoch-day on any driver
    # timezone (see retention_weekly_cohorts).
    epoch = F.lit("1970-01-01 00:00:00").cast(
        orders.schema["o_orderdate"].dataType.simpleString()
    )
    day = F.floor(F.timestamp_diff("SECOND", epoch, F.col("o_orderdate")) / 86400).cast("long")
    w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-6, 0)
    return (
        orders.withColumn("day", day)
        .select(
            "o_orderkey",
            "o_custkey",
            "day",
            F.round(F.sum(dec("o_totalprice")).over(w), 2).cast("double").alias("rev_7d"),
        )
    )


@register(
    "scalar_codec_int_serde",
    """
SELECT event_id,
       lpad(to_hex(CAST(event_id % 1000000 AS INT)), 8, '0') AS wire_hex,
       CAST(event_id % 1000000 AS INT) AS decoded
FROM events
""",
    doc="Kafka IntegerSerde wire codec (reference TestProducer.java:25, "
    "application.yml:20-21): int -> 4-byte big-endian binary -> int "
    "roundtrip with builtin expressions only (hex/lpad/to_binary/conv) — "
    "no Python UDF on the deserialization path.",
)
def scalar_codec_int_serde(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.functions.codec import int_be_decode, int_be_encode

    ev = load_table(spark, "events", sf_dir)
    v = (F.col("event_id") % 1000000).cast("int")
    wire = int_be_encode(v)
    return ev.select(
        "event_id",
        F.hex(wire).alias("wire_hex"),
        int_be_decode(wire).alias("decoded"),
    )


@register(
    "agg_collect_user_journey",
    """
SELECT user_id,
       string_agg(event_type, ',' ORDER BY event_type) AS journey,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
""",
    doc="Collect aggregation (the trace-reassembly primitive, SURVEY.md Q2): "
    "collect_list + full value sort + array_join — value-sorted so the "
    "result is order-insensitive to shuffle nondeterminism.",
)
def agg_collect_user_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_list("event_type")), ",").alias("journey"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --------------------------------------------------------------------------
# Subqueries (Catalyst rewrites: EXISTS/IN -> semi join, correlated scalar
# -> aggregate + join) — expressed through spark.sql so the optimizer's
# subquery planning is what's under test, not a hand-done de-correlation.
# --------------------------------------------------------------------------


def _register_views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    for t in tables:
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)


@register(
    "subquery_exists_late_orders",
    """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4-style correlated EXISTS (orders with a line shipped >60 "
    "days after the order date). Catalyst rewrites the subquery into a "
    "left-semi join on l_orderkey with the non-equi ship-date predicate as "
    "the join residual — no per-row re-execution, one shuffle on the key.",
)
def subquery_exists_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAYS
        )
        GROUP BY o_orderpriority
        """
    )


@register(
    "subquery_scalar_small_orders",
    """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) / 7.0, 2) AS DOUBLE)
       AS avg_yearly
FROM lineitem l1
WHERE l_quantity < (
    SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = l1.l_partkey
)
""",
    doc="TPC-H Q17-style correlated scalar subquery (lines under 20% of the "
    "part's average quantity). Catalyst de-correlates into a per-partkey "
    "aggregate joined back to lineitem (one scan + one shuffle each side). "
    "l_quantity is integral (1..50) so AVG is FP-exact in any summation "
    "order — the threshold compare is cross-engine deterministic.",
)
def subquery_scalar_small_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) / 7.0, 2) AS DOUBLE)
               AS avg_yearly
        FROM lineitem l1
        WHERE l_quantity < (
            SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l1.l_partkey
        )
        """
    )


@register(
    "subquery_in_supplier_nations",
    """
SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_nationkey IN (
    SELECT s_nationkey FROM supplier GROUP BY s_nationkey HAVING COUNT(*) >= 3
)
GROUP BY n_name
""",
    doc="IN-subquery over an aggregated set (customers in nations having "
    ">=3 suppliers). Catalyst plans the IN as a left-semi join against the "
    "tiny HAVING result, which AQE turns into a broadcast; nation dim join "
    "is broadcast too — zero large-side shuffles before the final agg.",
)
def subquery_in_supplier_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir, "customer", "nation", "supplier")
    return spark.sql(
        """
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_nationkey IN (
            SELECT s_nationkey FROM supplier GROUP BY s_nationkey HAVING COUNT(*) >= 3
        )
        GROUP BY n_name
        """
    )


# --------------------------------------------------------------------------
# Array/map scalar suite, ntile/cume analytics, unpivot
# --------------------------------------------------------------------------


@register(
    "scalar_array_map_suite",
    """
SELECT event_id,
       CAST(list_aggregate(list_transform(range(1, n + 1), x -> x * x), 'sum')
            AS BIGINT) AS sum_sq,
       array_to_string(list_transform(range(1, n + 1), x -> CAST(x AS VARCHAR)),
                       ',') AS csv,
       CAST(list_filter(range(1, n + 1), x -> x % 2 = 0)[1] AS BIGINT)
            AS first_even,
       element_at(map([event_type], [CAST(value AS DOUBLE)]), event_type)[1]
            AS tagged_value
FROM (SELECT event_id, event_type, value, event_id % 5 + 1 AS n FROM events)
""",
    doc="Array/map higher-order scalar suite (the headers/tags/MDC plane of "
    "SURVEY.md §1.2): sequence -> transform -> aggregate fold, filter + "
    "try_element_at (null on empty), array_join, and map build/extract — "
    "all builtin JVM expressions inside whole-stage codegen, no UDF.",
)
def scalar_array_map_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    n = (F.col("event_id") % 5 + 1).cast("int")
    arr = F.sequence(F.lit(1), n)
    sum_sq = F.aggregate(
        F.transform(arr, lambda x: x * x), F.lit(0).cast("long"), lambda a, x: a + x
    )
    evens = F.filter(arr, lambda x: x % 2 == F.lit(0))
    tag_map = F.create_map(F.col("event_type"), F.col("value").cast("double"))
    return ev.select(
        "event_id",
        sum_sq.alias("sum_sq"),
        F.array_join(F.transform(arr, lambda x: x.cast("string")), ",").alias("csv"),
        F.try_element_at(evens, F.lit(1)).cast("long").alias("first_even"),
        F.try_element_at(tag_map, F.col("event_type")).alias("tagged_value"),
    )


@register(
    "window_ntile_cume",
    """
SELECT o_orderkey,
       o_orderpriority,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
""",
    doc="Distribution analytics (ntile / percent_rank / cume_dist) per "
    "priority class, unique-key tiebreak for determinism. Single window "
    "spec -> one shuffle + one sort shared by all three functions.",
)
def window_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "unpivot_returnflag_measures",
    """
WITH agg AS (
  SELECT l_returnflag,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_price,
         CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(8,2))), 2) AS DOUBLE) AS sum_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty'   AS measure, sum_qty   AS value FROM agg
UNION ALL
SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM agg
UNION ALL
SELECT l_returnflag, 'sum_disc'  AS measure, sum_disc  AS value FROM agg
""",
    doc="Unpivot (wide->long melt) of per-returnflag measures via the native "
    "df.unpivot operator — single Expand node over the aggregated frame, "
    "not three re-scans like the UNION ALL formulation.",
)
def unpivot_returnflag_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    agg = li.groupBy("l_returnflag").agg(
        money(F.sum(dec("l_quantity"))).alias("sum_qty"),
        money(F.sum(dec("l_extendedprice"))).alias("sum_price"),
        money(F.sum(F.col("l_discount").cast("decimal(8,2)"))).alias("sum_disc"),
    )
    return agg.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="measure",
        valueColumnName="value",
    )


@register(
    "join_salted_skew",
    """
WITH cust_orders AS (
  SELECT o_custkey AS user_id, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(n_orders) AS BIGINT) AS total_orders
FROM events JOIN cust_orders USING (user_id)
GROUP BY event_type
""",
    doc="Skew-resilient salted equi-join (events probe side salted by row "
    "hash, per-customer order counts replicated x8) — semantically the "
    "plain inner join (that's the oracle), physically a join on "
    "(user_id, salt) that spreads any hot user over 8 reducers. The "
    "explicit form of what AQE skew-split does when it can see the skew; "
    "needed when skew appears after a prior stage. operators/joins.py.",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.joins import salted_join

    ev = load_table(spark, "events", sf_dir).select("user_id", "event_type")
    cust_orders = (
        load_table(spark, "orders", sf_dir)
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    j = salted_join(ev, cust_orders, on=["user_id"], salt=8)
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("n_orders").cast("long").alias("total_orders"),
    )


@register(
    "join_bucketed_revenue",
    """
SELECT o_orderkey,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
    doc="Bucketed co-located fact⋈fact join (operators/joins.py:bucketed_join): "
    "both sides written bucketBy(8, orderkey)+sortBy, then SMJ with ZERO "
    "Exchange on either side AND the groupBy(orderkey) reuses the bucket "
    "partitioning; the top-10 runs as TakeOrderedAndProject, so the executed "
    "plan has ZERO Exchange nodes (asserted in tests). "
    "Bucketing is physical, not semantic, so the oracle is the plain join. "
    "The 100 TB pattern: pay the shuffle once at ingest, amortize over every "
    "later join/agg on the same key.",
)
def join_bucketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.joins import bucketed_join

    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("orderkey"), "o_orderdate"
    )
    j = bucketed_join(spark, orders, li, on=["orderkey"], buckets=8, table_prefix="logflow_bjq")
    revenue = F.sum(dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)"))
    return (
        j.groupBy("orderkey")
        .agg(money(revenue).alias("revenue"), F.count(F.lit(1)).cast("long").alias("n_items"))
        .orderBy(F.desc("revenue"), "orderkey")
        .limit(10)
        .select(F.col("orderkey").alias("o_orderkey"), "revenue", "n_items")
    )


@register(
    "scan_partition_pruned",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
GROUP BY event_type
""",
    doc="Directory-level partition pruning: events re-laid-out as "
    "dt=YYYY-MM-DD parquet partitions (the standard time-partitioned "
    "ingest layout), then a one-week predicate on the partition column. "
    "Pruning happens at PLANNING time — the scan's PartitionFilters "
    "eliminate ~23 of 30 day-directories before any file IO (asserted in "
    "tests/test_relational.py), which at 100 TB is the difference between "
    "reading a week and reading a month. The layout write is part of the "
    "query (pay-once ingest, like the bucketed join); the oracle checks "
    "the equivalent predicate on raw ts.",
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.sources.derived import derived_cache

    ev = load_table(spark, "events", sf_dir, parallelize=False)
    base = derived_cache(
        sf_dir,
        "prune",
        ["events"],
        lambda d: ev.withColumn("dt", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("dt")
        .parquet(d),
    )
    pruned = spark.read.parquet(base).filter(
        (F.col("dt") >= F.lit("2024-01-08").cast("date"))
        & (F.col("dt") <= F.lit("2024-01-14").cast("date"))
    )
    return pruned.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("dt").cast("long").alias("n_days"),
    )


# --------------------------------------------------------------------------
# TPC-H widening: Q6/Q10/Q14/Q16/Q18/Q19 adapted to the available columns
# --------------------------------------------------------------------------


@register(
    "q6_forecast_revenue",
    """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6 forecast-revenue: conjunctive range predicates on three "
    "columns, all pushed to the parquet scan (PushedFilters), then a "
    "single global agg with map-side partials. At 100 TB this is the "
    "canonical scan-bound query — cost is IO after pruning, zero shuffle "
    "beyond the 1-row final agg.",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        money(F.sum(dec("l_extendedprice") * F.col("l_discount").cast("decimal(4,2)"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


@register(
    "q10_returned_items",
    """
SELECT c_custkey,
       c_name,
       n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    doc="TPC-H Q10 returned-item reporting: fact⋈fact shuffle join with the "
    "returnflag + date-range filters pushed below both joins, tiny nation "
    "dim broadcast, deterministic top-20 via TakeOrdered (no full sort).",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, "nation", sf_dir)
    revenue = F.sum(dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(money(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    )


@register(
    "q14_promo_effect",
    """
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(1 - l_discount AS DECIMAL(4,2))
                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE), 4)
         AS promo_revenue_pct,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
""",
    doc="TPC-H Q14 promotion effect: conditional aggregation (CASE inside "
    "SUM) over a broadcast join with the small part dim — the fact side "
    "never shuffles; one month of lineitem reduced map-side to two "
    "decimal partials per task.",
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_type")
    disc_price = dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)")
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0) * F.sum(promo).cast("double") / F.sum(disc_price).cast("double"), 4
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


@register(
    "q16_part_supplier_stats",
    """
SELECT p_brand,
       p_type,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
GROUP BY p_brand, p_type
""",
    doc="TPC-H Q16-style part/supplier stats: distinct aggregation after a "
    "broadcast dim join, with the brand/size predicates applied to the "
    "broadcast side BEFORE the join (dim filtered to ~1/7th). "
    "countDistinct expands to a two-phase partial-distinct plan — the "
    "expensive exact-distinct shuffle is on (brand,type,suppkey), never "
    "the raw fact rows.",
)
def q16_part_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load_table(spark, "part", sf_dir)
        .filter((F.col("p_brand") != "Brand#13") & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        .select("p_partkey", "p_brand", "p_type")
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(
            F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


@register(
    "q18_large_volume_customers",
    """
WITH big AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250
)
SELECT c_custkey,
       c_name,
       o_orderkey,
       o_orderdate,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate
ORDER BY total_qty DESC, o_orderkey
LIMIT 50
""",
    doc="TPC-H Q18 large-volume customers: HAVING-filtered aggregate used "
    "implemented as a per-order window sum + filter: ONE lineitem scan "
    "and ONE full-row shuffle on l_orderkey, whose partitioning the "
    "subsequent orders join then REUSES (no re-shuffle). The textbook "
    "agg+semi-join shape scans the fact twice and shuffles it twice "
    "(partial-agg + join); since the join needs the full surviving rows "
    "shuffled on the same key anyway, the window form strictly dominates "
    "— measured 1.6 s vs 2.5 s at sf0.1, and the advantage grows with "
    "scan cost. The HAVING-CTE oracle is the semantic spec.",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    w = Window.partitionBy("l_orderkey")
    big_items = li.withColumn("oq", F.sum(dec("l_quantity")).over(w)).filter(
        F.col("oq") > 250
    )
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    return (
        big_items.join(orders, big_items.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate")
        .agg(money(F.sum(dec("l_quantity"))).alias("total_qty"))
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(50)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
    )


@register(
    "q19_disjunctive_revenue",
    """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
""",
    doc="TPC-H Q19 disjunctive-predicate revenue: OR-of-ANDs mixing join-side "
    "and fact-side columns. Catalyst extracts the common single-side "
    "residuals (brand IN (...) onto the broadcast dim, quantity BETWEEN "
    "1 AND 30 onto the fact scan as PushedFilters) so both inputs shrink "
    "before the join evaluates the full disjunction.",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(
        money(F.sum(dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


@register(
    "q15_top_supplier",
    """
WITH rev AS (
  SELECT l_suppkey,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
""",
    doc="TPC-H Q15 top supplier: scalar subquery over an aggregate CTE "
    "referenced twice (revenue per supplier, then the max of it). Spark "
    "plans the uncorrelated scalar subquery as an independent 1-row "
    "stage reused as a literal in the filter; the CTE is evaluated per "
    "reference (cheap here — supplier-cardinality aggregate). Equality "
    "on the rounded decimal-sum double is exact cross-engine. "
    "spark.sql path: subquery DECORRELATION is the operator under test.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(
        """
        WITH rev AS (
          SELECT l_suppkey,
                 CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                                * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
                   AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        """
    )


@register(
    "subquery_exists_not_exists",
    """
SELECT s_suppkey, s_name
FROM supplier s
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_suppkey = s.s_suppkey AND l.l_returnflag = 'R'
                AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00')
  AND NOT EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_suppkey = s.s_suppkey AND l.l_returnflag = 'A'
                    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                    AND l.l_shipdate <  TIMESTAMP '1996-02-01 00:00:00')
""",
    doc="TPC-H Q21-style combined correlation: suppliers with a returned "
    "('R') 1996 shipment and a CLEAN JANUARY 1996 (zero 'A' shipments "
    "that month; the full-year anti window was degenerate-empty on the "
    "regenerated seed — every R-supplier also shipped an A that year) — "
    "EXISTS and NOT EXISTS against the same fact, which Catalyst "
    "decorrelates into one left-semi and one left-anti join over the "
    "filtered scan. Both probes push their returnflag+date predicates "
    "into the parquet scan; the supplier side stays broadcast-small.",
)
def subquery_exists_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir, "supplier", "lineitem")
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier s
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_suppkey = s.s_suppkey AND l.l_returnflag = 'R'
                        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                        AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00')
          AND NOT EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_suppkey = s.s_suppkey AND l.l_returnflag = 'A'
                            AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                            AND l.l_shipdate <  TIMESTAMP '1996-02-01 00:00:00')
        """
    )


@register(
    "ks_click_purchase_drift",
    """
WITH s AS (
  SELECT user_id % 8 AS grp, value AS x,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_b
  FROM events WHERE event_type IN ('click', 'purchase')
),
c AS (
  SELECT grp, CAST(SUM(is_a) AS BIGINT) AS n_click,
         CAST(SUM(is_b) AS BIGINT) AS n_purchase
  FROM s GROUP BY grp
),
r AS (
  SELECT grp, x,
         SUM(is_a) OVER (PARTITION BY grp ORDER BY x
                         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(is_b) OVER (PARTITION BY grp ORDER BY x
                         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
  FROM s
),
k AS (
  SELECT r.grp,
         MAX(ABS(CAST(ca AS DOUBLE) / n_click - CAST(cb AS DOUBLE) / n_purchase)) AS m
  FROM r JOIN c ON r.grp = c.grp
  WHERE n_click > 0 AND n_purchase > 0
  GROUP BY r.grp
)
SELECT k.grp, c.n_click, c.n_purchase, ROUND(k.m, 4) AS ks
FROM k JOIN c ON k.grp = c.grp
""",
    doc="Per-bucket two-sample KS drift between click and purchase value "
    "distributions — the cogroup→applyInPandas surface "
    "(operators/distribution.py): both sides co-partition-shuffle once on "
    "the bucket key, the per-group numpy computes the exact max-CDF-gap "
    "with ties-as-peers semantics. The oracle is the equivalent "
    "window-SQL formulation (RANGE frames = peers included), proving the "
    "pandas algorithm bit-equal to the declarative one; cogroup is the "
    "escape hatch for per-key algorithms SQL can't express. Rounding is "
    "Spark-side F.round only (numpy emits the raw double).",
)
def ks_click_purchase_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.distribution import ks_distance_cogrouped

    ev = load_table(spark, "events", sf_dir)
    grp = F.pmod(F.col("user_id"), F.lit(8)).cast("long").alias("grp")
    clicks = ev.filter(F.col("event_type") == "click").select(grp, "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(grp, "value")
    ks = ks_distance_cogrouped(clicks, purchases, "grp", "value")
    return ks.select(
        "grp",
        F.col("n_a").alias("n_click"),
        F.col("n_b").alias("n_purchase"),
        F.round("ks_raw", 4).alias("ks"),
    )


# --------------------------------------------------------------------------
# Source formats beyond parquet: JSON and CSV landing-zone reads
# --------------------------------------------------------------------------


@register(
    "source_json_events",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(14,4))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
""",
    doc="JSON source connector: events written once to a JSON landing dir "
    "(the pay-once ingest pattern), then read back with an EXPLICIT "
    "schema — no inference pass, which at 100 TB would be a full extra "
    "scan of the landing zone. The aggregate proves lossless round-trip "
    "of longs, doubles, strings and ntz timestamps through JSON lines; "
    "the oracle reads the same rows from parquet.",
)
def source_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.sources.derived import derived_cache

    ev = load_table(spark, "events", sf_dir, parallelize=False)
    base = derived_cache(
        sf_dir, "json", ["events"], lambda d: ev.write.mode("overwrite").json(d)
    )
    js = spark.read.schema(ev.schema).json(base)
    return js.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        money(F.sum(F.col("value").cast("decimal(14,4)"))).alias("sum_value"),
    )


@register(
    "source_csv_orders",
    """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE) AS total_price
FROM orders
GROUP BY o_orderstatus
""",
    doc="CSV source connector: orders written once to a headered CSV "
    "landing dir, read back with an explicit schema (inference on CSV "
    "is a full extra scan at 100 TB — never rely on it) including an "
    "ntz timestamp column round-tripped through the default ISO format. "
    "The oracle reads the same rows from parquet.",
)
def source_csv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.sources.derived import derived_cache

    orders = load_table(spark, "orders", sf_dir, parallelize=False)
    base = derived_cache(
        sf_dir,
        "csv",
        ["orders"],
        lambda d: orders.write.mode("overwrite").option("header", "true").csv(d),
    )
    cs = spark.read.schema(orders.schema).option("header", "true").csv(base)
    return cs.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        money(F.sum(F.col("o_totalprice").cast("decimal(14,2)"))).alias("total_price"),
    )


@register(
    "source_orc_lineitem",
    """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))), 2) AS DOUBLE) AS total_price,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
    doc="ORC source connector (the third columnar landing format after "
    "parquet and the row formats): lineitem written once to an ORC dir "
    "via derived_cache (fingerprint-invalidated like the JSON/CSV "
    "siblings), read back with an explicit schema, and aggregated to "
    "prove lossless round-trip of doubles, strings and the ntz shipdate "
    "through ORC's own type system. The oracle reads the same rows from "
    "parquet — equality means the two columnar codecs agree bit-for-bit "
    "on this schema. At 100 TB: ORC scans get the same predicate "
    "pushdown/column pruning path as parquet in Spark, so the choice is "
    "an ecosystem question, not a plan-shape one.",
)
def source_orc_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.sources.derived import derived_cache

    li = load_table(spark, "lineitem", sf_dir, parallelize=False)
    base = derived_cache(
        sf_dir, "orc", ["lineitem"], lambda d: li.write.mode("overwrite").orc(d)
    )
    oc = spark.read.schema(li.schema).orc(base)
    return oc.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        money(F.sum(F.col("l_extendedprice").cast("decimal(14,2)"))).alias(
            "total_price"
        ),
        F.sum(F.col("l_quantity").cast("bigint")).cast("long").alias("total_qty"),
    )


@register(
    "source_binary_blobs",
    """
WITH s AS (
  SELECT source, string_agg(text, chr(10) ORDER BY doc_id) AS blob
  FROM documents WHERE doc_id < 200 GROUP BY source)
SELECT source,
       md5(blob) AS content_md5,
       CAST(strlen(blob) AS BIGINT) AS n_bytes
FROM s
""",
    doc="binaryFile source connector (the opaque-blob ingest path every "
    "multimodal pipeline starts from): a BOUNDED slice of documents "
    "(doc_id < 200 — the cap makes the landing collect O(1), not "
    "corpus-proportional) is landed once as one .bin file per source "
    "via derived_cache, then read back through Spark's binaryFile "
    "format. md5 over the raw content column proves the bytes survived "
    "the filesystem round-trip EXACTLY — the oracle recomputes the same "
    "md5 from the parquet rows, so equality is byte-level, not "
    "row-count-level. At 100 TB the landing step is a partitioned "
    "foreachPartition write, and binaryFile scans parallelize per file "
    "with no decode work on the executors until a downstream UDF asks "
    "for it (operators/multimodal.py consumes the same shape).",
)
def source_binary_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.sources.derived import derived_cache

    docs = load_table(spark, "documents", sf_dir, parallelize=False)

    def _land(d: str) -> None:
        rows = (
            docs.filter(F.col("doc_id") < 200)
            .groupBy("source")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                        lambda x: x["text"],
                    ),
                    "\n",
                ).alias("blob")
            )
            .collect()  # bounded by the doc_id < 200 slice, never corpus-sized
        )
        import os

        for r in rows:
            with open(os.path.join(d, f"{r['source']}.bin"), "wb") as fh:
                fh.write(r["blob"].encode("utf-8"))

    base = derived_cache(sf_dir, "blobs", ["documents"], _land)
    bf = spark.read.format("binaryFile").load(base)
    return bf.select(
        F.regexp_extract(F.col("path"), r"([^/]+)\.bin$", 1).alias("source"),
        F.md5(F.col("content")).alias("content_md5"),
        F.length(F.col("content")).cast("long").alias("n_bytes"),
    )


# --------------------------------------------------------------------------
# Warehouse maintenance: CDC apply, SCD2 intervals, agg-state merge
# --------------------------------------------------------------------------


@register(
    "cdc_apply_upsert",
    """
WITH changes AS (
  SELECT o_orderkey,
         MAX_BY(o_totalprice, o_orderdate) AS new_price,
         MAX_BY(o_orderstatus, o_orderdate) AS new_status,
         MAX(o_orderdate) AS change_ts
  FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  GROUP BY o_orderkey
),
base AS (
  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
)
SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
       CAST(ROUND(CAST(COALESCE(c.new_price, b.o_totalprice) AS DECIMAL(14,2)), 2)
            AS DOUBLE) AS price,
       COALESCE(c.new_status, b.o_orderstatus) AS status,
       (c.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL) AS updated,
       (b.o_orderkey IS NULL) AS inserted
FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
""",
    doc="CDC upsert apply (the MERGE INTO core without a table format): "
    "orders split into a base snapshot (pre-2000) and a change feed "
    "(2000+, collapsed to latest-change-per-key via max_by — the "
    "standard CDC compaction), then FULL OUTER join + coalesce produces "
    "the next snapshot with updated/inserted lineage flags. At 100 TB "
    "both sides hash-shuffle once on the key; with a bucketed base "
    "table the shuffle is one-sided (see join_bucketed_revenue). This "
    "is exactly how Delta/Iceberg MERGE executes under the hood.",
)
def cdc_apply_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cut = F.lit("2000-01-01 00:00:00").cast("timestamp")
    base = orders.filter(F.col("o_orderdate") < cut).alias("b")
    changes = (
        orders.filter(F.col("o_orderdate") >= cut)
        .groupBy("o_orderkey")
        .agg(
            F.max_by("o_totalprice", "o_orderdate").alias("new_price"),
            F.max_by("o_orderstatus", "o_orderdate").alias("new_status"),
            F.max("o_orderdate").alias("change_ts"),
        )
        .alias("c")
    )
    j = base.join(changes, F.col("b.o_orderkey") == F.col("c.o_orderkey"), "full_outer")
    return j.select(
        F.coalesce(F.col("b.o_orderkey"), F.col("c.o_orderkey")).alias("o_orderkey"),
        F.round(
            F.coalesce(F.col("c.new_price"), F.col("b.o_totalprice")).cast("decimal(14,2)"), 2
        )
        .cast("double")
        .alias("price"),
        F.coalesce(F.col("c.new_status"), F.col("b.o_orderstatus")).alias("status"),
        (F.col("c.o_orderkey").isNotNull() & F.col("b.o_orderkey").isNotNull()).alias("updated"),
        F.col("b.o_orderkey").isNull().alias("inserted"),
    )


@register(
    "scd2_customer_history",
    """
WITH ch AS (
  SELECT o_custkey AS custkey, o_orderdate AS valid_from, o_orderpriority AS attr,
         o_orderkey
  FROM orders
),
v AS (
  SELECT custkey, valid_from, attr,
         LEAD(valid_from) OVER (PARTITION BY custkey
                                ORDER BY valid_from, o_orderkey) AS valid_to
  FROM ch
)
SELECT custkey,
       CAST(COUNT(*) AS BIGINT) AS n_versions,
       CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       MIN(valid_from) AS first_from,
       MAX(valid_from) AS last_from
FROM v
GROUP BY custkey
""",
    doc="SCD Type-2 dimension build: each per-customer change event opens a "
    "version row whose validity closes at the NEXT change (lead() over "
    "the per-key change sequence, unique-keyed tiebreak) — NULL valid_to "
    "marks the current version. One window shuffle on the dimension key; "
    "summarized per key for the oracle (version count, open-version "
    "invariant = exactly 1, first/last change ts). The standard "
    "warehouse pattern for 100 TB dimension history without a table "
    "format's time travel.",
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("custkey").orderBy("valid_from", "o_orderkey")
    v = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("valid_from"),
        F.col("o_orderpriority").alias("attr"),
        "o_orderkey",
    ).withColumn("valid_to", F.lead("valid_from").over(w))
    return v.groupBy("custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0)).cast("long").alias("n_open"),
        F.min("valid_from").alias("first_from"),
        F.max("valid_from").alias("last_from"),
    )


@register(
    "aggstate_incremental_merge",
    """
WITH old_state AS (
  SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS cnt,
         SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS total
  FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_returnflag
),
batch AS (
  SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS cnt,
         SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS total
  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_returnflag
),
merged AS (
  SELECT COALESCE(o.flag, b.flag) AS flag,
         COALESCE(o.cnt, 0) + COALESCE(b.cnt, 0) AS cnt,
         COALESCE(o.total, 0) + COALESCE(b.total, 0) AS total
  FROM old_state o FULL OUTER JOIN batch b ON o.flag = b.flag
)
SELECT flag, CAST(cnt AS BIGINT) AS cnt,
       CAST(ROUND(total, 2) AS DOUBLE) AS total,
       ROUND(CAST(total AS DOUBLE) / cnt, 4) AS avg_price
FROM merged
""",
    doc="Incremental aggregate maintenance (materialized-view refresh "
    "algebra): the running state (count, decimal sum) for the history "
    "partition is MERGED with the new batch's partial state by pure "
    "state addition — never re-scanning history. avg is derived from "
    "the merged sums at read time (algebraic aggregate decomposition: "
    "sum/count merge, avg derives). This is the batch form of what "
    "streaming update-mode aggs do per micro-batch; at 100 TB/day it is "
    "the difference between scanning a day and scanning forever. "
    "Cross-engine: all state is bigint/decimal — exact.",
)
def aggstate_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp")

    def state(df):
        return df.groupBy(F.col("l_returnflag").alias("flag")).agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(dec("l_extendedprice", 14)).alias("total"),
        )

    old = state(li.filter(F.col("l_shipdate") < cut)).alias("o")
    batch = state(li.filter(F.col("l_shipdate") >= cut)).alias("b")
    merged = old.join(batch, F.col("o.flag") == F.col("b.flag"), "full_outer").select(
        F.coalesce(F.col("o.flag"), F.col("b.flag")).alias("flag"),
        (F.coalesce(F.col("o.cnt"), F.lit(0)) + F.coalesce(F.col("b.cnt"), F.lit(0))).alias(
            "cnt"
        ),
        (
            F.coalesce(F.col("o.total"), F.lit(0).cast("decimal(14,2)"))
            + F.coalesce(F.col("b.total"), F.lit(0).cast("decimal(14,2)"))
        ).alias("total"),
    )
    return merged.select(
        "flag",
        F.col("cnt").cast("long").alias("cnt"),
        F.round("total", 2).cast("double").alias("total"),
        F.round(F.col("total").cast("double") / F.col("cnt"), 4).alias("avg_price"),
    )


@register(
    "join_bloom_runtime_filter",
    """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))), 2) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
""",
    doc="Runtime Bloom-filter pruned join (Catalyst InjectRuntimeFilter): "
    "the selective orders side feeds a bloom_filter_agg whose "
    "might_contain() is injected as a pre-join filter on the lineitem "
    "probe side — rows for non-urgent orders are dropped BEFORE the "
    "probe-side shuffle, the exact use case for dims too big to "
    "broadcast but small enough to sketch (the 100 MB–10 GB band where "
    "neither broadcast nor raw SMJ is right at 100 TB). The rule only "
    "fires when the creation side is not broadcastable, so the fn "
    "pins the confs, forces plan compilation, then restores them — "
    "semantics are unchanged either way (bloom is a superset filter; "
    "the join still matches exactly, which is why the oracle is the "
    "plain join). tests assert might_contain in the optimized plan.",
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir, parallelize=False).select(
        "l_orderkey", "l_extendedprice"
    )
    orders = (
        load_table(spark, "orders", sf_dir, parallelize=False)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).agg(
        F.round(F.sum(dec("l_extendedprice", 14)), 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        # Force optimization NOW, while the confs hold: the QueryExecution
        # (with the injected bloom filter) is cached on this DataFrame, so
        # the caller's later action reuses it after the confs are restored
        # — later queries in the same session see their normal broadcast
        # behavior.
        j._jdf.queryExecution().executedPlan()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return j


@register(
    "udaf_geomean_price",
    """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(EXP((CAST(SUM(CAST(FLOOR(LN(l_extendedprice) * 1000000) AS BIGINT)) AS DOUBLE)
                  / 1000000.0) / COUNT(*)), 4) AS geo_mean_price
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Custom grouped-agg pandas UDF (the GROUPED_AGG flavor — scalar "
    "per group, usable inside agg() alongside built-ins): geometric mean "
    "via sum-of-logs. Cross-engine determinism discipline for a "
    "float-accumulating UDAF: each log is scaled to integer micros with "
    "FLOOR (unambiguous on identical doubles, unlike numpy's "
    "half-to-even round) and summed as int64 — the sum is exact and "
    "order-independent, so the distributed accumulation order can't "
    "change the answer; exp/round happen once on the exact result. "
    "Arrow-batched per group; partial aggregation does not apply to "
    "grouped-agg UDFs, so group sizes bound worker memory — same "
    "contract as applyInPandas (robust z-score docs).",
)
def udaf_geomean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType passed explicitly: the type-hint path rejects a
    # `pd.Series -> int` signature (scalar-int returns aren't inferrable).
    # Grouped-agg pandas UDFs cannot mix with built-in aggregates in one
    # agg() (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a second
    # pandas agg.
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def sum_log_micro(v):
        logs = np.log(v.to_numpy(dtype=np.float64))
        return int(np.floor(logs * 1e6).astype(np.int64).sum())

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        return int(len(v))

    li = load_table(spark, "lineitem", sf_dir)
    agg = li.groupBy("l_returnflag").agg(
        n_rows(F.col("l_extendedprice")).alias("n"),
        sum_log_micro(F.col("l_extendedprice")).alias("slm"),
    )
    return agg.select(
        "l_returnflag",
        "n",
        F.round(F.exp((F.col("slm").cast("double") / F.lit(1e6)) / F.col("n")), 4).alias(
            "geo_mean_price"
        ),
    )


@register(
    "scan_schema_evolution",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-15' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_batch2,
       CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-15'
                     THEN FLOOR(value * 100) ELSE 0 END) AS BIGINT) AS value_cents_sum
FROM events
GROUP BY event_type
""",
    doc="Schema evolution on read (mergeSchema): the events table is "
    "landed in two generations — an early batch WITHOUT the value_cents "
    "column and a later batch WITH it (the standard additive-column "
    "evolution every long-lived 100 TB table goes through). A "
    "mergeSchema read unions the file schemas; rows from the old "
    "generation surface NULL for the new column, aggregated here as "
    "per-type row counts, new-generation counts, and the evolved "
    "column's sum (NULL-safe). The oracle derives the same numbers from "
    "the unevolved source. mergeSchema costs a footer read per file at "
    "planning — pay it only on evolving tables, or pin the merged "
    "schema explicitly (both noted here deliberately).",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from logflow.sources.derived import derived_cache

    ev = load_table(spark, "events", sf_dir, parallelize=False)
    cut = F.lit("2024-01-15").cast("date")

    def _build(d: str) -> None:
        old = ev.filter(F.to_date("ts") < cut).select("event_id", "ts", "event_type")
        new = ev.filter(F.to_date("ts") >= cut).select(
            "event_id",
            "ts",
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        old.write.mode("overwrite").parquet(os.path.join(d, "gen=1"))
        new.write.mode("overwrite").parquet(os.path.join(d, "gen=2"))

    base = derived_cache(sf_dir, "evo", ["events"], _build)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("value_cents").cast("long").alias("n_batch2"),
        F.coalesce(F.sum("value_cents"), F.lit(0)).cast("long").alias("value_cents_sum"),
    )


@register(
    "maintenance_compact_files",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents_sum
FROM events
GROUP BY event_type
""",
    doc="Small-file compaction (the streaming-ingest maintenance task: "
    "micro-batches land hundreds of tiny files; scans then pay one task "
    "+ footer read per file). The query lands events as 64 small files, "
    "compacts them with a repartition write to a handful of right-sized "
    "files, and aggregates from the COMPACTED copy — the oracle on the "
    "original rows proves compaction is lossless, and "
    "tests/test_relational.py asserts the before/after file counts. At "
    "100 TB this is the nightly job that keeps maxPartitionBytes-sized "
    "scan splits; repartition (not coalesce) so output files are "
    "size-balanced regardless of input skew.",
)
def maintenance_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from logflow.sources.derived import derived_cache

    ev = load_table(spark, "events", sf_dir, parallelize=False)

    def _build(d: str) -> None:
        small, big = os.path.join(d, "small"), os.path.join(d, "compacted")
        ev.repartition(64).write.mode("overwrite").parquet(small)
        spark.read.parquet(small).repartition(4).write.mode("overwrite").parquet(big)

    base = derived_cache(sf_dir, "compact", ["events"], _build)
    compacted = spark.read.parquet(os.path.join(base, "compacted"))
    return compacted.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).cast("long").alias("value_cents_sum"),
    )


@register(
    "funnel_signup_click_purchase",
    """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
)
SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_signup,
       CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_click_after,
       CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_purchase_after,
       ROUND(CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
             / (SELECT COUNT(*) FROM s1), 4) AS conversion
""",
    doc="Ordered funnel analysis (signup -> first click AFTER signup -> "
    "first purchase AFTER that click): each stage is a per-user MIN-ts "
    "aggregate joined to the previous stage with a strict time "
    "predicate — the standard event-sequence funnel as three partial-agg "
    "shuffles on user_id that all REUSE one partitioning (Catalyst "
    "chains them without re-exchanging). No window over the full event "
    "history and no per-user collect: state per stage is one timestamp "
    "per surviving user, so the plan holds at 100 TB of events.",
)
def funnel_signup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-pass-per-stage shape: each stage joins LEFT onto the surviving
    # users and derives its first-qualifying timestamp with a conditional
    # MIN, so one frame carries (t_signup, t_click, t_purchase) per signup
    # user and ALL three stage counts come from ONE final aggregate over it
    # — 3 pruned scans of events (one per stage filter) instead of the 6 a
    # per-count re-derivation costs, and no crossJoin of single-row counts.
    ev = load_table(spark, "events", sf_dir)
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    s2 = (
        s1.join(clicks, "user_id", "left")
        .groupBy("user_id", "t_signup")
        .agg(F.min(F.when(F.col("ts") > F.col("t_signup"), F.col("ts"))).alias("t_click"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    stages = (
        s2.join(purchases, "user_id", "left")
        .groupBy("user_id", "t_signup", "t_click")
        .agg(F.min(F.when(F.col("ts") > F.col("t_click"), F.col("ts"))).alias("t_purchase"))
    )
    return stages.agg(
        F.count("t_signup").cast("long").alias("n_signup"),
        F.count("t_click").cast("long").alias("n_click_after"),
        F.count("t_purchase").cast("long").alias("n_purchase_after"),
        F.round(
            F.count("t_purchase").cast("double") / F.count("t_signup"), 4
        ).alias("conversion"),
    )


@register(
    "retention_weekly_cohorts",
    """
WITH first_week AS (
  SELECT user_id,
         CAST(FLOOR(epoch(MIN(ts)) / 604800) AS BIGINT) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id,
         f.cohort_week,
         CAST(FLOOR(epoch(e.ts) / 604800) AS BIGINT) - f.cohort_week AS weeks_since
  FROM events e JOIN first_week f ON e.user_id = f.user_id
)
SELECT cohort_week,
       weeks_since,
       CAST(COUNT(*) AS BIGINT) AS n_active_users
FROM activity
GROUP BY cohort_week, weeks_since
""",
    doc="Weekly cohort retention: each user joins the cohort of their "
    "first-activity week (epoch-week bucketing — integer FLOOR division, "
    "identical both engines); every later active week increments that "
    "cohort's retention cell. Two partial-agg shuffles on user_id (first "
    "week + distinct activity) and one on the cohort cell — the "
    "triangle-shaped retention matrix every analytics stack derives from "
    "raw event logs, with no sessionization state held anywhere.",
)
def retention_weekly_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    # timestamp_diff from the epoch, NOT unix_timestamp: on an NTZ column
    # unix_timestamp goes through an implicit NTZ→LTZ cast using the
    # session timezone, so parity with DuckDB's epoch() (which treats the
    # naive value as UTC) would only hold on a UTC-configured driver.
    epoch = F.lit("1970-01-01 00:00:00").cast(ev.schema["ts"].dataType.simpleString())
    week = lambda c: F.floor(F.timestamp_diff("SECOND", epoch, c) / 604800).cast("long")  # noqa: E731
    first_week = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    first_week = first_week.select("user_id", week(F.col("first_ts")).alias("cohort_week"))
    activity = (
        ev.select("user_id", week(F.col("ts")).alias("wk"))
        .join(first_week, "user_id")
        .select("user_id", "cohort_week", (F.col("wk") - F.col("cohort_week")).alias("weeks_since"))
        .distinct()
    )
    return activity.groupBy("cohort_week", "weeks_since").agg(
        F.count(F.lit(1)).cast("long").alias("n_active_users")
    )


@register(
    "anomaly_hourly_error_spikes",
    """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_start,
         CAST(COUNT(*) AS BIGINT) AS n_errors
  FROM events WHERE event_type = 'error'
  GROUP BY date_trunc('hour', ts)
),
stats AS (
  SELECT quantile_cont(CAST(n_errors AS DOUBLE), 0.5) AS med FROM hourly
),
mad AS (
  SELECT quantile_cont(ABS(CAST(h.n_errors AS DOUBLE) - s.med), 0.5) AS mad, s.med
  FROM hourly h CROSS JOIN stats s
  GROUP BY s.med
)
SELECT h.hour_start,
       h.n_errors,
       ROUND(m.med, 2) AS med,
       ROUND(m.mad, 2) AS mad
FROM hourly h CROSS JOIN mad m
WHERE CAST(h.n_errors AS DOUBLE) > m.med + 3 * m.mad
""",
    doc="Hourly error-spike detection (the observability alerting query "
    "the reference's log plane feeds): per-hour error counts, then a "
    "robust median+MAD threshold — flag hours beyond med + 3*MAD. "
    "Median/MAD over EXACT interpolated percentiles on integer counts "
    "(identical in both engines, unlike mean/stddev whose float "
    "accumulation order differs), computed once and broadcast as a "
    "1-row threshold against the hourly series. The hourly rollup is "
    "the only data-sized shuffle; the threshold pass is O(hours).",
)
def anomaly_hourly_error_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_errors"))
    )
    med = hourly.agg(
        F.percentile(F.col("n_errors").cast("double"), F.lit(0.5)).alias("med")
    )
    mad = (
        hourly.crossJoin(F.broadcast(med))
        .agg(
            F.percentile(
                F.abs(F.col("n_errors").cast("double") - F.col("med")), F.lit(0.5)
            ).alias("mad"),
            F.first("med").alias("med"),
        )
    )
    return (
        hourly.crossJoin(F.broadcast(mad))
        .filter(F.col("n_errors").cast("double") > F.col("med") + 3 * F.col("mad"))
        .select(
            "hour_start",
            "n_errors",
            F.round("med", 2).alias("med"),
            F.round("mad", 2).alias("mad"),
        )
    )


@register(
    "log_template_mining",
    """
WITH msgs AS (
  SELECT event_type || ' user=' || CAST(user_id AS VARCHAR)
         || ' k=' || CAST(json_extract(props, '$.k') AS VARCHAR) AS message
  FROM events
),
t AS (
  SELECT message, regexp_replace(message, '[0-9]+', '#', 'g') AS template FROM msgs
)
SELECT template,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(message) AS sample_message
FROM t
GROUP BY template
""",
    doc="Log template mining (Drain-style log clustering, first-order): "
    "render each event as its log line, normalize variable fragments "
    "(digit runs -> '#') with one regexp_replace, and group by the "
    "resulting template with a deterministic MIN sample line. The "
    "whole pipeline is codegen expressions + one partial-agg shuffle "
    "on the template — template cardinality, not log volume, bounds "
    "the reduce side, which is what makes template mining viable over "
    "100 TB of raw logs.",
)
def log_template_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    msg = F.concat(
        F.col("event_type"),
        F.lit(" user="),
        F.col("user_id").cast("string"),
        F.lit(" k="),
        F.get_json_object("props", "$.k"),
    )
    t = ev.select(
        msg.alias("message"),
        F.regexp_replace(msg, "[0-9]+", "#").alias("template"),
    )
    return t.groupBy("template").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("message").alias("sample_message"),
    )


@register(
    "agg_approx_percentile",
    None,  # GK-sketch quantiles are engine/merge-order specific → rows-only
    doc="approx_percentile (Greenwald-Khanna sketch, accuracy 10000) next "
    "to the EXACT percentile of the same column in one aggregate — the "
    "100 TB-scale quantile path: the sketch merges map-side partials in "
    "O(accuracy) memory per group where exact percentile must shuffle "
    "and sort every value. Rows-only at the driver (sketch results are "
    "legitimately engine-specific); the companion exact columns let the "
    "pytest assert the documented error bound (rank error <= 1/accuracy) "
    "instead of trusting the sketch blindly.",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.percentile_approx("value", 0.5, 10000), 4).alias("p50_approx"),
        F.round(F.percentile_approx("value", 0.95, 10000), 4).alias("p95_approx"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50_exact"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95_exact"),
    )


@register(
    "cdc_snapshot_diff",
    """
WITH new_snap AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 89 = 3 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT -o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 91 = 5
),
old_snap AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
            WHEN n.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       o.o_totalprice AS old_price,
       n.o_totalprice AS new_price
FROM old_snap o FULL OUTER JOIN new_snap n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.o_totalprice <> n.o_totalprice OR o.o_orderstatus <> n.o_orderstatus
""",
    doc="Snapshot diff / change-data-feed generation — the INVERSE of "
    "cdc_apply_upsert: given two table snapshots, emit the minimal "
    "insert/update/delete row set that transforms old into new (what a "
    "lakehouse 'changes since version N' read produces). One full-outer "
    "key shuffle; the unchanged majority is filtered AFTER the join "
    "residual so only changed rows survive to the output. The new "
    "snapshot is derived deterministically in-engine (mod-key deletes/"
    "updates/re-keyed inserts), so the diff is exactly reproducible "
    "cross-engine, doubles included (+10.0 is the same IEEE op in both). "
    "At 100 TB: identical to the CDC-apply cost — one co-partitioned "
    "shuffle per side, output proportional to churn, not table size.",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    base = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    survivors = base.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 89 == 3, F.col("o_totalprice") + F.lit(10.0))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    inserts = base.filter(F.col("o_orderkey") % 91 == 5).select(
        # Negated keys: real orderkeys are strictly positive at EVERY scale
        # factor, so synthetic inserts can never collide with a surviving
        # key (a fixed positive offset would collide once keys exceed it).
        (-F.col("o_orderkey")).alias("o_orderkey"),
        "o_totalprice",
        "o_orderstatus",
    )
    new_snap = survivors.unionAll(inserts)
    o = base.alias("o")
    n = new_snap.alias("n")
    joined = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    changed = (
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("o.o_totalprice") != F.col("n.o_totalprice"))
        | (F.col("o.o_orderstatus") != F.col("n.o_orderstatus"))
    )
    return joined.filter(changed).select(
        F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias("o_orderkey"),
        F.when(F.col("o.o_orderkey").isNull(), "insert")
        .when(F.col("n.o_orderkey").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        F.col("o.o_totalprice").alias("old_price"),
        F.col("n.o_totalprice").alias("new_price"),
    )


@register(
    "scalar_variant_extract",
    """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(SUM(CASE WHEN json_extract(props, '$.missing') IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
""",
    doc="VARIANT semi-structured type (Spark 4): props parsed ONCE into a "
    "variant column with parse_json, then typed paths pulled with "
    "variant_get — the open-schema ingestion pattern where the payload "
    "shape is not known at write time. Unlike get_json_object (string "
    "re-parse per extraction, see scalar_json_props), variant stores a "
    "decoded binary form so N extractions cost one parse; at 100 TB "
    "that is the difference between one and N JSON scans of every "
    "payload byte. Missing paths return NULL (counted per the oracle's "
    "json_extract NULL check). Values must equal the string-path "
    "query's — same data through the new type system.",
)
def scalar_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    k = F.expr("variant_get(v, '$.k', 'long')")
    missing = F.expr("variant_get(v, '$.missing', 'string')")
    return v.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("sum_k"),
        F.max(k).cast("long").alias("max_k"),
        F.sum(F.when(missing.isNull(), 1).otherwise(0)).cast("long").alias("n_missing"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


@register(
    "udtf_sentence_explode",
    r"""
WITH s AS (
  SELECT doc_id,
         unnest(list_filter(list_transform(string_split(text, '.'),
                                           t -> trim(t)),
                            t -> t <> '')) AS sentence,
         generate_subscripts(list_filter(list_transform(string_split(text, '.'),
                                                        t -> trim(t)),
                             t -> t <> ''), 1) AS idx
  FROM documents WHERE doc_id % 20 = 0
)
SELECT doc_id, CAST(idx AS BIGINT) AS sentence_idx, sentence,
       CAST(length(sentence) AS BIGINT) AS n_chars
FROM s
""",
    doc="Python UDTF surface (Spark 4 @udtf, Arrow-batched): one doc row "
    "expands to N sentence rows with positions — registered in the "
    "session catalog and invoked through LATERAL in SQL, the table-"
    "function API a migrating user expects to exist. The oracle is the "
    "equivalent declarative split+unnest, which PROVES the UDTF path "
    "row-identical — and is also the honest engineering note: when the "
    "expansion IS expressible with built-ins, prefer them (codegen, no "
    "Python); the UDTF surface is for row→table logic that isn't, and "
    "this query pins the plumbing (registration, lateral join, Arrow "
    "batching, schema contract) that such logic rides on. doc_id%20 "
    "keeps the checked result compact.",
)
def udtf_sentence_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence_idx bigint, sentence string, n_chars bigint", useArrow=True)
    class SentenceSplit:
        def eval(self, text: str):
            idx = 0
            for raw in (text or "").split("."):
                # strip SPACES only: DuckDB's default trim() strips ' ',
                # Python str.strip() strips all whitespace — a tab or
                # newline near a '.' in a future regenerated corpus would
                # silently diverge the oracle otherwise
                s = raw.strip(" ")
                if s:
                    idx += 1
                    yield idx, s, len(s)

    spark.udtf.register("sentence_split", SentenceSplit)
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") % 20 == 0)
    docs.createOrReplaceTempView("udtf_docs_in")
    return spark.sql(
        """
        SELECT d.doc_id, s.sentence_idx, s.sentence, s.n_chars
        FROM udtf_docs_in d, LATERAL sentence_split(d.text) s
        """
    )


@register(
    "pipe_syntax_shipping_margin",
    """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))
                      * CAST(1 + l_tax AS DECIMAL(4,2))), 2) AS DOUBLE) AS charged
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l_quantity < 30
GROUP BY l_returnflag, l_linestatus
""",
    doc="SQL pipe syntax (Spark 4 |> operators): the same "
    "scan→filter→aggregate expressed as a linear pipeline — FROM lineitem "
    "|> WHERE ... |> AGGREGATE ... GROUP BY — the composition-ordered "
    "dialect migrating users may write. Compiles to the identical "
    "Catalyst plan as the SELECT form (pushdown, partial aggregation), "
    "which the classic-SQL DuckDB oracle proves by value hash. Exact "
    "decimal money arithmetic per the determinism rules.",
)
def pipe_syntax_shipping_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_quantity < 30
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_lines,
                     CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                                    * CAST(1 - l_discount AS DECIMAL(4,2))
                                    * CAST(1 + l_tax AS DECIMAL(4,2))), 2) AS DOUBLE) AS charged
           GROUP BY l_returnflag, l_linestatus
        """
    )


_Z_BITS = 10


def _z_interleave_sql(d1: str, d2: str, div_op: str) -> str:
    """Bit-interleave expression (Morton / Z-order code) as portable
    integer arithmetic — bit i of ``d1`` lands at position 2i, of ``d2``
    at 2i+1. Pure div/mod/multiply so the IDENTICAL text (modulo the
    integer-division operator spelling) runs in Spark SQL (DIV) and
    DuckDB (//)."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({d1} {div_op} {2**i}) % 2) * {2 ** (2 * i)}")
        terms.append(f"(({d2} {div_op} {2**i}) % 2) * {2 ** (2 * i + 1)}")
    return " + ".join(terms)


@register(
    "scan_zorder_layout",
    f"""
WITH d AS (
  SELECT o_orderkey,
         o_custkey % 1024 AS d1,
         ((date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
           % 1024) + 1024) % 1024 AS d2
  FROM orders
),
z AS (SELECT d1, d2, ({_z_interleave_sql('d1', 'd2', '//')}) AS zval FROM d)
SELECT zval // 65536 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(d1) AS BIGINT) AS d1_min, CAST(MAX(d1) AS BIGINT) AS d1_max,
       CAST(MIN(d2) AS BIGINT) AS d2_min, CAST(MAX(d2) AS BIGINT) AS d2_max,
       CAST(MAX(d1) - MIN(d1) + 1 AS BIGINT) AS d1_span,
       CAST(MAX(d2) - MIN(d2) + 1 AS BIGINT) AS d2_span
FROM z
GROUP BY zval // 65536
""",
    doc="Z-order (Morton-curve) clustered layout for two-dimensional data "
    "skipping: customer and order-day are bit-interleaved into one sort "
    "key, rows land in z-RANGE buckets (top 4 bits — a map-side integer "
    "divide, no global sort needed for range buckets), and each bucket's "
    "min/max BOUNDING BOX over BOTH dims is what a lakehouse stores as "
    "file statistics. The payoff vs a single-column sort: sorting by "
    "customer alone gives perfect d1 spans but each file spans the WHOLE "
    "date domain (d2_span ~ 1024), so date predicates prune nothing; "
    "z-order bounds both spans at ~2^(bits/2) x domain/16 per bucket, so "
    "point/range predicates on EITHER dim skip most buckets. The "
    "interleave is pure integer div/mod arithmetic — bit-identical "
    "cross-engine, no bit-op dialect differences. At 100 TB the write "
    "path is repartitionByRange(zval) + sortWithinPartitions before the "
    "parquet write (scan_partition_pruned's directory layout covers the "
    "coarse partition axis; z-order covers the within-partition file "
    "axis).",
)
def scan_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    # floor-mod, not C-style %: regenerated testdata may start BEFORE the
    # fixed epoch (both engines' % follows the dividend's sign), and a
    # negative d2 would emit -1 "bits" and fold rows into bucket 0 with
    # meaningless bounding boxes.
    d = orders.select(
        (F.col("o_custkey") % 1024).alias("d1"),
        (
            (
                (F.expr("datediff(o_orderdate, TIMESTAMP '1995-01-01 00:00:00')") % 1024)
                + 1024
            )
            % 1024
        ).alias("d2"),
    )
    z = d.select("d1", "d2", F.expr(_z_interleave_sql("d1", "d2", "DIV")).alias("zval"))
    return (
        z.groupBy(F.expr("zval DIV 65536").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("d1").cast("long").alias("d1_min"),
            F.max("d1").cast("long").alias("d1_max"),
            F.min("d2").cast("long").alias("d2_min"),
            F.max("d2").cast("long").alias("d2_max"),
            (F.max("d1") - F.min("d1") + 1).cast("long").alias("d1_span"),
            (F.max("d2") - F.min("d2") + 1).cast("long").alias("d2_span"),
        )
    )


@register(
    "attribution_last_touch",
    """
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         last_value(CASE WHEN event_type IN ('click', 'signup', 'view')
                         THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch_ts,
         last_value(CASE WHEN event_type IN ('click', 'signup', 'view')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch_type
  FROM events
)
SELECT CASE WHEN touch_ts IS NOT NULL AND touch_ts >= ts - INTERVAL 7 DAY
            THEN touch_type ELSE 'direct' END AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM s
WHERE event_type = 'purchase'
GROUP BY 1
""",
    doc="Last-touch marketing attribution: each purchase credits the "
    "user's most recent click/signup/view within a 7-day lookback, else "
    "'direct' — the workhorse report of every event pipeline. The two "
    "IGNORE-NULLS last_value calls share one frame ordered by (ts, "
    "event_id) — the unique tiebreak means both engines pick the same "
    "touch row, and because both CASEs null out exactly the same rows, "
    "touch_ts and touch_type always come from the SAME event (no "
    "torn-row risk). The 7-day bound is a timestamp compare (ts - "
    "INTERVAL, timezone-free on NTZ). Plan: ONE user_id shuffle shared "
    "by the window and feeding a partial-agg'd count; purchases filter "
    "AFTER the window (the carried state needs non-purchase rows). At "
    "100 TB: same shape as sessionize_events — the window is the only "
    "shuffle and it is the natural user-key partitioning.",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_touch = F.col("event_type").isin("click", "signup", "view")
    s = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(is_touch, F.col("ts")), ignorenulls=True).over(w).alias("touch_ts"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
    )
    channel = F.when(
        F.col("touch_ts").isNotNull()
        & (F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAY")),
        F.col("touch_type"),
    ).otherwise("direct")
    return (
        s.filter(F.col("event_type") == "purchase")
        .groupBy(channel.alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


@register(
    "scd2_point_in_time_join",
    """
WITH dim AS (
  SELECT o_custkey AS custkey, o_orderdate AS valid_from,
         o_orderpriority AS attr, o_orderkey
  FROM orders WHERE o_orderkey % 5 = 0
),
v AS (
  SELECT custkey, valid_from, attr,
         LEAD(valid_from) OVER (PARTITION BY custkey
                                ORDER BY valid_from, o_orderkey) AS valid_to
  FROM dim
),
facts AS (
  SELECT o_orderkey, o_custkey AS custkey, o_orderdate AS d
  FROM orders WHERE o_orderkey % 5 <> 0
),
pit AS (
  SELECT f.o_orderkey, f.custkey, v.attr
  FROM facts f
  LEFT JOIN v ON f.custkey = v.custkey
             AND v.valid_from <= f.d
             AND (v.valid_to IS NULL OR f.d < v.valid_to)
)
SELECT COALESCE(attr, 'none') AS attr_at_time,
       CAST(COUNT(*) AS BIGINT) AS n_facts,
       CAST(COUNT(DISTINCT custkey) AS BIGINT) AS n_customers
FROM pit
GROUP BY COALESCE(attr, 'none')
""",
    doc="Point-in-time (temporal) join onto an SCD2 dimension — the read "
    "side of scd2_customer_history: every-5th order is a dimension "
    "change event, the remaining orders are facts, and each fact picks "
    "the version whose [valid_from, valid_to) interval covers its date "
    "(facts before the first version fall out as 'none' via the LEFT "
    "join). Versions PARTITION each key's timeline (half-open "
    "intervals, lead() with the unique o_orderkey tiebreak), so every "
    "fact matches AT MOST ONE version — the join provably never "
    "duplicates facts (pytest asserts row conservation). Plan: equi "
    "hash join on custkey with the interval predicate as a residual "
    "filter — never a range-explosion BNLJ; both sides shuffle once on "
    "the key. At 100 TB this is the standard as-of enrichment against "
    "dimension history without a table format's time travel.",
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    dim = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("valid_from"),
        F.col("o_orderpriority").alias("attr"),
        "o_orderkey",
    )
    w = Window.partitionBy("custkey").orderBy("valid_from", "o_orderkey")
    v = dim.withColumn("valid_to", F.lead("valid_from").over(w)).select(
        F.col("custkey").alias("v_custkey"), "valid_from", "valid_to", "attr"
    )
    facts = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey", F.col("o_custkey").alias("custkey"), F.col("o_orderdate").alias("d")
    )
    pit = facts.join(
        v,
        (F.col("custkey") == F.col("v_custkey"))
        & (F.col("valid_from") <= F.col("d"))
        & (F.col("valid_to").isNull() | (F.col("d") < F.col("valid_to"))),
        "left_outer",
    )
    return pit.groupBy(F.coalesce(F.col("attr"), F.lit("none")).alias("attr_at_time")).agg(
        F.count(F.lit(1)).cast("long").alias("n_facts"),
        F.countDistinct("custkey").cast("long").alias("n_customers"),
    )


@register(
    "lateral_topk_per_brand",
    """
SELECT b.p_brand, l.p_partkey, l.p_retailprice
FROM (SELECT DISTINCT p_brand FROM part) b,
LATERAL (SELECT p_partkey, p_retailprice FROM part p
         WHERE p.p_brand = b.p_brand
         ORDER BY p_retailprice DESC, p_partkey LIMIT 3) l
ORDER BY b.p_brand, l.p_retailprice DESC, l.p_partkey
""",
    doc="Correlated LATERAL subquery with per-group ORDER BY + LIMIT: the "
    "3 priciest parts per brand, written as `FROM brands, LATERAL "
    "(... LIMIT 3)` — the SQL-standard correlated-table-function form "
    "(Spark 4 lateral join; byte-identical SQL text runs on DuckDB, the "
    "same both-engines-one-text proof as pipe_syntax / recursive-CTE). "
    "Catalyst decorrelates it to a windowed rank over ONE part scan — "
    "no per-brand re-scan survives in the physical plan, which is the "
    "whole point at 100 TB: lateral is surface syntax, the execution is "
    "the same single-shuffle top-k-per-group as "
    "window_top3_orders_per_customer. The brand domain is "
    "dimension-sized; ties beyond the price carry the partkey tiebreak "
    "so the row set is engine-exact.",
)
def lateral_topk_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "part", sf_dir).createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT b.p_brand, l.p_partkey, l.p_retailprice
        FROM (SELECT DISTINCT p_brand FROM part) b,
        LATERAL (SELECT p_partkey, p_retailprice FROM part p
                 WHERE p.p_brand = b.p_brand
                 ORDER BY p_retailprice DESC, p_partkey LIMIT 3) l
        ORDER BY b.p_brand, l.p_retailprice DESC, l.p_partkey
        """
    )


@register(
    "sql_udf_net_margin",
    """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))
                      * CAST(1 + l_tax AS DECIMAL(4,2))), 2) AS DOUBLE) AS net_charge
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="SQL scalar UDF surface (Spark 4 `CREATE TEMPORARY FUNCTION ... "
    "RETURNS type RETURN expr`): the per-line net charge is packaged "
    "as a catalog function and invoked from a plain aggregate query. "
    "SQL UDFs are INLINED by Catalyst at analysis time — the optimized "
    "plan is identical to writing the expression in place (unlike "
    "Python UDFs there is no serialization boundary and codegen/"
    "pushdown survive), which the oracle proves by hash: DuckDB runs "
    "the expanded expression directly. The function body is EXACT "
    "decimal arithmetic (the q1 idiom) returning DECIMAL(20,6) — a "
    "double-returning body would re-hit the round-a-double divergence "
    "(Spark rounds the shortest decimal repr, DuckDB the binary value, "
    "measured diverging at sf0.01). At 100 TB this is the "
    "governance story — shared business logic lives in one catalog "
    "definition with zero plan cost.",
)
def sql_udf_net_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION net_charge(p DOUBLE, d DOUBLE, t DOUBLE)
        RETURNS DECIMAL(20,6)
        RETURN CAST(p AS DECIMAL(12,2)) * CAST(1 - d AS DECIMAL(4,2))
               * CAST(1 + t AS DECIMAL(4,2))
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(ROUND(SUM(net_charge(l_extendedprice, l_discount, l_tax)), 2)
                    AS DOUBLE) AS net_charge
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


@register(
    "agg_filter_clause",
    """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                  FILTER (WHERE o_totalprice > 100000), 2) AS DOUBLE) AS big_order_value,
       CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
         AS n_finished_custs
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="SQL:2003 FILTER clause on aggregates (the standard form of "
    "conditional aggregation — one scan, many differently-predicated "
    "aggregates, including a filtered DISTINCT): the IDENTICAL query "
    "text runs on Spark SQL and DuckDB. This is the single-pass "
    "replacement for N self-joined filtered subqueries; Catalyst plans "
    "it as one partial+final hash aggregate, so at 100 TB it costs "
    "exactly one map-side-combined shuffle regardless of how many "
    "FILTER variants are added (the filtered DISTINCT adds the usual "
    "expand-for-distinct path, still one scan).",
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("lf_orders_fc")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                          FILTER (WHERE o_totalprice > 100000), 2) AS DOUBLE)
                 AS big_order_value,
               CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'F')
                    AS BIGINT) AS n_finished_custs
        FROM lf_orders_fc
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@register(
    "golden_record_customers",
    """
WITH v AS (
  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority, o_orderdate,
         o_totalprice,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           * 10000000000 + o_orderkey AS ver_key,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) * 10000000000
           + o_orderkey AS price_key
  FROM orders)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_versions,
       MIN(o_orderdate) AS first_seen,
       MAX(o_orderdate) AS last_seen,
       arg_max(o_orderstatus, ver_key) AS latest_status,
       arg_max(o_orderpriority, ver_key) AS latest_priority,
       arg_max(o_orderpriority, price_key) AS top_spend_priority,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)
         AS total_spend
FROM v
GROUP BY o_custkey
""",
    doc="Golden-record survivorship (the MDM merge step): each customer's "
    "order stream is treated as attribute versions and collapsed to one "
    "golden row with per-attribute survivorship rules — recency wins "
    "for status/priority, highest-spend wins for the spend-derived "
    "attribute, plus lifetime extent and exact spend. The trick making "
    "max_by deterministic cross-engine: composite (date, orderkey) and "
    "(price, orderkey) sort keys are ENCODED as single BIGINTs "
    "(days·1e10 + key; cents·1e10 + key — both collision-free by "
    "construction), because neither engine's arg_max takes a struct "
    "key and ties on the raw attribute would diverge. One "
    "map-side-combined shuffle on the customer key at any scale.",
)
def golden_record_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    ver_key = (
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        * F.lit(10_000_000_000).cast("long")
        + F.col("o_orderkey")
    )
    price_key = (
        F.round(F.col("o_totalprice") * 100, 0).cast("long")
        * F.lit(10_000_000_000).cast("long")
        + F.col("o_orderkey")
    )
    return (
        o.withColumn("ver_key", ver_key)
        .withColumn("price_key", price_key)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_versions"),
            F.min("o_orderdate").alias("first_seen"),
            F.max("o_orderdate").alias("last_seen"),
            F.expr("max_by(o_orderstatus, ver_key)").alias("latest_status"),
            F.expr("max_by(o_orderpriority, ver_key)").alias("latest_priority"),
            F.expr("max_by(o_orderpriority, price_key)").alias("top_spend_priority"),
            money(F.sum(F.col("o_totalprice").cast("decimal(14,2)"))).alias(
                "total_spend"
            ),
        )
    )


@register(
    "attribution_time_decay",
    """
WITH touches AS (
  SELECT user_id, ts AS t_ts, event_id AS t_id, event_type AS channel
  FROM events WHERE event_type IN ('click', 'signup', 'view')),
purchases AS (
  SELECT user_id, ts AS p_ts, event_id AS p_id
  FROM events WHERE event_type = 'purchase'),
pairs AS (
  SELECT p.p_id, t.channel,
         CAST(ROUND(power(2.0, -(CAST(date_diff('microsecond', t.t_ts, p.p_ts)
                                      AS DOUBLE) / 86400000000.0)), 6)
              AS DECIMAL(18,6)) AS w
  FROM purchases p JOIN touches t
    ON p.user_id = t.user_id
   AND t.t_ts <= p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
   AND t.t_id <> p.p_id),
tot AS (SELECT p_id, SUM(w) AS w_tot FROM pairs GROUP BY p_id)
SELECT channel,
       CAST(COUNT(DISTINCT pairs.p_id) AS BIGINT) AS n_purchases_touched,
       CAST(ROUND(SUM(CAST(ROUND(CAST(w AS DOUBLE) / CAST(w_tot AS DOUBLE), 6)
                           AS DECIMAL(18,6))), 4) AS DOUBLE) AS credit
FROM pairs JOIN tot ON pairs.p_id = tot.p_id
GROUP BY channel
ORDER BY channel
""",
    doc="Time-decay (half-life 1 day) multi-touch attribution: every "
    "click/signup/view in the 7 days before a purchase shares that "
    "conversion's credit proportionally to 2^(-age_days) — the "
    "fractional sibling of attribution_last_touch. Weights are "
    "pow(2, x) of identical exact-microsecond doubles rounded once to "
    "DECIMAL; per-purchase totals are exact decimal sums, each share "
    "is one identical IEEE division rounded once, and channel credits "
    "are decimal sums of those — no float-order exposure. The pair "
    "join is a per-user interval join (fan-out bounded by "
    "touches-per-user-week, the same bound as the as-of family). At "
    "100 TB: one user_id shuffle feeds the interval join; totals and "
    "credits are purchase- and channel-sized aggregates.",
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    touches = ev.filter(F.col("event_type").isin("click", "signup", "view")).select(
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("channel"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    age_days = (
        F.expr("CAST(timestampdiff(MICROSECOND, t_ts, p_ts) AS DOUBLE)")
        / 86400000000.0
    )
    pairs = (
        purchases.join(touches, "user_id")
        .filter(
            (F.col("t_ts") <= F.col("p_ts"))
            & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAY"))
            & (F.col("t_id") != F.col("p_id"))
        )
        .select(
            "p_id",
            "channel",
            F.round(F.pow(F.lit(2.0), -age_days), 6).cast("decimal(18,6)").alias("w"),
        )
    )
    tot = pairs.groupBy("p_id").agg(F.sum("w").alias("w_tot"))
    share = F.round(F.col("w").cast("double") / F.col("w_tot").cast("double"), 6).cast(
        "decimal(18,6)"
    )
    return (
        pairs.join(tot, "p_id")
        .select("p_id", "channel", share.alias("share"))
        .groupBy("channel")
        .agg(
            F.countDistinct("p_id").cast("long").alias("n_purchases_touched"),
            F.round(F.sum("share"), 4).cast("double").alias("credit"),
        )
        .orderBy("channel")
    )


@register(
    "agg_share_of_parent",
    """
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)
           AS nation_rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name)
SELECT region, nation, nation_rev,
       CAST(ROUND(SUM(CAST(nation_rev AS DECIMAL(16,2)))
                  OVER (PARTITION BY region), 2) AS DOUBLE) AS region_rev,
       ROUND(nation_rev
             / CAST(ROUND(SUM(CAST(nation_rev AS DECIMAL(16,2)))
                          OVER (PARTITION BY region), 2) AS DOUBLE), 6)
         AS share_of_region,
       ROUND(CAST(ROUND(SUM(CAST(nation_rev AS DECIMAL(16,2)))
                        OVER (PARTITION BY region), 2) AS DOUBLE)
             / CAST(ROUND(SUM(CAST(nation_rev AS DECIMAL(16,2))) OVER (), 2)
                    AS DOUBLE), 6) AS region_share_of_total
FROM rev
ORDER BY region, nation
""",
    doc="Share-of-parent contribution report down the region → nation "
    "hierarchy: nation revenue, its share of the region, and the "
    "region's share of the grand total — the drill-down percent "
    "column every BI rollup needs. Leaf revenues are exact decimal "
    "sums surfaced as identical doubles; BOTH window totals re-enter "
    "decimal before summing (the cumulative-sum-of-doubles rule), so "
    "each share is one identical IEEE division of bit-equal operands. "
    "The dims chain is broadcast joins on the fact scan; the windows "
    "run over the 25-row nation aggregate, not the fact table.",
)
def agg_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(money(F.sum(F.col("o_totalprice").cast("decimal(14,2)"))).alias("nation_rev"))
    )
    wreg = Window.partitionBy("region")
    wall = Window.partitionBy()
    region_rev = F.round(
        F.sum(F.col("nation_rev").cast("decimal(16,2)")).over(wreg), 2
    ).cast("double")
    total_rev = F.round(
        F.sum(F.col("nation_rev").cast("decimal(16,2)")).over(wall), 2
    ).cast("double")
    return rev.select(
        "region",
        "nation",
        "nation_rev",
        region_rev.alias("region_rev"),
        F.round(F.col("nation_rev") / region_rev, 6).alias("share_of_region"),
        F.round(region_rev / total_rev, 6).alias("region_share_of_total"),
    ).orderBy("region", "nation")


@register(
    "join_shuffle_hash_hint",
    """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(14,2))), 2) AS DOUBLE)
         AS total_price
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="Join-strategy HINT control: the same orders⋈lineitem aggregate "
    "planned as a SHUFFLE_HASH join instead of the default sort-merge "
    "— the knob that matters when one side fits per-partition memory "
    "and the sort dominates (hash build skips both sorts). The hint "
    "changes ONLY the physical strategy, never the result: the oracle "
    "is the plain join, and the pytest asserts ShuffledHashJoin (not "
    "SortMergeJoin) survives in the executed plan. At 100 TB this is "
    "the documented escape hatch when AQE's per-partition stats pick "
    "SMJ for a side that is hash-buildable — same shuffle count, no "
    "sort phases.",
)
def join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("lf_orders_shh")
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("lf_lineitem_shh")
    return spark.sql(
        """
        SELECT /*+ SHUFFLE_HASH(o) */
               o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))), 2)
                    AS DOUBLE) AS total_price
        FROM lf_orders_shh o JOIN lf_lineitem_shh l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
        """
    )


@register(
    "agg_group_by_all",
    """
SELECT o_orderstatus,
       o_orderpriority,
       year(o_orderdate) AS yr,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)
         AS revenue
FROM orders
GROUP BY ALL
ORDER BY o_orderstatus, o_orderpriority, yr
""",
    doc="GROUP BY ALL (the modern SQL ergonomic both engines implement): "
    "every non-aggregate select item becomes a grouping key "
    "automatically — the IDENTICAL query text runs on Spark SQL and "
    "DuckDB, including the computed year() key. Semantically identical "
    "to spelling the keys out, so the plan is the usual partial+final "
    "hash aggregate; the value is the surface-parity demonstration "
    "(refactors can't silently desync the SELECT list from the GROUP "
    "BY).",
)
def agg_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("lf_orders_gba")
    return spark.sql(
        """
        SELECT o_orderstatus,
               o_orderpriority,
               year(o_orderdate) AS yr,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)
                 AS revenue
        FROM lf_orders_gba
        GROUP BY ALL
        ORDER BY o_orderstatus, o_orderpriority, yr
        """
    )


@register(
    "join_null_safe",
    """
WITH k AS (
  SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg_key
  FROM customer),
agg AS (
  SELECT seg_key, CAST(COUNT(*) AS BIGINT) AS seg_size
  FROM k GROUP BY seg_key)
SELECT COALESCE(k.seg_key, '<null>') AS seg_key,
       CAST(COUNT(*) AS BIGINT) AS n_matched,
       MAX(agg.seg_size) AS seg_size
FROM k JOIN agg ON k.seg_key IS NOT DISTINCT FROM agg.seg_key
GROUP BY COALESCE(k.seg_key, '<null>')
ORDER BY seg_key
""",
    doc="NULL-safe equality join: a deliberately-nullable derived key "
    "(NULLIF collapses one segment to NULL) joined back to its own "
    "aggregate with Spark's <=> operator — which is EXACTLY DuckDB's "
    "IS NOT DISTINCT FROM — so the NULL group matches the NULL "
    "aggregate row instead of silently dropping (the classic bug a "
    "plain equi-join ships). n_matched == seg_size for every group "
    "proves the NULL bucket round-tripped. Null-safe equality remains "
    "a HASHABLE join key in both engines (NULL hashes as a regular "
    "bucket), so the plan is a plain shuffle/broadcast hash join — no "
    "BNLJ penalty for null handling.",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    k = c.select(
        "c_custkey", F.expr("NULLIF(c_mktsegment, 'BUILDING')").alias("seg_key")
    )
    agg = k.groupBy("seg_key").agg(F.count(F.lit(1)).alias("seg_size"))
    j = k.join(
        F.broadcast(agg.withColumnRenamed("seg_key", "agg_key")),
        F.col("seg_key").eqNullSafe(F.col("agg_key")),
    )
    return (
        j.groupBy(F.coalesce("seg_key", F.lit("<null>")).alias("seg_key"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            F.max("seg_size").cast("long").alias("seg_size"),
        )
        .orderBy("seg_key")
    )


@register(
    "dim_date_build",
    """
WITH span AS (
  SELECT CAST(MIN(CAST(ts AS DATE)) AS DATE) AS d0,
         CAST(MAX(CAST(ts AS DATE)) AS DATE) AS d1
  FROM events),
cal AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d FROM span)
SELECT CAST(d AS TIMESTAMP) AS day,
       CAST(year(d) AS BIGINT) AS yr,
       CAST(month(d) AS BIGINT) AS mo,
       CAST(isodow(d) AS BIGINT) AS iso_dow,
       isodow(d) >= 6 AS is_weekend,
       CAST(CASE WHEN month(d) >= 2 THEN year(d) ELSE year(d) - 1 END AS BIGINT)
         AS fiscal_year,
       CAST(((month(d) + 10) % 12) // 3 + 1 AS BIGINT) AS fiscal_quarter
FROM cal
ORDER BY day
""",
    doc="Date-dimension build (the calendar spine every warehouse "
    "maintains): one row per day across the fact span with calendar "
    "and Feb-start fiscal attributes — generated IN-ENGINE from a "
    "2-value span aggregate + sequence/generate_series explode, no "
    "driver loop, no external table. isodow is the pinned cross-engine "
    "dow; the fiscal quarter is pure integer arithmetic ((mo+10)%12 "
    "DIV 3 + 1). At 100 TB the spine is still span-days-sized (tiny) "
    "and broadcast into every date-attribute join, which is the whole "
    "point of materializing it.",
)
def dim_date_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    span = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    cal = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    iso_dow = (F.expr("weekday(d)") + 1).cast("long")
    return cal.select(
        F.col("d").cast("timestamp").alias("day"),
        F.year("d").cast("long").alias("yr"),
        F.month("d").cast("long").alias("mo"),
        iso_dow.alias("iso_dow"),
        (iso_dow >= 6).alias("is_weekend"),
        F.when(F.month("d") >= 2, F.year("d"))
        .otherwise(F.year("d") - 1)
        .cast("long")
        .alias("fiscal_year"),
        ((F.month("d") + 10) % 12).cast("long").alias("_m"),
    ).select(
        "day",
        "yr",
        "mo",
        "iso_dow",
        "is_weekend",
        "fiscal_year",
        (F.expr("_m DIV 3") + 1).cast("long").alias("fiscal_quarter"),
    ).orderBy("day")


@register(
    "agg_mode_daily",
    """
WITH b AS (
  SELECT event_type, CAST(FLOOR(value / 100) AS BIGINT) AS band,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, CAST(FLOOR(value / 100) AS BIGINT)),
r AS (
  SELECT event_type, band, cnt,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY cnt DESC, band) AS rk
  FROM b)
SELECT event_type, band AS mode_band, cnt AS mode_count
FROM r WHERE rk = 1
ORDER BY event_type
""",
    doc="Grouped MODE (most frequent value band) per event type, spelled "
    "as count + ROW_NUMBER with the (count DESC, band) tiebreak instead "
    "of the engines' native mode() aggregates — whose tie behavior is "
    "UNSPECIFIED and engine-dependent (DuckDB docs say 'the first "
    "encountered'; Spark has no mode over arbitrary types pre-3.4 and "
    "ties are partition-order-dependent). The explicit form is one "
    "partial-agg shuffle plus a window over the tiny band table, and "
    "the tiebreak makes the answer a function of the DATA, not the "
    "execution order — the only mode formulation that can pass a "
    "cross-engine hash gate.",
)
def agg_mode_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    b = ev.groupBy(
        "event_type", F.floor(F.col("value") / 100).cast("long").alias("band")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(F.desc("cnt"), "band")
    return (
        b.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("band").alias("mode_band"),
            F.col("cnt").cast("long").alias("mode_count"),
        )
        .orderBy("event_type")
    )


@register(
    "funnel_within_window",
    """
WITH su AS (SELECT user_id, ts AS t1, event_id AS id1 FROM events
            WHERE event_type = 'signup'),
cl AS (SELECT user_id, ts AS t2, event_id AS id2 FROM events
       WHERE event_type = 'click'),
pu AS (SELECT user_id, ts AS t3 FROM events WHERE event_type = 'purchase'),
s2 AS (
  SELECT su.user_id, su.t1, MIN(cl.t2) AS first_click
  FROM su JOIN cl ON su.user_id = cl.user_id
   AND cl.t2 > su.t1 AND cl.t2 <= su.t1 + INTERVAL 1 HOUR
  GROUP BY su.user_id, su.t1, su.id1),
s3 AS (
  SELECT s2.user_id, s2.t1, s2.first_click, MIN(pu.t3) AS first_purchase
  FROM s2 JOIN pu ON s2.user_id = pu.user_id
   AND pu.t3 > s2.first_click AND pu.t3 <= s2.first_click + INTERVAL 1 HOUR
  GROUP BY s2.user_id, s2.t1, s2.first_click)
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_converted,
       CAST(COUNT(*) AS BIGINT) AS n_funnels,
       CAST(SUM(CAST(date_diff('microsecond', t1, first_purchase) AS BIGINT))
            AS BIGINT) AS total_latency_us
FROM s3
""",
    doc="Time-CONSTRAINED funnel (each step within 1 hour of the "
    "previous, the SLA-funnel variant of funnel_signup_click_purchase "
    "which only requires eventual order): signup → earliest click "
    "within the hour → earliest purchase within an hour of THAT click, "
    "via two per-user interval joins with MIN-aggregated step "
    "resolution (earliest-next semantics make the chosen path unique, "
    "so counts are deterministic). Latency sums in exact microseconds "
    "(the timestampdiff/date_diff micro pin). At 100 TB: both interval "
    "joins co-partition on user_id — one shuffle reused — and fan-out "
    "is bounded by per-user events-per-hour.",
)
def funnel_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    su = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("t1"), F.col("event_id").alias("id1")
    )
    cl = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("t2")
    )
    pu = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("t3")
    )
    s2 = (
        su.join(cl, "user_id")
        .filter(
            (F.col("t2") > F.col("t1"))
            & (F.col("t2") <= F.col("t1") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id", "t1", "id1")
        .agg(F.min("t2").alias("first_click"))
    )
    s3 = (
        s2.join(pu, "user_id")
        .filter(
            (F.col("t3") > F.col("first_click"))
            & (F.col("t3") <= F.col("first_click") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id", "t1", "first_click")
        .agg(F.min("t3").alias("first_purchase"))
    )
    return s3.agg(
        F.countDistinct("user_id").cast("long").alias("n_users_converted"),
        F.count(F.lit(1)).cast("long").alias("n_funnels"),
        F.sum(
            F.expr("CAST(timestampdiff(MICROSECOND, t1, first_purchase) AS BIGINT)")
        )
        .cast("long")
        .alias("total_latency_us"),
    )


@register(
    "ivm_join_delta",
    """
WITH a_old AS (SELECT o_orderkey, o_orderpriority FROM orders
               WHERE o_orderkey % 10 <> 9),
a_new AS (SELECT o_orderkey, o_orderpriority FROM orders
          WHERE o_orderkey % 10 = 9),
b_old AS (SELECT l_orderkey FROM lineitem WHERE l_linenumber <> 1),
b_new AS (SELECT l_orderkey FROM lineitem WHERE l_linenumber = 1),
base AS (
  SELECT a.o_orderpriority AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM a_old a JOIN b_old b ON a.o_orderkey = b.l_orderkey GROUP BY 1),
d_a AS (
  SELECT a.o_orderpriority AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM a_new a JOIN b_old b ON a.o_orderkey = b.l_orderkey GROUP BY 1),
d_b AS (
  SELECT a.o_orderpriority AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM a_old a JOIN b_new b ON a.o_orderkey = b.l_orderkey GROUP BY 1),
d_ab AS (
  SELECT a.o_orderpriority AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM a_new a JOIN b_new b ON a.o_orderkey = b.l_orderkey GROUP BY 1),
full_join AS (
  SELECT a.o_orderpriority AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders a JOIN lineitem b ON a.o_orderkey = b.l_orderkey GROUP BY 1),
keys AS (SELECT DISTINCT key FROM full_join)
SELECT k.key,
       COALESCE(base.n, 0) AS n_base,
       COALESCE(d_a.n, 0) AS n_delta_a,
       COALESCE(d_b.n, 0) AS n_delta_b,
       COALESCE(d_ab.n, 0) AS n_delta_ab,
       COALESCE(base.n, 0) + COALESCE(d_a.n, 0)
         + COALESCE(d_b.n, 0) + COALESCE(d_ab.n, 0) AS n_incremental,
       full_join.n AS n_full
FROM keys k
LEFT JOIN base ON base.key = k.key
LEFT JOIN d_a ON d_a.key = k.key
LEFT JOIN d_b ON d_b.key = k.key
LEFT JOIN d_ab ON d_ab.key = k.key
JOIN full_join ON full_join.key = k.key
ORDER BY k.key
""",
    doc="Incremental view maintenance for a JOIN view (the algebra "
    "behind every materialized-view refresh and streaming join): with "
    "batch deltas ΔA (new orders) and ΔB (new lineitems), "
    "Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB — three joins whose "
    "inputs are DELTA-sized on at least one side, instead of "
    "re-joining two full tables. The query materializes all three "
    "delta terms per key AND the from-scratch join, so the oracle "
    "hash-verifies n_incremental == n_full row by row (the IVM "
    "correctness identity, checked in-engine). At 100 TB: the base "
    "term is the stored view (never recomputed); each refresh costs "
    "|Δ| joins against bucketed base tables — the aggstate_"
    "incremental_merge story applied to joins. Deltas here are "
    "deterministic mod-slices so the identity is reproducible.",
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderpriority")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_linenumber")
    a_old = o.filter(F.col("o_orderkey") % 10 != 9)
    a_new = o.filter(F.col("o_orderkey") % 10 == 9)
    b_old = li.filter(F.col("l_linenumber") != 1)
    b_new = li.filter(F.col("l_linenumber") == 1)

    def cnt(a: DataFrame, b: DataFrame, name: str) -> DataFrame:
        return (
            a.join(b, a["o_orderkey"] == b["l_orderkey"])
            .groupBy(F.col("o_orderpriority").alias("key"))
            .agg(F.count(F.lit(1)).cast("long").alias(name))
        )

    base = cnt(a_old, b_old, "n_base")
    d_a = cnt(a_new, b_old, "n_delta_a")
    d_b = cnt(a_old, b_new, "n_delta_b")
    d_ab = cnt(a_new, b_new, "n_delta_ab")
    full = cnt(o, li, "n_full")
    out = (
        full.join(base, "key", "left")
        .join(d_a, "key", "left")
        .join(d_b, "key", "left")
        .join(d_ab, "key", "left")
        .select(
            "key",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_delta_a", F.lit(0)).alias("n_delta_a"),
            F.coalesce("n_delta_b", F.lit(0)).alias("n_delta_b"),
            F.coalesce("n_delta_ab", F.lit(0)).alias("n_delta_ab"),
            (
                F.coalesce("n_base", F.lit(0))
                + F.coalesce("n_delta_a", F.lit(0))
                + F.coalesce("n_delta_b", F.lit(0))
                + F.coalesce("n_delta_ab", F.lit(0))
            ).alias("n_incremental"),
            "n_full",
        )
        .orderBy("key")
    )
    return out



_HILBERT_N = 1024  # 10-bit grid per dimension, matching scan_zorder_layout


def _hilbert_level_exprs(s: int) -> tuple[str, str, str]:
    """One xy2d level of the Hilbert transform (the standard iterative
    form) over columns ``x, y, d, rx, ry``: quadrant contribution
    d += s²·((3·rx) XOR ry), then the rotate/flip. With rx, ry ∈ {0,1}
    the XOR collapses to CASE arithmetic — no bitwise operators, so the
    IDENTICAL text runs in Spark SQL and DuckDB."""
    flip = _HILBERT_N - 1
    new_x = (
        f"CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN {flip} - y ELSE y END "
        f"ELSE x END"
    )
    new_y = (
        f"CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN {flip} - x ELSE x END "
        f"ELSE y END"
    )
    new_d = f"d + {s * s} * (CASE WHEN rx = 0 THEN ry ELSE 3 - ry END)"
    return new_x, new_y, new_d


def _hilbert_ctes_sql(div_op: str) -> tuple[str, str]:
    """(chained CTEs h1a..h10, final CTE name) computing the 1024×1024
    Hilbert index from h0(x0, y0, x, y, d); original coords x0/y0 ride
    along for the bounding-box rollup."""
    parts = []
    prev = "h0"
    s = _HILBERT_N // 2
    i = 1
    while s > 0:
        nx, ny, nd = _hilbert_level_exprs(s)
        parts.append(
            f"h{i}a AS (SELECT x0, y0, x, y, d, (x {div_op} {s}) % 2 AS rx, "
            f"(y {div_op} {s}) % 2 AS ry FROM {prev}),\n"
            f"h{i} AS (SELECT x0, y0, {nx} AS x, {ny} AS y, {nd} AS d FROM h{i}a)"
        )
        prev = f"h{i}"
        s //= 2
        i += 1
    return ",\n".join(parts), prev


_H_CTES_DUCK, _H_LAST = _hilbert_ctes_sql("//")


@register(
    "scan_hilbert_layout",
    f"""
WITH h0 AS (
  SELECT o_custkey % 1024 AS x0,
         ((date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
           % 1024) + 1024) % 1024 AS y0,
         o_custkey % 1024 AS x,
         ((date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
           % 1024) + 1024) % 1024 AS y,
         0 AS d
  FROM orders
),
{_H_CTES_DUCK}
SELECT d // 65536 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(x0) AS BIGINT) AS d1_min, CAST(MAX(x0) AS BIGINT) AS d1_max,
       CAST(MIN(y0) AS BIGINT) AS d2_min, CAST(MAX(y0) AS BIGINT) AS d2_max,
       CAST(MAX(x0) - MIN(x0) + 1 AS BIGINT) AS d1_span,
       CAST(MAX(y0) - MIN(y0) + 1 AS BIGINT) AS d2_span
FROM {_H_LAST}
GROUP BY d // 65536
""",
    doc="Hilbert-curve clustered layout — the locality upgrade over "
    "scan_zorder_layout: the Hilbert index visits every cell of the "
    "1024×1024 (customer × order-day) grid through ADJACENT cells, "
    "so consecutive index ranges are compact squarish regions with no "
    "Morton-style diagonal jumps, giving strictly tighter worst-case "
    "bucket bounding boxes (each 65536-cell bucket is one 256×256 "
    "quadrant; same-size z-order buckets straddle seams). This is the "
    "curve Delta/Iceberg liquid-style clustering reaches for when "
    "z-order's seam files hurt. The 10-level xy2d transform is "
    "unrolled as pure div/mod/CASE arithmetic — the IDENTICAL "
    "expression text runs in both engines (no bitwise dialect), and "
    "all values are exact integers. Verified against a pure-Python "
    "reference walk in pytest (adjacency + bijection). At 100 TB the "
    "write path is repartitionByRange(d) + sortWithinPartitions, same "
    "as z-order — the curve only changes the sort key.",
)
def scan_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    df = orders.selectExpr(
        "o_custkey % 1024 AS x0",
        "((datediff(o_orderdate, TIMESTAMP \'1995-01-01 00:00:00\') % 1024)"
        " + 1024) % 1024 AS y0",
    ).selectExpr("x0", "y0", "x0 AS x", "y0 AS y", "0 AS d")
    s = _HILBERT_N // 2
    while s > 0:
        nx, ny, nd = _hilbert_level_exprs(s)
        df = df.selectExpr(
            "x0", "y0", "x", "y", "d",
            f"(x DIV {s}) % 2 AS rx", f"(y DIV {s}) % 2 AS ry",
        ).selectExpr("x0", "y0", f"{nx} AS x", f"{ny} AS y", f"{nd} AS d")
        s //= 2
    return df.groupBy(F.expr("d DIV 65536").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("x0").cast("long").alias("d1_min"),
        F.max("x0").cast("long").alias("d1_max"),
        F.min("y0").cast("long").alias("d2_min"),
        F.max("y0").cast("long").alias("d2_max"),
        (F.max("x0") - F.min("x0") + 1).cast("long").alias("d1_span"),
        (F.max("y0") - F.min("y0") + 1).cast("long").alias("d2_span"),
    )


@register(
    "source_xml_events",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(14,4))), 2) AS DOUBLE) AS sum_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
""",
    doc="XML source connector (native in Spark 4 — no external package): "
    "events written once to an XML landing dir with a row tag, then "
    "read back with an EXPLICIT schema (inference on XML is a full "
    "extra scan at 100 TB, same rule as the JSON/CSV sources). The "
    "aggregate proves lossless round-trip of longs, doubles, strings "
    "and ntz timestamps through XML elements; the oracle reads the "
    "same rows from parquet. Completes the text-format source family "
    "(JSON lines, CSV, XML) next to the columnar pair (parquet, ORC).",
)
def source_xml_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.sources.derived import derived_cache

    ev = load_table(spark, "events", sf_dir, parallelize=False)
    base = derived_cache(
        sf_dir,
        "xml",
        ["events"],
        lambda d: ev.write.mode("overwrite").option("rowTag", "event").format("xml").save(d),
    )
    xml = (
        spark.read.schema(ev.schema).option("rowTag", "event").format("xml").load(base)
    )
    return xml.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        money(F.sum(F.col("value").cast("decimal(14,4)"))).alias("sum_value"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@register(
    "sessionize_session_window_batch",
    """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         epoch_us(MAX(ts)) + 1800000000 - epoch_us(MIN(ts)) AS span_us
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(MAX(n) AS BIGINT) AS max_session_events,
       CAST(MAX(span_us) AS BIGINT) AS max_session_span_us
FROM per_session
GROUP BY user_id
""",
    doc="Sessionization via Spark's native session_window TVF in BATCH "
    "mode — the same merging engine Structured Streaming uses for "
    "session state, driven here as an ordinary groupBy: "
    "session_window(ts, '30 minutes') merges an event into the open "
    "session iff gap <= 30min (probed: an event exactly at the +30:00 "
    "boundary MERGES — window end is last_ts + gap, exclusive) — "
    "bit-identical to the gaps-and-islands lag/running-sum form the "
    "oracle (and sessionize_events) uses, which this query PROVES by "
    "hash-matching counts AND exact microsecond session spans. Why "
    "both exist: gaps-and-islands needs one sorted window pass (one "
    "shuffle per user key); session_window is a hash-agg with in-place "
    "session merge — no per-user sort — and is the form that carries "
    "over to streaming unchanged. At 100 TB both shuffle once on "
    "user_id; session_window's partial merge also combines map-side.",
)
def sessionize_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    per_session = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("sw")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        per_session.select(
            "user_id",
            "n",
            F.expr(
                "CAST(timestampdiff(MICROSECOND, sw.start, sw.end) AS BIGINT)"
            ).alias("span_us"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n").cast("long").alias("n_events"),
            F.max("n").cast("long").alias("max_session_events"),
            F.max("span_us").cast("long").alias("max_session_span_us"),
        )
    )


@register(
    "nested_order_items_hof",
    """
WITH per_o AS (
  SELECT l.l_orderkey,
         CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS total_cents,
         CAST(MAX(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS max_cents,
         CAST(date_diff('day', MIN(l.l_shipdate), MAX(l.l_shipdate)) AS BIGINT)
           AS span_days
  FROM lineitem l GROUP BY l.l_orderkey)
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(p.n_items) AS DOUBLE) / COUNT(*), 4) AS avg_items,
       CAST(MAX(p.total_cents) AS DOUBLE) / 100 AS max_order_total,
       ROUND(CAST(SUM(CAST(ROUND(CAST(p.max_cents AS DOUBLE)
                                 / CAST(p.total_cents AS DOUBLE), 6)
                           AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS avg_max_item_share,
       ROUND(CAST(SUM(p.span_days) AS DOUBLE) / COUNT(*), 4) AS avg_span_days
FROM per_o p JOIN orders o ON o.o_orderkey = p.l_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
""",
    doc="Nested-data pipeline: lineitems DENORMALIZED into one "
    "array<struct> per order (collect_list — the one-shuffle nested "
    "build that replaces N fact joins downstream), then every per-order "
    "metric computed purely with HIGHER-ORDER FUNCTIONS on the array "
    "(aggregate for the exact-cents total, transform+array_max for the "
    "biggest item, transform+array_min/max over ship timestamps for "
    "the span) — all order-INDEPENDENT expressions, so collect_list's "
    "nondeterministic array order cannot leak into results (the rule "
    "that makes nested pipelines reproducible). The flat-SQL oracle "
    "computes identical metrics relationally, proving the nested "
    "round-trip is lossless. Ratios follow round-then-decimal-sum. At "
    "100 TB: one orderkey shuffle builds the nested table once; every "
    "downstream read is map-side HOF work — the document-model layout "
    "pattern (one wide nested table instead of a join per query).",
)
def nested_order_items_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    nested = li.select(
        "l_orderkey",
        F.struct(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
            F.col("l_shipdate").alias("ship"),
        ).alias("item"),
    ).groupBy("l_orderkey").agg(F.collect_list("item").alias("items"))
    per_o = nested.select(
        "l_orderkey",
        F.size("items").cast("long").alias("n_items"),
        F.expr(
            "aggregate(items, CAST(0 AS BIGINT), (acc, x) -> acc + x.cents)"
        ).alias("total_cents"),
        F.expr("array_max(transform(items, x -> x.cents))").alias("max_cents"),
        F.expr(
            "CAST(datediff(array_max(transform(items, x -> x.ship)), "
            "array_min(transform(items, x -> x.ship))) AS BIGINT)"
        ).alias("span_days"),
    )
    share = F.round(
        F.col("max_cents").cast("double") / F.col("total_cents").cast("double"), 6
    ).cast("decimal(18,6)")
    return (
        per_o.join(orders.select("o_orderkey", "o_orderpriority"),
                   per_o["l_orderkey"] == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(
                F.sum("n_items").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_items"),
            (F.max("total_cents").cast("double") / F.lit(100)).alias("max_order_total"),
            F.round(
                F.sum(share).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_max_item_share"),
            F.round(
                F.sum("span_days").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_span_days"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_salted_distinct",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(ROUND(SUM(CAST(ROUND(value, 4) AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc="Skew-proof COUNT(DISTINCT) via two-stage salted aggregation: "
    "stage 1 groups by (event_type, pmod(user_id, 16)) and counts "
    "distinct users per salt bucket; stage 2 SUMS the partial distincts "
    "— exact, because the salt is a function of the DISTINCT KEY "
    "itself, so the per-bucket user sets are provably disjoint (the "
    "trick that makes this a sum, not an approximate merge). Why it "
    "matters at 100 TB: a plain COUNT(DISTINCT) on a skewed group key "
    "funnels the hot key's entire user set through ONE reducer; the "
    "salt splits that hot key 16 ways while stage 2 only merges 16 "
    "small integers per key. The additive metrics ride along in the "
    "same two-stage plan (exact decimal sums merge trivially). The "
    "oracle is the naive single-stage GROUP BY — identical result, "
    "different physical plan.",
)
def agg_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    stage1 = ev.groupBy(
        "event_type", F.pmod(F.col("user_id"), F.lit(16)).alias("salt")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.round(F.col("value"), 4).cast("decimal(18,4)")).alias("sv"),
    )
    return (
        stage1.groupBy("event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("n_users").cast("long").alias("n_users"),
            F.round(F.sum("sv"), 2).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "bitmap_user_retention",
    """
WITH b AS (
  SELECT date_trunc('day', ts) AS day,
         user_id // 32 AS chunk,
         bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS bm
  FROM events
  GROUP BY date_trunc('day', ts), user_id // 32
)
SELECT a.day,
       CAST(SUM(bit_count(a.bm)) AS BIGINT) AS n_active,
       CAST(COALESCE(SUM(bit_count(a.bm & n.bm)), 0) AS BIGINT)
         AS n_retained_next,
       ROUND(CAST(COALESCE(SUM(bit_count(a.bm & n.bm)), 0) AS DOUBLE)
             / CAST(SUM(bit_count(a.bm)) AS DOUBLE), 6) AS retention
FROM b a
LEFT JOIN b n ON n.day = a.day + INTERVAL 1 DAY AND n.chunk = a.chunk
GROUP BY a.day
ORDER BY a.day
""",
    doc="Bitmap-index retention: daily active-user sets compressed into "
    "BIGINT bitmap words (chunk = user DIV 32, bit = user MOD 32 — "
    "lanes stay below the sign bit, which DuckDB's checked shift "
    "refuses), built with a bit_or aggregate, then day-over-day "
    "retained users counted as SUM(bit_count(today & tomorrow)) over a "
    "(day+1, chunk) equi-join — the roaring-bitmap/BITMAP_COUNT "
    "technique warehouses use for set-intersection metrics without "
    "re-shuffling raw events. Exact (every user is one bit; bit_or and "
    "bit_count are deterministic integer ops in both engines). At "
    "100 TB: the event scan reduces 32:1 at the first partial agg, the "
    "retention join moves only bitmap words (users/32 rows per day), "
    "and longer windows (D7/D30) reuse the same bitmap table — one "
    "build, every horizon.",
)
def bitmap_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    b = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.expr("user_id DIV 32").alias("chunk"),
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(user_id, 32) AS INT))")
        ).alias("bm")
    )
    a, n = b.alias("a"), b.alias("n")
    joined = a.join(
        n,
        (F.col("n.day") == F.col("a.day") + F.expr("INTERVAL 1 DAY"))
        & (F.col("n.chunk") == F.col("a.chunk")),
        "left",
    )
    retained = F.coalesce(
        F.sum(F.bit_count(F.col("a.bm").bitwiseAND(F.col("n.bm")))), F.lit(0)
    )
    active = F.sum(F.bit_count(F.col("a.bm")))
    return (
        joined.groupBy(F.col("a.day").alias("day"))
        .agg(
            active.cast("long").alias("n_active"),
            retained.cast("long").alias("n_retained_next"),
            F.round(
                retained.cast("double") / active.cast("double"), 6
            ).alias("retention"),
        )
        .orderBy("day")
    )


@register(
    "scan_dpp_date_join",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(ROUND(SUM(CAST(ROUND(value, 4) AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS sum_value
FROM events
WHERE isodow(CAST(ts AS DATE)) >= 6
  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-03-31'
GROUP BY event_type
ORDER BY event_type
""",
    doc="Dynamic partition pruning: the dt-partitioned events layout "
    "(shared with scan_partition_pruned) joined to a generated date "
    "dimension filtered to WEEKENDS — a predicate the fact scan cannot "
    "see statically (it lives on the dim side, on a derived attribute). "
    "Catalyst's DPP inserts a runtime subquery filter on the fact's "
    "partition column: the dim side evaluates first, its qualifying "
    "dt keys broadcast, and ~22 of 30 day-directories are skipped "
    "BEFORE file IO (plan carries `dynamicpruning` in PartitionFilters "
    "— asserted in tests/test_relational.py). This is THE mechanism "
    "that makes star-schema date-dim joins viable at 100 TB: partition "
    "elimination driven by the dim filter, no manual predicate "
    "duplication. Oracle applies the equivalent weekend predicate "
    "directly (isodow>=6 == Spark weekday>=5, probed).",
)
def scan_dpp_date_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.sources.derived import derived_cache

    ev = load_table(spark, "events", sf_dir, parallelize=False)
    base = derived_cache(
        sf_dir,
        "prune",
        ["events"],
        lambda d: ev.withColumn("dt", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("dt")
        .parquet(d),
    )
    fact = spark.read.parquet(base)
    dim = (
        spark.range(91)
        .select(
            F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias(
                "d"
            )
        )
        .filter(F.weekday("d") >= 5)
    )
    return (
        fact.join(F.broadcast(dim), fact["dt"] == dim["d"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("dt").cast("long").alias("n_days"),
            F.round(F.sum(F.round(F.col("value"), 4).cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "alloc_largest_remainder",
    """
WITH o AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS target
  FROM orders WHERE o_orderkey % 100 = 0
),
li AS (
  SELECT l.l_orderkey, l.l_linenumber, o.target,
         CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT) AS w
  FROM lineitem l JOIN o ON o.o_orderkey = l.l_orderkey
),
s AS (
  SELECT *, SUM(w) OVER (PARTITION BY l_orderkey) AS wsum FROM li
),
b AS (
  SELECT *, (target * w) // wsum AS base, (target * w) % wsum AS rem FROM s
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY rem DESC, l_linenumber) AS rn,
         target - SUM(base) OVER (PARTITION BY l_orderkey) AS leftover
  FROM b
)
SELECT l_orderkey,
       CAST(l_linenumber AS BIGINT) AS linenumber,
       w AS w_cents,
       CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_cents,
       target AS target_cents
FROM r
ORDER BY l_orderkey, linenumber
""",
    doc="Exact proportional allocation with largest-remainder rounding "
    "(Hamilton apportionment): each order's total, in integer cents, is "
    "split across its lineitems proportional to extended price such "
    "that the allocations SUM EXACTLY to the target — the financial "
    "proration primitive (revenue splits, cost allocation, tax "
    "apportionment) naive ROUND(share) gets wrong by a cent per order. "
    "Floor shares via integer division, then the deficit (provably "
    "< n_items) goes +1 cent to the largest fractional remainders "
    "(rem DESC, linenumber tiebreak). All arithmetic is exact BIGINT "
    "(target*w <= ~5e14 fits int64; Spark DIV == DuckDB //), so the "
    "oracle hash-matches bit for bit. Plan: one orderkey window "
    "partition does floors, remainders, ranks and the deficit — at "
    "100 TB the allocation parallelizes per order after a single "
    "shuffle, no iteration. Mod-sampled orders bound the output "
    "(CLAUDE.md explosion rule).",
)
def alloc_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    o = orders.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("target"),
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_linenumber",
        "target",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("w"),
    )
    wo = Window.partitionBy("l_orderkey")
    b = j.select(
        "*",
        (F.col("target") * F.col("w")).alias("share"),
        F.sum("w").over(wo).alias("wsum"),
    ).select(
        "*",
        F.expr("share DIV wsum").alias("base"),
        F.expr("share % wsum").alias("rem"),
    )
    r = b.select(
        "*",
        F.row_number()
        .over(Window.partitionBy("l_orderkey").orderBy(F.desc("rem"), "l_linenumber"))
        .alias("rn"),
        (F.col("target") - F.sum("base").over(wo)).alias("leftover"),
    )
    return r.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("linenumber"),
        F.col("w").alias("w_cents"),
        (F.col("base") + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0))
        .cast("long")
        .alias("alloc_cents"),
        F.col("target").alias("target_cents"),
    ).orderBy("l_orderkey", "linenumber")


_SESS_GAP_US = 1800 * 1000 * 1000
_SESS_CUTOFF = "2024-01-16 00:00:00"


@register(
    "sessionize_incremental_merge",
    """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(MAX(n) AS BIGINT) AS max_session_events
FROM per_session
GROUP BY user_id
""",
    doc="INCREMENTAL sessionization (IVM for gaps-and-islands): events "
    f"split at a cutoff ({_SESS_CUTOFF}) into 'yesterday's history' and "
    "'today's delta'; history sessionizes once and collapses to a "
    "1-row-per-user STATE (the open session's tail timestamp + per-"
    "session sizes), then the delta sessionizes seeded by that state — "
    "a delta row within 30 min of the stored tail EXTENDS the open "
    "session (running-sum id 0), everything else opens new sessions — "
    "and the merge is a union of closed-session sizes + the stitched "
    "boundary session + delta sessions, aggregated per user. The "
    "oracle sessionizes the FULL data in one pass: hash-equality "
    "proves the incremental path is exactly equivalent, the property "
    "that lets a 100 TB pipeline sessionize each day's partition "
    "against a user-cardinality state table instead of re-scanning "
    "history (cost: O(delta + users) per day, not O(history)). Same "
    "(ts, event_id) tiebreaks and strict->30min gap as "
    "sessionize_events.",
)
def sessionize_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    cutoff = F.lit(_SESS_CUTOFF).cast("timestamp_ntz")

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    def islands(df, seed_col=None):
        prev = F.lag("ts").over(w)
        if seed_col is not None:
            prev = F.coalesce(prev, F.col(seed_col))
        gap = F.timestamp_diff("MICROSECOND", prev, F.col("ts"))
        flagged = df.withColumn(
            "ns", F.when(gap.isNull() | (gap > _SESS_GAP_US), 1).otherwise(0)
        )
        return flagged.withColumn("sid", F.sum("ns").over(wrun))

    part1 = ev.filter(F.col("ts") < cutoff)
    part2 = ev.filter(F.col("ts") >= cutoff)

    s1 = (
        islands(part1)
        .groupBy("user_id", "sid")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.max("ts").alias("hi"))
    )
    wlast = Window.partitionBy("user_id").orderBy(F.desc("sid"))
    # s1f feeds THREE plan branches (state, closed, boundary) — without a
    # persist each branch re-expands the part1 window lineage (CLAUDE.md
    # multi-consumer rule; measured 2.1 -> ~1.2 s at sf0.1)
    from logflow.operators.cache import track

    s1f = track(s1.withColumn("is_last", F.row_number().over(wlast) == 1).persist())
    # per-user state: the open session's tail timestamp (broadcastable —
    # one row per user, the WHOLE point of the incremental layout)
    state = s1f.filter("is_last").select("user_id", F.col("hi").alias("open_hi"))

    p2 = part2.join(F.broadcast(state), "user_id", "left")
    s2 = (
        islands(p2, seed_col="open_hi")
        .groupBy("user_id", "sid")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # sid 0 == the delta rows that EXTEND the open session (seeded flag 0)
    ext = s2.filter(F.col("sid") == 0).select("user_id", F.col("n").alias("n_ext"))
    news = s2.filter(F.col("sid") >= 1).select("user_id", "n")

    closed = s1f.filter(~F.col("is_last")).select("user_id", "n")
    boundary = (
        s1f.filter("is_last")
        .join(ext, "user_id", "left")
        .select(
            "user_id",
            (F.col("n") + F.coalesce(F.col("n_ext"), F.lit(0))).alias("n"),
        )
    )
    all_sessions = closed.unionByName(boundary).unionByName(news)
    return all_sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n").cast("long").alias("n_events"),
        F.max("n").cast("long").alias("max_session_events"),
    )


@register(
    "scalar_timezone_dst",
    """
WITH shifted AS (
  SELECT user_id, event_id,
         ts + INTERVAL (event_id % 330) DAY AS uts
  FROM events
),
localized AS (
  SELECT user_id, uts,
         timezone('America/New_York', timezone('UTC', uts)) AS nyts
  FROM shifted
)
SELECT CAST(date_diff('hour', uts, nyts) AS BIGINT) AS offset_hours,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT CAST(nyts AS DATE)) AS BIGINT) AS n_local_days,
       CAST(SUM(user_id) AS BIGINT) AS user_checksum,
       MIN(nyts) AS first_local,
       MAX(nyts) AS last_local
FROM localized
GROUP BY date_diff('hour', uts, nyts)
ORDER BY offset_hours
""",
    doc="Civil-time conversion across BOTH 2024 US DST transitions: event "
    "times (UTC wall clock) spread deterministically over 330 days "
    "(event_id-keyed calendar-day shifts cross Mar 10 spring-forward AND "
    "Nov 3 fall-back), converted to America/New_York with Spark's "
    "convert_timezone vs DuckDB's ICU timezone() — grouping by the "
    "realized UTC-offset proves both engines place every instant on "
    "the same side of both transitions (instant->local is total and "
    "unambiguous; ONLY this direction is engine-portable — local->"
    "instant hits the spring-forward gap and the fall-back double "
    "hour, which engines resolve by convention). The offset itself is "
    "an exact integer hour diff of the two NTZ columns. The layout "
    "question this answers at 100 TB: partition-by-local-date tables "
    "have 23h and 25h days — counts per offset quantify exactly how "
    "much data moves between them.",
)
def scalar_timezone_dst(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    shifted = ev.select(
        "user_id",
        F.expr("ts + make_interval(0, 0, 0, CAST(event_id % 330 AS INT), 0, 0, 0)")
        .alias("uts"),
    )
    localized = shifted.select(
        "user_id",
        "uts",
        F.expr("convert_timezone('UTC', 'America/New_York', uts)").alias("nyts"),
    )
    off = F.expr("CAST(timestampdiff(HOUR, uts, nyts) AS BIGINT)")
    return (
        localized.groupBy(off.alias("offset_hours"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct(F.to_date("nyts")).cast("long").alias("n_local_days"),
            F.sum("user_id").cast("long").alias("user_checksum"),
            F.min("nyts").alias("first_local"),
            F.max("nyts").alias("last_local"),
        )
        .orderBy("offset_hours")
    )


@register(
    "dq_replay_detection",
    """
WITH e AS (
  SELECT event_id, user_id, event_type, ts FROM events
)
SELECT b.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT b.event_id) AS BIGINT) AS n_replayed,
       CAST(MIN(date_diff('microsecond', a.ts, b.ts)) AS BIGINT)
         AS min_gap_us
FROM e a
JOIN e b ON a.user_id = b.user_id
        AND a.event_type = b.event_type
        AND b.ts > a.ts
        AND date_diff('microsecond', a.ts, b.ts) <= 600000000
GROUP BY b.event_type
ORDER BY b.event_type
""",
    doc="Replay/duplicate-submission detection: an event is a REPLAY if "
    "the same user fired the same event type <= 10 minutes earlier — "
    "the double-click / bot-retry / at-least-once-producer audit that "
    "exact full-row dedup misses (event_ids and payloads differ). "
    "Candidates come from an EQUI-join on the (user, type) identity — "
    "the time band only post-filters pairs within an identity group, "
    "so candidate cardinality is bounded by group sizes (never an "
    "interval cross product); n_pairs vs n_replayed separates pair "
    "multiplicity from distinct duplicated events, min_gap_us is the "
    "tightest observed repeat. Exact: the band is integer micros; "
    "strict b.ts > a.ts excludes equal-ts ties symmetrically in both "
    "engines. At 100 TB this is one shuffle on the identity pair; a "
    "hot identity (bot hammering one action) is exactly what it "
    "surfaces — diag_key_skew on the same key is the pre-flight "
    "guard.",
)
def dq_replay_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    e = ev.select("event_id", "user_id", "event_type", "ts")
    a, b = e.alias("a"), e.alias("b")
    tdiff = F.expr("timestampdiff(MICROSECOND, a.ts, b.ts)")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (tdiff <= 600 * 1000 * 1000),
    )
    return (
        pairs.groupBy(F.col("b.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct(F.col("b.event_id")).cast("long").alias("n_replayed"),
            F.min(tdiff).cast("long").alias("min_gap_us"),
        )
        .orderBy("event_type")
    )


_RETAIN_CUTOFF = "2024-01-15"


@register(
    "maintenance_retention_prune",
    f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       MIN(date_trunc('day', ts)) AS first_day,
       MAX(date_trunc('day', ts)) AS last_day
FROM events
WHERE CAST(ts AS DATE) >= DATE '{_RETAIN_CUTOFF}'
GROUP BY event_type
ORDER BY event_type
""",
    doc="Retention enforcement as a FILE-LEVEL operation: a dt-partitioned "
    f"copy of events has every partition directory before {_RETAIN_CUTOFF} "
    "DELETED outright (the GDPR/TTL maintenance job every time-partitioned "
    "lake runs) — dropping a partition is an O(files) metadata operation, "
    "where a row-level DELETE would rewrite the table. The subsequent scan "
    "must agree EXACTLY with the predicate form on the raw table (the "
    "oracle): partition-dir deletion == `WHERE day >= cutoff`, proving the "
    "layout carries the retention boundary losslessly. Deletion happens "
    "inside the fingerprinted derived-cache build (own landing dir, "
    "separate from the pruning layout other queries share), so a "
    "half-deleted state can never be cached. At 100 TB: this is why "
    "ingest partitions on event date — retention becomes `rm -r` on "
    "expired directories plus a catalog refresh, zero data rewrite.",
)
def maintenance_retention_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from logflow.sources.derived import derived_cache

    ev = load_table(spark, "events", sf_dir, parallelize=False)

    def build(d: str) -> None:
        ev.withColumn("dt", F.to_date("ts")).write.mode("overwrite").partitionBy(
            "dt"
        ).parquet(d)
        import os

        for entry in os.listdir(d):
            if entry.startswith("dt=") and entry[3:] < _RETAIN_CUTOFF:
                shutil.rmtree(os.path.join(d, entry))

    base = derived_cache(sf_dir, "retain", ["events"], build)
    kept = spark.read.parquet(base)
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("dt").cast("long").alias("n_days"),
            F.min(F.date_trunc("day", "ts")).alias("first_day"),
            F.max(F.date_trunc("day", "ts")).alias("last_day"),
        )
        .orderBy("event_type")
    )


@register(
    "funnel_conversion_rates",
    """
WITH su AS (SELECT user_id, ts AS t1, event_id AS id1 FROM events
            WHERE event_type = 'signup'),
cl AS (SELECT user_id, ts AS t2 FROM events WHERE event_type = 'click'),
pu AS (SELECT user_id, ts AS t3 FROM events WHERE event_type = 'purchase'),
s2 AS (
  SELECT su.user_id, su.t1, su.id1, MIN(cl.t2) AS first_click
  FROM su LEFT JOIN cl ON su.user_id = cl.user_id
   AND cl.t2 > su.t1 AND cl.t2 <= su.t1 + INTERVAL 1 HOUR
  GROUP BY su.user_id, su.t1, su.id1),
s3 AS (
  SELECT s2.user_id, s2.t1, s2.id1, s2.first_click, MIN(pu.t3) AS first_purchase
  FROM s2 LEFT JOIN pu ON s2.user_id = pu.user_id AND s2.first_click IS NOT NULL
   AND pu.t3 > s2.first_click AND pu.t3 <= s2.first_click + INTERVAL 1 HOUR
  GROUP BY s2.user_id, s2.t1, s2.id1, s2.first_click)
SELECT date_trunc('day', t1) AS cohort_day,
       CAST(COUNT(*) AS BIGINT) AS n_signups,
       CAST(SUM(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clicked,
       CAST(SUM(CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purchased,
       ROUND(CAST(SUM(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 4) AS rate_click,
       ROUND(CAST(SUM(CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / NULLIF(SUM(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END), 0),
             4) AS rate_purchase_given_click,
       ROUND(CAST(SUM(CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 4) AS rate_overall
FROM s3
GROUP BY date_trunc('day', t1)
ORDER BY cohort_day
""",
    doc="Windowed funnel CONVERSION-RATE report — the cohort analytics "
    "layer over the MATCH_RECOGNIZE family (seq_regex_funnel counts "
    "patterns, funnel_within_window counts completions; this reports "
    "the per-stage drop-off a growth dashboard actually shows): signup "
    "attempts cohorted by day, each attempting the SLA funnel (earliest "
    "click within 1h, then earliest purchase within 1h of that click, "
    "LEFT joins so non-converting attempts stay countable), emitting "
    "stage counts and conversion rates per cohort. Rates divide exact "
    "BIGINTs as identical IEEE quotients; the purchase-given-click "
    "denominator is NULLIF-guarded in both engines (Spark ANSI would "
    "throw on a zero-click cohort where DuckDB yields NULL). Cohort key "
    "is a date_trunc TIMESTAMP, never DATE (dtype parity rule). At "
    "100 TB: two per-user interval joins (shuffle on user_id, the "
    "natural key), MIN-resolved steps keep the chosen path unique and "
    "the join output one row per attempt; the rate rollup is one "
    "partial-agg'd groupBy over attempt-scale rows.",
)
def funnel_conversion_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    su = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("t1"), F.col("event_id").alias("id1")
    )
    cl = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("t2")
    )
    pu = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("t3")
    )
    s2 = (
        su.join(
            cl,
            (F.col("user_id") == F.col("cu"))
            & (F.col("t2") > F.col("t1"))
            & (F.col("t2") <= F.col("t1") + F.expr("INTERVAL 1 HOUR")),
            "left",
        )
        .groupBy("user_id", "t1", "id1")
        .agg(F.min("t2").alias("first_click"))
    )
    s3 = (
        s2.join(
            pu,
            (F.col("user_id") == F.col("pu"))
            & F.col("first_click").isNotNull()
            & (F.col("t3") > F.col("first_click"))
            & (F.col("t3") <= F.col("first_click") + F.expr("INTERVAL 1 HOUR")),
            "left",
        )
        .groupBy("user_id", "t1", "id1", "first_click")
        .agg(F.min("t3").alias("first_purchase"))
    )
    clicked = F.sum(F.when(F.col("first_click").isNotNull(), 1).otherwise(0))
    purchased = F.sum(F.when(F.col("first_purchase").isNotNull(), 1).otherwise(0))
    n = F.count(F.lit(1))
    return (
        s3.groupBy(F.date_trunc("day", "t1").alias("cohort_day"))
        .agg(
            n.cast("long").alias("n_signups"),
            clicked.cast("long").alias("n_clicked"),
            purchased.cast("long").alias("n_purchased"),
            F.round(clicked.cast("double") / n, 4).alias("rate_click"),
            F.round(
                purchased.cast("double") / F.nullif(clicked, F.lit(0)), 4
            ).alias("rate_purchase_given_click"),
            F.round(purchased.cast("double") / n, 4).alias("rate_overall"),
        )
        .orderBy("cohort_day")
    )


_ZM_BUCKETS = 64


@register(
    "scan_zonemap_audit",
    f"""
WITH lo AS (SELECT MIN(l_shipdate) AS dmin FROM lineitem),
bounds AS (SELECT dmin + INTERVAL 30 DAY AS plo, dmin + INTERVAL 60 DAY AS phi
           FROM lo),
b AS (
  SELECT l_shipdate,
         ntile({_ZM_BUCKETS}) OVER (ORDER BY l_orderkey, l_linenumber) AS bk_nat,
         ntile({_ZM_BUCKETS}) OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber)
           AS bk_date
  FROM lineitem),
nat AS (SELECT bk_nat AS bk, MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM b GROUP BY bk_nat),
datec AS (SELECT bk_date AS bk, MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM b GROUP BY bk_date),
zsets AS (
  SELECT 'natural' AS layout, bk, mn, mx, c FROM nat
  UNION ALL
  SELECT 'date-clustered', bk, mn, mx, c FROM datec)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(CASE WHEN mx < plo OR mn > phi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pruned,
       CAST(SUM(c) AS BIGINT) AS rows_total,
       CAST(SUM(CASE WHEN mx < plo OR mn > phi THEN 0 ELSE c END) AS BIGINT)
         AS rows_scanned,
       ROUND(CAST(SUM(CASE WHEN mx < plo OR mn > phi THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 4) AS prune_ratio,
       ROUND(CAST(SUM(CASE WHEN mx < plo OR mn > phi THEN 0 ELSE c END)
                  AS DOUBLE) / SUM(c), 4) AS scan_ratio
FROM zsets CROSS JOIN bounds
GROUP BY layout
ORDER BY layout
""",
    doc="Zone-map (min/max data-skipping) EFFECTIVENESS audit — the "
    f"measurement behind every 100 TB layout decision: {_ZM_BUCKETS} "
    "equal-row buckets stand in for parquet row groups under two "
    "layouts (natural insertion order vs shipdate-clustered), each "
    "bucket keeps min/max shipdate zone maps, and a 30-day probe "
    "predicate (bounds derived from the data's own MIN date — "
    "seed-robust) reports how many buckets and rows each layout lets "
    "the scanner skip. The date-clustered layout prunes nearly "
    "everything, the natural one nearly nothing — the number that "
    "justifies paying scan_zorder_layout's sort. All counts exact "
    "BIGINTs; timestamps compare exactly; ntile over unique-key "
    "total orders is positional and engine-identical. Spark side: "
    "ntile is NOT computed with a partitionless window (a "
    "single-task sort of the whole fact at scale) — each layout's "
    "bucket id is derived from the exact global 0-indexed position "
    "via operators/packing.global_row_number (deterministic "
    "quantile-edge range buckets + per-bucket row_number + broadcast "
    "prefix-count offsets, the textbook two-phase form with "
    "plan-stable bucket ids) and the closed-form ntile bucket "
    "formula (first n%N buckets get one extra row); identical "
    "output, parallel sort.",
)
def scan_zonemap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.cache import track
    from logflow.operators.packing import global_ntile

    # the 3-column projection feeds FIVE consumers (two quantile probes,
    # two ntile assignments, the bounds agg): persist it once or every
    # consumer re-scans the parquet (r11 interleaved A/B: 4.2 vs 5.5 s
    # min at sf0.1)
    li = track(
        load_table(spark, "lineitem", sf_dir)
        .select("l_shipdate", "l_orderkey", "l_linenumber")
        .persist()
    )
    li.count()

    def zones(keys: list[str], layout: str) -> DataFrame:
        g = global_ntile(li, keys, _ZM_BUCKETS, out_col="bk")
        return (
            g.groupBy("bk")
            .agg(
                F.min("l_shipdate").alias("mn"),
                F.max("l_shipdate").alias("mx"),
                F.count(F.lit(1)).cast("long").alias("c"),
            )
            .select(F.lit(layout).alias("layout"), "bk", "mn", "mx", "c")
        )

    bounds = li.agg(
        F.expr("MIN(l_shipdate) + INTERVAL 30 DAY").alias("plo"),
        F.expr("MIN(l_shipdate) + INTERVAL 60 DAY").alias("phi"),
    )
    both = zones(["l_orderkey", "l_linenumber"], "natural").unionByName(
        zones(["l_shipdate", "l_orderkey", "l_linenumber"], "date-clustered")
    )
    pruned = F.when((F.col("mx") < F.col("plo")) | (F.col("mn") > F.col("phi")), 1).otherwise(0)
    scanned = F.when((F.col("mx") < F.col("plo")) | (F.col("mn") > F.col("phi")), 0).otherwise(
        F.col("c")
    )
    return (
        both.crossJoin(F.broadcast(bounds))
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum(pruned).cast("long").alias("n_pruned"),
            F.sum("c").cast("long").alias("rows_total"),
            F.sum(scanned).cast("long").alias("rows_scanned"),
            F.round(F.sum(pruned).cast("double") / F.count(F.lit(1)), 4).alias("prune_ratio"),
            F.round(F.sum(scanned).cast("double") / F.sum("c"), 4).alias("scan_ratio"),
        )
        .orderBy("layout")
    )


@register(
    "shard_rendezvous_rebalance",
    """
WITH keys AS (SELECT c_custkey AS k FROM customer),
n8 AS (SELECT unnest(range(0, 8)) AS sh),
n9 AS (SELECT unnest(range(0, 9)) AS sh),
hrw8 AS (
  SELECT k, sh FROM (
    SELECT keys.k, n8.sh,
           ROW_NUMBER() OVER (PARTITION BY keys.k
                              ORDER BY md5(CAST(keys.k AS VARCHAR) || ':' ||
                                           CAST(n8.sh AS VARCHAR)) DESC,
                                       n8.sh) AS rn
    FROM keys CROSS JOIN n8) WHERE rn = 1),
hrw9 AS (
  SELECT k, sh FROM (
    SELECT keys.k, n9.sh,
           ROW_NUMBER() OVER (PARTITION BY keys.k
                              ORDER BY md5(CAST(keys.k AS VARCHAR) || ':' ||
                                           CAST(n9.sh AS VARCHAR)) DESC,
                                       n9.sh) AS rn
    FROM keys CROSS JOIN n9) WHERE rn = 1),
schemes AS (
  SELECT 'mod' AS scheme,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(CASE WHEN k % 8 <> k % 9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
  FROM keys
  UNION ALL
  SELECT 'rendezvous',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN a.sh <> b.sh THEN 1 ELSE 0 END) AS BIGINT)
  FROM hrw8 a JOIN hrw9 b ON a.k = b.k)
SELECT scheme, n_keys, n_moved,
       ROUND(CAST(n_moved AS DOUBLE) / n_keys, 4) AS moved_ratio
FROM schemes
ORDER BY scheme
""",
    doc="Shard-rebalance audit: when a cluster grows 8 -> 9 shards, what "
    "fraction of keys MOVE under (a) mod-N sharding vs (b) rendezvous "
    "(highest-random-weight, Thaler-Ravishankar 1998) hashing — mod "
    "reshuffles ~8/9 of all keys while HRW provably moves only the "
    "~1/9 that the new shard wins, the property that makes "
    "consistent-style placement mandatory for 100 TB shard maps. "
    "Deterministic throughout: the per-(key, shard) weight is "
    "md5(key:shard) compared as fixed-length lowercase hex (identical "
    "in both engines), argmax tiebroken by shard id. The Spark side "
    "computes each winner MAP-SIDE with an array_max over a "
    "transform(sequence(...)) of (hash, shard) structs — zero joins, "
    "zero shuffles, linear in keys; the oracle unrolls the same argmax "
    "relationally.",
)
def shard_rendezvous_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    keys = cust.select(F.col("c_custkey").alias("k"))

    def hrw(n: int):
        # map-side argmax: struct comparison is lexicographic, so
        # max(struct(md5, -sh)) == ORDER BY md5 DESC, sh ASC
        return F.array_max(
            F.transform(
                F.sequence(F.lit(0), F.lit(n - 1)),
                lambda sh: F.struct(
                    F.md5(
                        F.concat(
                            F.col("k").cast("string"), F.lit(":"), sh.cast("string")
                        )
                    ).alias("h"),
                    (-sh).alias("negsh"),
                ),
            )
        )["negsh"] * -1

    assigned = keys.select(
        "k",
        (F.col("k") % 8).alias("m8"),
        (F.col("k") % 9).alias("m9"),
        hrw(8).alias("h8"),
        hrw(9).alias("h9"),
    )
    moved_mod = F.sum(F.when(F.col("m8") != F.col("m9"), 1).otherwise(0)).cast("long")
    moved_hrw = F.sum(F.when(F.col("h8") != F.col("h9"), 1).otherwise(0)).cast("long")
    n = F.count(F.lit(1)).cast("long")
    agg = assigned.agg(
        n.alias("n_keys"), moved_mod.alias("nm_mod"), moved_hrw.alias("nm_hrw")
    )
    out = agg.selectExpr(
        "stack(2, 'mod', nm_mod, 'rendezvous', nm_hrw) AS (scheme, n_moved)",
        "n_keys",
    )
    return out.select(
        "scheme",
        "n_keys",
        "n_moved",
        F.round(F.col("n_moved").cast("double") / F.col("n_keys"), 4).alias(
            "moved_ratio"
        ),
    ).orderBy("scheme")


@register(
    "division_covering_buyers",
    """
WITH refc AS (SELECT CAST(MIN(o_custkey) AS BIGINT) AS refk FROM orders),
divisor AS (
  SELECT DISTINCT l.l_partkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  CROSS JOIN refc WHERE o.o_custkey = refc.refk),
dn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_req FROM divisor),
cp AS (
  SELECT DISTINCT o.o_custkey, l.l_partkey
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN divisor d ON d.l_partkey = l.l_partkey),
winners AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_matched
  FROM cp GROUP BY o_custkey)
SELECT c.c_custkey, c.c_name, w.n_matched, dn.n_req
FROM winners w CROSS JOIN dn
JOIN customer c ON c.c_custkey = w.o_custkey
WHERE w.n_matched = dn.n_req
ORDER BY c.c_custkey
""",
    doc="RELATIONAL DIVISION (the classic 'suppliers who supply ALL "
    "parts' shape, Codd's ÷ operator — the one textbook relational "
    "plan shape not yet in the suite): customers whose purchased part "
    "set COVERS every part the reference customer (lowest custkey "
    "with orders, data-derived so the divisor is never hardcoded) "
    "ever bought. Implemented as the standard count-matching "
    "reduction: restrict the fact to divisor parts, dedup "
    "(customer, part), and keep customers whose distinct-match count "
    "equals the divisor size — set containment without any "
    "double-negated NOT EXISTS (which Catalyst would plan as two "
    "correlated anti joins; the count form is one shuffle + one "
    "broadcast). Divisor and its count are broadcast 1-side tables; "
    "the fact is touched once. All counts exact BIGINTs.",
)
def division_covering_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    refc = orders.agg(F.min("o_custkey").cast("long").alias("refk"))
    ol = li.select("l_orderkey", "l_partkey").join(
        orders.select("o_orderkey", "o_custkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    divisor = (
        ol.crossJoin(F.broadcast(refc))
        .filter(F.col("o_custkey") == F.col("refk"))
        .select("l_partkey")
        .distinct()
    )
    dn = divisor.agg(F.count(F.lit(1)).cast("long").alias("n_req"))
    cp = (
        ol.join(F.broadcast(divisor), "l_partkey")
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    winners = cp.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_matched")
    )
    return (
        winners.crossJoin(F.broadcast(dn))
        .filter(F.col("n_matched") == F.col("n_req"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name", "n_matched", "n_req")
        .orderBy("c_custkey")
    )


@register(
    "scan_delta_varint_estimate",
    """
WITH ids AS (SELECT DISTINCT o_orderkey AS id FROM orders),
sorted_d AS (
  SELECT id - LAG(id, 1, 0) OVER (ORDER BY id) AS delta FROM ids),
hashed_d AS (
  SELECT abs(id - LAG(id, 1, 0) OVER (ORDER BY md5(CAST(id AS VARCHAR)), id))
    AS delta FROM ids),
vb AS (
  SELECT 'sorted' AS layout, delta,
         CASE WHEN delta < 128 THEN 1 WHEN delta < 16384 THEN 2
              WHEN delta < 2097152 THEN 3 WHEN delta < 268435456 THEN 4
              ELSE 5 END AS nbytes
  FROM sorted_d
  UNION ALL
  SELECT 'hash-ordered', delta,
         CASE WHEN delta < 128 THEN 1 WHEN delta < 16384 THEN 2
              WHEN delta < 2097152 THEN 3 WHEN delta < 268435456 THEN 4
              ELSE 5 END
  FROM hashed_d)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(COUNT(*) * 8 AS BIGINT) AS bytes_raw,
       CAST(SUM(nbytes) AS BIGINT) AS bytes_delta_varint,
       ROUND(CAST(COUNT(*) * 8 AS DOUBLE) / SUM(nbytes), 4) AS compression_x
FROM vb
GROUP BY layout
ORDER BY layout
""",
    doc="Delta+varint ENCODING-SIZE estimate for the order-key column "
    "under two physical layouts — the storage-layout audit behind "
    "'sort before you encode' (Parquet DELTA_BINARY_PACKED, Lucene "
    "postings): consecutive sorted keys have tiny deltas (1-2 varint "
    "bytes) while hash-ordered keys have key-space-sized deltas "
    "(4-5 bytes), and the measured ratio is the number that justifies "
    "a sort/Z-order pass before writing (scan_zorder_layout / "
    "scan_zonemap_audit's sibling for SIZE rather than pruning). All "
    "arithmetic is exact integers (LAG over a total order; LEB128 "
    "byte-count ladder as a CASE); the hash order is md5-deterministic. "
    "The ordering windows are value-scale by the DISTINCT; at 100 TB "
    "the estimate runs per partition/row-group (deltas within, not "
    "across, groups) exactly like the real encoder.",
)
def scan_delta_varint_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    ids = orders.select(F.col("o_orderkey").alias("id")).distinct()
    ws = Window.orderBy("id")
    wh = Window.orderBy(F.md5(F.col("id").cast("string")), "id")
    sorted_d = ids.select((F.col("id") - F.lag("id", 1, 0).over(ws)).alias("delta"))
    hashed_d = ids.select(
        F.abs(F.col("id") - F.lag("id", 1, 0).over(wh)).alias("delta")
    )
    nbytes = (
        F.when(F.col("delta") < 128, 1)
        .when(F.col("delta") < 16384, 2)
        .when(F.col("delta") < 2097152, 3)
        .when(F.col("delta") < 268435456, 4)
        .otherwise(5)
    )
    vb = sorted_d.select(F.lit("sorted").alias("layout"), nbytes.alias("nbytes")).unionByName(
        hashed_d.select(F.lit("hash-ordered").alias("layout"), nbytes.alias("nbytes"))
    )
    return (
        vb.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_values"),
            (F.count(F.lit(1)) * 8).cast("long").alias("bytes_raw"),
            F.sum("nbytes").cast("long").alias("bytes_delta_varint"),
            F.round(
                (F.count(F.lit(1)) * 8).cast("double") / F.sum("nbytes"), 4
            ).alias("compression_x"),
        )
        .orderBy("layout")
    )


@register(
    "agg_weighted_median",
    """
WITH v AS (
  SELECT l_returnflag AS flag,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         CAST(ROUND(l_quantity, 0) AS BIGINT) AS w
  FROM lineitem),
d AS (SELECT flag, cents, CAST(SUM(w) AS BIGINT) AS w FROM v GROUP BY flag, cents),
t AS (SELECT flag, CAST(SUM(w) AS BIGINT) AS tot FROM d GROUP BY flag),
r AS (SELECT flag, cents, w,
             CAST(SUM(w) OVER (PARTITION BY flag ORDER BY cents) AS BIGINT) AS cum
      FROM d)
SELECT r.flag AS l_returnflag, t.tot AS total_weight,
       CAST(MIN(CASE WHEN 2 * r.cum >= t.tot THEN r.cents END) AS BIGINT)
         AS median_cents,
       ROUND(CAST(MIN(CASE WHEN 2 * r.cum >= t.tot THEN r.cents END) AS DOUBLE)
             / 100.0, 2) AS weighted_median_price
FROM r JOIN t ON r.flag = t.flag
GROUP BY r.flag, t.tot
ORDER BY r.flag
""",
    doc="Exact QUANTITY-WEIGHTED median price per return flag — the "
    "'median unit actually sold' (an unweighted median over line items "
    "overweights small orders). Lower weighted median: the smallest "
    "value whose cumulative weight reaches half the total — computed "
    "at VALUE-DOMAIN scale (group to distinct cents first, one "
    "running-sum window over ~domain rows per flag), never a row-scale "
    "sort; weights and cents are exact BIGINTs so the pick is "
    "deterministic. The same shape generalizes to any exact weighted "
    "quantile. At 100 TB: one fact pass map-side-combines into the "
    "(flag, cents) table; the window runs on the bounded value domain "
    "(the diag_mann_whitney_value contract).",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
        F.round("l_quantity", 0).cast("long").alias("w"),
    )
    d = v.groupBy("flag", "cents").agg(F.sum("w").cast("long").alias("w"))
    # per-flag total = max of the running sum over the SAME partitioning
    # (guide §2.4: two operations keyed the same way share one exchange) —
    # the former separate groupBy + join re-executed the fact rollup
    # twice (d fed two unpersisted branches) and added a join shuffle
    wc = Window.partitionBy("flag").orderBy("cents")
    wall = Window.partitionBy("flag")
    r = d.select(
        "flag", "cents", "w", F.sum("w").over(wc).cast("long").alias("cum")
    ).withColumn("tot", F.max("cum").over(wall).cast("long"))
    med = F.min(
        F.when(2 * F.col("cum") >= F.col("tot"), F.col("cents"))
    ).cast("long")
    return (
        r.groupBy("flag", "tot")
        .agg(med.alias("median_cents"))
        .select(
            F.col("flag").alias("l_returnflag"),
            F.col("tot").alias("total_weight"),
            "median_cents",
            F.round(F.col("median_cents").cast("double") / 100.0, 2).alias(
                "weighted_median_price"
            ),
        )
        .orderBy("l_returnflag")
    )


@register(
    "setops_multiset_bag",
    """
WITH c AS (SELECT user_id FROM events WHERE event_type = 'click'),
v AS (SELECT user_id FROM events WHERE event_type = 'view')
SELECT op, CAST(n AS BIGINT) AS n FROM (
  SELECT 'intersect_all' AS op, COUNT(*) AS n
  FROM (SELECT * FROM c INTERSECT ALL SELECT * FROM v)
  UNION ALL
  SELECT 'except_all', COUNT(*)
  FROM (SELECT * FROM c EXCEPT ALL SELECT * FROM v)
  UNION ALL
  SELECT 'intersect_distinct', COUNT(*)
  FROM (SELECT * FROM c INTERSECT SELECT * FROM v)
  UNION ALL
  SELECT 'except_distinct', COUNT(*)
  FROM (SELECT * FROM c EXCEPT SELECT * FROM v))
ORDER BY op
""",
    doc="MULTISET set operations — INTERSECT ALL / EXCEPT ALL next to "
    "their DISTINCT forms over per-user click/view event bags: bag "
    "semantics preserve multiplicity (a user with 3 clicks and 1 view "
    "contributes 1 to intersect_all and 2 to except_all), which is what "
    "per-event accounting needs and what the DISTINCT forms silently "
    "collapse. SQL-standard surface on both engines "
    "(df.intersectAll/exceptAll Spark-side); exact counts satisfy the "
    "bag identity |A ∩all B| + |A \\all B| = |A|. At 100 TB: each op is "
    "one hash shuffle on the compared columns with map-side partial "
    "counting — same cost class as a groupBy.",
)
def setops_multiset_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    c = ev.filter(F.col("event_type") == "click").select("user_id")
    v = ev.filter(F.col("event_type") == "view").select("user_id")
    parts = [
        ("intersect_all", c.intersectAll(v)),
        ("except_all", c.exceptAll(v)),
        ("intersect_distinct", c.intersect(v)),
        ("except_distinct", c.subtract(v)),
    ]
    out = None
    for op, df in parts:
        row = df.agg(F.count(F.lit(1)).cast("long").alias("n")).select(
            F.lit(op).alias("op"), "n"
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("op")


_NOT_IN_SQL_BODY = """
WITH sub AS (
  SELECT NULLIF(o_custkey, (SELECT MIN(o_custkey) FROM {o})) AS k FROM {o})
SELECT method, n FROM (
  SELECT 'not_in' AS method,
         CAST((SELECT COUNT(*) FROM {c}
               WHERE c_custkey NOT IN (SELECT k FROM sub)) AS BIGINT) AS n
  UNION ALL
  SELECT 'not_exists' AS method,
         CAST((SELECT COUNT(*) FROM {c} cc WHERE NOT EXISTS
               (SELECT 1 FROM sub WHERE sub.k = cc.c_custkey)) AS BIGINT) AS n
  UNION ALL
  SELECT 'not_in_null_filtered' AS method,
         CAST((SELECT COUNT(*) FROM {c}
               WHERE c_custkey NOT IN
                     (SELECT k FROM sub WHERE k IS NOT NULL)) AS BIGINT) AS n
) t ORDER BY method
"""


@register(
    "subquery_not_in_null_trap",
    _NOT_IN_SQL_BODY.format(o="orders", c="customer"),
    doc="The NOT IN three-valued-logic trap, demonstrated and resolved in "
    "one query: against a subquery whose list contains a NULL (the "
    "smallest custkey NULLIF'd out), standard SQL makes `NOT IN` return "
    "ZERO rows (x <> NULL is UNKNOWN, so no row ever passes), while "
    "NOT EXISTS and the IS-NOT-NULL-filtered NOT IN return the real "
    "dormant-customer count — the single most common silent-wrong-"
    "answer bug in migrated ETL, and the reason anti-joins must be "
    "spelled NOT EXISTS. Both engines implement the standard semantics "
    "(Spark plans the NOT IN as a null-aware anti join); counts are "
    "exact BIGINTs. At 100 TB: each branch is one aggregate over an "
    "anti-join — the null-aware variant degrades to a broadcast "
    "nested-loop ONLY if the subquery is not provably null-free, which "
    "is exactly the planning hazard this query documents.",
)
def subquery_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("lf_nin_orders")
    load_table(spark, "customer", sf_dir).createOrReplaceTempView("lf_nin_customer")
    return spark.sql(_NOT_IN_SQL_BODY.format(o="lf_nin_orders", c="lf_nin_customer"))


@register(
    "attribution_position_based",
    """
WITH touches AS (
  SELECT user_id, ts AS t_ts, event_id AS t_id, event_type AS channel
  FROM events WHERE event_type IN ('click', 'signup', 'view')),
purchases AS (
  SELECT user_id, ts AS p_ts, event_id AS p_id
  FROM events WHERE event_type = 'purchase'),
pairs AS (
  SELECT p.p_id, t.channel,
         row_number() OVER (PARTITION BY p.p_id ORDER BY t.t_ts, t.t_id) AS rn,
         COUNT(*) OVER (PARTITION BY p.p_id) AS n
  FROM purchases p JOIN touches t
    ON p.user_id = t.user_id
   AND t.t_ts <= p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY
   AND t.t_id <> p.p_id),
shares AS (
  SELECT p_id, channel,
         CAST(CASE WHEN n = 1 THEN 1.0
                   WHEN n = 2 THEN 0.5
                   WHEN rn = 1 OR rn = n THEN 0.4
                   ELSE ROUND(0.2 / (CAST(n AS DOUBLE) - 2.0), 6)
              END AS DECIMAL(18,6)) AS share
  FROM pairs)
SELECT channel,
       CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_purchases_touched,
       CAST(ROUND(SUM(share), 4) AS DOUBLE) AS credit
FROM shares
GROUP BY channel
ORDER BY channel
""",
    doc="Position-based (U-shaped 40/20/40) multi-touch attribution: the "
    "first and last touch in the 7-day lookback each take 40% of a "
    "purchase's credit, interior touches split the remaining 20% evenly "
    "(1 touch → 100%, 2 touches → 50/50) — the third member of the "
    "attribution family next to last-touch and time-decay, preferring "
    "discovery and closing over mid-journey noise. Touch positions are "
    "ROW_NUMBER with the unique (t_ts, t_id) tiebreak; the 0.4/0.5/1.0 "
    "shares are exact decimals, the interior share is one identical "
    "IEEE division rounded once, and channel credits are exact DECIMAL "
    "sums. Same bounded per-user interval join as "
    "attribution_time_decay; the windows partition by purchase "
    "(touches-per-week fan-in). At 100 TB: one user shuffle, "
    "purchase-keyed windows, channel-sized output.",
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    touches = ev.filter(F.col("event_type").isin("click", "signup", "view")).select(
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("channel"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    pairs = (
        purchases.join(touches, "user_id")
        .filter(
            (F.col("t_ts") <= F.col("p_ts"))
            & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAY"))
            & (F.col("t_id") != F.col("p_id"))
        )
        .select("p_id", "channel", "t_ts", "t_id")
    )
    wo = Window.partitionBy("p_id").orderBy("t_ts", "t_id")
    wc = Window.partitionBy("p_id")
    ranked = pairs.select(
        "p_id",
        "channel",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    share = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(0.4))
        .otherwise(F.round(F.lit(0.2) / (F.col("n").cast("double") - 2.0), 6))
        .cast("decimal(18,6)")
    )
    return (
        ranked.select("p_id", "channel", share.alias("share"))
        .groupBy("channel")
        .agg(
            F.countDistinct("p_id").cast("long").alias("n_purchases_touched"),
            F.round(F.sum("share"), 4).cast("double").alias("credit"),
        )
        .orderBy("channel")
    )


@register(
    "join_bitemporal_asof",
    """
WITH dim AS (
  SELECT o_custkey AS custkey, o_orderdate AS valid_from,
         o_orderdate + INTERVAL (CAST((o_orderkey // 5) % 4 AS INT)) DAY AS tx_from,
         o_orderpriority AS attr, o_orderkey
  FROM orders WHERE o_orderkey % 5 = 0),
facts AS (
  SELECT o_orderkey AS factkey, o_custkey AS custkey, o_orderdate AS vt,
         o_orderdate + INTERVAL 2 DAY AS tt
  FROM orders WHERE o_orderkey % 5 <> 0),
j AS (
  SELECT f.factkey, f.custkey, d.attr, d.valid_from, d.tx_from,
         row_number() OVER (PARTITION BY f.factkey
                            ORDER BY d.valid_from DESC, d.tx_from DESC,
                                     d.o_orderkey DESC) AS rn
  FROM facts f LEFT JOIN dim d
    ON f.custkey = d.custkey AND d.valid_from <= f.vt AND d.tx_from <= f.tt),
pick AS (SELECT * FROM j WHERE rn = 1)
SELECT COALESCE(attr, 'none') AS attr_asat,
       CAST(COUNT(*) AS BIGINT) AS n_facts,
       CAST(COUNT(DISTINCT custkey) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN tx_from > valid_from THEN 1 ELSE 0 END) AS BIGINT)
         AS n_retro
FROM pick GROUP BY COALESCE(attr, 'none')
ORDER BY attr_asat
""",
    doc="Bitemporal as-of-as-at join (valid time x transaction time — the "
    "SQL:2011 bitemporal read, extending scd2_point_in_time_join's "
    "single-axis version): dimension versions carry BOTH valid_from "
    "(when true in the world) and tx_from (when recorded — a "
    "deterministic 0-3-day late-arrival lag), and each fact reads the "
    "attribute AS OF its business date, AS AT what the system knew two "
    "days later: the latest-valid version among those already recorded "
    "(valid_from <= vt AND tx_from <= tt), latest tx_from winning among "
    "equal valid times — retroactive corrections recorded after tt are "
    "correctly invisible (n_retro counts the late-recorded versions "
    "that did win). Left join keeps early facts as 'none'; row_number "
    "with the unique o_orderkey tiebreak makes the pick deterministic "
    "and provably one-row-per-fact (pytest asserts conservation). "
    "Plan: equi hash join on custkey with the two temporal predicates "
    "as residual filters — never a BNLJ — then the per-fact pick "
    "shuffles on factkey; at 100 TB both shuffles are key-partitioned "
    "and version fan-out is bounded by versions-per-customer, with the "
    "window's per-partition state being one row.",
)
def join_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    dim = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_custkey").alias("d_custkey"),
        F.col("o_orderdate").alias("valid_from"),
        F.expr(
            "timestampadd(DAY, cast((o_orderkey div 5) % 4 as int), o_orderdate)"
        ).alias("tx_from"),
        F.col("o_orderpriority").alias("attr"),
        "o_orderkey",
    )
    facts = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("factkey"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("vt"),
        F.expr("timestampadd(DAY, 2, o_orderdate)").alias("tt"),
    )
    j = facts.join(
        dim,
        (F.col("custkey") == F.col("d_custkey"))
        & (F.col("valid_from") <= F.col("vt"))
        & (F.col("tx_from") <= F.col("tt")),
        "left_outer",
    )
    w = Window.partitionBy("factkey").orderBy(
        F.desc("valid_from"), F.desc("tx_from"), F.desc("o_orderkey")
    )
    pick = j.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        pick.groupBy(F.coalesce("attr", F.lit("none")).alias("attr_asat"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_facts"),
            F.countDistinct("custkey").cast("long").alias("n_customers"),
            F.sum(
                F.when(F.col("tx_from") > F.col("valid_from"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_retro"),
        )
        .orderBy("attr_asat")
    )


# --------------------------------------------------------------------------
# Grid-cell spatial kNN join — the partitioned-spatial-join pattern
# (Sedona/PostGIS-style): bucket points into fixed grid cells, join each
# query point against its 3x3 cell neighborhood, verify with exact
# integer distances. Coordinates are md5-derived here (the tables carry
# no geo columns) — deterministic, uniform, identical in both engines.
# --------------------------------------------------------------------------

_GEO_DOMAIN = 1_000_000  # planar coordinate domain (micro-units)
_GEO_CELL = 125_000  # grid cell width -> 8x8 cells
_GEO_K = 3


@register(
    "join_spatial_grid_knn",
    f"""
WITH cust AS (
  SELECT c_custkey,
         {md5_int("'gx:' || cast(c_custkey as string)", duck=True)} % {_GEO_DOMAIN} AS x,
         {md5_int("'gy:' || cast(c_custkey as string)", duck=True)} % {_GEO_DOMAIN} AS y
  FROM customer),
cc AS (SELECT c_custkey, x, y, x // {_GEO_CELL} AS cx, y // {_GEO_CELL} AS cy
       FROM cust),
supp AS (
  SELECT s_suppkey,
         {md5_int("'gx:' || cast(s_suppkey as string)", duck=True)} % {_GEO_DOMAIN} AS x,
         {md5_int("'gy:' || cast(s_suppkey as string)", duck=True)} % {_GEO_DOMAIN} AS y
  FROM supplier),
sc AS (SELECT s_suppkey, x, y, x // {_GEO_CELL} AS cx, y // {_GEO_CELL} AS cy
       FROM supp),
offs AS (SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                                    (1,-1),(1,0),(1,1)) AS t(dx, dy)),
probe AS (SELECT s_suppkey, x AS sx, y AS sy, cx + dx AS cx, cy + dy AS cy
          FROM sc CROSS JOIN offs),
cand AS (
  SELECT p.s_suppkey, c.c_custkey,
         (p.sx - c.x) * (p.sx - c.x) + (p.sy - c.y) * (p.sy - c.y) AS sqdist
  FROM probe p JOIN cc c ON p.cx = c.cx AND p.cy = c.cy)
SELECT s_suppkey, rank, c_custkey, sqdist,
       ROUND(sqrt(CAST(sqdist AS DOUBLE)), 4) AS dist
FROM (
  SELECT s_suppkey, c_custkey, sqdist,
         CAST(ROW_NUMBER() OVER (PARTITION BY s_suppkey
                                 ORDER BY sqdist, c_custkey) AS BIGINT) AS rank
  FROM cand)
WHERE rank <= {_GEO_K}
ORDER BY s_suppkey, rank
""",
    doc="Grid-cell spatial kNN join (the Sedona/PostGIS partitioned-"
    "spatial-join layout): suppliers and customers get deterministic "
    f"md5-derived planar coordinates in a {_GEO_DOMAIN}-unit domain, "
    f"bucketed into {_GEO_DOMAIN // _GEO_CELL}x"
    f"{_GEO_DOMAIN // _GEO_CELL} grid cells; each supplier probes its "
    "3x3 cell neighborhood via ONE cell-key equi-join (a 9-offset "
    "literal fan-out of the small side, never an all-pairs cross "
    f"join), exact BIGINT squared distances rank the top-{_GEO_K} "
    "per supplier. Semantics: neighbors are complete within one cell "
    f"width ({_GEO_CELL} units) of the query point by construction — "
    "the standard radius-bounded grid-join contract. Returned rows "
    f"whose dist exceeds {_GEO_CELL} are NEIGHBORHOOD-LOCAL, not "
    "guaranteed globally nearest (a closer point in a non-adjacent "
    "cell is invisible at that range — callers needing true global "
    "kNN at unbounded radius iterate ring expansions); sqdist is exact "
    "so ranking never touches a float until the output sqrt. At "
    "100 TB: cells are uniform (md5), so the equi-join shuffles "
    "balanced partitions; finer grids trade fan-out for candidate "
    "count; the window is per-supplier over candidate-scale rows.",
)
def join_spatial_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        (F.expr(md5_int("'gx:' || cast(c_custkey as string)")) % _GEO_DOMAIN).alias("x"),
        (F.expr(md5_int("'gy:' || cast(c_custkey as string)")) % _GEO_DOMAIN).alias("y"),
    )
    cc = cust.select(
        "c_custkey",
        "x",
        "y",
        F.expr(f"x DIV {_GEO_CELL}").alias("cx"),
        F.expr(f"y DIV {_GEO_CELL}").alias("cy"),
    )
    supp = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey",
        (F.expr(md5_int("'gx:' || cast(s_suppkey as string)")) % _GEO_DOMAIN).alias("x"),
        (F.expr(md5_int("'gy:' || cast(s_suppkey as string)")) % _GEO_DOMAIN).alias("y"),
    )
    sc = supp.select(
        "s_suppkey",
        "x",
        "y",
        F.expr(f"x DIV {_GEO_CELL}").alias("cx"),
        F.expr(f"y DIV {_GEO_CELL}").alias("cy"),
    )
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx long, dy long"
    )
    probe = sc.crossJoin(F.broadcast(offs)).select(
        "s_suppkey",
        F.col("x").alias("sx"),
        F.col("y").alias("sy"),
        (F.col("cx") + F.col("dx")).alias("cx"),
        (F.col("cy") + F.col("dy")).alias("cy"),
    )
    cand = probe.join(cc, ["cx", "cy"]).select(
        "s_suppkey",
        "c_custkey",
        (
            (F.col("sx") - F.col("x")) * (F.col("sx") - F.col("x"))
            + (F.col("sy") - F.col("y")) * (F.col("sy") - F.col("y"))
        ).alias("sqdist"),
    )
    w = Window.partitionBy("s_suppkey").orderBy("sqdist", "c_custkey")
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _GEO_K)
        .select(
            "s_suppkey",
            "rank",
            "c_custkey",
            "sqdist",
            F.round(F.sqrt(F.col("sqdist").cast("double")), 4).alias("dist"),
        )
        .orderBy("s_suppkey", "rank")
    )


# --------------------------------------------------------------------------
# File-level Bloom-filter skipping audit — the hash-sibling of
# scan_zonemap_audit: zonemaps skip on VALUE RANGES (only effective when
# the layout clusters the column); Bloom bitmaps skip on MEMBERSHIP and
# work on any layout. Exact bit-position simulation, measured FPR.
# --------------------------------------------------------------------------

_BLOOM_FILES = 64  # simulated files (orderkey ranges)
_BLOOM_BITS = 2048  # bits per file bitmap
_BLOOM_PROBE_MOD = 250  # deterministic probe keys: p_partkey % 250 == 0


@register(
    "scan_bloom_skipping_audit",
    f"""
WITH mx AS (SELECT CAST(MAX(l_orderkey) AS BIGINT) + 1 AS mo FROM lineitem),
rows_ AS (
  SELECT (l_orderkey * {_BLOOM_FILES}) // mo AS f, l_partkey AS k
  FROM lineitem CROSS JOIN mx),
fbits AS (
  SELECT DISTINCT f, b FROM (
    SELECT f, {md5_int("'b1:' || cast(k as string)", duck=True)} % {_BLOOM_BITS} AS b FROM rows_
    UNION ALL
    SELECT f, {md5_int("'b2:' || cast(k as string)", duck=True)} % {_BLOOM_BITS} AS b FROM rows_)),
truth AS (SELECT DISTINCT f, k FROM rows_),
probes AS (
  SELECT DISTINCT p_partkey AS p,
         {md5_int("'b1:' || cast(p_partkey as string)", duck=True)} % {_BLOOM_BITS} AS b1,
         {md5_int("'b2:' || cast(p_partkey as string)", duck=True)} % {_BLOOM_BITS} AS b2
  FROM part WHERE p_partkey % {_BLOOM_PROBE_MOD} = 0),
hits AS (
  SELECT pr.p, h1.f
  FROM probes pr
  JOIN fbits h1 ON h1.b = pr.b1
  JOIN fbits h2 ON h2.f = h1.f AND h2.b = pr.b2),
agg AS (
  SELECT p,
         CAST(COUNT(*) AS BIGINT) AS n_files_scanned,
         CAST(SUM(CASE WHEN t.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_files_true
  FROM hits LEFT JOIN truth t ON t.f = hits.f AND t.k = hits.p
  GROUP BY p)
SELECT p AS probe_key, n_files_scanned, n_files_true,
       CAST(n_files_scanned - n_files_true AS BIGINT) AS n_false_positives,
       ROUND(CAST(n_files_scanned AS DOUBLE) / {_BLOOM_FILES}, 4) AS scan_ratio
FROM agg
ORDER BY probe_key
""",
    doc="File-level Bloom-filter skipping audit — the membership sibling "
    f"of scan_zonemap_audit: lineitem splits into {_BLOOM_FILES} "
    "simulated files by orderkey range, each file gets a "
    f"{_BLOOM_BITS}-bit / k=2 Bloom bitmap over l_partkey (bit "
    "positions from md5 — identical literals both engines), and each "
    f"deterministic probe key (p_partkey % {_BLOOM_PROBE_MOD} = 0) "
    "counts files the filter would scan vs files that truly contain "
    "it — the measured false-positive overhead of hash skipping on a "
    "layout where value-range zonemaps are useless (partkey is "
    "uncorrelated with load order). Everything is exact set algebra "
    "on (file, bit) pairs: bitmap membership is a double semi-join on "
    "the bit table, truth an exact distinct join. At 100 TB: fbits is "
    f"bounded by files x {_BLOOM_BITS} bits; probes broadcast; only "
    "the (file, key) dedup touches data scale (ONE shuffle) — the bit "
    "build and every downstream join run on the deduped bounded frame.",
)
def scan_bloom_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.cache import track

    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    mx = li.agg(
        (F.max("l_orderkey").cast("long") + 1).alias("mo")
    ).localCheckpoint(eager=True)
    # dedup (f, k) FIRST: the truth distinct is the only fact-scale
    # shuffle; the bit table derives from the deduped frame, so the
    # double md5 bit computation and the fbits distinct run over
    # <= files x distinct-partkeys rows, never the raw fact, and no
    # fact-scale frame is ever persisted (r12: guide §2.2 shuffle fewer
    # bytes / §5 no data-scale cache; previously a persisted fact-scale
    # rows_ frame fed both bit branches pre-dedup).
    truth = (
        li.crossJoin(F.broadcast(mx))
        .select(
            F.expr(f"(l_orderkey * {_BLOOM_FILES}) DIV mo").alias("f"),
            F.col("l_partkey").alias("k"),
        )
        .distinct()
    )
    # 3 consumers (two bit-union branches + the audit join): eager
    # checkpoint — the duplicated subtree is the fact-scale distinct, and
    # checkpoint also truncates it out of the static plan (r10 rule)
    truth = truth.localCheckpoint(eager=True)
    b1, b2 = (F.expr(md5_int(f"'{t}:' || cast(k as string)")) % _BLOOM_BITS for t in ("b1", "b2"))
    fbits = (
        truth.select("f", b1.alias("b"))
        .unionByName(truth.select("f", b2.alias("b")))
        .distinct()
    )
    # bounded: <= files x bits rows; eager — feeds the double semi-join
    fbits = track(fbits.persist())
    fbits.count()
    part = load_table(spark, "part", sf_dir)
    probes = (
        part.filter(F.col("p_partkey") % _BLOOM_PROBE_MOD == 0)
        .select(
            F.col("p_partkey").alias("p"),
            (F.expr(md5_int("'b1:' || cast(p_partkey as string)")) % _BLOOM_BITS).alias("b1"),
            (F.expr(md5_int("'b2:' || cast(p_partkey as string)")) % _BLOOM_BITS).alias("b2"),
        )
        .distinct()
    )
    h1 = fbits.select(F.col("f"), F.col("b").alias("b1"))
    h2 = fbits.select(F.col("f"), F.col("b").alias("b2"))
    hits = (
        F.broadcast(probes)
        .join(h1, "b1")
        .join(h2, ["f", "b2"])
        .select("p", "f")
    )
    agg = (
        hits.join(
            truth.select("f", F.col("k").alias("p"), F.lit(1).alias("present")),
            ["f", "p"],
            "left",
        )
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files_scanned"),
            F.sum(F.coalesce("present", F.lit(0))).cast("long").alias("n_files_true"),
        )
    )
    return agg.select(
        F.col("p").alias("probe_key"),
        "n_files_scanned",
        "n_files_true",
        (F.col("n_files_scanned") - F.col("n_files_true"))
        .cast("long")
        .alias("n_false_positives"),
        F.round(
            F.col("n_files_scanned").cast("double") / _BLOOM_FILES, 4
        ).alias("scan_ratio"),
    ).orderBy("probe_key")


# --------------------------------------------------------------------------
# Nearest as-of join (r12): both-directions variant of the backward as-of.
# --------------------------------------------------------------------------

_NEAREST_ORACLE = """
WITH m AS (
  SELECT user_id, ts, 1 AS side, event_id, CAST(NULL AS BIGINT) AS cid
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, 0 AS side, CAST(NULL AS BIGINT) AS event_id,
         event_id AS cid
  FROM events WHERE event_type = 'click'),
w AS (
  SELECT *,
    last_value(cid IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY ts, side, cid
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_cid,
    last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY ts, side, cid
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
    first_value(cid IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY ts, side, cid
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_cid,
    first_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER
      (PARTITION BY user_id ORDER BY ts, side, cid
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
  FROM m),
pick AS (
  SELECT event_id, ts,
         CASE WHEN next_cid IS NULL
                OR (prev_cid IS NOT NULL
                    AND date_diff('microsecond', prev_ts, ts)
                        <= date_diff('microsecond', ts, next_ts))
              THEN prev_cid ELSE next_cid END AS click_event_id,
         CASE WHEN next_cid IS NULL
                OR (prev_cid IS NOT NULL
                    AND date_diff('microsecond', prev_ts, ts)
                        <= date_diff('microsecond', ts, next_ts))
              THEN prev_ts ELSE next_ts END AS click_ts
  FROM w WHERE side = 1)
SELECT event_id, click_event_id,
       date_diff('microsecond', ts, click_ts) AS gap_us
FROM pick
ORDER BY event_id
"""


@register(
    "join_asof_nearest_event",
    _NEAREST_ORACLE,
    doc="Nearest as-of join: each purchase matched to the user's click "
    "CLOSEST in time — either direction — with prior-click preference on "
    "exact distance ties (gap_us signed: negative = click before the "
    "purchase).  Implementation: operators/joins.py:asof_nearest_join — "
    "the asof_join union+window trick extended with a forward frame, so "
    "both directions resolve in ONE shuffle on user_id and one sorted "
    "pass (no range explosion, no second join).  Deterministic at equal "
    "timestamps via the payload-struct ordering rule; the oracle mirrors "
    "it with IGNORE NULLS window functions over the identical (ts, side, "
    "event_id) ordering.  At 100 TB: identical scale story to the "
    "backward as-of — linear in |purchases|+|clicks| per key shard.",
)
def join_asof_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.joins import asof_nearest_join

    ev = load_table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_nearest_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["event_id"],
    )
    return out.select(
        "event_id",
        F.col("event_id_right").alias("click_event_id"),
        F.expr("timestampdiff(MICROSECOND, ts, ts_right)").alias("gap_us"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# max_by / min_by aggregate surface (r12): per-day argmin/argmax picks.
# --------------------------------------------------------------------------

_ARGMM_ORACLE = """
SELECT date_trunc('day', o_orderdate) AS day,
       CAST(count(*) AS BIGINT) AS n_orders,
       arg_max(o_custkey, cents * 16777216 + o_orderkey) AS top_cust,
       arg_min(o_custkey, cents * 16777216 + o_orderkey) AS bottom_cust,
       arg_max(o_orderpriority, cents * 16777216 + o_orderkey) AS top_priority,
       ROUND(CAST(max(cents) AS DOUBLE) / 100.0, 2) AS max_price
FROM (SELECT *, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders)
GROUP BY day
ORDER BY day
"""


@register(
    "agg_argminmax_daily",
    _ARGMM_ORACLE,
    doc="max_by/min_by (arg_max/arg_min) aggregate surface: per order day, "
    "the customer behind the largest and smallest order plus the winner's "
    "priority class.  The ordering key is a collision-free BIGINT encoding "
    "cents*2^24 + o_orderkey (cents <= ~5.6e7 and orderkey < 2^24 keep the "
    "product far below the int64 sign bit) — neither engine's arg_max "
    "takes a struct tiebreak key, and raw-price ties would otherwise pick "
    "engine-dependent winners (the attribution_last_touch rule).  One "
    "partial-aggregated hash agg, no window, no sort until the final "
    "day-ordered output — the form that scales to 100 TB of orders.",
)
def agg_argminmax_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).withColumn(
        "cents", F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
    )
    enc = F.col("cents") * F.lit(16777216) + F.col("o_orderkey")
    o = orders.withColumn("enc", enc)
    return (
        o.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.expr("max_by(o_custkey, enc)").alias("top_cust"),
            F.expr("min_by(o_custkey, enc)").alias("bottom_cust"),
            F.expr("max_by(o_orderpriority, enc)").alias("top_priority"),
            F.round(F.max("cents").cast("double") / 100.0, 2).alias("max_price"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Corrupt-record CSV ingest (r12): PERMISSIVE-mode quarantine surface.
# --------------------------------------------------------------------------


@register(
    "source_csv_corrupt_records",
    """
SELECT o_orderstatus,
       CAST(COUNT(*) FILTER (o_orderkey % 97 <> 0) AS BIGINT) AS n_good,
       CAST(COUNT(*) FILTER (o_orderkey % 97 = 0) AS BIGINT) AS n_corrupt,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                    FILTER (o_orderkey % 97 <> 0), 2) AS DOUBLE) AS good_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    doc="PERMISSIVE-mode corrupt-record capture: a CSV landing zone is "
    "built from orders with every 97th order key's totalprice written "
    "as an unparseable token, then read back with an explicit schema + "
    "columnNameOfCorruptRecord — bad rows keep their parseable fields "
    "(status still groups), the malformed field nulls out, and the raw "
    "line lands in the quarantine column. The aggregate MUST reference "
    "the failing column: Spark's CSV parser only parses projected "
    "columns, so a count over the corrupt column alone silently reports "
    "zero corruption (probed; the good_price sum keeps o_totalprice in "
    "the projection and the quarantine honest). Oracle reconstructs the "
    "same split from parquet via the injection rule. At 100 TB: "
    "landing-zone ingest is map-side; the quarantine pattern costs "
    "nothing beyond the scan it already needed.",
)
def source_csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.sources.derived import derived_cache

    orders = load_table(spark, "orders", sf_dir, parallelize=False)

    def writer(d: str) -> None:
        line = F.expr(
            "concat(CAST(o_orderkey AS STRING), ',', o_orderstatus, ',',"
            " CASE WHEN o_orderkey % 97 = 0 THEN 'N/A'"
            " ELSE CAST(o_totalprice AS STRING) END)"
        )
        orders.select(line.alias("value")).write.mode("overwrite").text(d)

    base = derived_cache(sf_dir, "csv_corrupt", ["orders"], writer)
    cs = spark.read.schema(
        "o_orderkey long, o_orderstatus string, o_totalprice double,"
        " _corrupt string"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt"
    ).csv(base)
    return (
        cs.groupBy("o_orderstatus")
        .agg(
            F.count(F.when(F.col("_corrupt").isNull(), 1)).cast("long").alias("n_good"),
            F.count("_corrupt").cast("long").alias("n_corrupt"),
            money(
                F.sum(
                    F.when(
                        F.col("_corrupt").isNull(),
                        F.col("o_totalprice").cast("decimal(14,2)"),
                    )
                )
            ).alias("good_price"),
        )
        .orderBy("o_orderstatus")
    )
