"""Relational operator coverage queries (SURVEY.md §2.4).

The reference (harrystech/hyppo-worker) delegates all record
transformation to opaque integration callbacks
(``executor/src/main/java/com/harrys/hyppo/executor/run/ProcessRawDataOperation.java:73-80``);
the Spark-native engine instead exposes the DataFrame operator algebra
as the integration-authoring surface. Each query here exercises one
operator category — scans, projection/filter, join variants,
aggregation, windows, sorts/top-k, set ops, scalar functions — and is
checked against a DuckDB oracle at sf=0.01.

Scale notes per query are inline: broadcast hints for dimension
tables, pushdown-friendly predicates, partial aggregation (automatic),
and AQE-coalesced shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hyppo_worker_spark.queries import register
from hyppo_worker_spark.session import (
    load_tables,
    local_frame,
    scoped_conf,
    tracked_persist,
)


# --------------------------------------------------------------------------
# q01 — full-scan aggregation (TPC-H Q1 pattern): hash aggregate with
# partial (map-side) + final combine; only 7 columns read from parquet.
# At 100 TB this is a scan-bound query: no join, one shuffle keyed by a
# 6-value group key — AQE coalesces the tiny post-agg exchange.
# --------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                    AS avg_qty,
           round(avg(l_extendedprice), 4)                               AS avg_price,
           round(avg(l_discount), 4)                                    AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("aggregation", "scan", "flagship"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: grouped 8-way aggregate over lineitem."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# q02 — star-schema join through two dimension tables. region and nation
# are tiny → explicit broadcast, so the fact scan never shuffles: at
# 100 TB the plan is scan + two BroadcastHashJoins + one partial/final agg.
# --------------------------------------------------------------------------
@register(
    "q02_customer_by_region",
    oracle="""
    SELECT r.r_name AS region_name,
           count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
    tags=("join", "broadcast", "aggregation"),
)
def q02_customer_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer count + balance rollup by region (broadcast dims)."""
    t = load_tables(spark, sf_dir, ("customer", "nation", "region"))
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("region_name")
    )


# --------------------------------------------------------------------------
# q03 — 3-way join + agg + top-k (TPC-H Q3 pattern). customer filter is
# pushed to the scan; top-10 executes as TakeOrderedAndProject (no full
# sort at scale).
# --------------------------------------------------------------------------
@register(
    "q03_shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority AS o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "aggregation", "topk"),
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 unshipped orders by revenue for one market segment."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    return (
        cust.join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cutoff)
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q04 — left-semi join (EXISTS). The semi join needs only the join key
# from the probe side → Spark builds on the deduped key set; with AQE it
# can go broadcast when the filtered key set is small.
# --------------------------------------------------------------------------
@register(
    "q04_order_priority_semi",
    oracle="""
    SELECT o.o_orderpriority AS o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
    )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("join", "semi"),
)
def q04_order_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders having at least one high-quantity lineitem (left_semi)."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    big = t["lineitem"].filter(F.col("l_quantity") > 45)
    return (
        t["orders"]
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q05 — left-anti join (NOT EXISTS).
# --------------------------------------------------------------------------
@register(
    "q05_customers_without_orders",
    oracle="""
    SELECT c.c_mktsegment AS c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 420000
    )
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    tags=("join", "anti"),
)
def q05_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no very-large (>420k) order, by segment (left_anti)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    big = t["orders"].filter(F.col("o_totalprice") > 420000)
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# q06 — pure filter + global aggregate (TPC-H Q6 pattern). All three
# predicates push to the parquet scan (PushedFilters); single-row result.
# --------------------------------------------------------------------------
@register(
    "q06_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("filter", "pushdown", "aggregation"),
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-increase forecast: selective filters + global sum."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# q07 — window rank: top-3 suppliers by revenue within each nation.
# One shuffle on l_suppkey for the agg, one on n_name for the window;
# the window input is already tiny post-agg.
# --------------------------------------------------------------------------
@register(
    "q07_top_suppliers_per_nation",
    oracle="""
    WITH rev AS (
        SELECT s.s_nationkey, s.s_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_nationkey, s.s_name
    )
    SELECT n.n_name AS nation_name, r.s_name AS s_name, r.revenue AS revenue, rnk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY s_nationkey ORDER BY revenue DESC, s_name) AS rnk
        FROM rev
    ) r JOIN nation n ON r.s_nationkey = n.n_nationkey
    WHERE rnk <= 3
    ORDER BY nation_name, rnk
    """,
    tags=("window", "join", "aggregation"),
)
def q07_top_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 revenue suppliers per nation via row_number window."""
    t = load_tables(spark, sf_dir, ("lineitem", "supplier", "nation"))
    rev = (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_nationkey", "s_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    w = W.partitionBy("s_nationkey").orderBy(F.col("revenue").desc(), "s_name")
    return (
        rev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation_name"),
            "s_name",
            "revenue",
            "rnk",
        )
        .orderBy("nation_name", "rnk")
    )


# --------------------------------------------------------------------------
# q08 — running/frame windows over an event stream: cumulative sum and
# lag per user ordered by time; returns each user's final cumulative
# state (row_number desc = 1).
# --------------------------------------------------------------------------
@register(
    "q08_user_running_state",
    oracle="""
    WITH w AS (
        SELECT user_id, ts, value,
               sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_value,
               count(*)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_events,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, round(running_value, 2) AS total_value, n_events,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM w WHERE rn = 1 ORDER BY user_id
    """,
    tags=("window", "events"),
)
def q08_user_running_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cumulative value/count at their latest event."""
    t = load_tables(spark, sf_dir, ("events",))
    fwd = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    bwd = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        t["events"]
        .withColumn("running_value", F.sum("value").over(fwd))
        .withColumn("n_events", F.count(F.lit(1)).over(fwd))
        .withColumn("rn", F.row_number().over(bwd))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.round("running_value", 2).alias("total_value"),
            "n_events",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q09 — rollup (hierarchical grouping sets). Nulls introduced by the
# rollup are coalesced to 'ALL' on both sides for hash stability.
# --------------------------------------------------------------------------
@register(
    "q09_rollup_qty",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
    tags=("aggregation", "rollup"),
)
def q09_rollup_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity totals at (flag,status), (flag), and grand-total levels."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
        .orderBy("returnflag", "linestatus")
    )


# --------------------------------------------------------------------------
# q10 — set operations: INTERSECT / EXCEPT / UNION over key sets.
# --------------------------------------------------------------------------
@register(
    "q10_set_ops",
    oracle="""
    WITH buyers AS (SELECT DISTINCT o_custkey AS k FROM orders),
         rich   AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
         building AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
    SELECT 'rich_buyers' AS set_name, count(*) AS n FROM (SELECT k FROM buyers INTERSECT SELECT k FROM rich) t
    UNION ALL
    SELECT 'rich_non_buyers' AS set_name, count(*) AS n FROM (SELECT k FROM rich EXCEPT SELECT k FROM buyers) t
    UNION ALL
    SELECT 'rich_or_building' AS set_name, count(*) AS n FROM (SELECT k FROM rich UNION SELECT k FROM building) t
    ORDER BY set_name
    """,
    tags=("setops",),
)
def q10_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinalities of intersect/except/union over customer key sets."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    buyers = t["orders"].select(F.col("o_custkey").alias("k")).distinct()
    rich = t["customer"].filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("k")
    )
    building = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    spark_counts = [
        ("rich_buyers", buyers.intersect(rich)),
        ("rich_non_buyers", rich.exceptAll(buyers).distinct()),
        ("rich_or_building", rich.union(building).distinct()),
    ]
    out = None
    for name, df in spark_counts:
        one = df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(name).alias("set_name"), "n"
        )
        out = one if out is None else out.union(one)
    return out.orderBy("set_name")


# --------------------------------------------------------------------------
# q11 — distinct aggregation: exact countDistinct (expands to two-phase
# aggregate; at scale prefer approx_count_distinct — see q22).
# --------------------------------------------------------------------------
@register(
    "q11_distinct_parts",
    oracle="""
    SELECT l_returnflag AS l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregation", "distinct"),
)
def q11_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct part/supplier counts per return flag."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# q12 — global top-k: TakeOrderedAndProject, no full sort.
# --------------------------------------------------------------------------
@register(
    "q12_top_orders",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    tags=("sort", "topk"),
)
def q12_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 orders by total price."""
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


# --------------------------------------------------------------------------
# q13 — scalar function coverage: string / date / math / conditional,
# all JVM-side Catalyst expressions (whole-stage codegen, no UDFs).
# --------------------------------------------------------------------------
@register(
    "q13_scalar_functions",
    oracle="""
    SELECT upper(substr(p_brand, 1, 5)) AS brand_prefix,
           CASE WHEN p_size < 10 THEN 'small' WHEN p_size < 30 THEN 'medium' ELSE 'large' END AS size_class,
           count(*) AS n,
           round(sum(sqrt(p_retailprice)), 3) AS sum_sqrt_price,
           round(avg(length(p_name)), 4) AS avg_name_len,
           max(CASE WHEN p_name LIKE '%green%' THEN 1 ELSE 0 END) AS any_green
    FROM part
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("scalar", "string", "math"),
)
def q13_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math/conditional scalar expressions grouped over part."""
    t = load_tables(spark, sf_dir, ("part",))
    size_class = (
        F.when(F.col("p_size") < 10, "small")
        .when(F.col("p_size") < 30, "medium")
        .otherwise("large")
    )
    return (
        t["part"]
        .groupBy(
            F.upper(F.substring("p_brand", 1, 5)).alias("brand_prefix"),
            size_class.alias("size_class"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.sqrt("p_retailprice")), 3).alias("sum_sqrt_price"),
            F.round(F.avg(F.length("p_name")), 4).alias("avg_name_len"),
            F.max(
                F.when(F.col("p_name").like("%green%"), 1).otherwise(0)
            ).alias("any_green"),
        )
        .orderBy("brand_prefix", "size_class")
    )


# --------------------------------------------------------------------------
# q14 — conditional aggregation across a join (TPC-H Q14 pattern):
# promo revenue share. part is broadcast.
# --------------------------------------------------------------------------
@register(
    "q14_promo_revenue",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                              THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct,
           count(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
    """,
    tags=("join", "conditional-agg"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotional revenue percentage for one month."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_pct"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# q15 — join against a per-group aggregate (decorrelated subquery,
# TPC-H Q17 pattern). The avg-per-part side is tiny post-agg → AQE
# turns the main join into broadcast at small SF; at 100 TB it's a
# shuffle join co-partitioned on l_partkey.
# --------------------------------------------------------------------------
@register(
    "q15_small_quantity_orders",
    oracle="""
    WITH pa AS (
        SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg
        FROM lineitem GROUP BY l_partkey
    )
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n
    FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < pa.half_avg
    """,
    tags=("join", "subquery", "aggregation"),
)
def q15_small_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from lineitems below half the part's average quantity."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"]
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        li.join(pa, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# q16 — pivot / conditional columnarization: linestatus columns per
# returnflag. Oracle uses explicit conditional aggregation (same plan
# shape Spark generates for pivot with known values).
# --------------------------------------------------------------------------
@register(
    "q16_pivot_status",
    oracle="""
    SELECT l_returnflag AS l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_O,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("pivot", "aggregation"),
)
def q16_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns (explicit value list → single pass)."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .select(
            "l_returnflag",
            F.coalesce(F.col("O"), F.lit(0.0)).alias("qty_O"),
            F.coalesce(F.col("F"), F.lit(0.0)).alias("qty_F"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# q17 — range join against a small banding table. The band table is a
# literal → broadcast nested-loop with range predicate; at scale this
# stays a BNLJ over a broadcast of ~10 rows (cheap) — never a shuffle.
# --------------------------------------------------------------------------
PRICE_BANDS = [(0.0, 933.0, "low"), (933.0, 966.0, "mid"), (966.0, 1e18, "high")]


@register(
    "q17_price_band_range_join",
    oracle="""
    WITH bands(lo, hi, band) AS (
        VALUES (0.0, 933.0, 'low'), (933.0, 966.0, 'mid'), (966.0, 1e18, 'high')
    )
    SELECT b.band AS band, count(*) AS n_parts,
           round(avg(p.p_retailprice), 4) AS avg_price
    FROM part p JOIN bands b ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band ORDER BY b.band
    """,
    tags=("join", "range"),
)
def q17_price_band_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (inequality) join of parts onto price bands."""
    t = load_tables(spark, sf_dir, ("part",))
    bands = local_frame(
        t["part"].sparkSession,
        PRICE_BANDS, "lo double, hi double, band string"
    )
    p = t["part"]
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
        .orderBy("band")
    )


# --------------------------------------------------------------------------
# q18 — sessionization: gap > 30 min starts a new session (lag + running
# sum of boundaries). The canonical stream-batch window pattern.
# --------------------------------------------------------------------------
@register(
    "q18_sessionize",
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE OR
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM events
    ),
    s AS (
        SELECT user_id,
               sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM g
    )
    SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
    FROM s GROUP BY user_id ORDER BY user_id
    """,
    tags=("window", "sessionization", "events"),
)
def q18_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session counts per user with a 30-minute inactivity gap."""
    t = load_tables(spark, sf_dir, ("events",))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ts may arrive as TIMESTAMP_NTZ (no direct numeric cast); the
    # intermediate LTZ cast is identity under the UTC session TZ.
    # Double epoch keeps sub-second precision exactly (micros <
    # 2^53), matching the oracle's exact INTERVAL compare if the
    # generated data ever gains fractional seconds.
    ts_epoch = F.col("ts").cast("timestamp").cast("double")
    gap = ts_epoch - F.lag(ts_epoch).over(w)
    is_start = F.when(gap.isNull() | (gap > F.lit(30 * 60.0)), 1).otherwise(0)
    run = W.partitionBy("user_id").orderBy("ts").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        t["events"]
        .withColumn("is_start", is_start)
        .withColumn("session_id", F.sum("is_start").over(run))
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q19 — tumbling time-window aggregation over events (batch equivalent
# of the Structured Streaming windowed agg in streaming/pipeline.py).
# --------------------------------------------------------------------------
@register(
    "q19_event_time_windows",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type AS event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("window-agg", "events", "streaming-equivalent"),
)
def q19_event_time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window counts/sums per event type."""
    t = load_tables(spark, sf_dir, ("events",))
    return (
        t["events"]
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# q20 — grouping sets (explicit, beyond rollup/cube).
# --------------------------------------------------------------------------
@register(
    "q20_grouping_sets",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY orderstatus, orderpriority
    """,
    tags=("aggregation", "grouping-sets"),
)
def q20_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets: by status, by priority, grand total."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
               coalesce(o_orderpriority, 'ALL') AS orderpriority,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY orderstatus, orderpriority
        """
    )


# --------------------------------------------------------------------------
# q21 — as-of join (operators/asof.py): each click gets the latest
# prior-or-equal purchase by the same user. Union+window composition:
# one shuffle on user_id, no range cross join.
# --------------------------------------------------------------------------
@register(
    "q21_asof_join",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT user_id, ts, value AS pvalue FROM events WHERE event_type = 'purchase'
    ),
    u AS (
        SELECT user_id, ts, 1 AS side, event_id, value,
               NULL::DOUBLE AS pvalue, NULL::TIMESTAMP AS pts
        FROM clicks
        UNION ALL
        SELECT user_id, ts, 0 AS side, NULL, NULL, pvalue, ts FROM purch
    ),
    c AS (
        SELECT *,
               last_value(pvalue IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, side
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_pvalue,
               last_value(pts IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, side
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_pts
        FROM u
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           round(value, 3) AS click_value,
           round(coalesce(last_pvalue, -1.0), 3) AS purchase_value,
           coalesce(strftime(last_pts, '%Y-%m-%d %H:%M:%S'), 'never') AS purchase_ts
    FROM c WHERE side = 1
    ORDER BY event_id
    """,
    tags=("join", "asof", "events"),
)
def q21_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest purchase at-or-before each click, per user."""
    from hyppo_worker_spark.operators.asof import asof_join

    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("pvalue"), F.col("ts").alias("pts")
    )
    joined = asof_join(clicks, purchases, on="ts", by="user_id",
                       value_cols=["pvalue", "pts"])
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.round("value", 3).alias("click_value"),
        F.round(F.coalesce("pvalue_right", F.lit(-1.0)), 3).alias("purchase_value"),
        F.coalesce(
            F.date_format("pts_right", "yyyy-MM-dd HH:mm:ss"), F.lit("never")
        ).alias("purchase_ts"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# q22 — full outer join: per-nation customer vs supplier presence.
# Both sides are tiny post-agg; AQE plans a broadcast full-outer when
# one side fits, else sort-merge — either survives scale because the
# inputs are aggregates, not facts.
# --------------------------------------------------------------------------
@register(
    "q22_nation_coverage_full_outer",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT n.n_name AS nation_name,
           coalesce(c.n_cust, 0) AS n_customers,
           coalesce(s.n_supp, 0) AS n_suppliers,
           CASE WHEN c.nk IS NULL THEN 'no_customers'
                WHEN s.nk IS NULL THEN 'no_suppliers'
                ELSE 'both' END AS coverage
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    JOIN nation n ON n.n_nationkey = coalesce(c.nk, s.nk)
    ORDER BY nation_name
    """,
    tags=("join", "outer"),
)
def q22_nation_coverage_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of customer/supplier presence per nation."""
    t = load_tables(spark, sf_dir, ("customer", "supplier", "nation"))
    c = t["customer"].groupBy(F.col("c_nationkey").alias("c_nk")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s = t["supplier"].groupBy(F.col("s_nationkey").alias("s_nk")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    joined = c.join(s, c.c_nk == s.s_nk, "full_outer")
    coverage = (
        F.when(F.col("c_nk").isNull(), "no_customers")
        .when(F.col("s_nk").isNull(), "no_suppliers")
        .otherwise("both")
    )
    return (
        joined.join(
            F.broadcast(t["nation"]),
            F.col("n_nationkey") == F.coalesce("c_nk", "s_nk"),
        )
        .select(
            F.col("n_name").alias("nation_name"),
            F.coalesce("n_cust", F.lit(0)).alias("n_customers"),
            F.coalesce("n_supp", F.lit(0)).alias("n_suppliers"),
            coverage.alias("coverage"),
        )
        .orderBy("nation_name")
    )


# --------------------------------------------------------------------------
# q23 — exact interpolated percentiles (Spark `percentile` ≡ DuckDB
# `quantile_cont` on doubles). At 100 TB exact percentile shuffles all
# values per group — the approx_count_distinct/percentile_approx
# sketch path is the scale alternative (rows-only checked in q24's
# sibling; sketches differ across engines by design).
# --------------------------------------------------------------------------
@register(
    "q23_price_percentiles",
    oracle="""
    SELECT l_returnflag AS l_returnflag,
           round(quantile_cont(l_extendedprice::DOUBLE, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice::DOUBLE, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice::DOUBLE, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice::DOUBLE, 0.99), 4) AS p99
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
    tags=("aggregation", "percentile"),
)
def q23_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact price percentiles per return flag."""
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag,
               round(percentile(l_extendedprice, 0.25), 4) AS p25,
               round(percentile(l_extendedprice, 0.50), 4) AS p50,
               round(percentile(l_extendedprice, 0.75), 4) AS p75,
               round(percentile(l_extendedprice, 0.99), 4) AS p99
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


# --------------------------------------------------------------------------
# q24 — JSON extraction from the events props column (semi-structured
# scalar functions; JVM-side json path evaluation).
# --------------------------------------------------------------------------
@register(
    "q24_json_props",
    oracle="""
    SELECT event_type AS event_type,
           count(*) AS n,
           CAST(sum(json_extract_string(props, '$.k')::INT) AS BIGINT) AS sum_k,
           round(avg(json_extract_string(props, '$.k')::INT), 4) AS avg_k,
           max(json_extract_string(props, '$.k')::INT) AS max_k
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
    tags=("scalar", "json", "events"),
)
def q24_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate the JSON `k` property per event type."""
    t = load_tables(spark, sf_dir, ("events",))
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("sum_k"),
            F.round(F.avg(k), 4).alias("avg_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q25 — scalar subquery + anti join (TPC-H Q22 pattern): customers with
# above-average balance who never bought. The scalar aggregate is a
# one-row broadcast; the anti join shuffles only the key columns.
# --------------------------------------------------------------------------
@register(
    "q25_global_sales_opportunity",
    oracle="""
    SELECT c.c_mktsegment AS c_mktsegment,
           count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    tags=("subquery", "anti", "aggregation"),
)
def q25_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich customers with no large orders (scalar subquery + anti join)."""
    load_tables(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c.c_mktsegment,
               count(*) AS n_customers,
               round(sum(c.c_acctbal), 2) AS total_bal
        FROM customer c
        WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
        """
    )


# --------------------------------------------------------------------------
# q26 — histogram binning (width_bucket semantics via floor division):
# order-value distribution in 50k-wide bins.
# --------------------------------------------------------------------------
@register(
    "q26_price_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
    tags=("aggregation", "histogram"),
)
def q26_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order total-price histogram with fixed-width bins."""
    t = load_tables(spark, sf_dir, ("orders",))
    b = F.floor(F.col("o_totalprice") / 50000.0).cast("bigint")
    return (
        t["orders"]
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# q27 — sketch-based approximate aggregates: HyperLogLog++ distinct
# counts and quantile sketches. THE scale path for distincts and
# percentiles at 100 TB (bounded memory, one pass, mergeable partial
# sketches). Sketch outputs differ across engines by design, so the
# oracle compares what IS deterministic: the exact per-group counts,
# plus booleans asserting the sketches landed inside their published
# error bounds (HLL++: |approx-exact|/exact <= 3*rsd, a 3-sigma bound;
# quantile sketch: approx value between the exact quantiles one rank-
# percent either side of the target). DuckDB emits the same exact
# counts and literal TRUE flags — the hash matches iff Spark's
# sketches actually honor their contracts.
# --------------------------------------------------------------------------
@register(
    "q27_approx_aggregates",
    oracle="""
    SELECT
        l_returnflag,
        count(*) AS n_rows,
        count(DISTINCT l_partkey) AS exact_parts,
        count(DISTINCT l_orderkey) AS exact_orders,
        TRUE AS parts_within_bounds,
        TRUE AS orders_within_bounds,
        TRUE AS median_within_bounds,
        TRUE AS p25_within_bounds,
        TRUE AS p75_within_bounds
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregation", "approximate", "sketch"),
)
def q27_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distincts (HLL++, rsd=0.02) and quantile sketches,
    validated in-plan against their exact twins' error bounds."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    rsd = 0.02
    agg = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.approx_count_distinct("l_partkey", rsd=rsd).alias("ap"),
            F.approx_count_distinct("l_orderkey", rsd=rsd).alias("ao"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("am"),
            F.percentile_approx("l_extendedprice", 0.25, 10000).alias("a25"),
            F.percentile_approx("l_extendedprice", 0.75, 10000).alias("a75"),
            # Exact rank envelopes: one percentile point either side of
            # each sketch target (sketch rank error at accuracy=10000 is
            # ~1e-4 — two orders of magnitude inside the envelope).
            F.expr(
                "percentile(l_extendedprice, array(0.24, 0.26, 0.49, 0.51, 0.74, 0.76))"
            ).alias("env"),
        )
    )

    def within(approx, exact):
        return (F.abs(approx - exact) / exact) <= F.lit(3 * rsd)

    return agg.select(
        "l_returnflag",
        "n_rows",
        "exact_parts",
        "exact_orders",
        within(F.col("ap"), F.col("exact_parts")).alias("parts_within_bounds"),
        within(F.col("ao"), F.col("exact_orders")).alias("orders_within_bounds"),
        F.col("am").between(F.col("env")[2], F.col("env")[3]).alias(
            "median_within_bounds"
        ),
        F.col("a25").between(F.col("env")[0], F.col("env")[1]).alias(
            "p25_within_bounds"
        ),
        F.col("a75").between(F.col("env")[4], F.col("env")[5]).alias(
            "p75_within_bounds"
        ),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# q28 — min-per-group join-back (TPC-H Q2 pattern): cheapest supplier
# per nation, resolved via a per-group minimum joined back on the key
# pair. At scale both sides co-partition on the group key; no window
# over the full fact needed.
# --------------------------------------------------------------------------
@register(
    "q28_cheapest_supplier_per_nation",
    oracle="""
    WITH mn AS (
        SELECT s_nationkey, min(s_acctbal) AS min_bal FROM supplier GROUP BY s_nationkey
    )
    SELECT n.n_name AS nation_name, s.s_name AS s_name,
           round(s.s_acctbal, 2) AS acctbal
    FROM supplier s
    JOIN mn ON s.s_nationkey = mn.s_nationkey AND s.s_acctbal = mn.min_bal
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    ORDER BY nation_name, s_name
    """,
    tags=("join", "argmin", "aggregation"),
)
def q28_cheapest_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers holding their nation's minimum account balance."""
    t = load_tables(spark, sf_dir, ("supplier", "nation"))
    mn = t["supplier"].groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        t["supplier"]
        .join(
            mn,
            (F.col("s_nationkey") == F.col("nk"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            F.col("n_name").alias("nation_name"),
            "s_name",
            F.round("s_acctbal", 2).alias("acctbal"),
        )
        .orderBy("nation_name", "s_name")
    )


# --------------------------------------------------------------------------
# q29 — extended window-function coverage: ntile, percent_rank,
# first/last value frames, lead — one pass over orders per priority.
# --------------------------------------------------------------------------
@register(
    "q29_order_window_suite",
    oracle="""
    WITH w AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice,
               ntile(4)       OVER p AS price_quartile,
               -- percent_rank * (n-1) is the exact integer rank-1:
               -- float-boundary-safe for cross-engine hashing
               CAST(round(percent_rank() OVER p *
                    (count(*) OVER (PARTITION BY o_orderpriority) - 1)) AS BIGINT)
                   AS rank0,
               round(first_value(o_totalprice) OVER (p ROWS BETWEEN UNBOUNDED PRECEDING
                                                     AND CURRENT ROW), 2) AS min_so_far,
               round(coalesce(lead(o_totalprice) OVER p, -1.0), 2) AS next_price
        FROM orders
        WINDOW p AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    )
    SELECT o_orderpriority AS o_orderpriority,
           price_quartile,
           count(*) AS n,
           CAST(sum(rank0) AS BIGINT) AS sum_rank0,
           round(min(min_so_far), 2) AS min_price,
           round(sum(next_price), 2) AS sum_next
    FROM w GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("window", "ntile", "rank"),
)
def q29_order_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/percent_rank/first_value/lead over orders, summarized."""
    t = load_tables(spark, sf_dir, ("orders",))
    p = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    frame = p.rowsBetween(W.unboundedPreceding, W.currentRow)
    whole = W.partitionBy("o_orderpriority")
    rank0 = F.round(
        F.percent_rank().over(p) * (F.count(F.lit(1)).over(whole) - 1)
    ).cast("bigint")
    w = (
        t["orders"]
        .select(
            "o_orderpriority",
            F.ntile(4).over(p).alias("price_quartile"),
            rank0.alias("rank0"),
            F.round(F.first("o_totalprice").over(frame), 2).alias("min_so_far"),
            F.round(
                F.coalesce(F.lead("o_totalprice").over(p), F.lit(-1.0)), 2
            ).alias("next_price"),
        )
    )
    return (
        w.groupBy("o_orderpriority", "price_quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rank0").alias("sum_rank0"),
            F.round(F.min("min_so_far"), 2).alias("min_price"),
            F.round(F.sum("next_price"), 2).alias("sum_next"),
        )
        .orderBy("o_orderpriority", "price_quartile")
    )


# --------------------------------------------------------------------------
# q30 — MERGE/upsert semantics (operators/merge.py): a deterministic
# update batch (every 5th customer gets +100 balance; 10 synthetic new
# customers) upserted into the customer dimension, last-writer-wins.
# --------------------------------------------------------------------------
@register(
    "q30_merge_upsert",
    oracle="""
    WITH updates AS (
        SELECT c_custkey, c_name, c_nationkey,
               round(c_acctbal + 100.0, 2) AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 5 = 0
        UNION ALL
        SELECT c_custkey + 1000000, 'new-' || c_custkey, c_nationkey,
               0.0, 'MACHINERY'
        FROM customer WHERE c_custkey < 10
    ),
    merged AS (
        SELECT * FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)
        UNION ALL
        SELECT * FROM updates
    )
    SELECT c_mktsegment AS c_mktsegment,
           count(*) AS n,
           round(sum(c_acctbal), 2) AS total_bal,
           CAST(sum(CASE WHEN c_custkey >= 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
    FROM merged GROUP BY 1 ORDER BY 1
    """,
    tags=("merge", "upsert", "cdc"),
)
def q30_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert a deterministic update batch into customer, then audit."""
    from hyppo_worker_spark.operators.merge import merge_upsert

    t = load_tables(spark, sf_dir, ("customer",))
    cust = t["customer"]
    changed = cust.filter(F.col("c_custkey") % 5 == 0).withColumn(
        "c_acctbal", F.round(F.col("c_acctbal") + 100.0, 2)
    )
    inserted = (
        cust.filter(F.col("c_custkey") < 10)
        .select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            F.concat(F.lit("new-"), F.col("c_custkey")).alias("c_name"),
            "c_nationkey",
            F.lit(0.0).alias("c_acctbal"),
            F.lit("MACHINERY").alias("c_mktsegment"),
        )
    )
    updates = changed.unionByName(inserted)
    merged = merge_upsert(cust, updates, "c_custkey")
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
            F.sum(
                F.when(F.col("c_custkey") >= 1000000, 1).otherwise(0)
            ).alias("n_inserted"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# q31 — multiset set operations (EXCEPT ALL / INTERSECT ALL preserve
# duplicates, unlike the distinct set ops in q10).
# --------------------------------------------------------------------------
@register(
    "q31_multiset_ops",
    oracle="""
    WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'A'),
         b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R')
    SELECT 'a_minus_b' AS op, count(*) AS n
    FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b) t
    UNION ALL
    SELECT 'a_intersect_b' AS op, count(*) AS n
    FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b) t
    ORDER BY op
    """,
    tags=("setops", "multiset"),
)
def q31_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exceptAll/intersectAll cardinalities over supplier key bags."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"]
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("k"))
    b = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("k"))
    minus = a.exceptAll(b).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("a_minus_b").alias("op"), "n"
    )
    inter = a.intersectAll(b).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("a_intersect_b").alias("op"), "n"
    )
    return minus.union(inter).orderBy("op")


# --------------------------------------------------------------------------
# q32 — unpivot (stack): wide measure columns → (measure, value) rows,
# then aggregate per measure. The columnar-to-long reshape costs one
# narrow projection (no shuffle until the aggregate).
# --------------------------------------------------------------------------
@register(
    "q32_unpivot_measures",
    oracle="""
    WITH long AS (
        SELECT l_returnflag, 'quantity' AS measure, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount', l_discount FROM lineitem
    )
    SELECT l_returnflag AS l_returnflag, measure,
           count(*) AS n,
           round(sum(value), 2) AS total,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM long GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("unpivot", "reshape", "aggregation"),
)
def q32_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot three lineitem measures into long form and summarize."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    long = t["lineitem"].selectExpr(
        "l_returnflag",
        "stack(3, 'quantity', l_quantity, "
        "'extendedprice', l_extendedprice, "
        "'discount', l_discount) AS (measure, value)",
    )
    return (
        long.groupBy("l_returnflag", "measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
        .orderBy("l_returnflag", "measure")
    )


# --------------------------------------------------------------------------
# q33 — array aggregation: collect_set/array_agg folded to a sorted,
# joined string so the result hashes identically across engines.
# --------------------------------------------------------------------------
@register(
    "q33_array_agg",
    oracle="""
    SELECT o_orderpriority AS o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), '|') AS statuses,
           count(DISTINCT o_orderstatus) AS n_statuses,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
    tags=("aggregation", "array-agg"),
)
def q33_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct order statuses per priority as a sorted joined list."""
    t = load_tables(spark, sf_dir, ("orders",))
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.concat_ws("|", F.array_sort(F.collect_set("o_orderstatus"))).alias(
                "statuses"
            ),
            F.countDistinct("o_orderstatus").alias("n_statuses"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q34 — date/time arithmetic and field extraction: order-to-ship
# latency joined across fact tables, grouped by order year/quarter.
# --------------------------------------------------------------------------
@register(
    "q34_ship_latency",
    oracle="""
    SELECT extract(year FROM o.o_orderdate) AS order_year,
           extract(quarter FROM o.o_orderdate) AS order_quarter,
           count(*) AS n_lineitems,
           round(avg(date_diff('day', o.o_orderdate, l.l_shipdate)), 4) AS avg_ship_days,
           min(date_diff('day', o.o_orderdate, l.l_shipdate)) AS min_ship_days,
           max(date_diff('day', o.o_orderdate, l.l_shipdate)) AS max_ship_days
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("scalar", "date", "join"),
)
def q34_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average days from order to line shipment by year/quarter."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        t["orders"]
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.quarter("o_orderdate").alias("order_quarter"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(F.avg(days), 4).alias("avg_ship_days"),
            F.min(days).alias("min_ship_days"),
            F.max(days).alias("max_ship_days"),
        )
        .orderBy("order_year", "order_quarter")
    )


# --------------------------------------------------------------------------
# q35 — conditional/boolean aggregates: count_if, bool_and/bool_or,
# sum(DISTINCT) — one pass per group.
# --------------------------------------------------------------------------
@register(
    "q35_conditional_aggregates",
    oracle="""
    SELECT l_linestatus AS l_linestatus,
           CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_discounted,
           CAST(count_if(l_quantity >= 25) AS BIGINT) AS n_bulk,
           bool_and(l_extendedprice > 0) AS all_priced,
           bool_or(l_tax > 0.07) AS any_high_tax,
           round(sum(DISTINCT l_quantity), 2) AS sum_distinct_qty
    FROM lineitem
    GROUP BY 1 ORDER BY 1
    """,
    tags=("aggregation", "conditional", "boolean"),
)
def q35_conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if / bool_and / bool_or / sum(DISTINCT) per line status."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .groupBy("l_linestatus")
        .agg(
            F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
            F.count_if(F.col("l_quantity") >= 25).alias("n_bulk"),
            F.bool_and(F.col("l_extendedprice") > 0).alias("all_priced"),
            F.bool_or(F.col("l_tax") > 0.07).alias("any_high_tax"),
            F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_distinct_qty"),
        )
        .orderBy("l_linestatus")
    )


# --------------------------------------------------------------------------
# q36 — RANGE-frame (time-interval) window: rolling 7-day spend per
# customer. The event-time sliding aggregate pattern; at scale one
# shuffle on the partition key, frames evaluated in a single sorted
# pass per partition. Rolling sums are rounded BEFORE the max so
# engine-internal window-aggregation trees (DuckDB's segment tree vs
# Spark's running frame) can't leak last-ulp differences into the
# comparison.
# --------------------------------------------------------------------------
@register(
    "q36_rolling_window_range_frame",
    oracle="""
    WITH r AS (
        SELECT o_custkey,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
               ), 2) AS roll
        FROM orders
    )
    SELECT o_custkey AS o_custkey,
           max(roll) AS max_7d_spend,
           count(*) AS n_orders
    FROM r GROUP BY 1
    ORDER BY max_7d_spend DESC, o_custkey
    LIMIT 10
    """,
    tags=("window", "range-frame", "time-series"),
)
def q36_rolling_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top customers by maximum rolling 7-day spend (RANGE frame)."""
    t = load_tables(spark, sf_dir, ("orders",))
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-7 * 86400, 0)
    )
    return (
        t["orders"]
        .select(
            "o_custkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("roll"),
        )
        .groupBy("o_custkey")
        .agg(
            F.max("roll").alias("max_7d_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("max_7d_spend"), "o_custkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q37 — edit-distance drift: levenshtein between consecutive document
# heads per language (lag window + string-distance scalar). The
# dedup-adjacent fuzzy-match primitive, exercised as a deterministic
# aggregate.
# --------------------------------------------------------------------------
@register(
    "q37_edit_distance_drift",
    oracle="""
    WITH s AS (
        SELECT doc_id, lang, lower(substr(text, 1, 32)) AS head
        FROM documents
    ),
    d AS (
        SELECT lang,
               levenshtein(head, lag(head) OVER (PARTITION BY lang
                                                 ORDER BY doc_id)) AS dist
        FROM s
    )
    SELECT lang AS lang,
           count(dist) AS n_pairs,
           CAST(sum(dist) AS BIGINT) AS total_dist,
           round(avg(dist), 4) AS avg_dist,
           max(dist) AS max_dist
    FROM d WHERE dist IS NOT NULL
    GROUP BY lang ORDER BY lang
    """,
    tags=("scalar", "string-distance", "window"),
)
def q37_edit_distance_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein distance between consecutive doc heads per language."""
    t = load_tables(spark, sf_dir, ("documents",))
    w = W.partitionBy("lang").orderBy("doc_id")
    head = F.lower(F.substring("text", 1, 32))
    d = (
        t["documents"]
        .select("doc_id", "lang", head.alias("head"))
        .withColumn("dist", F.levenshtein(F.col("head"), F.lag("head").over(w)))
        .filter(F.col("dist").isNotNull())
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count("dist").alias("n_pairs"),
            F.sum("dist").alias("total_dist"),
            F.round(F.avg("dist"), 4).alias("avg_dist"),
            F.max("dist").alias("max_dist"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q38 — cume_dist + nth_value window coverage. cume_dist is a rational
# (k/n); it is compared as its exact integer numerator
# (cume_dist * n, integral because the window ordering is unique) so
# engine-dependent rounding of the ratio can't flip the hash.
# --------------------------------------------------------------------------
@register(
    "q38_distribution_windows",
    oracle="""
    WITH w AS (
        SELECT o_orderpriority,
               CAST(round(cume_dist() OVER p *
                          count(*) OVER (PARTITION BY o_orderpriority))
                    AS BIGINT) AS cd_rank,
               count(*) OVER (PARTITION BY o_orderpriority) AS n,
               round(nth_value(o_totalprice, 2) OVER (
                   p ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ), 2) AS second_price
        FROM orders
        WINDOW p AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    )
    SELECT o_orderpriority AS o_orderpriority,
           max(n) AS n,
           CAST(count_if(cd_rank * 4 <= n) AS BIGINT) AS bottom_quartile_n,
           min(second_price) AS second_price
    FROM w GROUP BY 1 ORDER BY 1
    """,
    tags=("window", "cume-dist", "nth-value"),
)
def q38_distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist (as exact integer rank) and nth_value per priority."""
    t = load_tables(spark, sf_dir, ("orders",))
    p = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    whole = W.partitionBy("o_orderpriority")
    full = p.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    n = F.count(F.lit(1)).over(whole)
    cd_rank = F.round(F.cume_dist().over(p) * n).cast("bigint")
    w = t["orders"].select(
        "o_orderpriority",
        cd_rank.alias("cd_rank"),
        n.alias("n"),
        F.round(F.nth_value("o_totalprice", 2).over(full), 2).alias("second_price"),
    )
    return (
        w.groupBy("o_orderpriority")
        .agg(
            F.max("n").alias("n"),
            F.count_if(F.col("cd_rank") * 4 <= F.col("n")).alias("bottom_quartile_n"),
            F.min("second_price").alias("second_price"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q39 — skew-safe two-phase aggregation (operators/skew.py): the
# explicit salting path for KNOWN hot keys. l_returnflag has 3 values
# over the whole fact table — exactly the shape where a single-phase
# groupBy funnels everything through 3 reducers at 100 TB. The oracle
# is the plain GROUP BY: salting must be lossless, so results are
# value-identical (sums quantized to integers so two-phase summation
# order cannot produce float epsilons vs DuckDB's single pass).
# --------------------------------------------------------------------------
@register(
    "q39_salted_hot_keys",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_price_cents,
           CAST(max(l_orderkey) AS BIGINT) AS max_orderkey
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregation", "skew", "salting"),
)
def q39_salted_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation through the two-phase salted path."""
    from hyppo_worker_spark.operators.skew import salted_agg

    t = load_tables(spark, sf_dir, ("lineitem",))
    prepared = t["lineitem"].select(
        "l_returnflag",
        F.lit(1).alias("one"),
        F.col("l_quantity").cast("bigint").alias("qty_int"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_cents"),
        "l_orderkey",
    )
    return salted_agg(
        prepared,
        "l_returnflag",
        [
            ("count", "one", "n_rows"),
            ("sum", "qty_int", "sum_qty"),
            ("sum", "price_cents", "sum_price_cents"),
            ("max", "l_orderkey", "max_orderkey"),
        ],
        salt=8,
    ).orderBy("l_returnflag")


@register(
    "q40_recursive_month_spine",
    oracle="""
    WITH RECURSIVE bounds AS (
        SELECT date_trunc('month', min(o_orderdate)) AS lo,
               date_trunc('month', max(o_orderdate)) AS hi
        FROM orders
    ),
    months AS (
        SELECT lo AS m, hi FROM bounds
        UNION ALL
        SELECT m + INTERVAL 1 MONTH, hi FROM months WHERE m < hi
    ),
    agg AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY 1
    )
    SELECT strftime(months.m, '%Y-%m') AS month,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(total, 0.0) AS total
    FROM months LEFT JOIN agg ON months.m = agg.m
    ORDER BY month
    """,
    tags=("relational", "recursive-cte", "gap-fill", "calendar"),
)
def q40_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled monthly order counts over a recursive-CTE date spine
    (Spark 4 ``WITH RECURSIVE``): the spine generates every month
    between the corpus min and max order date, so months with zero
    orders still appear — the canonical calendar/gap-fill pattern that
    plain GROUP BY cannot express. The recursion is driver-side tiny
    (one row per month); the per-month aggregate shuffles partial
    counts only, so the pattern is unchanged at 100 TB."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        WITH RECURSIVE bounds AS (
            SELECT date_trunc('MONTH', min(o_orderdate)) AS lo,
                   date_trunc('MONTH', max(o_orderdate)) AS hi
            FROM orders
        ),
        months AS (
            SELECT lo AS m, hi FROM bounds
            UNION ALL
            SELECT m + INTERVAL '1' MONTH, hi FROM months WHERE m < hi
        ),
        agg AS (
            SELECT date_trunc('MONTH', o_orderdate) AS m,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY 1
        )
        SELECT date_format(months.m, 'yyyy-MM') AS month,
               coalesce(n_orders, 0) AS n_orders,
               coalesce(total, 0.0) AS total
        FROM months LEFT JOIN agg ON months.m = agg.m
        ORDER BY month
        """
    )


# One-shot write memo for q41's bucketed tables: the bucketing story
# is pay-the-shuffle-once-at-write, amortize over every later join —
# so repeat calls in ONE process against the SAME sf_dir (bench's
# min-of-3, interactive reuse) must measure the exchange-free join,
# not a redundant rewrite (VERDICT r4 item 7). Keyed by Spark
# applicationId + sf_dir and re-validated against the catalog, so a
# new session, a different SF, or an externally dropped table all
# trigger a fresh write.
_Q41_WRITTEN: dict[str, tuple[str, str]] = {}


# --------------------------------------------------------------------------
# q41 — bucketed (co-located) fact-to-fact join: both sides written
# bucketed by the join key, so the SortMergeJoin plans with ZERO
# Exchange operators on either input (tests/test_plans.py asserts it).
# At 100 TB this is THE repeated-join strategy: the shuffle of both
# fact tables is paid once at write time and amortized over every
# subsequent join/aggregation on that key. The only exchange left in
# the whole plan is the tiny post-join re-agg on o_orderpriority.
# --------------------------------------------------------------------------
@register(
    "q41_bucketed_colocated_join",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_items,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("join", "bucketed", "zero-exchange", "storage-layout"),
)


def q41_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders⋈lineitem through same-bucketed managed tables: the join
    itself is exchange-free (bucket-local SMJ); result re-aggregated
    by order priority. The ``merge`` hint pins SMJ so the bucket
    co-location (not a broadcast) is what eliminates the shuffle —
    that is the property the plan test asserts. The table write runs
    once per (session, sf_dir) — repeat calls time the steady-state
    join, which is the strategy's whole point."""
    from hyppo_worker_spark.operators.bucketing import write_bucketed

    key = (spark.sparkContext.applicationId, sf_dir)
    if _Q41_WRITTEN.get("last") != key or not (
        spark.catalog.tableExists("q41_orders_b")
        and spark.catalog.tableExists("q41_lineitem_b")
    ):
        t = load_tables(spark, sf_dir, ("orders", "lineitem"))
        write_bucketed(
            t["orders"].select("o_orderkey", "o_orderpriority"),
            "q41_orders_b",
            "o_orderkey",
            n_buckets=8,
            sort_col="o_orderkey",
        )
        write_bucketed(
            t["lineitem"].select("l_orderkey", "l_quantity", "l_extendedprice"),
            "q41_lineitem_b",
            "l_orderkey",
            n_buckets=8,
            sort_col="l_orderkey",
        )
        _Q41_WRITTEN["last"] = key
    joined = (
        spark.table("q41_orders_b")
        .hint("merge")
        .join(
            spark.table("q41_lineitem_b").hint("merge"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q42 — retention cohort analysis over the events stream: cohort = a
# user's first active day; retention = distinct users active k days
# after their cohort day. The canonical product-analytics query shape
# (distinct-activity → per-user min → self-join back). At 100 TB every
# stage carries narrow (user_id, day) rows: one distinct shuffle, one
# per-user aggregate, one user-keyed join (both sides already hashed
# on user_id), one final (cohort_day, days_since) aggregate. The
# cohort table is |users|-sized — joined by key, never broadcast.
# --------------------------------------------------------------------------
@register(
    "q42_retention_cohorts",
    oracle="""
    WITH activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    cohort AS (
        SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY 1
    ),
    joined AS (
        SELECT c.cohort_day, a.user_id,
               date_diff('day', c.cohort_day, a.day) AS days_since
        FROM activity a JOIN cohort c USING (user_id)
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(days_since AS BIGINT) AS days_since,
           count(DISTINCT user_id) AS n_active
    FROM joined
    WHERE days_since <= 7
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("relational", "window", "cohort", "retention", "events"),
)
def q42_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily retention triangle (first 7 offsets) for event-stream
    user cohorts."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    activity = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    joined = (
        activity.join(cohort, "user_id")
        .withColumn("days_since", F.datediff("day", "cohort_day"))
        .filter(F.col("days_since") <= 7)
    )
    return (
        joined.groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.col("days_since").cast("bigint").alias("days_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_day", "days_since")
    )


# --------------------------------------------------------------------------
# q43 — ordered conversion funnel (signup → view → click → purchase):
# a user converts stage k only via an event strictly AFTER their
# stage-k-1 conversion time — the existential ordered-subsequence
# semantic, computed as a chain of conditional MINs (4 narrow per-user
# aggregates + key joins). Deliberately NOT collect_list-per-user: a
# hot user with 10^7 events would blow a task; the chained form only
# ever shuffles (user_id, ts) rows. The match_recognize gap in Spark,
# expressed in plain relational algebra.
# --------------------------------------------------------------------------
_FUNNEL = ("signup", "view", "click", "purchase")


@register(
    "q43_conversion_funnel",
    oracle=f"""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t FROM events
        WHERE event_type = '{_FUNNEL[0]}' GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = '{_FUNNEL[1]}' AND e.ts > s1.t GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = '{_FUNNEL[2]}' AND e.ts > s2.t GROUP BY 1
    ),
    s4 AS (
        SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s3 USING (user_id)
        WHERE e.event_type = '{_FUNNEL[3]}' AND e.ts > s3.t GROUP BY 1
    )
    SELECT stage, n_users FROM (
        SELECT 1 AS stage, count(*) AS n_users FROM s1
        UNION ALL SELECT 2, count(*) FROM s2
        UNION ALL SELECT 3, count(*) FROM s3
        UNION ALL SELECT 4, count(*) FROM s4
    ) ORDER BY stage
    """,
    tags=("relational", "funnel", "sequence", "events"),
)
def q43_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users completing each funnel prefix in strict timestamp order.
    Fully lazy — one plan, no driver-side stage counts."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    stage = events.filter(F.col("event_type") == _FUNNEL[0]).groupBy(
        "user_id"
    ).agg(F.min("ts").alias("t"))
    stage_counts = [
        stage.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(1).alias("stage"), "n_users"
        )
    ]
    for k, ev in enumerate(_FUNNEL[1:], start=2):
        stage = (
            events.filter(F.col("event_type") == ev)
            .join(stage.select("user_id", F.col("t").alias("prev_t")), "user_id")
            .filter(F.col("ts") > F.col("prev_t"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        stage_counts.append(
            stage.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(k).alias("stage"), "n_users"
            )
        )
    out = stage_counts[0]
    for frame in stage_counts[1:]:
        out = out.unionByName(frame)
    return out.orderBy("stage")


# --------------------------------------------------------------------------
# q44 — mergeable-sketch rollup (Apache DataSketches HLL via Spark 4's
# hll_sketch_agg / hll_union_agg): the incremental-analytics pattern a
# 100 TB store actually runs — materialize one small binary sketch per
# shard/day at ingest, answer "distinct users over any day range" by
# UNIONING sketches (bytes-sized work) instead of re-scanning raw
# events. Sketch estimates aren't bit-portable across engines, so the
# oracle uses the q27 contract: exact twins computed relationally on
# both sides + the sketch accuracy assertions evaluated IN-PLAN as
# booleans the oracle states as literal TRUE — a drifting estimate or
# a broken union breaks the hash.
# --------------------------------------------------------------------------
@register(
    "q44_hll_shard_rollup",
    oracle="""
    WITH daily AS (
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               count(DISTINCT user_id) AS exact_users
        FROM events GROUP BY 1
    ),
    total AS (
        SELECT 'TOTAL' AS day, count(DISTINCT user_id) AS exact_users
        FROM events
    )
    SELECT day, exact_users, TRUE AS estimate_within_5pct
    FROM (SELECT * FROM daily UNION ALL SELECT * FROM total)
    ORDER BY day
    """,
    tags=("aggregation", "sketch", "hll", "mergeable", "rollup"),
)
def q44_hll_shard_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day HLL sketches of distinct users + a union-of-sketches
    total, each checked in-plan against the exact count (±5%)."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    base = events.select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"), "user_id"
    )
    daily = base.groupBy("day").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.hll_sketch_agg("user_id").alias("sketch"),
    )
    per_day = daily.select(
        "day",
        "exact_users",
        (
            F.abs(
                F.hll_sketch_estimate("sketch") - F.col("exact_users")
            )
            * 20
            <= F.col("exact_users")
        ).alias("estimate_within_5pct"),
    )
    # the rollup: distinct-over-all-days answered by sketch UNION only
    total_exact = base.agg(F.countDistinct("user_id").alias("exact_users"))
    total_union = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est")
    )
    total = (
        total_exact.crossJoin(F.broadcast(total_union))
        .select(
            F.lit("TOTAL").alias("day"),
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users")) * 20
                <= F.col("exact_users")
            ).alias("estimate_within_5pct"),
        )
    )
    return per_day.unionByName(total).orderBy("day")


# --------------------------------------------------------------------------
# q45 — VARIANT ingestion (Spark 4's open semi-structured type): props
# parsed ONCE into a variant column, then typed paths extracted with
# variant_get — the engine-native successor to per-path
# get_json_object re-parsing (q24 keeps the classic path for parity).
# At 100 TB the difference is real: one parse per row feeding N path
# extractions instead of N string re-parses, and variant's binary
# encoding pushes through shuffles compactly. Output is fully typed
# (the variant never leaves the plan), so the DuckDB oracle is plain
# JSON extraction.
# --------------------------------------------------------------------------
@register(
    "q45_variant_ingestion",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(json_extract_string(props, '$.k')::INT) AS BIGINT) AS sum_k,
           CAST(count(CASE WHEN json_extract_string(props, '$.missing')
                           IS NULL THEN 1 END) AS BIGINT) AS n_missing
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("relational", "variant", "semistructured", "json"),
)
def q45_variant_ingestion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed aggregates over variant_get paths of a parse_json column;
    absent paths surface as NULLs (counted) rather than errors."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    v = events.select(
        "event_type", F.try_parse_json("props").alias("vprops")
    )
    return (
        v.select(
            "event_type",
            F.variant_get("vprops", "$.k", "int").alias("k"),
            F.variant_get("vprops", "$.missing", "string").alias("missing"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.count(F.when(F.col("missing").isNull(), 1)).alias("n_missing"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q46 — count-min-sketch heavy hitters over the documents token stream
# (operators/sketches.py). q44 covers the distinct-count sketch; this
# covers the FREQUENCY sketch: a depth*width relational counter table
# that merges across shards by addition and answers point queries with
# a broadcast join + min — no opaque binary, no UDF. Hashing is the
# shared md5_bucket primitive, so estimates are deterministic and the
# DuckDB oracle reproduces counters AND estimates exactly (including
# the CMS one-sided error: est >= exact always, asserted in-plan via
# the overestimate column being non-negative by construction on both
# engines). Scale shape: one corpus shuffle (token counts); the
# counter build and probe run on the distinct-token table only, and
# the finished sketch (<= depth*width rows) broadcasts anywhere.
# Mergeability is exercised for real: per-source sketches are built
# independently and merged, and the merged table must equal the
# global-build (sum is associative) — that equality is what the
# estimates silently verify.
# --------------------------------------------------------------------------
_CMS_DEPTH, _CMS_WIDTH = 4, 512


def _cms_bucket_sql(width: int) -> str:
    from hyppo_worker_spark.functions.text import md5_bucket_sql

    return md5_bucket_sql("d::VARCHAR || ':' || token", width)


@register(
    "q46_cms_heavy_hitters",
    oracle=f"""
    WITH tok AS (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                      x -> x <> '')) AS token
        FROM documents
    ),
    tc AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
    pairs AS (
        SELECT token, cnt, d, {_cms_bucket_sql(_CMS_WIDTH)} AS bucket
        FROM tc, range({_CMS_DEPTH}) r(d)
    ),
    counters AS (
        SELECT d, bucket, CAST(sum(cnt) AS BIGINT) AS c
        FROM pairs GROUP BY 1, 2
    ),
    top20 AS (SELECT token, cnt FROM tc ORDER BY cnt DESC, token LIMIT 20),
    probe AS (
        SELECT p.token, p.cnt, min(c.c) AS est
        FROM pairs p JOIN counters c USING (d, bucket)
        WHERE p.token IN (SELECT token FROM top20)
        GROUP BY 1, 2
    )
    SELECT token,
           CAST(cnt AS BIGINT) AS exact_n,
           est AS est_n,
           est - cnt AS overest
    FROM probe ORDER BY exact_n DESC, token
    """,
    tags=("aggregation", "sketch", "cms", "mergeable", "heavy-hitters"),
)
def q46_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens with exact counts and their count-min estimates
    from per-source sketches merged into one — overest = est - exact
    is the sketch's (non-negative, deterministic) collision error."""
    from hyppo_worker_spark.operators.sketches import (
        cms_bucket_pairs,
        cms_estimate,
    )
    from hyppo_worker_spark.functions import text as TX

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select(
        "source", F.explode(TX.tokens("text")).alias("token")
    )
    # Per-(source, token) counts: ONE corpus-scale shuffle; everything
    # after runs on distinct tokens. Persisted — the exact top-k and
    # the probe both read it.
    tc_src = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    ).transform(tracked_persist)
    tc = tc_src.groupBy("token").agg(F.sum("cnt").cast("long").alias("cnt")).transform(tracked_persist)

    # Shard-wise sketches (one per source) merged by addition, all in
    # ONE lazy plan: the per-source counter table is the shard sketch,
    # and the merge is the second-level sum — the incremental-ingest
    # contract (shards never re-read each other; counts just add).
    shard = (
        cms_bucket_pairs(
            tc_src, "token", depth=_CMS_DEPTH, width=_CMS_WIDTH
        )
        .groupBy("source", "d", "bucket")
        .agg(F.sum("cnt").cast("long").alias("c"))
    )
    counters = shard.groupBy("d", "bucket").agg(
        F.sum("c").cast("long").alias("c")
    )

    top20 = tc.orderBy(F.col("cnt").desc(), "token").limit(20)
    est = cms_estimate(
        counters, top20, "token", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    return est.select(
        "token",
        F.col("cnt").alias("exact_n"),
        F.col("est").alias("est_n"),
        (F.col("est") - F.col("cnt")).alias("overest"),
    ).orderBy(F.col("exact_n").desc(), "token")


# --------------------------------------------------------------------------
# q47 — mergeable quantile sketch (the third sketch family: q44 =
# distinct/HLL, q46 = frequency/CMS, q47 = quantiles). A DDSketch-
# shaped log2 histogram over INTEGER buckets: bucket(v) = (k, s) where
# k = bit-length(v) and s = (v*8 div 2^(k-1)) - 8 — eight linear
# subdivisions per octave, so the bucket's lower bound est8/8 =
# (8+s)*2^(k-1)/8 under-estimates the true value by < 1/8 relative
# (est8 <= 8v < 9/8 * est8). Everything is integer arithmetic
# (bit-length via base-2 conv, integer div, shifts) — no log(), so
# bucket placement, merge, and estimates are bit-identical across
# engines and the oracle reproduces the ESTIMATES, not just bounds.
# Scale shape mirrors q46: per-source histograms (the shard sketches)
# merge by addition inside one lazy plan; the merged sketch is <= 64*8
# rows regardless of corpus size; quantile extraction is a cumulative
# sum over that tiny table (the only window, over dozens of rows).
# The exact twin runs on the distinct-VALUE count table (not the row
# stream) — the cumsum window sees one row per distinct length.
# --------------------------------------------------------------------------
@register(
    "q47_quantile_sketch",
    oracle="""
    WITH vals AS (
        SELECT source, length(text)::BIGINT AS v FROM documents
        WHERE length(text) >= 1
    ),
    bucketed AS (
        SELECT source,
               length(bin(v)) AS k,
               (v * 8) // (1::BIGINT << (length(bin(v)) - 1)) - 8 AS s
        FROM vals
    ),
    shard_hist AS (
        SELECT source, k, s, count(*) AS cnt FROM bucketed GROUP BY 1, 2, 3
    ),
    hist AS (
        SELECT k, s, CAST(sum(cnt) AS BIGINT) AS cnt
        FROM shard_hist GROUP BY 1, 2
    ),
    n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
    cum AS (
        SELECT k, s, (8 + s) * (1::BIGINT << (k - 1)) AS est8,
               CAST(sum(cnt) OVER (ORDER BY k, s) AS BIGINT) AS c
        FROM hist
    ),
    stats(p) AS (VALUES (50), (90), (99)),
    est AS (
        SELECT p, min(est8) AS est8
        FROM stats, cum, n WHERE c * 100 >= p * n GROUP BY p
    ),
    vc AS (
        SELECT v, count(*) AS cnt FROM vals GROUP BY 1
    ),
    vcum AS (
        SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS c FROM vc
    ),
    exact AS (
        SELECT p, min(v) AS exact_chars
        FROM stats, vcum, n WHERE c * 100 >= p * n GROUP BY p
    )
    SELECT 'p' || p::VARCHAR AS stat,
           exact_chars,
           est8,
           est8 <= 8 * exact_chars AS lower_ok,
           64 * exact_chars < 9 * est8 AS upper_ok
    FROM exact JOIN est USING (p)
    ORDER BY stat
    """,
    tags=("aggregation", "sketch", "quantile", "mergeable"),
)
def q47_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of document length from a merged per-source log2
    histogram sketch, with the exact disc-percentile twin and the
    sketch's deterministic error bounds checked in-plan."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    vals = docs.select(
        "source", F.length("text").cast("long").alias("v")
    ).filter(F.col("v") >= 1)
    k = F.length(F.conv(F.col("v"), 10, 2))
    p2 = F.expr("shiftleft(1L, cast(length(conv(v, 10, 2)) as int) - 1)")
    bucketed = vals.select(
        "source", k.alias("k"), ((F.col("v") * 8) / p2).cast("long").alias("q8")
    ).select("source", "k", (F.col("q8") - 8).alias("s"))
    shard_hist = bucketed.groupBy("source", "k", "s").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    hist = shard_hist.groupBy("k", "s").agg(F.sum("cnt").cast("long").alias("cnt"))
    n = hist.agg(F.sum("cnt").cast("long").alias("n"))
    cum = hist.select(
        "k",
        "s",
        ((F.col("s") + 8) * F.expr("shiftleft(1L, cast(k as int) - 1)")).alias(
            "est8"
        ),
        F.sum("cnt")
        .over(W.orderBy("k", "s").rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("c"),
    )
    stats = local_frame(spark, [(50,), (90,), (99,)], "p int")
    est = (
        F.broadcast(stats)
        .crossJoin(cum)
        .crossJoin(F.broadcast(n))
        .filter(F.col("c") * 100 >= F.col("p") * F.col("n"))
        .groupBy("p")
        .agg(F.min("est8").alias("est8"))
    )
    vc = vals.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    vcum = vc.select(
        "v",
        F.sum("cnt")
        .over(W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("c"),
    )
    exact = (
        F.broadcast(stats)
        .crossJoin(vcum)
        .crossJoin(F.broadcast(n))
        .filter(F.col("c") * 100 >= F.col("p") * F.col("n"))
        .groupBy("p")
        .agg(F.min("v").alias("exact_chars"))
    )
    return (
        exact.join(est, "p")
        .select(
            F.concat(F.lit("p"), F.col("p").cast("string")).alias("stat"),
            "exact_chars",
            "est8",
            (F.col("est8") <= 8 * F.col("exact_chars")).alias("lower_ok"),
            (64 * F.col("exact_chars") < 9 * F.col("est8")).alias("upper_ok"),
        )
        .orderBy("stat")
    )


# --------------------------------------------------------------------------
# q48 — KMV set-operation sketch (operators/sketches.py): completes
# the mergeable-summary suite with the one thing HLL cannot do —
# INTERSECTION estimates. Two user sets with planted partial overlap
# (same deterministic-augmentation technique as d08's planted
# near-dups: A = users ∪ even-ids+1e6, B = ids%3!=0 ∪ odd-ids+2e6),
# sketched as the k=256 smallest md5-derived 52-bit hashes. Union
# cardinality from the k-th smallest hash ((k-1)<<52 div t — pure
# integer division), intersection via the Jaccard fraction of the
# merged sketch. Everything is deterministic md5 + integer math, so
# the oracle reproduces the sketch content AND the estimates exactly;
# accuracy vs the exact twins is asserted in-plan. The small-set path
# (fewer distinct hashes than k → sketch IS the set → estimates
# exact) is exercised at sf0.001; the estimator path from sf0.01 up.
# Scale shape: per set, one distinct shuffle on an 8-byte hash + a
# top-k — the sketch is 256 rows regardless of corpus size.
# --------------------------------------------------------------------------
_KMV_K = 256
_KMV_NUM = (_KMV_K - 1) << 52  # (k-1) * 2^52


@register(
    "q48_kmv_set_sketch",
    oracle=f"""
    WITH base AS (SELECT DISTINCT user_id FROM events),
    sa AS (
        SELECT user_id FROM base
        UNION SELECT user_id + 1000000 FROM base WHERE user_id % 2 = 0
    ),
    sb AS (
        SELECT user_id FROM base WHERE user_id % 3 <> 0
        UNION SELECT user_id + 2000000 FROM base WHERE user_id % 2 = 1
    ),
    ha AS (SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR), 1, 13))::BIGINT AS h FROM sa),
    hb AS (SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR), 1, 13))::BIGINT AS h FROM sb),
    ka AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
    kb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),
    merged AS (
        SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)
        ORDER BY h LIMIT {_KMV_K}
    ),
    m AS (SELECT count(*) AS n_m, max(h) AS t FROM merged),
    bo AS (
        SELECT count(*) AS n_both FROM merged
        WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb)
    ),
    ex AS (
        SELECT (SELECT count(*) FROM sa) AS n_a,
               (SELECT count(*) FROM sb) AS n_b,
               (SELECT count(*) FROM sa JOIN sb USING (user_id)) AS n_int,
               (SELECT count(*) FROM (SELECT user_id FROM sa
                                      UNION SELECT user_id FROM sb)) AS n_union
    ),
    est AS (
        SELECT CASE WHEN n_m < {_KMV_K} THEN n_m
                    ELSE {_KMV_NUM} // t END AS est_union,
               n_m, n_both
        FROM m, bo
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(n_union AS BIGINT) AS n_union,
           CAST(n_int AS BIGINT) AS n_int,
           CAST(est_union AS BIGINT) AS est_union,
           CAST((n_both * est_union) // n_m AS BIGINT) AS est_int,
           abs(est_union - n_union) * 5 <= n_union AS union_ok,
           abs((n_both * est_union) // n_m - n_int) * 10 <= 35 * n_int / 10
               AS int_ok
    FROM ex, est
    """,
    tags=("aggregation", "sketch", "kmv", "mergeable", "set-ops"),
)
def q48_kmv_set_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union and intersection cardinality of two planted-overlap user
    sets from merged KMV sketches, with exact twins and in-plan
    accuracy bounds (20% union, 35% intersection)."""
    from hyppo_worker_spark.operators.sketches import (
        kmv_hash,
        kmv_merge,
        kmv_sketch,
    )

    events = load_tables(spark, sf_dir, ("events",))["events"]
    # sa/sb each feed FOUR downstream branches (sketch hash + the n_a/
    # n_int/n_union exact twins); without persist barriers every
    # branch re-derives them from its own events scan (~8 scans of
    # the user_id projection; no ReusedExchange appears because each
    # branch aggregates differently). Persisting the two narrow id
    # sets caps the base reads at two cache fills — wall-flat at
    # sf0.1 where the projection is tiny, 4x less base IO at corpus
    # scale.
    base = events.select("user_id").distinct()
    sa = base.unionByName(
        base.filter(F.col("user_id") % 2 == 0).select(
            (F.col("user_id") + 1000000).alias("user_id")
        )
    ).distinct().transform(tracked_persist)
    sb = (
        base.filter(F.col("user_id") % 3 != 0)
        .unionByName(
            base.filter(F.col("user_id") % 2 == 1).select(
                (F.col("user_id") + 2000000).alias("user_id")
            )
        )
        .distinct()
        .transform(tracked_persist)
    )
    ha = sa.select(kmv_hash("user_id").alias("h")).distinct().transform(tracked_persist)
    hb = sb.select(kmv_hash("user_id").alias("h")).distinct().transform(tracked_persist)
    ka = ha.orderBy("h").limit(_KMV_K)
    kb = hb.orderBy("h").limit(_KMV_K)
    merged = kmv_merge(ka, kb, k=_KMV_K).transform(tracked_persist)
    m = merged.agg(
        F.count(F.lit(1)).alias("n_m"), F.max("h").alias("t")
    )
    bo = (
        merged.join(ha, "h", "left_semi")
        .join(hb, "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ex = (
        sa.agg(F.count(F.lit(1)).alias("n_a"))
        .crossJoin(F.broadcast(sb.agg(F.count(F.lit(1)).alias("n_b"))))
        .crossJoin(
            F.broadcast(
                sa.join(sb, "user_id", "left_semi").agg(
                    F.count(F.lit(1)).alias("n_int")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                sa.unionByName(sb)
                .distinct()
                .agg(F.count(F.lit(1)).alias("n_union"))
            )
        )
    )
    est_union = F.when(
        F.col("n_m") < _KMV_K, F.col("n_m")
    ).otherwise(F.expr(f"{_KMV_NUM} div t"))
    out = (
        ex.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(bo))
        .withColumn("est_union", est_union)
        .withColumn("est_int", F.expr("(n_both * est_union) div n_m"))
    )
    # kmv_sketch is the operator-level entry the sketches come from;
    # reference it so API drift is caught (ka/kb above inline the same
    # expression for persist-sharing with ha/hb).
    _ = kmv_sketch
    return out.select(
        "n_a",
        "n_b",
        "n_union",
        "n_int",
        "est_union",
        "est_int",
        (F.abs(F.col("est_union") - F.col("n_union")) * 5 <= F.col("n_union")).alias(
            "union_ok"
        ),
        (
            F.abs(F.col("est_int") - F.col("n_int")) * 10
            <= 35 * F.col("n_int") / 10
        ).alias("int_ok"),
    )


# --------------------------------------------------------------------------
# q49 — relational Bloom runtime filter (operators/bloom.py): the
# MEMBERSHIP sketch that completes the mergeable-summary family
# (q44 distinct/HLL, q46 frequency/CMS, q47 quantile, q48 set-ops/KMV).
# Build side: urgent orders' keys, sharded per o_orderstatus in ONE
# pass and OR-merged (the incremental contract). Probe side: lineitem
# is NEVER shuffled or exploded — membership is k broadcast joins
# against the <= bits/32-row word table, the map-side pre-filter shape
# Spark's own InjectRuntimeFilter produces, except persistable,
# mergeable, and engine-portable (md5 bit placement → DuckDB
# reproduces every word AND every false positive bit-for-bit).
# false_neg_n is structurally 0 (no false negatives by construction)
# and asserted by the oracle compare; false_pos_n is the sketch's
# deterministic collision error, nonzero at sf >= 0.01.
# --------------------------------------------------------------------------
_BF_BITS, _BF_K = 1 << 16, 3

from hyppo_worker_spark.operators.bloom import (  # noqa: E402
    WORD_BITS as _BF_WORD,
    bloom_position_sql as _bf_pos_sql,
)


@register(
    "q49_bloom_runtime_filter",
    oracle=f"""
    WITH bk AS (
        SELECT DISTINCT o_orderkey AS k FROM orders
        WHERE o_orderpriority = '1-URGENT'
    ),
    bpos AS (
        SELECT {_bf_pos_sql('k', 'i', _BF_BITS)} AS pos
        FROM bk, range({_BF_K}) r(i)
    ),
    words AS (
        SELECT pos // {_BF_WORD} AS word,
               bit_or(1::BIGINT << (pos % {_BF_WORD})::INT) AS bits_w
        FROM bpos GROUP BY 1
    ),
    pk AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
    ppos AS (
        SELECT k, {_bf_pos_sql('k', 'i', _BF_BITS)} AS pos
        FROM pk, range({_BF_K}) r(i)
    ),
    verdict AS (
        SELECT p.k,
               count(*) FILTER (WHERE w.bits_w IS NOT NULL
                   AND (w.bits_w & (1::BIGINT << (p.pos % 32)::INT)) <> 0)
                   = {_BF_K} AS pass
        FROM ppos p LEFT JOIN words w ON p.pos // 32 = w.word
        GROUP BY 1
    )
    SELECT l.l_returnflag,
           count(*) AS n_rows,
           CAST(count(*) FILTER (WHERE b.k IS NOT NULL) AS BIGINT) AS exact_n,
           CAST(count(*) FILTER (WHERE v.pass) AS BIGINT) AS bloom_pass_n,
           CAST(count(*) FILTER (WHERE v.pass AND b.k IS NULL) AS BIGINT)
               AS false_pos_n,
           CAST(count(*) FILTER (WHERE b.k IS NOT NULL AND NOT v.pass) AS BIGINT)
               AS false_neg_n
    FROM lineitem l
    JOIN verdict v ON l.l_orderkey = v.k
    LEFT JOIN bk b ON l.l_orderkey = b.k
    GROUP BY 1 ORDER BY 1
    """,
    tags=("join", "sketch", "bloom", "mergeable", "runtime-filter"),
)
def q49_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag exact vs bloom-passed lineitem counts against a
    filter built from urgent orders — false_pos_n is the deterministic
    collision error, false_neg_n must be 0."""
    from hyppo_worker_spark.operators.bloom import (
        bloom_build,
        bloom_merge,
        bloom_might_contain,
    )

    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    # Shard filters per order status, OR-merged — one pass, one plan.
    shards = bloom_build(
        urgent, "o_orderkey", bits=_BF_BITS, hashes=_BF_K, shard_col="o_orderstatus"
    )
    words = bloom_merge(shards)
    li = t["lineitem"].select("l_orderkey", "l_returnflag")
    flagged = bloom_might_contain(
        words, li, "l_orderkey", bits=_BF_BITS, hashes=_BF_K
    )
    member = (
        urgent.select(F.col("o_orderkey").alias("l_orderkey"))
        .distinct()
        .withColumn("_m", F.lit(1))
    )
    joined = flagged.join(F.broadcast(member), "l_orderkey", "left")
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("_m").cast("long").alias("exact_n"),
            F.sum(F.col("bloom_pass").cast("long")).alias("bloom_pass_n"),
            F.sum(
                (F.col("bloom_pass") & F.col("_m").isNull()).cast("long")
            ).alias("false_pos_n"),
            F.sum(
                (F.col("_m").isNotNull() & ~F.col("bloom_pass")).cast("long")
            ).alias("false_neg_n"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# q50 — z-order clustered layout (operators/zorder.py): the FILE-
# SKIPPING story made measurable. lineitem's (ship-day, partkey) are
# range-scaled to 8-bit ints, Morton-interleaved, and clustered into
# 64 z-buckets (top-6 bits of z — the deterministic twin of the file
# assignment zorder_write makes); a second, single-key layout buckets
# by ship-day alone. For a 1/16-of-keyspace predicate on EITHER
# dimension the query counts which buckets (→ files, at scale) a
# min-max-pruning scan would have to read. The z layout prunes BOTH
# dimensions (~2/3 of buckets skipped each way at sf0.01); the linear
# layout prunes x perfectly and y not at all — the reason a 100 TB
# export filtered on two keys wants z-order. Everything is integer
# arithmetic on both engines, so the oracle reproduces every z code,
# bucket extent, and survivor count exactly.
# --------------------------------------------------------------------------
_Z_BITS = 8
_Z_FILE_SHIFT = 2 * _Z_BITS - 6  # 64 z-buckets
_Z_LIN_SHIFT = _Z_BITS - 6  # 64 linear buckets
_ZPX = (64, 79)  # 1/16 slice of x space
_ZPY = (128, 143)  # 1/16 slice of y space

from hyppo_worker_spark.operators.zorder import (  # noqa: E402
    scale_to_bits as _z_scale,
    scale_to_bits_sql as _z_scale_sql,
    zvalue as _zvalue,
    zvalue_sql as _zvalue_sql,
)


def _z_surv_sql(src: str, layout: str, dim: str, lo: int, hi: int) -> str:
    mx, mn = f"max_{dim}", f"min_{dim}"
    return f"""
    SELECT '{layout}' AS layout, '{dim}' AS dim,
           CAST(count(*) FILTER (WHERE {mx} >= {lo} AND {mn} <= {hi}) AS BIGINT)
               AS surviving_buckets,
           CAST(count(*) AS BIGINT) AS total_buckets,
           CAST(coalesce(sum(n) FILTER (WHERE {mx} >= {lo} AND {mn} <= {hi}), 0) AS BIGINT)
               AS surviving_rows,
           CAST(sum(n) AS BIGINT) AS total_rows
    FROM {src}"""


@register(
    "q50_zorder_skipping",
    oracle=f"""
    WITH base AS (
        SELECT datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS xr,
               l_partkey AS yr
        FROM lineitem
    ),
    mm AS (SELECT min(xr) AS xmin, max(xr) AS xmax,
                  min(yr) AS ymin, max(yr) AS ymax FROM base),
    s AS (
        SELECT {_z_scale_sql('xr', 'xmin', 'xmax', _Z_BITS)} AS xs,
               {_z_scale_sql('yr', 'ymin', 'ymax', _Z_BITS)} AS ys
        FROM base, mm
    ),
    b AS (
        SELECT xs, ys,
               {_zvalue_sql('xs', 'ys', _Z_BITS)} >> {_Z_FILE_SHIFT} AS zb,
               xs >> {_Z_LIN_SHIFT} AS lb
        FROM s
    ),
    ez AS (
        SELECT zb, count(*) AS n, min(xs) AS min_x, max(xs) AS max_x,
               min(ys) AS min_y, max(ys) AS max_y
        FROM b GROUP BY 1
    ),
    el AS (
        SELECT lb, count(*) AS n, min(xs) AS min_x, max(xs) AS max_x,
               min(ys) AS min_y, max(ys) AS max_y
        FROM b GROUP BY 1
    )
    SELECT * FROM (
        {_z_surv_sql('ez', 'zorder', 'x', *_ZPX)}
        UNION ALL {_z_surv_sql('ez', 'zorder', 'y', *_ZPY)}
        UNION ALL {_z_surv_sql('el', 'linear', 'x', *_ZPX)}
        UNION ALL {_z_surv_sql('el', 'linear', 'y', *_ZPY)}
    ) ORDER BY layout, dim
    """,
    tags=("layout", "zorder", "data-skipping", "scan"),
)
def q50_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max pruning survivor counts for a 1/16-keyspace predicate
    on each dimension, under a z-order vs a single-key clustering of
    lineitem (ship-day × partkey)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    base = li.select(
        F.datediff(
            F.to_date("l_shipdate"), F.to_date(F.lit("1992-01-01"))
        ).alias("xr"),
        F.col("l_partkey").alias("yr"),
    )
    mm = base.agg(
        F.min("xr").alias("xmin"),
        F.max("xr").alias("xmax"),
        F.min("yr").alias("ymin"),
        F.max("yr").alias("ymax"),
    )
    s = base.crossJoin(F.broadcast(mm)).select(
        _z_scale(F.col("xr"), F.col("xmin"), F.col("xmax"), _Z_BITS).alias("xs"),
        _z_scale(F.col("yr"), F.col("ymin"), F.col("ymax"), _Z_BITS).alias("ys"),
    )
    b = s.select(
        "xs",
        "ys",
        F.shiftright(_zvalue(F.col("xs"), F.col("ys"), _Z_BITS), _Z_FILE_SHIFT).alias("zb"),
        F.shiftright(F.col("xs").cast("long"), _Z_LIN_SHIFT).alias("lb"),
    )

    def extents(bcol: str):
        return (
            b.groupBy(bcol)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("xs").alias("min_x"),
                F.max("xs").alias("max_x"),
                F.min("ys").alias("min_y"),
                F.max("ys").alias("max_y"),
            )
            .transform(tracked_persist)
        )

    ez, el = extents("zb"), extents("lb")

    def surv(e, layout: str, dim: str, lo: int, hi: int):
        hit = (F.col(f"max_{dim}") >= lo) & (F.col(f"min_{dim}") <= hi)
        return e.agg(
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("surviving_buckets"),
            F.count(F.lit(1)).alias("total_buckets"),
            F.coalesce(F.sum(F.when(hit, F.col("n"))), F.lit(0))
            .cast("long")
            .alias("surviving_rows"),
            F.sum("n").cast("long").alias("total_rows"),
        ).select(
            F.lit(layout).alias("layout"),
            F.lit(dim).alias("dim"),
            "surviving_buckets",
            "total_buckets",
            "surviving_rows",
            "total_rows",
        )

    out = (
        surv(ez, "zorder", "x", *_ZPX)
        .unionByName(surv(ez, "zorder", "y", *_ZPY))
        .unionByName(surv(el, "linear", "x", *_ZPX))
        .unionByName(surv(el, "linear", "y", *_ZPY))
    )
    return out.orderBy("layout", "dim")


# --------------------------------------------------------------------------
# q51 — SCD2 history maintenance (operators/merge.py:scd2_apply): the
# type-2 slowly-changing-dimension merge q30's last-writer-wins upsert
# deliberately is NOT. Two update generations run through the generic
# operator: batch 1 (t1) re-segments every 7th customer (+50 balance)
# and inserts 5 new ones; batch 2 (t2) re-segments every 14th, updates
# the odd-keyed new customers, and ALSO carries no-op rows (every 21st
# customer re-submitted with identical values) that must NOT spawn
# versions. The oracle does not replay the operator — it derives the
# expected (valid_from, valid_to) histogram ANALYTICALLY from the key
# arithmetic, so an operator bug cannot cancel out of the compare.
# Scale shape: each generation is one key-hashed join of the open
# slice vs the update batch + unions — no window over history, closed
# versions are never rescanned for matching. NOTE the plan-audit
# shape: stacking two generations LAZILY multiplies the dimension
# scan across union branches (PLANS.md shows ~144 pruned scans) —
# fine for this sf0.01 demonstration, but production SCD2
# MATERIALIZES the table between generations, exactly as the
# streaming sink does (`streaming/scd2_maintenance.py`:
# localCheckpoint + parquet rewrite per batch).
# --------------------------------------------------------------------------
_SCD_OPEN = "9999-12-31 00:00:00"
_SCD_T0, _SCD_T1, _SCD_T2 = (
    "1990-01-01 00:00:00",
    "2024-01-01 00:00:00",
    "2024-02-01 00:00:00",
)


def _scd2_customer_history(cust: DataFrame) -> DataFrame:
    """The two-generation SCD2 customer history shared by q51 (audit)
    and q52 (temporal join): batch 1 (t1) re-segments every 7th
    customer (+50 balance) and inserts 5 new ones; batch 2 (t2)
    re-segments every 14th, updates odd-keyed new customers, and
    carries no-op resubmissions (every 21st not also 14th)."""
    from hyppo_worker_spark.operators.merge import scd2_apply

    dim0 = cust.withColumn("valid_from", F.lit(_SCD_T0)).withColumn(
        "valid_to", F.lit(_SCD_OPEN)
    )

    def reseg(df, segment: str):
        return df.select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            F.round(F.col("c_acctbal") + 50, 2).alias("c_acctbal"),
            F.lit(segment).alias("c_mktsegment"),
        )

    def newcust(df, segment: str):
        return df.filter(F.col("c_custkey") < 5).select(
            (F.col("c_custkey") + 2000000).alias("c_custkey"),
            F.concat(F.lit("scd-new-"), F.col("c_custkey")).alias("c_name"),
            "c_nationkey",
            F.lit(10.0).alias("c_acctbal"),
            F.lit(segment).alias("c_mktsegment"),
        )

    u1 = reseg(cust.filter(F.col("c_custkey") % 7 == 0), "SEGMENT-A").unionByName(
        newcust(cust, "BUILDING")
    )
    dim1 = scd2_apply(
        dim0, u1, "c_custkey", ["c_mktsegment", "c_acctbal"], new_ts=_SCD_T1
    )
    u2 = (
        reseg(cust.filter(F.col("c_custkey") % 14 == 0), "SEGMENT-B")
        .unionByName(
            reseg(
                cust.filter(
                    (F.col("c_custkey") % 21 == 0) & (F.col("c_custkey") % 14 != 0)
                ),
                "SEGMENT-A",
            )
        )
        .unionByName(
            newcust(cust.filter(F.col("c_custkey") % 2 == 1), "MACHINERY")
        )
    )
    return scd2_apply(
        dim1, u2, "c_custkey", ["c_mktsegment", "c_acctbal"], new_ts=_SCD_T2
    )


@register(
    "q51_scd2_history",
    oracle=f"""
    WITH base AS (SELECT * FROM customer),
    never AS (SELECT count(*) AS n, round(sum(c_acctbal), 2) AS bal
              FROM base WHERE c_custkey % 7 <> 0),
    b1 AS (SELECT count(*) AS n, round(sum(c_acctbal), 2) AS bal
           FROM base WHERE c_custkey % 7 = 0),
    b1n2 AS (SELECT count(*) AS n,
                    round(sum(round(c_acctbal + 50, 2)), 2) AS bal50
             FROM base WHERE c_custkey % 7 = 0 AND c_custkey % 14 <> 0),
    b2 AS (SELECT count(*) AS n,
                  round(sum(round(c_acctbal + 50, 2)), 2) AS bal50
           FROM base WHERE c_custkey % 14 = 0),
    newc AS (SELECT count(*) AS n FROM base WHERE c_custkey < 5),
    newodd AS (SELECT count(*) AS n FROM base
               WHERE c_custkey < 5 AND c_custkey % 2 = 1)
    SELECT valid_from, valid_to, n_rows, bal FROM (
        SELECT '{_SCD_T0}' AS valid_from, '{_SCD_OPEN}' AS valid_to,
               CAST(never.n AS BIGINT) AS n_rows, never.bal AS bal
        FROM never
        UNION ALL
        SELECT '{_SCD_T0}', '{_SCD_T1}', CAST(b1.n AS BIGINT), b1.bal FROM b1
        UNION ALL
        SELECT '{_SCD_T1}', '{_SCD_OPEN}',
               CAST(b1n2.n + newc.n - newodd.n AS BIGINT),
               round(b1n2.bal50 + 10.0 * (newc.n - newodd.n), 2)
        FROM b1n2, newc, newodd
        UNION ALL
        SELECT '{_SCD_T1}', '{_SCD_T2}',
               CAST(b2.n + newodd.n AS BIGINT),
               round(b2.bal50 + 10.0 * newodd.n, 2)
        FROM b2, newodd
        UNION ALL
        SELECT '{_SCD_T2}', '{_SCD_OPEN}',
               CAST(b2.n + newodd.n AS BIGINT),
               round(b2.bal50 + 10.0 * newodd.n, 2)
        FROM b2, newodd
    ) ORDER BY valid_from, valid_to
    """,
    tags=("merge", "scd2", "cdc", "history"),
)
def q51_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(valid_from, valid_to) histogram (+ balance sums) of the
    customer dimension after two SCD2 update generations, including
    no-op resubmissions that must not create versions."""
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    dim2 = _scd2_customer_history(cust)
    return (
        dim2.groupBy("valid_from", "valid_to")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("c_acctbal"), 2).alias("bal"),
        )
        .orderBy("valid_from", "valid_to")
    )


# --------------------------------------------------------------------------
# q52 — temporal (point-in-time) join against the SCD2 history: each
# fact joins the dimension VERSION valid at the fact's timestamp —
# the lookup every feature/training pipeline needs to avoid label
# leakage (using today's segment for last month's order). Composes
# q51's history: facts are orders assigned deterministic fact times
# straddling both update generations (o_orderkey % 3 → Dec/Jan/Feb),
# so the same customer resolves to different segments per month. The
# join is a plain c_custkey equi-join + validity-window filter —
# key-hashed at scale, never a range cross-product — and ISO timestamp
# strings compare lexicographically == chronologically in both
# engines. The oracle is ANALYTIC again: segment-at-time derived from
# key arithmetic (%7/%14 + the generation the fact time falls in),
# independent of the operator. in-plan integrity: every fact matches
# EXACTLY one version, so n_orders sums to the full order count
# (hash-compared via the month totals).
# --------------------------------------------------------------------------
_SCD_F1, _SCD_F2, _SCD_F3 = (
    "2023-12-15 00:00:00",
    "2024-01-15 00:00:00",
    "2024-02-15 00:00:00",
)


@register(
    "q52_temporal_scd2_join",
    oracle=f"""
    WITH facts AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
               CASE o_orderkey % 3
                   WHEN 0 THEN '{_SCD_F1}'
                   WHEN 1 THEN '{_SCD_F2}'
                   ELSE '{_SCD_F3}' END AS fact_ts
        FROM orders
    ),
    resolved AS (
        SELECT substr(fact_ts, 1, 7) AS fact_month, o_totalprice,
               CASE
                   WHEN fact_ts < '{_SCD_T1}' THEN c.c_mktsegment
                   WHEN fact_ts < '{_SCD_T2}' THEN
                       CASE WHEN c.c_custkey % 7 = 0 THEN 'SEGMENT-A'
                            ELSE c.c_mktsegment END
                   ELSE
                       CASE WHEN c.c_custkey % 14 = 0 THEN 'SEGMENT-B'
                            WHEN c.c_custkey % 7 = 0 THEN 'SEGMENT-A'
                            ELSE c.c_mktsegment END
               END AS segment_at_time
        FROM facts f JOIN customer c ON c.c_custkey = f.o_custkey
    )
    SELECT fact_month, segment_at_time,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM resolved
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("merge", "scd2", "temporal-join", "point-in-time"),
)
def q52_temporal_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders joined to the customer segment valid AT each fact's
    timestamp (across three months straddling both SCD2 generations),
    rolled up per (month, segment-at-time)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    hist = _scd2_customer_history(t["customer"])
    facts = t["orders"].select(
        "o_custkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(_SCD_F1))
        .when(F.col("o_orderkey") % 3 == 1, F.lit(_SCD_F2))
        .otherwise(F.lit(_SCD_F3))
        .alias("fact_ts"),
    )
    joined = facts.join(
        hist, facts["o_custkey"] == hist["c_custkey"]
    ).filter(
        (F.col("valid_from") <= F.col("fact_ts"))
        & (F.col("fact_ts") < F.col("valid_to"))
    )
    return (
        joined.groupBy(
            F.substring("fact_ts", 1, 7).alias("fact_month"),
            F.col("c_mktsegment").alias("segment_at_time"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("fact_month", "segment_at_time")
    )


# --------------------------------------------------------------------------
# q53 — robust outlier detection (median absolute deviation): the
# data-quality gate mean/stddev cannot be (one corrupt feed shifts
# the mean it is judged against; the median won't move). Two grouped
# exact-percentile passes — median, then median of |v - med| — with
# the tiny per-group scalars joined back by key (broadcast; one
# group per event type), then a strict 3*MAD cut. Both engines
# evaluate the identical interpolation and products on identical
# doubles (the q23 parity), so even the boundary compares match.
# At 100 TB: two shuffles keyed by the group column; the percentile
# state is per-group sorted-run merging (Spark's exact percentile
# aggregate), never a global sort.
# --------------------------------------------------------------------------
@register(
    "q53_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value::DOUBLE, 0.5) AS med
        FROM events GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS d
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           count(*) AS n,
           round(min(d.med), 4) AS med,
           round(min(m.mad), 4) AS mad,
           CAST(count(*) FILTER (WHERE d.d > 3 * m.mad) AS BIGINT)
               AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY 1 ORDER BY 1
    """,
    tags=("aggregation", "percentile", "anomaly", "robust-stats"),
)
def q53_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type median/MAD and the count of values beyond the
    3*MAD robust outlier cut."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(d, 0.5)").alias("mad")
    )
    out = dev.join(F.broadcast(mad), "event_type")
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("med"), 4).alias("med"),
            F.round(F.min("mad"), 4).alias("mad"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q54 — zonemap pruning over a REAL z-clustered export
# (operators/zonemap.py + operators/zorder.py): q50 modeled the
# bucket extents analytically; q54 WRITES the clustered files, reads
# their actual parquet footers back DISTRIBUTED (paths scattered,
# pyarrow footer reads inside mapInPandas — KBs per file, content
# untouched), and counts which files a range predicate on either
# dimension must read. The ORACLE still derives the extents from the
# z-assignment formula alone — so the physical layout (writer
# partitioning, footer stats, manifest build) is cross-checked
# against the analytic model: they must agree file-for-file. At
# 100 TB this IS the Delta/Iceberg skipping loop without the table
# format: build the manifest once (distributed), prune on every
# query, append manifest rows as files land. Predicate bounds are
# derived in-plan from the same min/max scalars (integer div) — no
# driver collect anywhere.
# --------------------------------------------------------------------------
_Q54_FILE_BITS = 4  # 16 z-files
_Q54_SHIFT = 2 * _Z_BITS - _Q54_FILE_BITS


@register(
    "q54_zonemap_pruning",
    oracle=f"""
    WITH base AS (
        SELECT datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS xr,
               l_partkey AS yr
        FROM lineitem
    ),
    mm AS (SELECT min(xr) AS xmin, max(xr) AS xmax,
                  min(yr) AS ymin, max(yr) AS ymax FROM base),
    s AS (
        SELECT xr, yr,
               {_z_scale_sql('xr', 'xmin', 'xmax', _Z_BITS)} AS xs,
               {_z_scale_sql('yr', 'ymin', 'ymax', _Z_BITS)} AS ys
        FROM base, mm
    ),
    b AS (
        SELECT xr, yr,
               {_zvalue_sql('xs', 'ys', _Z_BITS)} >> {_Q54_SHIFT} AS zf
        FROM s
    ),
    ext AS (
        SELECT zf, count(*) AS n, min(xr) AS min_x, max(xr) AS max_x,
               min(yr) AS min_y, max(yr) AS max_y
        FROM b GROUP BY 1
    ),
    q AS (
        SELECT xmin + (xmax - xmin) * 2 // 8 AS qxlo,
               xmin + (xmax - xmin) * 3 // 8 - 1 AS qxhi,
               ymin + (ymax - ymin) * 5 // 8 AS qylo,
               ymin + (ymax - ymin) * 6 // 8 - 1 AS qyhi
        FROM mm
    )
    SELECT dim, files_total, files_surviving, rows_total, rows_surviving
    FROM (
        SELECT 'xr' AS dim,
               CAST(count(*) AS BIGINT) AS files_total,
               CAST(count(*) FILTER (WHERE max_x >= qxlo AND min_x <= qxhi)
                    AS BIGINT) AS files_surviving,
               CAST(sum(n) AS BIGINT) AS rows_total,
               CAST(coalesce(sum(n) FILTER (WHERE max_x >= qxlo AND min_x <= qxhi), 0)
                    AS BIGINT) AS rows_surviving
        FROM ext, q
        UNION ALL
        SELECT 'yr',
               CAST(count(*) AS BIGINT),
               CAST(count(*) FILTER (WHERE max_y >= qylo AND min_y <= qyhi)
                    AS BIGINT),
               CAST(sum(n) AS BIGINT),
               CAST(coalesce(sum(n) FILTER (WHERE max_y >= qylo AND min_y <= qyhi), 0)
                    AS BIGINT)
        FROM ext, q
    ) ORDER BY dim
    """,
    tags=("layout", "zonemap", "data-skipping", "manifest", "zorder"),
)
def q54_zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-pruning survivor counts from the REAL footers of a
    z-clustered lineitem export, for in-plan-derived range predicates
    on each clustered dimension."""
    import os

    from hyppo_worker_spark.operators.zonemap import build_zonemap
    from hyppo_worker_spark.operators.zorder import zorder_write

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    base = li.select(
        F.datediff(
            F.to_date("l_shipdate"), F.to_date(F.lit("1992-01-01"))
        ).alias("xr"),
        F.col("l_partkey").alias("yr"),
    )
    path = os.path.join(
        "/tmp/hyppo-zonemap", os.path.basename(sf_dir.rstrip("/"))
    )
    zorder_write(
        base, path, "xr", "yr", bits=_Z_BITS, file_bits=_Q54_FILE_BITS
    )

    zm = build_zonemap(spark, path, ["xr", "yr"]).transform(tracked_persist)
    mm = base.agg(
        F.min("xr").alias("xmin"),
        F.max("xr").alias("xmax"),
        F.min("yr").alias("ymin"),
        F.max("yr").alias("ymax"),
    )
    bounds = mm.select(
        F.expr("xmin + (xmax - xmin) * 2 div 8").alias("qxlo"),
        F.expr("xmin + (xmax - xmin) * 3 div 8 - 1").alias("qxhi"),
        F.expr("ymin + (ymax - ymin) * 5 div 8").alias("qylo"),
        F.expr("ymin + (ymax - ymin) * 6 div 8 - 1").alias("qyhi"),
    )

    def surv(col: str, dim: str, lo: str, hi: str):
        z = zm.filter(F.col("col") == col).crossJoin(F.broadcast(bounds))
        hit = (F.col("vmax").cast("bigint") >= F.col(lo)) & (
            F.col("vmin").cast("bigint") <= F.col(hi)
        )
        return z.agg(
            F.count(F.lit(1)).alias("files_total"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("files_surviving"),
            F.sum("n_rows").cast("long").alias("rows_total"),
            F.coalesce(F.sum(F.when(hit, F.col("n_rows"))), F.lit(0))
            .cast("long")
            .alias("rows_surviving"),
        ).select(
            F.lit(dim).alias("dim"),
            "files_total",
            "files_surviving",
            "rows_total",
            "rows_surviving",
        )

    return (
        surv("xr", "xr", "qxlo", "qxhi")
        .unionByName(surv("yr", "yr", "qylo", "qyhi"))
        .orderBy("dim")
    )


# --------------------------------------------------------------------------
# q55 — A/B experiment readout with deterministic assignment: arms
# come from the shared md5_bucket gate (a pure function of user_id —
# reassignment-stable across runs/engines/cluster sizes, the property
# an experiment system actually needs), the metric is per-user
# purchase revenue in integer cents (floor(v*100+0.5) — the s06
# rounding convention, order-independent sums), lift is integer basis
# points, and the sample-ratio-mismatch guard is the 3-sigma binomial
# bound in pure integers ((n_a - n_b)^2 <= 9*(n_a + n_b)). One
# event-scan, one user-keyed aggregate, one 2-group rollup.
# --------------------------------------------------------------------------
from hyppo_worker_spark.functions.text import (  # noqa: E402
    md5_bucket as _ab_bucket,
    md5_bucket_sql as _ab_bucket_sql,
)
from hyppo_worker_spark.functions import text as TX  # noqa: E402

TX_MD5_BUCKET = TX.md5_bucket


@register(
    "q55_ab_experiment",
    oracle=f"""
    WITH assigned AS (
        SELECT DISTINCT user_id,
               {_ab_bucket_sql('user_id', 2)} AS arm
        FROM events
    ),
    rev AS (
        SELECT user_id,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    per_user AS (
        SELECT a.arm, a.user_id, coalesce(r.cents, 0) AS cents
        FROM assigned a LEFT JOIN rev r USING (user_id)
    ),
    arms AS (
        SELECT CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
               CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b,
               CAST(coalesce(sum(cents) FILTER (WHERE arm = 0), 0) AS BIGINT)
                   AS cents_a,
               CAST(coalesce(sum(cents) FILTER (WHERE arm = 1), 0) AS BIGINT)
                   AS cents_b
        FROM per_user
    )
    SELECT n_a, n_b, cents_a, cents_b,
           cents_a * 1000000 // n_a AS mean_a_micro,
           cents_b * 1000000 // n_b AS mean_b_micro,
           (cents_b * 1000000 // n_b - cents_a * 1000000 // n_a) * 10000
               // (cents_a * 1000000 // n_a) AS lift_bp,
           (n_a - n_b) * (n_a - n_b) <= 9 * (n_a + n_b) AS srm_ok
    FROM arms
    """,
    tags=("aggregation", "experiment", "ab-test", "sampling"),
)
def q55_ab_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm experiment readout: deterministic assignment, per-user
    revenue in cents, integer lift and 3-sigma SRM guard."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    assigned = ev.select("user_id").distinct().withColumn(
        "arm", _ab_bucket(F.col("user_id"), 2)
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).cast("long").alias("cents")
        )
    )
    per_user = assigned.join(rev, "user_id", "left").select(
        "arm", F.coalesce("cents", F.lit(0)).alias("cents")
    )
    arms = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.coalesce(F.sum(F.when(F.col("arm") == 0, F.col("cents"))), F.lit(0))
        .cast("long")
        .alias("cents_a"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, F.col("cents"))), F.lit(0))
        .cast("long")
        .alias("cents_b"),
    )
    return arms.selectExpr(
        "n_a",
        "n_b",
        "cents_a",
        "cents_b",
        "cents_a * 1000000 div n_a AS mean_a_micro",
        "cents_b * 1000000 div n_b AS mean_b_micro",
        "(cents_b * 1000000 div n_b - cents_a * 1000000 div n_a) * 10000 "
        "div (cents_a * 1000000 div n_a) AS lift_bp",
        "(n_a - n_b) * (n_a - n_b) <= 9 * (n_a + n_b) AS srm_ok",
    )


# --------------------------------------------------------------------------
# q56 — integer-exact OLS trend: closed-form least-squares slope per
# event type over daily revenue, entirely on integers — x is the day
# number, y is daily cents, and slope = (n*Sxy - Sx*Sy) / (n*Sxx -
# Sx^2) is emitted as numerator/denominator plus a scaled quotient.
# Float OLS (avg/covar_pop) is partition-order-dependent in the 15th
# digit and can flip a hash compare; the sufficient-statistic sums
# here are integer (commutative), so the fit is bit-identical across
# engines — regression as a first-class relational aggregate, the
# drift detector a source-health dashboard runs. One scan, one
# (type, day) aggregate, one per-type rollup.
# --------------------------------------------------------------------------
@register(
    "q56_integer_ols_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM daily GROUP BY 1
    )
    SELECT event_type, n,
           n * sxy - sx * sy AS slope_num,
           n * sxx - sx * sx AS slope_den,
           (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)
               AS slope_micro_cents_per_day,
           (sy * 1000000 - ((n * sxy - sx * sy) * 1000000
                            // (n * sxx - sx * sx)) * sx) // n
               AS intercept_micro_cents
    FROM s ORDER BY event_type
    """,
    tags=("aggregation", "regression", "trend", "integer-exact"),
)
def q56_integer_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares daily revenue trend from integer
    sufficient statistics (exact rational slope + scaled quotients)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = (
        ev.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01"))).alias("x"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
        )
        .groupBy("event_type", "x")
        .agg(F.sum("c").cast("long").alias("y"))
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return s.selectExpr(
        "event_type",
        "n",
        "n * sxy - sx * sy AS slope_num",
        "n * sxx - sx * sx AS slope_den",
        "(n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)"
        " AS slope_micro_cents_per_day",
        "(sy * 1000000 - ((n * sxy - sx * sy) * 1000000"
        " div (n * sxx - sx * sx)) * sx) div n AS intercept_micro_cents",
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q57 — binned interval join: overlap joins between two INTERVAL sets
# expressed as an equi-join. A naive overlap join (a0 <= b1 AND b0 <=
# a1) is a nested-loop cross product; the scale form explodes each
# interval into the fixed-width time bins it covers and equi-joins on
# the bin id (both sides shuffle-partition by bin — at 100 TB with
# two LARGE sides this is the standard range-join binning trick that
# Spark has no native operator for), then filters exact overlap and
# dedups pairs that met in several shared bins. Bin width tunes the
# explode-factor vs bucket-selectivity trade (8h bins: sessions cover
# <= 4 bins, promos <= 2). The ORACLE is the documented quadratic
# inequality join — the semantics check, not the scale path. All
# interval arithmetic in epoch millis (unix_millis ≡ epoch_ms).
# --------------------------------------------------------------------------
_Q57_BASE_MS = 1704067200000  # 2024-01-01 00:00:00 UTC
_Q57_BIN_MS = 28_800_000  # 8h bins
_Q57_PROMO_STEP = 57_600_000  # every 16h
_Q57_PROMO_LEN = 18_000_000  # 5h windows


@register(
    "q57_interval_bin_join",
    oracle=f"""
    WITH s AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(min(epoch_ms(ts)) AS BIGINT) AS a0,
               CAST(max(epoch_ms(ts)) AS BIGINT) AS a1
        FROM events GROUP BY 1, 2
    ),
    p AS (
        SELECT i AS promo_id,
               {_Q57_BASE_MS} + i * {_Q57_PROMO_STEP} AS b0,
               {_Q57_BASE_MS} + i * {_Q57_PROMO_STEP} + {_Q57_PROMO_LEN} AS b1
        FROM range(40) r(i)
    ),
    ov AS (
        SELECT p.promo_id, s.user_id, s.day
        FROM s JOIN p ON s.a0 <= p.b1 AND p.b0 <= s.a1
    )
    SELECT CAST(promo_id AS BIGINT) AS promo_id,
           count(*) AS n_sessions,
           count(DISTINCT user_id) AS n_users
    FROM ov GROUP BY 1 ORDER BY 1
    """,
    tags=("join", "interval", "range-join", "binning"),
)
def q57_interval_bin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo windows overlap-joined to daily user activity intervals
    via bin-bucketed equi-join (+ exact overlap filter + pair dedup)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    sess = (
        ev.select(
            "user_id",
            F.to_date("ts").alias("day"),
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
        )
        .groupBy("user_id", "day")
        .agg(F.min("ms").alias("a0"), F.max("ms").alias("a1"))
    )
    promos = spark.range(40).select(
        F.col("id").alias("promo_id"),
        (F.lit(_Q57_BASE_MS) + F.col("id") * _Q57_PROMO_STEP).alias("b0"),
        (
            F.lit(_Q57_BASE_MS) + F.col("id") * _Q57_PROMO_STEP + _Q57_PROMO_LEN
        ).alias("b1"),
    )
    sb = sess.withColumn(
        "bin",
        F.explode(F.expr(f"sequence(a0 div {_Q57_BIN_MS}, a1 div {_Q57_BIN_MS})")),
    )
    pb = promos.withColumn(
        "bin",
        F.explode(F.expr(f"sequence(b0 div {_Q57_BIN_MS}, b1 div {_Q57_BIN_MS})")),
    )
    pairs = (
        sb.join(pb, "bin")
        .filter((F.col("a0") <= F.col("b1")) & (F.col("b0") <= F.col("a1")))
        .select("promo_id", "user_id", "day")
        .distinct()
    )
    return (
        pairs.groupBy("promo_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("promo_id")
    )


# --------------------------------------------------------------------------
# q58 — time-series gap fill + linear interpolation: the resampling
# stage every metrics/feature pipeline needs (a daily series with
# holes → a dense spine with interpolated values). A per-type day
# SPINE is generated with sequence/explode (never a driver loop),
# observations left-join onto it, ~30% of days are deterministically
# dropped first (md5 gate — real gaps, reproducible cross-engine),
# and the fill is two windows per series (forward and backward,
# IGNORE NULLS carrying both the neighbor VALUE and its DAY) plus an
# integer linear interpolation: (va*(b-d) + vb*(d-a)) / (b-a) in
# micro-cents — pure int64, so interpolated values hash identically
# in both engines. Scale shape: windows partition by series key (the
# standard per-series sort), spine explode is per-series-range, no
# global window anywhere.
# --------------------------------------------------------------------------
@register(
    "q58_gap_fill_interpolate",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    obs AS (
        SELECT * FROM daily
        WHERE {TX.md5_bucket_sql("event_type || ':' || d", 10)} < 7
    ),
    spine AS (
        SELECT event_type, unnest(range(min(d), max(d) + 1)) AS d
        FROM obs GROUP BY event_type
    ),
    joined AS (
        SELECT s.event_type, s.d, o.cents
        FROM spine s LEFT JOIN obs o USING (event_type, d)
    ),
    filled AS (
        SELECT event_type, d, cents,
               last_value(cents IGNORE NULLS) OVER w_prev AS pv,
               last_value(CASE WHEN cents IS NOT NULL THEN d END IGNORE NULLS)
                   OVER w_prev AS pd,
               first_value(cents IGNORE NULLS) OVER w_next AS nv,
               first_value(CASE WHEN cents IS NOT NULL THEN d END IGNORE NULLS)
                   OVER w_next AS nd
        FROM joined
        WINDOW w_prev AS (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_next AS (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    interp AS (
        SELECT event_type, d, cents,
               CASE
                   WHEN cents IS NOT NULL THEN cents * 1000000
                   WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                       (pv * 1000000 * (nd - d) + nv * 1000000 * (d - pd))
                           // (nd - pd)
                   WHEN pv IS NOT NULL THEN pv * 1000000
                   ELSE nv * 1000000
               END AS v_micro,
               CASE
                   WHEN cents IS NOT NULL THEN 'observed'
                   WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interpolated'
                   ELSE 'edge_filled'
               END AS kind
        FROM filled
    )
    SELECT event_type,
           count(*) AS n_days,
           CAST(count(*) FILTER (WHERE kind = 'observed') AS BIGINT)
               AS n_observed,
           CAST(count(*) FILTER (WHERE kind = 'interpolated') AS BIGINT)
               AS n_interpolated,
           CAST(count(*) FILTER (WHERE kind = 'edge_filled') AS BIGINT)
               AS n_edge_filled,
           CAST(sum(v_micro) AS BIGINT) AS total_micro
    FROM interp GROUP BY 1 ORDER BY 1
    """,
    tags=("window", "time-series", "gap-fill", "interpolation"),
)
def q58_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-type daily series from a gappy one: forward/backward
    IGNORE-NULLS windows + integer linear interpolation, audited per
    series (observed / interpolated / edge-filled counts + checksum)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = (
        ev.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01"))).alias("d"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
        )
        .groupBy("event_type", "d")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    obs = daily.filter(
        TX_MD5_BUCKET(
            F.concat(F.col("event_type"), F.lit(":"), F.col("d").cast("string")), 10
        )
        < 7
    )
    spine = (
        obs.groupBy("event_type")
        .agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
        .select(
            "event_type", F.explode(F.sequence("lo", "hi")).alias("d")
        )
    )
    joined = spine.join(obs, ["event_type", "d"], "left")
    wp = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wn = (
        W.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    known_d = F.when(F.col("cents").isNotNull(), F.col("d"))
    filled = joined.select(
        "event_type",
        "d",
        "cents",
        F.last("cents", ignorenulls=True).over(wp).alias("pv"),
        F.last(known_d, ignorenulls=True).over(wp).alias("pd"),
        F.first("cents", ignorenulls=True).over(wn).alias("nv"),
        F.first(known_d, ignorenulls=True).over(wn).alias("nd"),
    )
    v_micro = (
        F.when(F.col("cents").isNotNull(), F.col("cents") * 1000000)
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.expr(
                "(pv * 1000000 * (nd - d) + nv * 1000000 * (d - pd))"
                " div (nd - pd)"
            ),
        )
        .when(F.col("pv").isNotNull(), F.col("pv") * 1000000)
        .otherwise(F.col("nv") * 1000000)
    )
    kind = (
        F.when(F.col("cents").isNotNull(), F.lit("observed"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.lit("interpolated"),
        )
        .otherwise(F.lit("edge_filled"))
    )
    interp = filled.select(
        "event_type", v_micro.alias("v_micro"), kind.alias("kind")
    )
    return (
        interp.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.when(F.col("kind") == "observed", 1).otherwise(0))
            .cast("long")
            .alias("n_observed"),
            F.sum(F.when(F.col("kind") == "interpolated", 1).otherwise(0))
            .cast("long")
            .alias("n_interpolated"),
            F.sum(F.when(F.col("kind") == "edge_filled", 1).otherwise(0))
            .cast("long")
            .alias("n_edge_filled"),
            F.sum("v_micro").cast("long").alias("total_micro"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q59 — period-over-period deltas: the canonical BI comparison
# (month-over-month revenue change per segment) with the delta in
# integer basis points against the PRIOR period via a lag window.
# Revenue rides as integer cents (the s06 rounding convention), so
# the deltas hash identically across engines. Shape: one scan-side
# month truncation, one (priority, month) aggregate, a lag window
# partitioned by priority (months per key ~ dozens — never a giant
# partition), restricted to one year for a bounded, readable result.
# --------------------------------------------------------------------------
@register(
    "q59_month_over_month",
    oracle="""
    WITH monthly AS (
        SELECT o_orderpriority AS priority,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    lagged AS (
        SELECT priority, month, cents,
               lag(cents) OVER (PARTITION BY priority ORDER BY month) AS prev
        FROM monthly
    )
    SELECT priority, month, cents,
           CASE WHEN prev IS NOT NULL AND prev > 0
                THEN (cents - prev) * 10000 // prev END AS mom_delta_bp
    FROM lagged
    WHERE month BETWEEN '1995-01' AND '1995-12'
    ORDER BY priority, month
    """,
    tags=("window", "period-over-period", "bi", "lag"),
)
def q59_month_over_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1995 monthly revenue per order priority with integer
    month-over-month deltas (basis points vs the prior month)."""
    from pyspark.sql import Window as W

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    monthly = (
        orders.select(
            F.col("o_orderpriority").alias("priority"),
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM").alias("month"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("c"),
        )
        .groupBy("priority", "month")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    w = W.partitionBy("priority").orderBy("month")
    lagged = monthly.withColumn("prev", F.lag("cents").over(w))
    return (
        lagged.select(
            "priority",
            "month",
            "cents",
            F.when(
                F.col("prev").isNotNull() & (F.col("prev") > 0),
                F.expr("(cents - prev) * 10000 div prev"),
            ).alias("mom_delta_bp"),
        )
        .filter(F.col("month").between("1995-01", "1995-12"))
        .orderBy("priority", "month")
    )


# --------------------------------------------------------------------------
# q60 — trailing-window distinct rollup from daily sketches: "distinct
# users over the trailing 7 days, for every day" answered by UNIONING
# 7 daily HLL sketches per day instead of re-scanning events — the
# sliding-window companion to q44's any-range rollup and THE shape a
# 100 TB dashboard runs hourly. Both paths avoid a range join: each
# contribution row explodes to the <=7 window anchors it serves
# (narrow equi-keyed fan-out, map-side combinable), so no BNLJ and no
# per-window rescan. The exact twin (countDistinct per window) rides
# the same explode and exists to gate the estimate in-plan (q44/q27
# contract: the oracle states the bound as literal TRUE).
# --------------------------------------------------------------------------
@register(
    "q60_sliding_distinct_rollup",
    oracle="""
    WITH activity AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    spine AS (SELECT DISTINCT day FROM activity),
    fanout AS (
        SELECT CAST(u.t AS DATE) AS anchor, a.user_id
        FROM activity a,
             LATERAL unnest(generate_series(a.day, a.day + INTERVAL 6 DAY,
                                            INTERVAL 1 DAY)) AS u(t)
    ),
    win AS (
        SELECT f.anchor, count(DISTINCT f.user_id) AS exact_wau
        FROM fanout f JOIN spine s ON s.day = f.anchor
        GROUP BY 1
    )
    SELECT strftime(anchor, '%Y-%m-%d') AS day, exact_wau,
           TRUE AS estimate_within_5pct
    FROM win ORDER BY day
    """,
    tags=("aggregation", "sketch", "hll", "sliding-window", "rollup"),
)
def q60_sliding_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day trailing-7-day distinct users: HLL union of the window's
    daily sketches, gated in-plan against the exact explode-based twin
    (±5%)."""
    events = load_tables(spark, sf_dir, ("events",))["events"]
    activity = events.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    spine = activity.select("day").distinct()
    daily = activity.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sketch")
    )
    # sketch path: each day's sketch serves anchors day..day+6
    sk = (
        daily.select(
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("anchor"),
            "sketch",
        )
        .join(spine.withColumnRenamed("day", "anchor"), "anchor")
        .groupBy("anchor")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"))
    )
    # exact twin: same fan-out on narrow (user_id, anchor) rows
    exact = (
        activity.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("anchor"),
        )
        .join(spine.withColumnRenamed("day", "anchor"), "anchor")
        .groupBy("anchor")
        .agg(F.countDistinct("user_id").alias("exact_wau"))
    )
    return (
        exact.join(sk, "anchor")
        .select(
            F.date_format("anchor", "yyyy-MM-dd").alias("day"),
            "exact_wau",
            (
                F.abs(F.col("est") - F.col("exact_wau")) * 20
                <= F.col("exact_wau")
            ).alias("estimate_within_5pct"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q61 — the spark.sql() surface, exercised as a user would write it:
# a correlated scalar subquery (parts priced >= 20% above their
# type's average) plus a correlated EXISTS (only parts some order
# actually shipped), submitted as SQL TEXT against the temp views
# load_tables registers. Everything else in the registry builds
# DataFrames programmatically; this row proves the declarative entry
# point end-to-end — Catalyst de-correlates both subqueries into
# aggregate-then-join / semi-join plans (no per-row re-execution),
# which is exactly what survives at scale. Oracle is the same ANSI
# text, so any de-correlation bug changes values, not just shape.
# --------------------------------------------------------------------------
# The premium test runs in INTEGER CENTS (price*count*100 >= 102 *
# type-sum-of-cents == "2% above the type average") because a float
# `price >= 1.02 * avg(price)` puts boundary rows one summation-order
# ulp apart between engines — the repo-wide exactness rule applied to
# a correlated predicate.
_Q61_SQL = """
    SELECT p.p_type AS p_type,
           count(*) AS n_premium,
           CAST(sum(CAST(p.p_size AS BIGINT)) AS BIGINT) AS size_sum,
           round(sum(p.p_retailprice), 2) AS price_sum
    FROM part p
    WHERE CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT) * 100 *
          (SELECT count(*) FROM part p2 WHERE p2.p_type = p.p_type)
          >= 102 * (
            SELECT CAST(sum(CAST(floor(p2.p_retailprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT)
            FROM part p2 WHERE p2.p_type = p.p_type
          )
      AND EXISTS (
            SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey
          )
    GROUP BY p.p_type
    ORDER BY p.p_type
"""


@register(
    "q61_sql_correlated_subquery",
    oracle=_Q61_SQL,
    tags=("relational", "sql-api", "correlated-subquery", "exists"),
)
def q61_sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Premium parts per type via SQL text: correlated scalar
    subquery (>= 1.2x the type average) + correlated EXISTS, run
    through spark.sql() on the registered temp views."""
    load_tables(spark, sf_dir, ("part", "lineitem"))
    return spark.sql(_Q61_SQL)


# --------------------------------------------------------------------------
# q62 — the spark.sql() MULTI-STATEMENT surface over the dedup family
# (VERDICT r5 item 8; q61 proved single-statement text): statement 1
# creates a temp view (digest + quality signals per doc), statement 2
# runs the exact-dedup + quality-aware canonical selection (the
# d01/d15 semantics) as a CTE chain with window functions — all SQL
# TEXT, no DataFrame calls. The keeper rule is d15's deterministic
# argmax (longest text, then smallest doc_id); the oracle runs the
# identical chain with the view inlined as a CTE, so a drift in text
# parsing, view resolution, window semantics, or md5 breaks the hash.
# --------------------------------------------------------------------------
_Q62_VIEW = """
    CREATE OR REPLACE TEMPORARY VIEW q62_digests AS
    SELECT doc_id, source, md5(text) AS digest,
           length(text) AS n_chars_exact
    FROM documents
"""

_Q62_BODY = """
    WITH ranked AS (
        SELECT doc_id, source, digest,
               row_number() OVER (
                   PARTITION BY digest
                   ORDER BY n_chars_exact DESC, doc_id
               ) AS rn,
               count(*) OVER (PARTITION BY digest) AS group_size
        FROM q62_digests
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           CAST(max(group_size) AS BIGINT) AS max_group
    FROM ranked
    GROUP BY source
    ORDER BY source
"""


@register(
    "q62_sql_text_dedup",
    oracle="""
    WITH q62_digests AS (
        SELECT doc_id, source, md5(text) AS digest,
               length(text) AS n_chars_exact
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source, digest,
               row_number() OVER (
                   PARTITION BY digest
                   ORDER BY n_chars_exact DESC, doc_id
               ) AS rn,
               count(*) OVER (PARTITION BY digest) AS group_size
        FROM q62_digests
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           CAST(max(group_size) AS BIGINT) AS max_group
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
    tags=("relational", "sql-api", "dedup", "canonical-selection"),
)
def q62_sql_text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup + canonical keeper selection per source, written
    entirely as spark.sql() text: CREATE TEMP VIEW then a windowed
    CTE chain."""
    load_tables(spark, sf_dir, ("documents",))
    spark.sql(_Q62_VIEW)
    return spark.sql(_Q62_BODY)


# --------------------------------------------------------------------------
# q63 — Spark's NATIVE session_window operator (batch form of the
# Structured Streaming session windows), verified against a
# gaps-and-islands oracle. Complements q18 (which builds sessions by
# hand with lag/cumsum): this exercises the built-in SessionWindow
# expression end-to-end — including its exact boundary semantics,
# which DIFFER from q18's: session_window extends a session to
# last_ts + gap and an event AT that boundary starts a NEW session
# (split at diff >= gap), while q18's hand-rolled rule splits at
# diff > gap. The oracle uses >= to pin the operator's contract; the
# session end column (max ts + gap) pins the window-extension rule.
# Scale shape: one shuffle on user_id; per-user session merge is
# linear in the user's events (the same plan streaming session
# windows use per key).
# --------------------------------------------------------------------------
@register(
    "q63_session_window_native",
    oracle="""
    WITH g AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts, value,
               -- event_id tie-break keeps the ROWS running sum
               -- deterministic when equal timestamps straddle a
               -- session boundary (same order as the lag CTE)
               sum(is_start) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM g
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S')
               AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM s
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    tags=("window", "session-window", "events", "streaming-equivalent"),
)
def q63_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollup via the built-in session_window (10-minute
    inactivity gap): start, gap-extended end, event count, value
    cents."""
    t = load_tables(spark, sf_dir, ("events",))
    ev = t["events"].select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "10 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + 0.5).cast("long")
            ).cast("long").alias("value_cents"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
            "value_cents",
        )
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# q64 — collation-aware aggregation: Spark 4's native string
# collations (`collate(s, 'UTF8_LCASE')`) do case-insensitive
# grouping INSIDE the hash aggregate — no lower() projection, no
# lost original casing, and the same collated column drives joins
# and distincts natively. The corpus synthesizes three case
# renditions of each (source, lang) label; the collated groupBy
# must merge them back into one class while the BINARY min/distinct
# aggregates still see the raw variants (rep = binary min, i.e. the
# uppercase rendition; n_variants counts the distinct raw strings
# per class). The oracle reproduces the classes with lower()
# grouping — a collation that under- or over-merges (or leaks into
# the binary aggregates) splits rows or shifts counts.
# --------------------------------------------------------------------------
@register(
    "q64_collated_aggregation",
    oracle="""
    WITH src AS (
        SELECT doc_id,
               CASE doc_id % 3
                   WHEN 0 THEN upper(source || '_' || lang)
                   WHEN 1 THEN lower(source || '_' || lang)
                   ELSE source || '_' || lang END AS s
        FROM documents
    )
    SELECT lower(s) AS key_lc,
           min(s) AS rep,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT s) AS BIGINT) AS n_variants,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM src GROUP BY lower(s) ORDER BY key_lc
    """,
    tags=("relational", "collation", "aggregation", "spark4-native"),
)
def q64_collated_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive label census via the native UTF8_LCASE
    collation: collated grouping, binary min/distinct inside."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    label = F.concat_ws("_", "source", "lang")
    src = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.upper(label))
        .when(F.col("doc_id") % 3 == 1, F.lower(label))
        .otherwise(label)
        .alias("s"),
    )
    return (
        src.groupBy(F.expr("collate(s, 'UTF8_LCASE')").alias("k"))
        .agg(
            F.min("s").alias("rep"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("s").cast("long").alias("n_variants"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .select(
            F.lower("rep").alias("key_lc"),
            "rep",
            "n_docs",
            "n_variants",
            "id_sum",
        )
        .orderBy("key_lc")
    )


# --------------------------------------------------------------------------
# q65 — NATIVE DataSketches surface (Spark 3.5+/4.x built-ins): the
# production-grade mergeable-sketch stack the engine's own
# operators/sketches.py mirrors, exercised end-to-end —
#   - bitmap_construct_agg / bitmap_or_agg / bitmap_count: EXACT
#     distinct counting via bucketed roaring-style bitmaps. The
#     two-level shape (group by bucket_number, OR partial bitmaps,
#     sum counts) is the 100 TB pattern: each bucket's bitmap is
#     bounded, partials merge associatively, and no row set ever
#     concentrates. These values hash-compare EXACTLY against the
#     oracle's COUNT(DISTINCT).
#   - hll_sketch_agg / hll_union_agg / hll_sketch_estimate: per-day
#     HLL sketches unioned to a month estimate — the mergeability
#     contract (build once per partition/day, union at query time).
#     Estimates enter the comparison as in-plan accuracy booleans
#     (|est - exact| <= max(exact/20, 5)), literal TRUE in the oracle
#     — the q27/q44 contract.
#   - theta_sketch_agg + theta_union/intersection/difference: set
#     ALGEBRA on sketches (HLL can only union) — first-half vs
#     second-half user sets; each estimate bounded against the exact
#     relational answer the oracle recomputes.
# Long output format: (metric, value, ok) where every value is
# oracle-exact and every sketch estimate is an `ok` boolean.
# --------------------------------------------------------------------------
@register(
    "q65_native_sketch_rollup",
    oracle="""
    WITH u AS (
        SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
               day(ts) <= 15 AS first_half
        FROM events
    ),
    daily AS (
        SELECT day, count(DISTINCT user_id) AS n FROM u GROUP BY day
    ),
    halves AS (
        SELECT count(DISTINCT CASE WHEN first_half THEN user_id END)
                   AS n_a,
               count(DISTINCT CASE WHEN NOT first_half THEN user_id END)
                   AS n_b,
               count(DISTINCT user_id) AS n_union
        FROM u
    )
    SELECT metric, value, ok FROM (
        SELECT 'bitmap_daily_sum' AS metric,
               CAST(sum(n) AS BIGINT) AS value, TRUE AS ok, 0 AS o
        FROM daily
        UNION ALL
        SELECT 'bitmap_month', count(DISTINCT user_id), TRUE, 1 FROM u
        UNION ALL
        SELECT 'hll_month_union', count(DISTINCT user_id), TRUE, 2 FROM u
        UNION ALL
        SELECT 'theta_union', n_union, TRUE, 3 FROM halves
        UNION ALL
        SELECT 'theta_intersection', n_a + n_b - n_union, TRUE, 4
        FROM halves
        UNION ALL
        SELECT 'theta_difference', n_union - n_b, TRUE, 5 FROM halves
    ) ORDER BY o
    """,
    tags=("sketch", "native", "hll", "theta", "bitmap", "datasketches"),
)
def q65_native_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native sketch stack over events.user_id: bucketed-bitmap exact
    distincts (hash-compared), per-day HLL sketches unioned to a month
    estimate, and theta-sketch set algebra on the month halves — all
    estimates bounded in-plan."""
    # six metric branches aggregate the same narrow projection with
    # DIFFERENT groupings, so no ReusedExchange can appear (the q48
    # rule) — persist the 3-column projection once instead of
    # re-scanning events per branch
    ev = (
        load_tables(spark, sf_dir, ("events",))["events"]
        .select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            (F.dayofmonth("ts") <= 15).alias("first_half"),
        )
        .transform(tracked_persist)
    )

    def ok(est, exact):
        return (
            F.abs(est.cast("long") - exact)
            <= F.greatest(exact / F.lit(20), F.lit(5))
        ).alias("ok")

    def row(metric, value, okcol, o):
        return F.lit(metric).alias("metric"), value.cast("long").alias(
            "value"
        ), okcol, F.lit(o).alias("o")

    # exact distincts via bucketed bitmaps (two-level merge); the
    # partial-bitmap table is day x bucket sized (tiny) and feeds two
    # different re-aggregations — persist it too
    partials = (
        ev.groupBy("day", F.bitmap_bucket_number("user_id").alias("b"))
        .agg(
            F.bitmap_construct_agg(
                F.bitmap_bit_position("user_id")
            ).alias("bm")
        )
        .transform(tracked_persist)
    )
    daily = partials.groupBy("day").agg(
        F.sum(F.bitmap_count("bm")).alias("n")
    )
    r_daily_sum = daily.agg(
        *row("bitmap_daily_sum", F.sum("n"), F.lit(True).alias("ok"), 0)
    )
    r_month = (
        partials.groupBy("b")
        .agg(F.bitmap_count(F.bitmap_or_agg("bm")).alias("c"))
        .agg(*row("bitmap_month", F.sum("c"), F.lit(True).alias("ok"), 1))
    )

    # HLL: per-day sketches -> month union estimate, bounded
    exact_month = ev.agg(F.countDistinct("user_id").alias("x"))
    hll_est = (
        ev.groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
        )
    )
    r_hll = hll_est.crossJoin(exact_month).select(
        *row(
            "hll_month_union",
            F.col("x"),
            ok(F.col("est"), F.col("x")),
            2,
        )
    )

    # theta set algebra on month halves, each estimate bounded
    th = ev.agg(
        F.theta_sketch_agg(
            F.when(F.col("first_half"), F.col("user_id"))
        ).alias("a"),
        F.theta_sketch_agg(
            F.when(~F.col("first_half"), F.col("user_id"))
        ).alias("b"),
    )
    exacts = ev.agg(
        F.countDistinct(
            F.when(F.col("first_half"), F.col("user_id"))
        ).alias("n_a"),
        F.countDistinct(
            F.when(~F.col("first_half"), F.col("user_id"))
        ).alias("n_b"),
        F.countDistinct("user_id").alias("n_union"),
    )
    th_all = th.crossJoin(exacts)
    r_union = th_all.select(
        *row(
            "theta_union",
            F.col("n_union"),
            ok(
                F.theta_sketch_estimate(F.theta_union("a", "b")),
                F.col("n_union"),
            ),
            3,
        )
    )
    r_inter = th_all.select(
        *row(
            "theta_intersection",
            F.col("n_a") + F.col("n_b") - F.col("n_union"),
            ok(
                F.theta_sketch_estimate(F.theta_intersection("a", "b")),
                F.col("n_a") + F.col("n_b") - F.col("n_union"),
            ),
            4,
        )
    )
    r_diff = th_all.select(
        *row(
            "theta_difference",
            F.col("n_union") - F.col("n_b"),
            ok(
                F.theta_sketch_estimate(F.theta_difference("a", "b")),
                F.col("n_union") - F.col("n_b"),
            ),
            5,
        )
    )

    out = (
        r_daily_sum.unionByName(r_month)
        .unionByName(r_hll)
        .unionByName(r_union)
        .unionByName(r_inter)
        .unionByName(r_diff)
        .orderBy("o")
        .drop("o")
    )
    return out


# --------------------------------------------------------------------------
# q66 — native LISTAGG (Spark 4.0 SQL:2016 surface): ordered,
# DISTINCT, delimiter-bearing string aggregation — the reporting
# primitive users previously hand-rolled with collect_list + sort +
# concat_ws (which Spark cannot push into a partial aggregate the
# same way). Exercised as SQL TEXT because the WITHIN GROUP (ORDER
# BY) syntax is the surface users write; third SQL-text row after
# q61/q62. Deterministic by construction: both engines sort the
# aggregated values by the value itself.
# --------------------------------------------------------------------------
@register(
    "q66_listagg_report",
    oracle="""
    WITH nat AS (
        SELECT n_regionkey AS rk, count(*) AS n_nations,
               string_agg(n_name, '|' ORDER BY n_name) AS nations_csv
        FROM nation GROUP BY n_regionkey
    ),
    seg AS (
        SELECT n_regionkey AS rk,
               string_agg(DISTINCT c_mktsegment, ','
                          ORDER BY c_mktsegment) AS segments_csv
        FROM nation JOIN customer ON c_nationkey = n_nationkey
        GROUP BY n_regionkey
    )
    SELECT r_name AS region, n_nations, nations_csv, segments_csv
    FROM region
    JOIN nat ON nat.rk = r_regionkey
    JOIN seg ON seg.rk = r_regionkey
    ORDER BY region
    """,
    tags=("sql-text", "listagg", "aggregation", "native"),
)
def q66_listagg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region ordered listagg of nation names plus ordered
    DISTINCT listagg of customer market segments (SQL:2016 WITHIN
    GROUP syntax), one listagg per aggregate.

    Deliberately structured as TWO aggregates joined: Spark 4.1's
    distinct-aggregate rewrite crashes when an aggregate holds two
    DISTINCT listaggs with different order keys
    (ClassCastException AttributeReference -> SortOrder in
    ListAgg.withNewChildrenInternal, collect.scala:543 — the Expand
    rewrite replaces the SortOrder child with a plain attribute).
    One listagg per aggregate sidesteps the rewrite and is also the
    better plan (nations never join customers)."""
    load_tables(spark, sf_dir, ("region", "nation", "customer"))
    return spark.sql(
        """
        WITH nat AS (
            SELECT n_regionkey AS rk, count(*) AS n_nations,
                   listagg(n_name, '|')
                       WITHIN GROUP (ORDER BY n_name) AS nations_csv
            FROM nation GROUP BY n_regionkey
        ),
        seg AS (
            SELECT n_regionkey AS rk,
                   listagg(DISTINCT c_mktsegment, ',')
                       WITHIN GROUP (ORDER BY c_mktsegment)
                       AS segments_csv
            FROM nation JOIN customer ON c_nationkey = n_nationkey
            GROUP BY n_regionkey
        )
        SELECT r_name AS region, n_nations, nations_csv, segments_csv
        FROM region
        JOIN nat ON nat.rk = r_regionkey
        JOIN seg ON seg.rk = r_regionkey
        ORDER BY region
        """
    )


_Q67_EDGES_SQL = """
SELECT o_orderkey AS okey, o_custkey AS cust,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
       lag(o_orderkey) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS parent
FROM orders
"""

_Q67_WALK_SQL = """
WITH RECURSIVE walk(okey, cust, depth, run_cents, reset) AS (
    SELECT okey, cust, 0,
           CASE WHEN cents >= 30000000 THEN 0 ELSE cents END,
           CASE WHEN cents >= 30000000 THEN 1 ELSE 0 END
    FROM q67_edges WHERE parent IS NULL
    UNION ALL
    SELECT e.okey, e.cust, w.depth + 1,
           CASE WHEN w.run_cents + e.cents >= 30000000 THEN 0
                ELSE w.run_cents + e.cents END,
           CASE WHEN w.run_cents + e.cents >= 30000000 THEN 1 ELSE 0 END
    FROM walk w JOIN q67_edges e ON e.parent = w.okey
)
SELECT depth, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT cust) AS BIGINT) AS n_customers,
       CAST(sum(run_cents) AS BIGINT) AS sum_run_cents,
       CAST(sum(reset) AS BIGINT) AS n_resets
FROM walk GROUP BY depth ORDER BY depth
"""

_Q67_SQL = """
WITH RECURSIVE edges AS (
    SELECT o_orderkey AS okey, o_custkey AS cust,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           lag(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS parent
    FROM orders
),
walk(okey, cust, depth, run_cents, reset) AS (
    SELECT okey, cust, 0,
           CASE WHEN cents >= 30000000 THEN 0 ELSE cents END,
           CASE WHEN cents >= 30000000 THEN 1 ELSE 0 END
    FROM edges WHERE parent IS NULL
    UNION ALL
    SELECT e.okey, e.cust, w.depth + 1,
           CASE WHEN w.run_cents + e.cents >= 30000000 THEN 0
                ELSE w.run_cents + e.cents END,
           CASE WHEN w.run_cents + e.cents >= 30000000 THEN 1 ELSE 0 END
    FROM walk w JOIN edges e ON e.parent = w.okey
)
SELECT depth, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT cust) AS BIGINT) AS n_customers,
       CAST(sum(run_cents) AS BIGINT) AS sum_run_cents,
       CAST(sum(reset) AS BIGINT) AS n_resets
FROM walk GROUP BY depth ORDER BY depth
"""


# --------------------------------------------------------------------------
# q67 — FRONTIER recursion: a multi-chain hierarchy walk carrying
# stateful arithmetic, the second native ``WITH RECURSIVE`` shape
# (q40's spine is a single-row scalar recursion with an explicit
# bound; this one advances ~1,500 per-customer chains simultaneously,
# joins the recursive frontier against a derived edge table each
# step, and terminates by join exhaustion — no depth guard at all).
# The carried state is a capped accumulator: each customer's orders
# (chained by lag() over date) accumulate integer cents and RESET to
# zero whenever the running total crosses $300k — the bin-cutting /
# batch-packing state that window functions cannot express (a running
# sum with a data-dependent reset is not a frame aggregate; it is the
# reference's sequential fold surface, SURVEY.md §2.4 aggregations).
# Scale: each iteration is one hash join keyed on parent okey over a
# frontier that only shrinks; total joined rows across all iterations
# = |orders|, and depth is bounded by max orders per customer (~25 at
# any SF — TPC-H scales customers, not orders-per-customer), far under
# Spark's recursion limit (spark.sql.cteRecursionLevelLimit = 100).
# Integer cents end-to-end; the identical SQL text runs on both
# engines, so every depth histogram cell and both checksums pin the
# fold order.
# --------------------------------------------------------------------------
@register(
    "q67_recursive_chain_fold",
    oracle=_Q67_SQL,
    tags=("relational", "recursive-cte", "hierarchy", "stateful-fold"),
)
def q67_recursive_chain_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order chains (lag() edges) walked by a recursive
    CTE whose carried accumulator resets at a $300k cap; per-depth
    order counts, customers, surviving run totals, and reset counts
    must equal DuckDB running the identical recursion (the oracle is
    the one-statement form ``_Q67_SQL``).

    Spark's UnionLoop re-evaluates a CTE referenced from the
    recursive term on EVERY iteration — inlining ``edges`` pays the
    orders scan + window ~25 times (measured 7.2s at sf0.1). The
    edges are therefore a persisted temp view, filled by the anchor's
    scan rather than by an eager count.

    What is left is the per-iteration floor. ``UnionLoopExec`` plans
    each iteration afresh over the previous iteration's rows, which
    it hands on through ``LogicalRDD.fromDataset`` together with
    their exact row count. Under AQE every iteration was three Spark
    jobs (the edges broadcast, a round-robin map stage, the count)
    plus two AQE re-optimization passes: 53 jobs for a 13-iteration
    walk on perfbench's ``query_mix`` tables, of which only ~40% of
    the row's time was inside jobs and the rest driver planning. AQE
    re-plans a stage from runtime statistics, and the loop already
    plans every iteration from an exact count, so the walk runs with
    ``spark.sql.adaptive.enabled=false``: about two jobs an iteration
    (the broadcast and the count), 30 for the same walk.

    The loop accumulates one row per order, and Spark caps a
    recursive CTE's TOTAL rows at spark.sql.cteRecursionRowLimit
    (default 1,000,000) — the 10x stress corpus (1.5M orders) hits
    the cap (RECURSION_ROW_LIMIT_EXCEEDED), so the walk runs with
    the limit disabled. Depth stays capped at the level limit (100)
    as the runaway guard. Both confs are scoped, and scoped_conf
    restores them on exit, so nothing may run the walk after the
    block: the walk and its per-depth aggregate (at most level-limit
    rows) run as one ``toArrow()`` inside it, and the row returns
    that table as a local relation, which no later action re-plans
    under the ambient confs."""
    load_tables(spark, sf_dir, ("orders",))
    edges = spark.sql(_Q67_EDGES_SQL).transform(tracked_persist)
    edges.createOrReplaceTempView("q67_edges")
    with (
        scoped_conf(spark, "spark.sql.cteRecursionRowLimit", "-1"),
        scoped_conf(spark, "spark.sql.adaptive.enabled", "false"),
    ):
        return spark.createDataFrame(spark.sql(_Q67_WALK_SQL).toArrow())


# --------------------------------------------------------------------------
# q68 — LATERAL table subquery in FROM (the third SQL-subquery
# surface: q61 covered correlated SCALAR + EXISTS, q62 multi-
# statement text; this is the correlated TABLE expression Spark
# decorrelates via DecorrelateInnerQuery into a plain aggregate +
# join — no per-outer-row re-execution survives in the physical
# plan). Each order pulls a one-row aggregate summary of ITS
# lineitems through the lateral correlation; orders with no
# lineitems still yield one row (scalar-aggregate lateral = left
# semantics, count 0, NULL max — the NULL-handling edge the oracle
# states identically). Money rides integer cents; quantities are
# integer-valued doubles cast to BIGINT on both engines. Scale: the
# decorrelated plan is one shuffle on l_orderkey + one join —
# identical cost to writing the join by hand, which is the point:
# the correlated FORM is free at 100 TB because Catalyst rewrites
# it, and the plan audit (PLANS.md) pins that no NLJ appears.
# --------------------------------------------------------------------------
_Q68_SQL = """
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(l.n_items) AS BIGINT) AS items,
           CAST(sum(l.qty_sum) AS BIGINT) AS qty,
           CAST(sum(l.max_price_cents) AS BIGINT) AS cents
    FROM orders o,
    LATERAL (
        SELECT CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
               max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                   AS max_price_cents
        FROM lineitem
        WHERE l_orderkey = o.o_orderkey AND l_quantity >= 25
    ) l
    WHERE o.o_totalprice > 150000
    GROUP BY priority
    ORDER BY priority
"""


@register(
    "q68_lateral_table_subquery",
    oracle=_Q68_SQL,
    tags=("relational", "sql-api", "lateral", "correlated-subquery"),
)
def q68_lateral_table_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority rollup of per-order lateral aggregate summaries
    (count / qty / max price cents of each order's >=25-quantity
    lineitems); the lateral correlation must decorrelate to an
    aggregate+join and match the identical SQL on DuckDB."""
    load_tables(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(_Q68_SQL)


# --------------------------------------------------------------------------
# q69 — AQE SKEW-JOIN handling, proven in-plan: a deterministically
# skewed join key (30% of lineitem remapped onto ONE hot orderkey —
# the q39 salting row handles this manually; here Spark's runtime
# OptimizeSkewedJoin does it) must actually SPLIT the hot partition
# (`skew=true` on the SortMergeJoin / `AQEShuffleRead skewed`),
# asserted from the executed plan and returned as a literal column,
# with the aggregate value-checked against DuckDB on the identical
# remap expression. Two mechanisms this row pins (both bit a naive
# draft): (1) AQE can only split a skewed REDUCE partition along
# MAP-output boundaries, so a single-file scan (1 map task) is
# unsplittable — the explicit repartition(16) before the join gives
# the shuffle its mappers (at 100 TB the thousands of scan tasks
# provide this for free; the knob matters only at test scale);
# (2) the skew decision runs on COMPRESSED shuffle bytes, so
# thresholds are scoped down (8KB) to fire at sf0.01-0.1 — a real
# cluster keeps the 256MB default. The broadcast fallback is scoped
# off on BOTH thresholds (static + adaptive) or AQE would just
# demote the small dim side to BHJ and sidestep the skew machinery.
# --------------------------------------------------------------------------
_Q69_ORACLE = """
    WITH lskew AS (
        SELECT CASE WHEN l_orderkey % 10 < 3 THEN 1 ELSE l_orderkey END
                   AS k,
               CAST(l_quantity AS BIGINT) AS qty,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem
    )
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(l.qty) AS BIGINT) AS qty,
           CAST(sum(l.cents) AS BIGINT) AS cents,
           TRUE AS skew_split
    FROM lskew l JOIN orders o ON l.k = o.o_orderkey
    GROUP BY priority ORDER BY priority
"""


@register(
    "q69_aqe_skew_join",
    oracle=_Q69_ORACLE,
    tags=("relational", "aqe", "skew", "join", "scale"),
)
def q69_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join a 30%-on-one-key skewed lineitem remap to orders under
    AQE with scoped skew thresholds; the per-priority rollup must
    match DuckDB and the executed plan must show the hot partition
    actually split (skew=true)."""
    import contextlib

    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    lskew = t["lineitem"].select(
        F.when(F.col("l_orderkey") % 10 < 3, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    ).repartition(16)  # the shuffle's mappers = skew-split granularity
    agg = (
        lskew.hint("merge")
        .join(t["orders"], lskew["k"] == F.col("o_orderkey"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("qty").alias("qty"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("priority")
    )
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with contextlib.ExitStack() as stack:
        for key, val in confs.items():
            stack.enter_context(scoped_conf(spark, key, val))
        rows = agg.collect()  # 5 priority rows — bounded pull
        plan = agg._jdf.queryExecution().executedPlan().toString()
    split = "skew=true" in plan
    return (
        local_frame(spark, rows, agg.schema)
        .withColumn("skew_split", F.lit(split))
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# q70 — top-k-per-group via rank()<=k with the WindowGroupLimit
# optimization PROVEN in-plan: since Spark 3.5 a rank/row_number
# filter pushes a per-group limit BELOW the window sort (partial
# WindowGroupLimit before the exchange, final after), so each map
# task forwards at most k rows per group instead of sorting whole
# partitions — the difference between "shuffle k rows per group" and
# "shuffle everything" at 100 TB. q07 uses the same top-k shape for
# its answer; this row pins the OPTIMIZATION itself (executed plan
# must contain WindowGroupLimit) alongside the value check, so a
# regression that silently falls back to a full window sort breaks
# the hash. Ties are impossible by construction (rank orders by
# cents DESC then s_suppkey ASC — a total order), so rank()<=3
# yields exactly 3 rows per nation on both engines.
# --------------------------------------------------------------------------
_Q70_ORACLE = """
    WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem GROUP BY l_suppkey
    ),
    ranked AS (
        SELECT n.n_name, s.s_suppkey, r.cents,
               rank() OVER (
                   PARTITION BY n.n_name
                   ORDER BY r.cents DESC, s.s_suppkey ASC
               ) AS rk
        FROM supplier s
        JOIN rev r ON s.s_suppkey = r.l_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT n_name, s_suppkey, cents,
           CAST(rk AS INTEGER) AS rk,
           TRUE AS group_limit_pushed
    FROM ranked WHERE rk <= 3
    ORDER BY n_name, rk, s_suppkey
"""


@register(
    "q70_window_group_limit",
    oracle=_Q70_ORACLE,
    tags=("relational", "window", "top-k", "plan-optimization"),
)
def q70_window_group_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 suppliers per nation by lineitem revenue through a
    rank()<=3 window filter; values must match DuckDB and the
    executed plan must contain the WindowGroupLimit pushdown."""
    t = load_tables(spark, sf_dir, ("supplier", "nation", "lineitem"))
    rev = t["lineitem"].groupBy("l_suppkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        ).alias("cents")
    )
    ranked = (
        t["supplier"]
        .join(rev, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", "s_suppkey", "cents")
        .withColumn(
            "rk",
            F.rank().over(
                W.partitionBy("n_name").orderBy(
                    F.desc("cents"), F.asc("s_suppkey")
                )
            ),
        )
        .filter(F.col("rk") <= 3)
    )
    rows = ranked.collect()  # ≤ 3 x n_nations rows — bounded pull
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    pushed = "WindowGroupLimit" in plan
    return (
        local_frame(spark, rows, ranked.schema)
        .withColumn("group_limit_pushed", F.lit(pushed))
        .orderBy("n_name", "rk", "s_suppkey")
    )


# --------------------------------------------------------------------------
# q71 — SQL PIPE syntax (Spark 4.0's `|>` operators, SQL:2023-era
# pipeline form): the fourth SQL-text surface (q61 correlated
# scalar/EXISTS, q62 multi-statement, q68 LATERAL) — a five-stage
# pipeline (WHERE |> EXTEND |> JOIN |> two chained AGGREGATEs |>
# SELECT |> ORDER BY) that composes top-to-bottom in evaluation
# order instead of SQL's inside-out nesting. Semantically it lowers
# to exactly the nested form (Catalyst parses pipes into the same
# logical plan), so the DuckDB oracle is the standard-SQL
# equivalent: the row pins that the pipe surface is pure syntax —
# same values, same plan class, no runtime cost. Money rides
# integer cents (floor(x*100+0.5) stated identically both sides).
# --------------------------------------------------------------------------
_Q71_PIPE = """
    FROM lineitem
    |> WHERE l_quantity >= 30
    |> EXTEND CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
    |> JOIN orders ON l_orderkey = o_orderkey
    |> AGGREGATE count(*) AS n_items, sum(cents) AS cents
       GROUP BY o_orderpriority, o_orderkey
    |> AGGREGATE count(*) AS n_orders, sum(n_items) AS n_items,
       sum(cents) AS cents, max(n_items) AS max_items
       GROUP BY o_orderpriority
    |> SELECT o_orderpriority AS priority, n_orders, n_items, cents,
       max_items
    |> ORDER BY priority
"""

_Q71_ORACLE = """
    WITH per_order AS (
        SELECT o.o_orderpriority, o.o_orderkey,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_quantity >= 30
        GROUP BY o.o_orderpriority, o.o_orderkey
    )
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(n_items) AS BIGINT) AS n_items,
           CAST(sum(cents) AS BIGINT) AS cents,
           CAST(max(n_items) AS BIGINT) AS max_items
    FROM per_order GROUP BY o_orderpriority ORDER BY priority
"""


@register(
    "q71_sql_pipe_syntax",
    oracle=_Q71_ORACLE,
    tags=("relational", "sql-api", "pipe-syntax"),
)
def q71_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-stage |> pipeline (filter, extend, join, order-level then
    priority-level aggregate) over lineitem x orders; must equal the
    standard nested-SQL form on DuckDB — the pipe surface is pure
    syntax over the same plan."""
    load_tables(spark, sf_dir, ("lineitem", "orders"))
    return spark.sql(_Q71_PIPE)


# --------------------------------------------------------------------------
# q72 — q67's SCALE-PATH TWIN (VERDICT r8 item 4): the same
# reset-on-threshold chain fold computed WITHOUT recursion. q67's
# recursive CTE costs per-iteration-floor x max-chain-length — at
# 100 TB, chain length grows with per-customer history, so the loop
# DEEPENS with data (x10 stress: 20.8s, iteration-bound). This twin
# is depth-independent: ONE shuffle keyed by customer
# (repartition + sortWithinPartitions), then a sequential fold
# inside each partition via mapInPandas — Arrow-batched, with the
# running (customer, depth, accumulator) carried across batch
# boundaries inside a partition (a customer's rows are contiguous
# because the partition is sorted by cust first). Cost scales with
# DATA (rows per partition), not with the longest chain; adding
# history deepens no loop. mapInPandas (not groupBy.applyInPandas):
# one Python call per Arrow batch instead of one per customer —
# per-group overhead x n_customers is exactly the fixed cost that
# would dominate at scale. The oracle is the IDENTICAL recursive SQL
# q67 runs (``_Q67_SQL``), so the driver pins fold == recursion
# cell-for-cell; tests/test_q72_fold_twin.py additionally pins the
# two Spark plans equal row-for-row before aggregation.
# --------------------------------------------------------------------------
@register(
    "q72_chain_fold_scale_twin",
    oracle=_Q67_SQL,
    tags=("relational", "stateful-fold", "mapInPandas", "scale-path",
          "hierarchy"),
)
def q72_chain_fold_scale_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer $300k-reset chain fold as one customer-keyed
    shuffle + in-partition sequential fold (mapInPandas with
    cross-batch carry) — depth-independent scale twin of q67's
    recursive CTE, pinned to the identical recursion oracle."""
    t = load_tables(spark, sf_dir, ("orders",))
    base = t["orders"].select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("cust"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        F.col("o_orderdate").alias("odate"),
    )

    cap = 30_000_000

    def fold(batches):
        import numpy as np
        import pandas as pd

        # carry across Arrow batches WITHIN a partition: the partition
        # is sorted by (cust, odate, okey), so a customer's chain is
        # contiguous even when it straddles batch boundaries.
        prev_cust = None
        run = 0
        depth = -1
        for pdf in batches:
            cust = pdf["cust"].to_numpy()
            cents = pdf["cents"].to_numpy()
            n = len(pdf)
            run_out = np.empty(n, dtype=np.int64)
            reset_out = np.empty(n, dtype=np.int32)
            depth_out = np.empty(n, dtype=np.int32)
            for i in range(n):
                c = cust[i]
                if c != prev_cust:
                    prev_cust = c
                    run = 0
                    depth = 0
                else:
                    depth += 1
                run += int(cents[i])
                if run >= cap:
                    run_out[i] = 0
                    reset_out[i] = 1
                    run = 0
                else:
                    run_out[i] = run
                    reset_out[i] = 0
                depth_out[i] = depth
            yield pd.DataFrame(
                {
                    "okey": pdf["okey"],
                    "cust": pdf["cust"],
                    "depth": depth_out,
                    "run_cents": run_out,
                    "reset": reset_out,
                }
            )

    walked = (
        base.repartition("cust")
        .sortWithinPartitions("cust", "odate", "okey")
        .mapInPandas(
            fold,
            "okey long, cust long, depth int, run_cents long, reset int",
        )
    )
    return (
        walked.groupBy("depth")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("cust").alias("n_customers"),
            F.sum("run_cents").alias("sum_run_cents"),
            F.sum("reset").alias("n_resets"),
        )
        .orderBy("depth")
    )


# --------------------------------------------------------------------------
# q73 — DYNAMIC PARTITION PRUNING proven in-plan: the optimization
# that makes dimensional filtering survive 100 TB. The fact table is
# committed PARTITIONED BY ship month (84 month directories); the
# query joins it to an orders-derived calendar dim filtered to
# 1995-Q2. Statically the fact scan has NO partition filter — the
# months to keep are only known after evaluating the dim side — so
# without DPP Spark reads all 84 partitions and throws away 96% of
# them after the join. With DPP the broadcast of the dim side is
# REUSED as a partition-pruning subquery on the fact scan
# (PartitionFilters: [dynamicpruning#...]), so only the 3 matching
# month directories are read at all. The executed plan must contain
# the dynamicpruning subquery (literal column, q69/q70 pattern) and
# the per-month rollup must match DuckDB regenerating the same join
# from the raw tables. Scale: partition-dir count is month-bounded
# (84 at any SF); the pruning decision costs one broadcast the join
# needed anyway — this is the read-side companion of q50 (static
# min-max skipping) for filters that are only known at runtime.
# --------------------------------------------------------------------------
_Q73_ORACLE = """
    WITH months AS (
        SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month
        FROM orders
        WHERE date_part('year', o_orderdate) = 1995
          AND date_part('quarter', o_orderdate) = 2
    )
    SELECT l.month,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents,
           TRUE AS dpp_fired
    FROM (
        SELECT strftime(l_shipdate, '%Y-%m') AS month,
               l_quantity, l_extendedprice
        FROM lineitem
    ) l
    JOIN months m ON l.month = m.month
    GROUP BY l.month ORDER BY l.month
"""


@register(
    "q73_dynamic_partition_pruning",
    oracle=_Q73_ORACLE,
    tags=("relational", "dpp", "join", "data-skipping", "scale",
          "plan-optimization"),
)
def q73_dynamic_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Month-partitioned lineitem joined to a 1995-Q2 calendar dim:
    the per-month rollup must match DuckDB and the executed plan must
    show the fact scan pruned by a dynamicpruning partition filter."""
    import os
    import tempfile

    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    work = tempfile.mkdtemp(prefix="hyppo-q73-")
    fact_dir = os.path.join(work, "lineitem_by_month")
    (
        t["lineitem"]
        .select(
            F.col("l_quantity").cast("long").alias("qty"),
            F.floor(F.col("l_extendedprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
            F.date_format("l_shipdate", "yyyy-MM").alias("month"),
        )
        # one file per month dir: the write-side REBALANCE discipline
        # (p28) — without it every task opens a writer per month
        .repartition("month")
        .write.partitionBy("month")
        .parquet(fact_dir)
    )
    dim = (
        t["orders"]
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .filter(F.col("month").between("1995-04", "1995-06"))
        .distinct()
    )
    fact = spark.read.parquet(fact_dir)
    agg = (
        fact.join(F.broadcast(dim), "month")
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("qty").alias("qty"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("month")
    )
    rows = agg.collect()  # ≤ 3 month rows — bounded pull
    plan = agg._jdf.queryExecution().executedPlan().toString()
    fired = "dynamicpruning" in plan
    return (
        local_frame(spark, rows, agg.schema)
        .withColumn("dpp_fired", F.lit(fired))
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# q74 — INJECTED RUNTIME BLOOM FILTER proven in-plan: q49 builds a
# relational Bloom filter BY HAND; since 3.4 Spark's InjectRuntimeFilter
# does it automatically — when one side of a shuffle join carries a
# selective filter, the optimizer plants a bloom_filter_agg subquery
# on that side and a bloom_filter_might_contain() predicate on the
# OTHER side's scan, so non-joining fact rows die before the shuffle
# instead of after it. At 100 TB that is the difference between
# shuffling the whole fact table and shuffling the ~4% that can
# match. This row forces the shuffle-join regime (broadcast off —
# a broadcast join needs no pre-shuffle filter) and scopes the
# application-side size gate to zero (the production default of
# 10 GB is a real-cluster threshold; at test SF nothing reaches it),
# then asserts might_contain on the executed fact scan and
# value-checks the rollup against DuckDB running the plain join —
# the filter must be invisible in the ANSWER (no false negatives by
# bloom contract) and visible in the PLAN. The runtime-filter
# family: q49 (persistable hand-built bloom), q73 (partition-level
# DPP), q74 (row-level injected bloom).
# --------------------------------------------------------------------------
_Q74_ORACLE = """
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents,
           TRUE AS bloom_injected
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 250000
    GROUP BY priority ORDER BY priority
"""


@register(
    "q74_runtime_bloom_filter",
    oracle=_Q74_ORACLE,
    tags=("relational", "runtime-filter", "bloom", "join", "scale",
          "plan-optimization"),
)
def q74_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem joined to selectively-filtered orders under the
    shuffle-join regime with runtime bloom filters enabled; the
    executed plan must carry bloom_filter_might_contain on the fact
    side and the rollup must equal the plain join on DuckDB."""
    import contextlib

    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    dim = t["orders"].filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 250000)
    )
    agg = (
        t["lineitem"]
        .hint("merge")
        .join(dim, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
            ).alias("cents"),
        )
        .orderBy("priority")
    )
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # production gate is 10GB of application-side scan — a real-
        # cluster threshold; 0 lets the injection fire at test SF
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # force the shuffle-join regime the filter exists for
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    with contextlib.ExitStack() as stack:
        for key, val in confs.items():
            stack.enter_context(scoped_conf(spark, key, val))
        rows = agg.collect()  # 1 priority row — bounded pull
        plan = agg._jdf.queryExecution().executedPlan().toString()
    injected = "might_contain" in plan
    return (
        local_frame(spark, rows, agg.schema)
        .withColumn("bloom_injected", F.lit(injected))
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# q75 — GLOBALLY-SORTED range-sharded export, proven from FOOTERS:
# hash shards (t13) make even slices but destroy order; a corpus that
# must be binary-searchable (id-range serves, merge-joins against
# other sorted corpora, resumable range scans) needs RANGE shards
# whose files are internally sorted and mutually disjoint. Spark's
# repartitionByRange samples (nondeterministic boundaries — unusable
# under a value-pinned oracle and unstable across reruns), so the
# boundaries here are EXACT percentile_disc cutpoints (deterministic,
# integer cents): shard = |{cuts < cents}|, ties land low. One
# repartition("shard") + sortWithinPartitions gives one sorted file
# per shard directory (p28's write discipline). The evidence is
# physical, not claimed: the committed files' parquet FOOTERS (the
# q54 zonemap reader) must show min/max ranges strictly disjoint in
# shard order and exactly one file per shard — both ride literal
# columns next to the oracle-pinned per-shard stats. Scale: exact
# percentiles shuffle all values once (q23's note); production swaps
# in quantile-sketch cutpoints (q47) and keeps everything else.
# --------------------------------------------------------------------------
_Q75_FRACS = [i / 8 for i in range(1, 8)]

_Q75_ORACLE = f"""
    WITH base AS (
        SELECT o_orderkey AS okey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
    ),
    cuts AS (
        SELECT [{", ".join(f"quantile_disc(cents, {f})" for f in _Q75_FRACS)}]
            AS c
        FROM base
    ),
    assigned AS (
        SELECT cents,
               len(list_filter((SELECT c FROM cuts), x -> x < cents))
                   AS shard
        FROM base
    )
    SELECT CAST(shard AS INT) AS shard,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(cents) AS min_cents,
           max(cents) AS max_cents,
           TRUE AS one_file_per_shard,
           TRUE AS ranges_disjoint
    FROM assigned GROUP BY shard ORDER BY shard
"""


@register(
    "q75_sorted_export",
    oracle=_Q75_ORACLE,
    tags=("layout", "sorted-export", "range-shards", "data-skipping",
          "manifest"),
)
def q75_sorted_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders exported into 8 range shards at exact percentile_disc
    cutpoints, one sorted file per shard; per-shard stats must match
    the oracle and the committed footers must prove one file per
    shard with strictly disjoint [min,max] ranges in shard order."""
    import os
    import tempfile

    from hyppo_worker_spark.operators.zonemap import build_zonemap

    t = load_tables(spark, sf_dir, ("orders",))
    base = t["orders"].select(
        F.col("o_orderkey").alias("okey"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    base.createOrReplaceTempView("q75_base")
    pct = ", ".join(
        f"percentile_disc({f}) WITHIN GROUP (ORDER BY cents)"
        for f in _Q75_FRACS
    )
    cuts = [int(c) for c in spark.sql(f"SELECT {pct} FROM q75_base").first()]
    cut_arr = ", ".join(f"{c}L" for c in cuts)
    sharded = base.withColumn(
        "shard", F.expr(f"size(filter(array({cut_arr}), x -> x < cents))")
    )
    export = os.path.join(tempfile.mkdtemp(prefix="hyppo-q75-"), "sorted")
    (
        sharded.repartition("shard")
        .sortWithinPartitions("shard", "cents", "okey")
        .write.partitionBy("shard")
        .parquet(export)
    )
    # physical evidence from the committed footers (8 shard rows,
    # bounded pulls)
    zm = (
        build_zonemap(spark, export, ["cents"])
        .withColumn(
            "shard", F.regexp_extract("file", r"shard=(\d+)", 1).cast("int")
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.min(F.col("vmin").cast("long")).alias("fmin"),
            F.max(F.col("vmax").cast("long")).alias("fmax"),
        )
        .orderBy("shard")
        .collect()
    )
    one_file = all(r["n_files"] == 1 for r in zm) and len(zm) == 8
    disjoint = all(
        zm[i]["fmax"] < zm[i + 1]["fmin"] for i in range(len(zm) - 1)
    )
    # scratch cleanup is the bench harness's between-rows sweep: the
    # returned frame still reads the export dir, so deleting it here
    # would need an extra in-row materialization (collect + rebuild),
    # measured +12% on the row across two clean A/B readings — not
    # taken.
    return (
        spark.read.parquet(export)
        .groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .withColumn("one_file_per_shard", F.lit(bool(one_file)))
        .withColumn("ranges_disjoint", F.lit(bool(disjoint)))
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# q76 — the JOIN-STRATEGY HINT MATRIX, proven from the executed plan:
# Spark's four join-strategy hints (BROADCAST, MERGE, SHUFFLE_HASH,
# SHUFFLE_REPLICATE_NL — docs "Join Strategy Hints", JoinSelection in
# SparkStrategies.scala) each force a different physical operator for
# the SAME logical join. At 100 TB the hint is the escape hatch when
# the optimizer's size estimates are wrong (a filtered dim whose
# selectivity Catalyst can't see → force BROADCAST; a build side that
# fits memory after filtering → SHUFFLE_HASH avoids SMJ's sorts). The
# row runs customer⋈nation once per hint with auto-broadcast DISABLED
# (so BROADCAST can only come from the hint), asserts the expected
# node (BroadcastHashJoin / SortMergeJoin / ShuffledHashJoin /
# CartesianProduct) in each EXECUTED plan, and pins all four variants
# to the identical oracle aggregate — hint dispatch must never change
# the answer. The CartesianProduct is the documented, bounded
# exception (25-row nation side, plan-audit whitelisted): the hint
# EXISTS for non-equi joins; honoring it on an equi-join is the
# provable-dispatch case.
# --------------------------------------------------------------------------
_Q76_AGG_SQL = """
    SELECT count(*) AS n_cust,
           count(DISTINCT n.n_regionkey) AS n_regions,
           CAST(sum(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS bal_cents
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_name <> 'FRANCE'
"""

_Q76_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{s}' AS strategy, TRUE AS dispatched, agg.* FROM ({_Q76_AGG_SQL}) agg"
    for s in ("broadcast", "merge", "shuffle_hash", "shuffle_replicate_nl")
) + "\nORDER BY strategy"


@register(
    "q76_join_hint_matrix",
    oracle=_Q76_ORACLE,
    tags=("relational", "join", "hints", "plan-optimization"),
)
def q76_join_hint_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer⋈nation once per join-strategy hint under disabled
    auto-broadcast; each executed plan must carry the hinted physical
    operator and all four answers must equal the one oracle aggregate."""
    import contextlib

    t = load_tables(spark, sf_dir, ("customer", "nation"))
    cust, nation = t["customer"], t["nation"].filter(
        F.col("n_name") != "FRANCE"
    )

    expected = {
        "broadcast": "BroadcastHashJoin",
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
        "shuffle_replicate_nl": "CartesianProduct",
    }
    parts = []
    confs = {
        # BROADCAST must come from the hint, not the size estimate
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    with contextlib.ExitStack() as stack:
        for key, val in confs.items():
            stack.enter_context(scoped_conf(spark, key, val))
        for strategy, node in expected.items():
            agg = (
                cust.join(
                    nation.hint(strategy),
                    F.col("c_nationkey") == F.col("n_nationkey"),
                )
                .agg(
                    F.count(F.lit(1)).alias("n_cust"),
                    F.countDistinct("n_regionkey").alias("n_regions"),
                    F.sum(
                        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
                    ).alias("bal_cents"),
                )
            )
            rows = agg.collect()  # 1 row — bounded pull
            plan = agg._jdf.queryExecution().executedPlan().toString()
            parts.append(
                local_frame(spark, rows, agg.schema)
                .withColumn("strategy", F.lit(strategy))
                .withColumn("dispatched", F.lit(node in plan))
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "strategy", "dispatched", "n_cust", "n_regions", "bal_cents"
    ).orderBy("strategy")


# --------------------------------------------------------------------------
# q77 — grouped-map ARROW UDF (applyInArrow): the one Python-UDF shape
# the suite had not exercised (t31/m-rows = scalar/iterator pandas_udf,
# q72 = mapInPandas, t32 = UDTF, p15 = applyInPandasWithState). For
# numeric per-group folds, pandas conversion is pure overhead —
# applyInArrow hands each group as a pyarrow.Table (zero-copy to
# numpy for integer reductions), the right shape for per-entity
# statistics at corpus scale: ONE shuffle by supplier, whole-group
# numeric work in vectorized Arrow, no index/object-dtype tax.
# Determinism is engineered, not hoped for: the UDF emits the
# regression slope's INTEGER numerator/denominator (int64 sums of
# qty/cents products — exact in both engines and order-independent),
# and the slope itself is one IEEE division of two exactly-
# representable (<2^53) integers, so Spark and DuckDB agree
# bit-for-bit with no rounding tolerance. Constraint documented: like
# applyInPandas, the whole group materializes in one task — fine for
# per-supplier groups (~600 rows at any SF by TPC-H construction);
# skewed entities would take q72's mapInPandas carry instead.
# --------------------------------------------------------------------------
_Q77_ORACLE = """
    WITH base AS (
        SELECT CAST(l_suppkey AS BIGINT) AS suppkey,
               CAST(l_quantity AS BIGINT) AS qty,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem
    ),
    g AS (
        SELECT suppkey, count(*) AS n_items,
               sum(qty) AS sx, sum(cents) AS sy,
               sum(qty * cents) AS sxy, sum(qty * qty) AS sxx
        FROM base GROUP BY suppkey
    )
    SELECT suppkey,
           CAST(n_items AS BIGINT) AS n_items,
           CAST(n_items * sxy - sx * sy AS BIGINT) AS num,
           CAST(n_items * sxx - sx * sx AS BIGINT) AS den,
           CASE WHEN n_items * sxx - sx * sx = 0 THEN NULL
                ELSE CAST(CAST(n_items * sxy - sx * sy AS BIGINT) AS DOUBLE)
                     / CAST(CAST(n_items * sxx - sx * sx AS BIGINT) AS DOUBLE)
           END AS slope
    FROM g ORDER BY suppkey
"""


@register(
    "q77_grouped_arrow_regression",
    oracle=_Q77_ORACLE,
    tags=("relational", "udf", "arrow", "applyInArrow", "regression"),
)
def q77_grouped_arrow_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier price-vs-quantity regression slope via
    groupBy().applyInArrow — integer numerator/denominator emitted for
    exact cross-engine equality, slope one deterministic IEEE divide."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"].select(
        F.col("l_suppkey").cast("long").alias("suppkey"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )

    def slope_of(table):  # pyarrow.Table -> pyarrow.Table
        import pyarrow as pa

        qty = table.column("qty").to_numpy(zero_copy_only=False)
        cents = table.column("cents").to_numpy(zero_copy_only=False)
        n = len(qty)
        sx = int(qty.sum())
        sy = int(cents.sum())
        sxy = int((qty * cents).sum())
        sxx = int((qty * qty).sum())
        num = n * sxy - sx * sy
        den = n * sxx - sx * sx
        slope = float(num) / float(den) if den != 0 else None
        return pa.table(
            {
                "suppkey": pa.array(
                    [table.column("suppkey")[0].as_py()], pa.int64()
                ),
                "n_items": pa.array([n], pa.int64()),
                "num": pa.array([num], pa.int64()),
                "den": pa.array([den], pa.int64()),
                "slope": pa.array([slope], pa.float64()),
            }
        )

    return (
        li.groupBy("suppkey")
        .applyInArrow(
            slope_of,
            schema="suppkey long, n_items long, num long, den long, "
            "slope double",
        )
        .orderBy("suppkey")
    )


# --------------------------------------------------------------------------
# q78 — COST-BASED JOIN REORDERING from ANALYZE statistics: Catalyst's
# default join order is syntactic (left-deep as written); with
# spark.sql.cbo.enabled + cbo.joinReorder.enabled and column stats
# from ANALYZE TABLE ... FOR ALL COLUMNS, the DP join-reorder rule
# re-plans the chain from estimated cardinalities — here the query is
# WRITTEN worst-first (lineitem⋈orders first, the biggest
# intermediate) and the optimizer must flip it to (orders⋈customer)
# first, where the segment equality's 1/ndv selectivity shrinks the
# build side 5x before the fact table joins in. Both claims are
# asserted from the engine, not assumed: the optimized plan's leaf
# order must change lineitem-first → lineitem-last, and the analyzed
# relation must carry an EXACT rowCount statistic (what the DP cost
# model consumed). At 100 TB stats-driven reordering is the difference
# between shuffling a petabyte intermediate and a broadcastable one —
# and stale stats are the classic way to get the petabyte; the row's
# rowcount pin is the freshness check a production pipeline runs after
# every ANALYZE. Answer pinned to the same aggregate with CBO off.
# --------------------------------------------------------------------------
_Q78_ORACLE = """
    SELECT o.o_orderpriority AS priority,
           count(*) AS n_items,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS cents,
           TRUE AS cbo_reordered,
           TRUE AS rowcount_stats_exact
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY 1 ORDER BY 1
"""


@register(
    "q78_cbo_join_reorder",
    oracle=_Q78_ORACLE,
    tags=("relational", "cbo", "statistics", "join-reorder",
          "plan-optimization"),
)
def q78_cbo_join_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-table join written worst-first; under CBO + ANALYZE'd
    column stats the optimized plan must reorder lineitem last, the
    analyzed rowCount statistic must be exact, and the answer must
    equal the CBO-off oracle aggregate."""
    import contextlib

    t = load_tables(spark, sf_dir, ("lineitem", "orders", "customer"))
    import os
    import tempfile

    loc = tempfile.mkdtemp(prefix="hyppo-q78-")
    # Unique per-invocation database name (derived from the tempdir's
    # random suffix): a fixed literal would let two concurrent runs
    # (bench + correctness harness) clobber each other's tables via
    # the DROP ... CASCADE below, and would silently destroy any
    # pre-existing user database of the same name.
    db = "q78db_" + os.path.basename(loc).split("-")[-1].lower()
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    try:
        t["lineitem"].select(
            "l_orderkey", "l_extendedprice"
        ).write.mode("overwrite").saveAsTable(f"{db}.li")
        t["orders"].select(
            "o_orderkey", "o_custkey", "o_orderpriority"
        ).write.mode("overwrite").saveAsTable(f"{db}.ord")
        t["customer"].select(
            "c_custkey", "c_mktsegment"
        ).write.mode("overwrite").saveAsTable(f"{db}.cust")
        for tbl in ("li", "ord", "cust"):
            spark.sql(
                f"ANALYZE TABLE {db}.{tbl} COMPUTE STATISTICS FOR ALL COLUMNS"
            )

        sql = f"""
            SELECT o.o_orderpriority AS priority,
                   count(*) AS n_items,
                   sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                       AS cents
            FROM {db}.li l
            JOIN {db}.ord o ON l.l_orderkey = o.o_orderkey
            JOIN {db}.cust c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
            GROUP BY 1 ORDER BY 1
        """

        def leaf_order(plan_str: str) -> list[str]:
            pos = [
                (plan_str.find(f"{db}.{name}"), name)
                for name in ("li", "ord", "cust")
            ]
            return [n for i, n in sorted(pos) if i >= 0]

        base_order = leaf_order(
            spark.sql(sql)._jdf.queryExecution().optimizedPlan().toString()
        )
        confs = {
            "spark.sql.cbo.enabled": "true",
            "spark.sql.cbo.joinReorder.enabled": "true",
            # order must matter: no broadcast demotion of the question
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        with contextlib.ExitStack() as stack:
            for key, val in confs.items():
                stack.enter_context(scoped_conf(spark, key, val))
            # the freshness pin: the catalog statistic the DP cost
            # model consumes is the exact row count (plan stats carry
            # rowCount only under CBO; 1-row bounded pulls)
            stats_rc = (
                spark.table(f"{db}.cust")
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .rowCount()
            )
            exact = (
                stats_rc.isDefined()
                and int(str(stats_rc.get())) == t["customer"].count()
            )
            agg = spark.sql(sql)
            cbo_order = leaf_order(
                agg._jdf.queryExecution().optimizedPlan().toString()
            )
            rows = agg.collect()  # <=5 priority rows — bounded pull
        reordered = (
            base_order[0] == "li"
            and cbo_order != base_order
            and cbo_order[-1] == "li"
        )
        return (
            local_frame(spark, rows, agg.schema)
            .withColumn("cbo_reordered", F.lit(bool(reordered)))
            .withColumn("rowcount_stats_exact", F.lit(bool(exact)))
            .orderBy("priority")
        )
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


# --------------------------------------------------------------------------
# q79 — AQE PARTITION COALESCING proven from the executed plan: the
# third leg of the runtime re-planning story (q69 = skew split, q73 =
# partition pruning, q74 = row-level bloom; this row = the tiny-task
# case). Statically-planned shuffle partition counts are sized for
# the biggest stage of the biggest day — so most stages of most jobs
# would run hundreds of near-empty reducers, each paying scheduler
# latency, a task-start JVM hop, and an output commit. AQE measures
# the ACTUAL map-output bytes at the stage boundary and coalesces
# adjacent partitions up to advisoryPartitionSizeInBytes. The row
# plans an aggregate under a deliberately oversized initial count
# (256) and asserts from the executed plan that AQEShuffleRead
# coalesced it, and that the final partition count is far below the
# initial — while the answer stays pinned to the plain oracle
# aggregate. At 100 TB the same mechanism is what makes ONE global
# shuffle.partitions setting livable across stages whose outputs
# differ by 10^4: size the ceiling for the biggest stage, let AQE
# shrink every other one. (The inverse knob is q69's skew split —
# together they bound task size from both sides.)
# --------------------------------------------------------------------------
_Q79_ORACLE = """
    SELECT n_name AS nation,
           count(*) AS n_cust,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS bal_cents,
           TRUE AS aqe_coalesced
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
"""


@register(
    "q79_aqe_coalesce_partitions",
    oracle=_Q79_ORACLE,
    tags=("relational", "aqe", "coalesce", "plan-optimization", "scale"),
)
def q79_aqe_coalesce_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation rollup planned at 256 shuffle partitions; AQE must
    coalesce the exchange (AQEShuffleRead in the executed plan, final
    partition count << 256) without changing the oracle-pinned answer."""
    import contextlib

    t = load_tables(spark, sf_dir, ("customer", "nation"))
    agg = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(
                F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
            ).alias("bal_cents"),
        )
        .orderBy("nation")
    )
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # the deliberately oversized static plan AQE must walk back
        "spark.sql.shuffle.partitions": "256",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
        # keep parallelism pressure from blocking the shrink at tiny SF
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB",
    }
    with contextlib.ExitStack() as stack:
        for key, val in confs.items():
            stack.enter_context(scoped_conf(spark, key, val))
        rows = agg.collect()  # 25 nation rows — bounded pull
        jplan = agg._jdf.queryExecution().executedPlan()
        plan_str = jplan.toString()
    coalesced = "AQEShuffleRead coalesced" in plan_str
    return (
        local_frame(spark, rows, agg.schema)
        .withColumn("aqe_coalesced", F.lit(bool(coalesced)))
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# q80 — NESTED SCHEMA PRUNING into the parquet scan: wide event/log
# schemas at corpus scale are deeply nested (request structs, model
# metadata, provenance blobs), and a query touching one leaf must not
# deserialize the whole struct — Parquet stores leaves as independent
# column chunks, and Spark's nestedSchemaPruning pushes the LEAF
# selection into the scan's ReadSchema. The row stages orders as a
# nested zone (meta: struct<priority, status, odate> + a payload
# array), aggregates by ONE leaf (meta.priority), and asserts from
# the executed plan's ReadSchema that the scan reads
# meta.priority ONLY — the sibling leaves never leave the file. At
# 100 TB with struct-of-20-fields logs this is the same 10-100x I/O
# lever as top-level column pruning, and it silently turns OFF when a
# UDF or a whole-struct reference forces the full struct — which is
# exactly why the row pins it from the plan instead of trusting the
# default conf.
# --------------------------------------------------------------------------
_Q80_ORACLE = """
    SELECT o_orderpriority AS priority,
           count(*) AS n_orders,
           TRUE AS leaf_only_scan
    FROM orders GROUP BY 1 ORDER BY 1
"""


@register(
    "q80_nested_schema_pruning",
    oracle=_Q80_ORACLE,
    tags=("relational", "nested", "schema-pruning", "scan",
          "plan-optimization"),
)
def q80_nested_schema_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders staged as a nested struct zone; an aggregate over one
    leaf must scan ReadSchema struct<meta:struct<priority>> only —
    sibling leaves (status, odate, payload array) stay unread."""
    import os
    import re
    import tempfile

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    work = tempfile.mkdtemp(prefix="hyppo-q80-")
    zone = os.path.join(work, "nested")
    (
        orders.select(
            "o_orderkey",
            F.struct(
                F.col("o_orderpriority").alias("priority"),
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderdate").cast("string").alias("odate"),
            ).alias("meta"),
            F.array(
                F.col("o_totalprice"), F.col("o_custkey").cast("double")
            ).alias("payload"),
        ).write.mode("overwrite").parquet(zone)
    )

    agg = (
        spark.read.parquet(zone)
        .groupBy(F.col("meta.priority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("priority")
    )
    rows = agg.collect()  # 5 priority rows — bounded pull
    plan = agg._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: (struct<[^\n]*)", plan)
    read_schema = m.group(1) if m else ""
    leaf_only = (
        "priority" in read_schema
        and "status" not in read_schema
        and "odate" not in read_schema
        and "payload" not in read_schema
    )
    return (
        local_frame(spark, rows, agg.schema)
        .withColumn("leaf_only_scan", F.lit(bool(leaf_only)))
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# q81 — FILE-SIZE CONTROL proven from footers: maxRecordsPerFile is
# the per-task file-rolling bound — the knob that stops one giant
# task (a hot partition after a skewed shuffle, a coalesce(1) export)
# from emitting one giant file that downstream scans cannot split.
# p28 (REBALANCE) controls the partition SIZES feeding the writer;
# this row pins the writer-side guarantee itself: a single-task write
# of orders under maxRecordsPerFile=1000 must roll exactly
# ceil(n/1000) files, every footer's row count <= 1000, the sequence
# deterministic (full files then the remainder — a single task fills
# files in order), and the footers' row counts summing back to the
# table count (nothing dropped or duplicated by the roll). Evidence
# is physical: pyarrow reads each committed footer (q54/q75's
# discipline); the oracle derives the same file ledger analytically
# from count(*) alone — file i of a single-task roll holds
# min(1000, n - 1000*i) rows. At 100 TB both knobs run together:
# REBALANCE sizes partitions, maxRecordsPerFile caps what any one
# task can emit — and this row is the proof the cap is exact, not
# advisory.
# --------------------------------------------------------------------------
_Q81_N = 1000

_Q81_ORACLE = f"""
    WITH n AS (SELECT count(*) AS total FROM orders),
    -- static range (DuckDB's range() rejects correlated bounds)
    -- filtered to the ceil(total/N) real files; 1e6 covers any SF
    files AS (
        SELECT i AS file_seq,
               least({_Q81_N}, total - {_Q81_N} * i) AS n_rows
        FROM n, range(0, 1000000) r(i)
        WHERE i * {_Q81_N} < total
    )
    SELECT CAST(file_seq AS INT) AS file_seq,
           CAST(n_rows AS BIGINT) AS n_rows,
           TRUE AS bound_respected,
           TRUE AS totals_roundtrip
    FROM files ORDER BY file_seq
"""


@register(
    "q81_max_records_per_file",
    oracle=_Q81_ORACLE,
    tags=("layout", "write-shaping", "file-size", "small-files",
          "footers"),
)
def q81_max_records_per_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-task orders export under maxRecordsPerFile=1000: the
    committed footers must show the exact deterministic roll (full
    files then the remainder), every file within the bound, and the
    footer row counts summing to the table count."""
    import glob
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    total = orders.count()
    out = tempfile.mkdtemp(prefix="hyppo-q81-") + "/export"
    with scoped_conf(
        spark, "spark.sql.files.maxRecordsPerFile", str(_Q81_N)
    ):
        # one task: the roll sequence (full, full, ..., remainder) is
        # deterministic only within a single writer task
        orders.coalesce(1).write.mode("overwrite").parquet(out)
    # Sort by the writer's NUMERIC cNNN roll counter, not the raw
    # name: Spark pads the counter to 3 digits only (c000..c999, then
    # c1000), so lexicographic order breaks past 1,000 rolled files —
    # exactly the regime a 100 TB export with a 1000-row cap lives in.
    import re

    def _roll_seq(path: str) -> int:
        # counter is the '-cNNN' immediately before the extension dot;
        # take the LAST match so hex uuid segments can't shadow it
        m = re.findall(r"-c(\d+)\.", os.path.basename(path))
        return int(m[-1]) if m else 0

    files = sorted(
        glob.glob(os.path.join(out, "part-*.parquet")), key=_roll_seq
    )
    counts = [pq.ParquetFile(f).metadata.num_rows for f in files]
    shutil.rmtree(os.path.dirname(out), ignore_errors=True)
    bound_ok = all(c <= _Q81_N for c in counts)
    roundtrip = sum(counts) == total
    return local_frame(spark, 
        [
            (i, c, bool(bound_ok), bool(roundtrip))
            for i, c in enumerate(counts)
        ],
        "file_seq int, n_rows long, bound_respected boolean, "
        "totals_roundtrip boolean",
    ).orderBy("file_seq")


# --------------------------------------------------------------------------
# q82 — IN-FLIGHT METRICS (DataFrame.observe): the zero-extra-cost
# tier of the data-quality story. p22 runs a deliberate validation
# PASS over staged data (the right shape for admission gates);
# observe() instead rides metric accumulators on the back of the real
# job — row counts, domain counts, integer sums evaluated ON THE SCAN
# as it flows, no second read. The row runs a real per-priority
# rollup with an Observation attached BELOW the aggregation and
# returns the observed totals as columns next to the rollup; the
# oracle recomputes both from the table directly, so a hash match
# proves the in-flight accumulators saw every row exactly once (a
# metric that double-counted under retries or missed rows under
# pruning would break the pin). The null-count metric audits a column
# the AGGREGATION NEVER READS — proof the audit does not change what
# the job computes (the scan widens by one column; nothing else).
# At 100 TB this is how every ingest job self-reports its integrity
# counters for free; Spark evaluates observe metrics exactly-once per
# action even under task retries (AccumulatorV2 semantics), which is
# precisely what the pin asserts.
# --------------------------------------------------------------------------
_Q82_ORACLE = """
    WITH base AS (
        SELECT o_orderpriority AS priority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               o_orderstatus
        FROM orders
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS obs_total_rows,
               CAST(sum(cents) AS BIGINT) AS obs_total_cents,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS obs_status_f
        FROM base
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents,
           obs_total_rows, obs_total_cents, obs_status_f
    FROM base, tot
    GROUP BY priority, obs_total_rows, obs_total_cents, obs_status_f
    ORDER BY priority
"""


@register(
    "q82_observe_inflight_metrics",
    oracle=_Q82_ORACLE,
    tags=("observability", "metrics", "quality", "accumulators"),
)
def q82_observe_inflight_metrics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-priority rollup with an Observation riding the scan: the
    in-flight row/cents/status-F accumulators must equal the
    oracle's direct aggregates (seen-exactly-once proof)."""
    from pyspark.sql.observation import Observation

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    base = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
        "o_orderstatus",
    )
    obs = Observation("ingest_audit")
    audited = base.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("cents_sum"),
        F.sum((F.col("o_orderstatus") == "F").cast("long")).alias(
            "status_f"
        ),
    )
    rollup = (
        audited.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("priority")
    )
    rows = rollup.collect()  # 5 priority rows — bounded pull; this
    # action is ALSO what populates the observation
    got = obs.get
    return (
        local_frame(spark, rows, rollup.schema)
        .withColumn(
            "obs_total_rows", F.lit(int(got["n_rows"])).cast("long")
        )
        .withColumn(
            "obs_total_cents", F.lit(int(got["cents_sum"])).cast("long")
        )
        .withColumn(
            "obs_status_f", F.lit(int(got["status_f"])).cast("long")
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# q83 — FILE-LEVEL BLOOM-INDEX SKIPPING: the point-lookup tier of the
# data-skipping ladder. Zonemaps (q54) skip on min/max — useless for a
# HIGH-CARDINALITY NON-PARTITION column scattered across every file;
# partition pruning (q73) needs the lookup column to BE the layout
# key. The Iceberg/Delta answer is a per-file Bloom index: each file
# group carries a tiny membership filter over the lookup column, and
# a point query reads only the groups whose filter MIGHT contain the
# key. The layout job writes orders into 32 md5(o_orderkey) groups
# (so o_custkey scatters across groups — the hostile case), builds
# the per-group filter from the WRITTEN data (read path authoritative,
# the index-row discipline) into a persisted relational manifest
# (fid, word, bits_w — `operators/bloom.py`), and the query probes 3
# customers: manifest → candidate groups (bounded pull ≤ 32 ints) →
# LITERAL partition filter (engine-asserted from the plan) → exact
# filter + integer-cents aggregate. No false negatives BY
# CONSTRUCTION — engine-asserted by comparing against the unpruned
# count; false positives are deterministic md5 arithmetic, so the
# oracle replays the exact candidate set (groups read INCLUDED) in
# SQL. At 100 TB: the manifest is bits/32 longs per file group, the
# probe is k broadcast word-joins, and a point lookup reads
# n_groups_read/n_groups_total of the data with no layout rewrite.
# --------------------------------------------------------------------------
_Q83_FIDS, _Q83_BITS, _Q83_K = 32, 4096, 3


def _q83_oracle() -> str:
    from hyppo_worker_spark.functions.text import md5_bucket_sql
    from hyppo_worker_spark.operators.bloom import bloom_position_sql

    fid = md5_bucket_sql("o_orderkey", _Q83_FIDS)
    return f"""
    WITH fid AS MATERIALIZED (
        SELECT o_custkey, o_totalprice, {fid} AS fid FROM orders
    ),
    probes(o_custkey) AS (VALUES (1), (2), (3)),
    pos AS (
        SELECT fid, {bloom_position_sql('o_custkey', 'r.i', _Q83_BITS)}
               AS pos
        FROM fid, range({_Q83_K}) r(i)
    ),
    words AS MATERIALIZED (
        SELECT fid, CAST(pos // 32 AS INT) AS word,
               CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))
                    AS BIGINT) AS bits_w
        FROM pos GROUP BY 1, 2
    ),
    ppos AS (
        SELECT p.o_custkey,
               {bloom_position_sql('p.o_custkey', 'r.i', _Q83_BITS)} AS pos
        FROM probes p, range({_Q83_K}) r(i)
    ),
    hits AS MATERIALIZED (
        SELECT pp.o_custkey, w.fid
        FROM ppos pp
        JOIN words w
          ON w.word = CAST(pp.pos // 32 AS INT)
         AND (w.bits_w & (CAST(1 AS BIGINT) << CAST(pp.pos % 32 AS INT)))
             != 0
        GROUP BY pp.o_custkey, w.fid
        HAVING count(*) = {_Q83_K}
    ),
    nread AS (
        SELECT CAST(count(DISTINCT fid) AS BIGINT) AS n_groups_read
        FROM hits
    ),
    agg AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM fid JOIN probes USING (o_custkey) GROUP BY 1
    )
    SELECT CAST(p.o_custkey AS BIGINT) AS o_custkey,
           coalesce(a.n_orders, 0) AS n_orders,
           coalesce(a.revenue_cents, 0) AS revenue_cents,
           r.n_groups_read,
           CAST({_Q83_FIDS} AS BIGINT) AS n_groups_total,
           r.n_groups_read < {_Q83_FIDS} AS groups_skipped,
           TRUE AS plan_pruned, TRUE AS no_false_negatives
    FROM probes p LEFT JOIN agg a USING (o_custkey), nread r
    ORDER BY p.o_custkey
    """


@register(
    "q83_bloom_file_manifest",
    oracle=_q83_oracle(),
    tags=("layout", "data-skipping", "bloom", "file-index",
          "point-lookup"),
)
def q83_bloom_file_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookups over a per-file-group Bloom manifest: candidate
    groups become a literal partition filter (pruning engine-asserted),
    the no-false-negative guarantee is engine-asserted against the
    unpruned count, and the exact candidate set — false positives
    included — is replayed by the oracle's md5 arithmetic."""
    import os
    import re
    import shutil
    import tempfile

    from hyppo_worker_spark.functions import text as TX
    from hyppo_worker_spark.operators.bloom import (
        bloom_build,
        bloom_candidates,
    )
    from hyppo_worker_spark.plans.explain import formatted_plan

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    work = tempfile.mkdtemp(prefix="hyppo-q83-")
    data_dir = os.path.join(work, "orders")
    manifest_dir = os.path.join(work, "bloom_manifest")

    # layout job: groups keyed on the ORDER key, so the lookup column
    # scatters across every group (zonemaps/partition pruning useless)
    shaped = orders.withColumn(
        "fid", TX.md5_bucket("o_orderkey", _Q83_FIDS).cast("int")
    )
    (
        shaped.repartition(_Q83_FIDS, F.col("fid"))
        .write.partitionBy("fid")
        .mode("overwrite")
        .parquet(data_dir)
    )
    written = spark.read.parquet(data_dir)
    bloom_build(
        written, "o_custkey",
        bits=_Q83_BITS, hashes=_Q83_K, shard_col="fid",
    ).write.mode("overwrite").parquet(manifest_dir)

    probes = spark.range(1, 4).select(F.col("id").alias("o_custkey"))
    manifest = spark.read.parquet(manifest_dir)
    cands = bloom_candidates(
        manifest, probes, "o_custkey",
        shard_col="fid", bits=_Q83_BITS, hashes=_Q83_K,
    )
    fids = sorted(
        {int(r["fid"]) for r in cands.select("fid").distinct().collect()}
    )  # bounded pull: ≤ n_groups ints — the manifest verdict

    pruned = spark.read.parquet(data_dir).filter(F.col("fid").isin(fids))
    rows = (
        pruned.join(F.broadcast(probes), "o_custkey")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("long")
            ).alias("revenue_cents"),
        )
    )
    plan = formatted_plan(rows)
    part_filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    # past spark.sql.optimizer.inSetConversionThreshold (10) the
    # literal list prints as INSET, not IN — match both
    plan_pruned = any(
        "fid" in pf and re.search(r"\b(IN|INSET)\b", pf)
        for pf in part_filters
    )

    core = (
        probes.join(rows, "o_custkey", "left")
        .select(
            "o_custkey",
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce("revenue_cents", F.lit(0))
            .cast("long")
            .alias("revenue_cents"),
        )
        .orderBy("o_custkey")
    ).collect()  # 3 probe rows — bounded pull
    # no false negatives: the pruned read found EVERY probe-key order
    full_n = orders.join(F.broadcast(probes), "o_custkey").count()
    nfn = sum(r["n_orders"] for r in core) == full_n
    shutil.rmtree(work, ignore_errors=True)
    return local_frame(spark, 
        [
            (
                int(r["o_custkey"]), int(r["n_orders"]),
                int(r["revenue_cents"]), len(fids), _Q83_FIDS,
                len(fids) < _Q83_FIDS, bool(plan_pruned), bool(nfn),
            )
            for r in core
        ],
        "o_custkey long, n_orders long, revenue_cents long, "
        "n_groups_read long, n_groups_total long, groups_skipped boolean, "
        "plan_pruned boolean, no_false_negatives boolean",
    ).orderBy("o_custkey")


# --------------------------------------------------------------------------
# q85 — MERGE-ON-READ DELETION VECTORS: the delete tier between "never
# delete" and erase_rows' copy-on-write. p31 proves final erasure
# (every touched file rewritten, fail-loud gate); what a high-churn
# zone needs day-to-day is the Delta/Iceberg position-delete layout:
# a delete APPENDS a positional bitmap sidecar (relational
# (fid, word, bits_w) rows — the packed-word discipline of
# operators/bloom.py), readers fold the sidecars (bit_or — delete
# batches never read each other, double-deletes are the same bit) and
# anti-apply them in ONE map-side broadcast join, and an all-integer
# density gate names which file groups have earned the copy-on-write
# rewrite. This row runs the full lifecycle: layout write with
# persisted in-group ordinals -> two overlapping delete waves (a
# custkey erasure + a status retraction, predicates that intersect —
# idempotency exercised on real rows) -> merge-on-read aggregate over
# the live rows -> density report -> rewrite of the HOT group only
# (its DV rows dropped, ordinals re-stamped) -> re-read pinned
# value-identical, asserted engine-side and replayed by the oracle
# (live = NOT(deleted), density from per-fid delete counts — a single
# wrong BIT in the sidecar shifts the aggregates). Plan assertions:
# the DV application is a BroadcastHashJoin (the fact side is never
# shuffled for the read tax). At 100 TB: deletes cost O(batch) +
# bitmap words; the density gate bounds sidecar size by construction
# (operators/deletion_vectors.py docstring), so the broadcast stays
# small while rewrite I/O goes only where churn concentrated.
# --------------------------------------------------------------------------
_Q85_FIDS, _Q85_DENSITY_GATE_BP = 8, 300


def _q85_oracle() -> str:
    from hyppo_worker_spark.functions.text import md5_bucket_sql

    fid = md5_bucket_sql("o_orderkey", _Q85_FIDS)
    return f"""
    WITH base AS MATERIALIZED (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               {fid} AS fid,
               ((o_custkey IN (10, 11, 12))
                OR (o_orderstatus = 'F' AND o_orderkey % 10 = 0))
                   AS deleted
        FROM orders
    ),
    dens AS MATERIALIZED (
        SELECT fid, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(coalesce(sum(CASE WHEN deleted THEN 1 END), 0)
                    AS BIGINT) AS n_deleted
        FROM base GROUP BY 1
    ),
    gate AS (
        SELECT CAST(max((10000 * n_deleted) // n_rows) AS BIGINT)
                   AS max_density_bp,
               CAST(sum(n_deleted) AS BIGINT) AS n_deleted_total
        FROM dens
    ),
    live AS (
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_live,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM base WHERE NOT deleted GROUP BY 1
    )
    SELECT l.o_orderstatus, l.n_live, l.revenue_cents,
           g.n_deleted_total, g.max_density_bp,
           g.max_density_bp > {_Q85_DENSITY_GATE_BP} AS rewrite_fired,
           TRUE AS dv_join_broadcast,
           TRUE AS rewrite_value_identical
    FROM live l, gate g
    ORDER BY l.o_orderstatus
    """


@register(
    "q85_deletion_vector_reads",
    oracle=_q85_oracle(),
    tags=("layout", "merge-on-read", "deletion-vectors", "delete",
          "maintenance", "bitmap"),
)
def q85_deletion_vector_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-delete lifecycle: layout write with persisted in-group
    ordinals, two overlapping delete waves appended as packed-word
    bitmap sidecars, merge-on-read aggregates via one broadcast join
    (engine-asserted), an integer density gate, and a hot-group
    rewrite pinned value-identical to the pre-rewrite read."""
    import os
    import shutil
    import tempfile

    from hyppo_worker_spark.functions import text as TX
    from hyppo_worker_spark.operators.deletion_vectors import (
        dv_build,
        dv_density,
        dv_merge,
        read_with_dv,
        stable_positions,
    )
    from hyppo_worker_spark.plans.explain import formatted_plan

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    work = tempfile.mkdtemp(prefix="hyppo-q85-")
    data_dir = os.path.join(work, "orders")
    dv_dir = os.path.join(work, "dv")

    # layout job: md5 file groups + PERSISTED in-group ordinals (the
    # position a delete names — part of the layout, never recomputed)
    shaped = stable_positions(
        orders.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        ).withColumn(
            "fid", TX.md5_bucket("o_orderkey", _Q85_FIDS).cast("int")
        ),
        "fid",
        "o_orderkey",
    )
    (
        shaped.repartition(_Q85_FIDS, F.col("fid"))
        .write.partitionBy("fid")
        .mode("overwrite")
        .parquet(data_dir)
    )
    written = spark.read.parquet(data_dir)

    # wave 1: custkey erasure; wave 2: status retraction — the
    # predicates OVERLAP, so some bits are set twice (idempotent)
    wave1 = written.filter(F.col("o_custkey").isin(10, 11, 12))
    wave2 = written.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 10 == 0)
    )
    dv_build(wave1).write.mode("overwrite").parquet(
        os.path.join(dv_dir, "batch=0")
    )
    dv_build(wave2).write.mode("overwrite").parquet(
        os.path.join(dv_dir, "batch=1")
    )
    dv = dv_merge(
        spark.read.parquet(os.path.join(dv_dir, "batch=0")),
        spark.read.parquet(os.path.join(dv_dir, "batch=1")),
    )

    # merge-on-read aggregate + the broadcast plan assertion
    live = read_with_dv(written, dv)
    agg = live.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_live"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        ),
    )
    plan = formatted_plan(agg)
    dv_broadcast = "BroadcastHashJoin" in plan
    before = {
        r["o_orderstatus"]: (int(r["n_live"]), int(r["revenue_cents"]))
        for r in agg.collect()
    }  # bounded pull: 3 status rows

    # density gate: popcounts vs the layout's group counts
    dens = dv_density(
        dv, written.groupBy("fid").agg(F.count(F.lit(1)).alias("n_rows"))
    )
    drow = dens.agg(
        F.max("density_bp").cast("long").alias("max_density_bp"),
        F.sum("n_deleted").cast("long").alias("n_deleted_total"),
    ).collect()[0]  # bounded pull: 1 row
    max_bp, n_del = int(drow["max_density_bp"]), int(drow["n_deleted_total"])
    fired = max_bp > _Q85_DENSITY_GATE_BP

    if fired:
        hot = int(
            dens.orderBy(F.col("density_bp").desc(), "fid")
            .limit(1)
            .collect()[0]["fid"]
        )  # bounded pull: 1 int — the gate's verdict
        # copy-on-write ONLY for the hot group: live rows re-stamped
        # with fresh ordinals, its sidecar rows dropped
        rewritten = stable_positions(
            read_with_dv(
                written.filter(F.col("fid") == hot), dv
            ).drop("pos"),
            "fid",
            "o_orderkey",
        )
        tmp_out = os.path.join(work, "rewrite")
        # fid lives in the directory name — keep it out of the data
        # columns or partition discovery would see it twice
        rewritten.drop("fid").write.mode("overwrite").parquet(tmp_out)
        shutil.rmtree(os.path.join(data_dir, f"fid={hot}"))
        os.rename(tmp_out, os.path.join(data_dir, f"fid={hot}"))
        dv = dv.filter(F.col("fid") != hot)

    after_live = read_with_dv(spark.read.parquet(data_dir), dv)
    after = {
        r["o_orderstatus"]: (int(r["n_live"]), int(r["revenue_cents"]))
        for r in after_live.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("long")
            ).alias("revenue_cents"),
        )
        .collect()
    }  # bounded pull: 3 status rows
    identical = before == after
    shutil.rmtree(work, ignore_errors=True)
    return local_frame(spark, 
        [
            (
                st, before[st][0], before[st][1], n_del, max_bp,
                bool(fired), bool(dv_broadcast), bool(identical),
            )
            for st in sorted(before)
        ],
        "o_orderstatus string, n_live long, revenue_cents long, "
        "n_deleted_total long, max_density_bp long, "
        "rewrite_fired boolean, dv_join_broadcast boolean, "
        "rewrite_value_identical boolean",
    ).orderBy("o_orderstatus")
