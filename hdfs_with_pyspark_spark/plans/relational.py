"""Relational query plans over the TPC-H-ish testdata.

Each query exercises a cluster of SURVEY.md §2 operators (tagged in the
docstrings) and is paired with its DuckDB oracle. Conventions:

* every computed column is aliased identically in Spark and SQL,
* float aggregates are ROUNDed on both sides (parallel vs serial summation
  order differs in the last ulps),
* DuckDB integer SUM/COUNT are cast to BIGINT (DuckDB widens SUM to
  HUGEINT; Spark stays long),
* timestamps never leave a query raw — dates are formatted yyyy-MM-dd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdfs_with_pyspark_spark.plans.registry import register, ensure_session
from hdfs_with_pyspark_spark.sources.io import local_frame, read_table
from hdfs_with_pyspark_spark.operators.windows import top1_per_key, change_points


# --------------------------------------------------------------------------
# pricing_summary — TPC-H Q1 shape. §2.4 A1-A4 (hash aggs), §2.2 P3/P11
# (filter pushed to parquet scan, cast). Map-side partial aggregation makes
# this shuffle only |groups| rows per partition — the 100 TB-safe agg shape.
# --------------------------------------------------------------------------
@register("pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
       ROUND(AVG(l_discount), 4)                                        AS avg_disc,
       CAST(COUNT(*) AS BIGINT)                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
              .groupBy("l_returnflag", "l_linestatus")
              .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                   F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                   F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
                   F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
                   F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                   F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                   F.count("*").alias("count_order")))


# --------------------------------------------------------------------------
# top_order_per_customer — deterministic top-1 per group. §2.5 W3
# (row_number over a TOTAL order; the reference's top-1 idiom,
# project_step_2.py:29-30, with the tie hole closed).
# --------------------------------------------------------------------------
@register("top_order_per_customer", oracle="""
SELECT o_custkey, o_orderkey, o_totalprice
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
WHERE rn = 1
""")
def top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return top1_per_key(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        keys=["o_custkey"],
        order=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()])


# --------------------------------------------------------------------------
# order_priority_pivot — §2.4 A8 (pivot with explicit value list, the
# reference's O8 optimization: no extra distinct-values job) + null fill.
# Oracle re-expresses pivot as COUNT(CASE WHEN).
# --------------------------------------------------------------------------
@register("order_priority_pivot", oracle="""
SELECT o_orderstatus,
       CAST(COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT)        AS n_urgent,
       CAST(COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS BIGINT)          AS n_high,
       CAST(COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS BIGINT)        AS n_medium,
       CAST(COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS BIGINT) AS n_notspec,
       CAST(COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS BIGINT)           AS n_low
FROM orders
GROUP BY o_orderstatus
""")
def order_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out_names = ["n_urgent", "n_high", "n_medium", "n_notspec", "n_low"]
    piv = (orders.groupBy("o_orderstatus")
                 .pivot("o_orderpriority", prios)
                 .count())
    for raw, out in zip(prios, out_names):
        piv = piv.withColumn(out, F.coalesce(F.col(f"`{raw}`"), F.lit(0))).drop(raw)
    return piv


# --------------------------------------------------------------------------
# customers_without_orders — §2.3 J5 (left anti join) + J2 (dim join) +
# A2 (count). The anti side builds from the orders FK projection only —
# at scale that is a shuffle of one long column, not the orders table.
# --------------------------------------------------------------------------
@register("customers_without_orders", oracle="""
SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000.0)
GROUP BY n.n_name
""")
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no large order, per nation (anti join is non-empty at
    every sf, unlike the no-orders-at-all variant)."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    nation = read_table(spark, sf_dir, "nation")
    return (customer
            .join(orders.where(F.col("o_totalprice") > 300000.0)
                        .select(F.col("o_custkey").alias("c_custkey")),
                  "c_custkey", "left_anti")
            .join(F.broadcast(nation),
                  customer.c_nationkey == nation.n_nationkey, "inner")
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.count("*").alias("n_customers")))


# --------------------------------------------------------------------------
# revenue_by_nation — §2.3 J2 (equi-joins, broadcast dim) + §2.4 A3.
# customer/nation broadcast; only the orders->customer join shuffles.
# --------------------------------------------------------------------------
@register("revenue_by_nation", oracle="""
SELECT n.n_name AS nation,
       ROUND(SUM(o.o_totalprice), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT)      AS n_orders
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
""")
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = read_table(spark, sf_dir, "nation")
    return (orders
            .join(F.broadcast(customer),
                  orders.o_custkey == customer.c_custkey, "inner")
            .join(F.broadcast(nation),
                  customer.c_nationkey == nation.n_nationkey, "inner")
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count("*").alias("n_orders")))


# --------------------------------------------------------------------------
# big_spender_customers — §2.3 semi join (left_semi; the reference expresses
# semi as inner-join-on-distinct, project_step_3.py:48-49 — left_semi is the
# native form) + §2.2 P9 range predicate.
# --------------------------------------------------------------------------
@register("big_spender_customers", oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
""")
def big_spender_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 400000.0) \
                .select(F.col("o_custkey").alias("c_custkey"))
    return (customer.join(big, "c_custkey", "left_semi")
                    .select("c_custkey", "c_name", "c_mktsegment"))


# --------------------------------------------------------------------------
# event_type_change_points — §2.5 W6 (lag change detection, the travel
# idiom, project_step_1.py:93-99) over the events stream.
# --------------------------------------------------------------------------
@register("event_type_change_points", oracle="""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_runs
FROM (SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
WHERE prev_type IS NULL OR event_type <> prev_type
GROUP BY user_id
""")
def event_type_change_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    runs = change_points(ev, keys=["user_id"], order=["ts", "event_id"],
                         value="event_type")
    return runs.groupBy("user_id").agg(F.count("*").alias("n_runs"))


# --------------------------------------------------------------------------
# events_per_week — §2.8 F5 (month / ISO weekofyear extraction,
# project_step_2.py:48-49) + A1.
# --------------------------------------------------------------------------
@register("events_per_week", oracle="""
SELECT CAST(month(ts) AS INT) AS month, CAST(weekofyear(ts) AS INT) AS week,
       event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2, 3
""")
def events_per_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (ev.groupBy(F.month("ts").alias("month"),
                       F.weekofyear("ts").alias("week"),
                       "event_type")
              .agg(F.count("*").alias("n_events"),
                   F.round(F.sum("value"), 2).alias("sum_value")))


# --------------------------------------------------------------------------
# channel_activity — JSON props extraction (§2.8 note: the reference has no
# JSON functions; the driver testdata's props column motivates
# get_json_object — SURVEY.md §2.8 "Absent") + distinct count.
# --------------------------------------------------------------------------
@register("channel_activity", oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS channel,
       CAST(COUNT(*) AS BIGINT)              AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE props IS NOT NULL
GROUP BY 1
""")
def channel_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (ev.where(F.col("props").isNotNull())
              .withColumn("channel",
                          F.get_json_object("props", "$.k").cast("long"))
              .groupBy("channel")
              .agg(F.count("*").alias("n_events"),
                   F.countDistinct("user_id").alias("n_users")))


# --------------------------------------------------------------------------
# part_type_stats — §2.7 U1 (unionByName) + §2.4 A7 (distinct/dedup) +
# string predicate. Unions the brand-view and type-view of parts, dedups.
# --------------------------------------------------------------------------
@register("part_type_stats", oracle="""
SELECT kind, CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(p_retailprice), 2) AS total_price
FROM (
  SELECT DISTINCT p_partkey, 'brand:' || p_brand AS kind, p_retailprice FROM part
  UNION ALL
  SELECT DISTINCT p_partkey, 'size:' || CAST(p_size AS VARCHAR) AS kind, p_retailprice FROM part
)
GROUP BY kind
""")
def part_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    brands = part.select("p_partkey",
                         F.concat(F.lit("brand:"), F.col("p_brand")).alias("kind"),
                         "p_retailprice").distinct()
    sizes = part.select("p_partkey",
                        F.concat(F.lit("size:"),
                                 F.col("p_size").cast("string")).alias("kind"),
                        "p_retailprice").distinct()
    return (brands.unionByName(sizes)
                  .groupBy("kind")
                  .agg(F.count("*").alias("n"),
                       F.round(F.sum("p_retailprice"), 2).alias("total_price")))


# --------------------------------------------------------------------------
# sql_monthly_order_stats — same engine through the SQL-string frontend
# (spark.sql over registered views) instead of the DataFrame DSL: both
# land in the identical Catalyst logical plan (SURVEY.md §3 "IR summary").
# The reference never uses SQL strings; this query pins that the engine's
# tables work from either surface.
# --------------------------------------------------------------------------
@register("sql_monthly_order_stats", oracle="""
SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
       o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price,
       ROUND(MAX(o_totalprice), 2) AS max_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
GROUP BY 1, 2
""")
def sql_monthly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql("""
        SELECT date_format(o_orderdate, 'yyyy-MM') AS order_month,
               o_orderstatus,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price,
               ROUND(MAX(o_totalprice), 2) AS max_price
        FROM v_orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        GROUP BY 1, 2
    """)


# --------------------------------------------------------------------------
# event_props_typed — from_json with a declared schema (the typed upgrade
# over channel_activity's get_json_object): props parses once into a
# struct, fields project out of it. At scale this halves JSON parsing vs
# repeated get_json_object calls and gives nullability a schema.
# --------------------------------------------------------------------------
@register("event_props_typed", oracle="""
SELECT event_type,
       CAST(COUNT(CASE WHEN CAST(props->>'k' AS BIGINT) IS NOT NULL THEN 1 END)
            AS BIGINT)                                         AS n_with_channel,
       CAST(MIN(CAST(props->>'k' AS BIGINT)) AS BIGINT)        AS min_channel,
       CAST(MAX(CAST(props->>'k' AS BIGINT)) AS BIGINT)        AS max_channel
FROM events
GROUP BY event_type
""")
def event_props_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T
    props_schema = T.StructType([T.StructField("k", T.LongType())])
    ev = (read_table(spark, sf_dir, "events")
          .withColumn("p", F.from_json("props", props_schema)))
    return (ev.groupBy("event_type")
              .agg(F.count("p.k").alias("n_with_channel"),
                   F.min("p.k").alias("min_channel"),
                   F.max("p.k").alias("max_channel")))


# --------------------------------------------------------------------------
# user_type_setops — set operations (SURVEY.md §2.7: the reference only
# has unionByName; intersect/except were absent). Both branches are
# distinct-set semantics (Spark intersect/subtract == SQL INTERSECT/
# EXCEPT). Each set op plans as a distinct-aggregate join — one shuffle
# per side on user_id.
# --------------------------------------------------------------------------
@register("user_type_setops", oracle="""
SELECT 'error_and_purchase' AS op, user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'error'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'purchase')
UNION ALL
SELECT 'error_not_purchase' AS op, user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'error'
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'purchase')
""")
def user_type_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    err = ev.where(F.col("event_type") == "error").select("user_id")
    buy = ev.where(F.col("event_type") == "purchase").select("user_id")
    both = err.intersect(buy).select(F.lit("error_and_purchase").alias("op"),
                                     "user_id")
    only = err.subtract(buy).select(F.lit("error_not_purchase").alias("op"),
                                    "user_id")
    return both.unionByName(only)


# --------------------------------------------------------------------------
# revenue_by_nation_salted — the same mart through the explicit hot-key
# salt-and-replicate rewrite (operators/skew.py): left rows get a
# deterministic salt, the dim replicates n_salts times, the join key
# becomes (key, salt) — a skewed customer's rows spread over n_salts
# reducers. Oracle identical to revenue_by_nation: salting must be
# invisible in results. (AQE skew-join handles this automatically when
# stats surface it; the explicit rewrite is for keys AQE can't split,
# e.g. a single giant build-side key in a broadcast-ineligible join.)
# --------------------------------------------------------------------------
@register("revenue_by_nation_salted", oracle="""
SELECT n.n_name AS nation,
       ROUND(SUM(o.o_totalprice), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT)      AS n_orders
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
""")
def revenue_by_nation_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.operators.skew import salted_join
    orders = (read_table(spark, sf_dir, "orders")
              .select(F.col("o_custkey").alias("c_custkey"), "o_totalprice"))
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = read_table(spark, sf_dir, "nation")
    joined = salted_join(orders, customer, on=["c_custkey"], n_salts=8)
    return (joined
            .join(F.broadcast(nation),
                  joined.c_nationkey == nation.n_nationkey, "inner")
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count("*").alias("n_orders")))


# --------------------------------------------------------------------------
# lineitem_dispersion_stats — second-moment aggregates (stddev, variance,
# correlation; absent from the reference, §2.4). All are map-side
# mergeable (sum/sum-of-squares/co-moments), so the shuffle carries one
# small state per group. Rounded to 4 decimals: Spark and DuckDB merge
# partial moments in different orders, identical to ~1e-12 relative.
# --------------------------------------------------------------------------
@register("lineitem_dispersion_stats", oracle="""
SELECT l_returnflag,
       ROUND(STDDEV_SAMP(l_extendedprice), 4) AS price_stddev,
       ROUND(VAR_SAMP(l_quantity), 4)         AS qty_var,
       ROUND(CORR(l_extendedprice, l_quantity), 4) AS price_qty_corr,
       CAST(COUNT(*) AS BIGINT)               AS n_items
FROM lineitem
GROUP BY l_returnflag
""")
def lineitem_dispersion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
              .agg(F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
                   F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
                   F.round(F.corr("l_extendedprice", "l_quantity"), 4)
                    .alias("price_qty_corr"),
                   F.count("*").alias("n_items")))


# --------------------------------------------------------------------------
# Decision-support pack — the classic TPC-H shapes the engine was still
# missing: correlated scalar subquery (Q17), EXISTS semi-join with a
# non-equi conjunct (Q4), HAVING + join-back (Q18), NOT IN anti-join under
# a count-distinct agg (Q16), left-outer count histogram (Q13), and a
# global top-k (absent from the reference entirely, SURVEY.md §2.6).
# Each is written the way the shape should run at 100 TB: subqueries
# decorrelated into aggregate + join, the small side broadcast, top-k via
# orderBy+limit (TakeOrderedAndProject - per-partition heaps, never a
# global sort).
# --------------------------------------------------------------------------

# small_quantity_part_revenue — TPC-H Q17 shape. The correlated scalar
# subquery (0.2 * per-part avg quantity) decorrelates into a per-part
# aggregate joined back on partkey. l_quantity is integer-valued, so the
# AVG is a ratio of exactly-represented sums — bit-equal across engines
# and summation orders; the < comparison cannot flip.
@register("small_quantity_part_revenue", oracle="""
SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN (SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_cap
      FROM lineitem GROUP BY l_partkey) caps
  ON caps.l_partkey = l.l_partkey
WHERE l.l_quantity < caps.qty_cap
""")
def small_quantity_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    caps = (li.groupBy("l_partkey")
              .agg((0.2 * F.avg("l_quantity")).alias("qty_cap")))
    return (li.join(caps, "l_partkey")
              .where(F.col("l_quantity") < F.col("qty_cap"))
              .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")))


# late_shipment_priority_counts — TPC-H Q4 shape: EXISTS with an extra
# non-equi conjunct (shipped > 90 days after order date), expressed as a
# LEFT SEMI join so each order is counted once no matter how many late
# lines it has. Semi joins shuffle only the join keys + the filter column.
@register("late_shipment_priority_counts", oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
""")
def late_shipment_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi"))
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


# big_ticket_orders — TPC-H Q18 shape: HAVING-filtered aggregate joined
# back to its fact's dimensions. The aggregate runs FIRST (map-side
# partial sums shrink the shuffle), and only the surviving handful of
# orderkeys join to orders/customer — never the full lineitem.
@register("big_ticket_orders", oracle="""
SELECT c.c_name, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       ROUND(o.o_totalprice, 2) AS total_price,
       ROUND(big.total_qty, 2)  AS total_qty
FROM (SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 300) big
JOIN orders o   ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""")
def big_ticket_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
             .agg(F.sum("l_quantity").alias("total_qty"))
             .where(F.col("total_qty") > 300))
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    return (big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
               .join(cust, F.col("c_custkey") == F.col("o_custkey"))
               .select("c_name", "o_orderkey",
                       F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
                       F.round("o_totalprice", 2).alias("total_price"),
                       F.round("total_qty", 2).alias("total_qty")))


# parts_supplier_counts — TPC-H Q16 shape: NOT IN subquery (suppliers with
# negative account balance stand in for the "complaints" predicate) as a
# LEFT ANTI join, then COUNT DISTINCT per (brand, type). The anti side is
# dimension-sized -> broadcast; count distinct shuffles (brand, type,
# suppkey) once to dedupe, then once to count — Spark's two-phase plan.
@register("parts_supplier_counts", oracle="""
SELECT p.p_brand, p.p_type, CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type
""")
def parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (read_table(spark, sf_dir, "part")
            .where(F.col("p_brand") != "Brand#1")
            .select("p_partkey", "p_brand", "p_type"))
    bad = (read_table(spark, sf_dir, "supplier")
           .where(F.col("s_acctbal") < 0).select("s_suppkey"))
    return (li.join(F.broadcast(bad),
                    F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
              .join(part, F.col("p_partkey") == F.col("l_partkey"))
              .groupBy("p_brand", "p_type")
              .agg(F.count_distinct("l_suppkey").alias("supplier_cnt")))


# customer_order_histogram — TPC-H Q13 shape: left outer join preserving
# order-less customers, per-customer count, then a histogram of counts.
# COUNT(o_orderkey) counts only matched rows — the LEFT JOIN's NULLs fall
# out, which is the shape's whole point.
@register("customer_order_histogram", oracle="""
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey)
GROUP BY c_count
""")
def customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    orders = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
                    .groupBy("c_custkey")
                    .agg(F.count("o_orderkey").alias("c_count")))
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# top_revenue_orders — global top-k (TPC-H Q3's ORDER BY ... LIMIT). The
# reference has no global sort/limit anywhere (SURVEY.md §2.6); a complete
# engine needs one. orderBy + limit plans as TakeOrderedAndProject:
# per-partition bounded heaps + a driver merge of k rows — no global sort,
# no single-partition shuffle, safe at any scale. Ties break on o_orderkey
# so the k-row cut is deterministic in both engines.
@register("top_revenue_orders", oracle="""
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, revenue
FROM (SELECT l_orderkey AS o_orderkey,
             ANY_VALUE(o_orderdate) AS o_orderdate,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY l_orderkey)
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
""")
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    orders = (read_table(spark, sf_dir, "orders")
              .where(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
              .select("o_orderkey", "o_orderdate"))
    return (li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
              .groupBy("o_orderkey")
              .agg(F.any_value("o_orderdate").alias("o_orderdate"),
                   F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                    .alias("revenue"))
              .select("o_orderkey",
                      F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
                      "revenue")
              .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
              .limit(10))


# --------------------------------------------------------------------------
# customer_value_ranks — the ranking-function family the reference never
# uses (SURVEY.md §2.5 "absent" list): ntile quartiles, percent_rank,
# cume_dist, and lead, for every customer ordered by
# (mktsegment, acctbal, custkey).
#
# Scale (VERDICT r7 item 1): the earlier form windowed the WHOLE customer
# dimension over `Window.partitionBy(c_mktsegment)` — a 5-value key, so at
# 100x the dim each segment (~N/5 rows) sorts through ONE task: the same
# failure class as the fixed RFM ntile, hidden behind a constant-cardinality
# partition key instead of an `Exchange SinglePartition`. This form derives
# identical values without any fact-scale low-cardinality window:
#   1. ONE aggregate builds the (segment, acctbal) value-group frame —
#      bounded by the 2-dp balance grid, not by |customer|;
#   2. running counts / next-group-first over THAT post-aggregate frame
#      (the score-group trick the AUC family uses);
#   3. each customer's global row number = rows-in-groups-below + its
#      rank WITHIN its value group (windowed by the high-cardinality
#      (segment, acctbal) composite — small groups at any scale);
#   4. ntile/percent_rank/cume_dist are closed-form in (row_number, n):
#      Spark's NTile assigns the first n%k buckets ceil(n/k) rows, so
#      tile is integer arithmetic; custkey makes the order total, so
#      percent_rank = (rn-1)/(n-1) and cume_dist = rn/n exactly;
#   5. lead(custkey) = next row in-group, else first custkey of the next
#      value group (min custkey, since in-group order is custkey asc).
# Values are bit-identical to the window form, which the oracle keeps.
# --------------------------------------------------------------------------
@register("customer_value_ranks", oracle="""
SELECT c_custkey, c_mktsegment,
       CAST(NTILE(4) OVER w AS BIGINT)        AS balance_quartile,
       ROUND(PERCENT_RANK() OVER w, 6)        AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6)           AS cume,
       LEAD(c_custkey, 1, -1) OVER w          AS next_custkey
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
""")
def customer_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    grp = (cust.groupBy("c_mktsegment", "c_acctbal")
               .agg(F.count("*").alias("g_n"),
                    F.min("c_custkey").alias("g_first")))
    wv = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").asc())
    grp = grp.select(
        "c_mktsegment", "c_acctbal",
        (F.sum("g_n").over(wv) - F.col("g_n")).alias("n_before"),
        F.lead("g_first").over(wv).alias("next_grp_first"))
    seg_n = cust.groupBy("c_mktsegment").agg(F.count("*").alias("seg_n"))
    win = (Window.partitionBy("c_mktsegment", "c_acctbal")
                 .orderBy(F.col("c_custkey").asc()))
    rows = (cust.join(grp, ["c_mktsegment", "c_acctbal"])
                .join(F.broadcast(seg_n), "c_mktsegment")
                .select("c_custkey", "c_mktsegment", "seg_n",
                        "next_grp_first",
                        (F.col("n_before")
                         + F.row_number().over(win)).cast("long").alias("rn"),
                        F.lead("c_custkey").over(win).alias("in_lead")))
    # NTILE(4): q = floor(n/4) rows per bucket, first r = n%4 buckets get
    # one extra. `div` keeps everything integer-exact at any n.
    tile = F.expr("""
        CASE WHEN rn <= (seg_n % 4) * ((seg_n div 4) + 1)
             THEN (rn - 1) div ((seg_n div 4) + 1) + 1
             ELSE (seg_n % 4)
                  + (rn - (seg_n % 4) * ((seg_n div 4) + 1) - 1)
                    div (seg_n div 4) + 1
        END""")
    return rows.select(
        "c_custkey", "c_mktsegment",
        tile.cast("long").alias("balance_quartile"),
        F.round(F.when(F.col("seg_n") > 1,
                       (F.col("rn") - 1) / (F.col("seg_n") - 1))
                 .otherwise(F.lit(0.0)), 6).alias("pct_rank"),
        F.round(F.col("rn") / F.col("seg_n"), 6).alias("cume"),
        F.coalesce("in_lead", "next_grp_first", F.lit(-1).cast("long"))
         .alias("next_custkey"))


# --------------------------------------------------------------------------
# part_name_analysis — string/array scalar breadth (SURVEY.md §2.8 notes
# the reference uses almost no scalar functions): regexp extraction,
# case/trim/pad, split -> array ops (size, sort, join), conditional
# string build. Pure map-side — no shuffle at all.
# --------------------------------------------------------------------------
@register("part_name_analysis", oracle="""
SELECT p_partkey,
       upper(p_name)                                            AS name_upper,
       CAST(len(string_split(p_name, ' ')) AS BIGINT)           AS n_words,
       array_to_string(list_sort(string_split(p_name, ' ')), '|') AS words_sorted,
       regexp_extract(p_name, '([a-z]+)$', 1)                   AS last_word,
       lpad(p_brand, 12, '.')                                   AS brand_padded,
       CASE WHEN contains(p_name, 'red') THEN 'warm' ELSE 'other' END AS hue_class,
       substring(p_type, 1, 3)                                  AS type_prefix
FROM part
""")
def part_name_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.size(words).cast("long").alias("n_words"),
        F.array_join(F.sort_array(words), "|").alias("words_sorted"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
        F.lpad("p_brand", 12, ".").alias("brand_padded"),
        F.when(F.col("p_name").contains("red"), "warm")
         .otherwise("other").alias("hue_class"),
        F.substring("p_type", 1, 3).alias("type_prefix"))


# --------------------------------------------------------------------------
# event_props_keyspace — MAP-typed column handling (the one container type
# the reference never touches, SURVEY.md §1.3): parse the JSON props into
# map<string,string> WITHOUT a declared per-key schema, explode the map to
# (key, value) rows, aggregate per key. The schema-on-read map parse is
# the right shape for a props bag whose keyspace drifts over time — new
# keys appear in the output instead of being silently dropped by a
# StructType.
# --------------------------------------------------------------------------
@register("event_props_keyspace", oracle="""
SELECT k AS prop_key,
       CAST(COUNT(*) AS BIGINT)                                   AS n_events,
       MIN(CAST(json_extract_string(props, '$.' || k) AS BIGINT)) AS min_value,
       MAX(CAST(json_extract_string(props, '$.' || k) AS BIGINT)) AS max_value
FROM (SELECT unnest(json_keys(props)) AS k, props
      FROM events WHERE props IS NOT NULL)
GROUP BY k
""")
def event_props_keyspace(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    kv = (ev.where(F.col("props").isNotNull())
            .select(F.explode(
                F.from_json("props", "map<string,string>")).alias("prop_key", "v")))
    return (kv.groupBy("prop_key")
              .agg(F.count("*").alias("n_events"),
                   F.min(F.col("v").cast("long")).alias("min_value"),
                   F.max(F.col("v").cast("long")).alias("max_value")))


# --------------------------------------------------------------------------
# pricing_totals_exact — DECIMAL aggregation (the reference sums doubles;
# SURVEY.md §1.3 lists decimal as unused). Money sums in decimal(12,2)
# are EXACT and associative, so the result needs no ROUND and cannot
# depend on partition merge order — the type to use for financial
# aggregates at any scale. (AVG is deliberately absent: engines disagree
# on the result scale of decimal division; exact sums + counts are the
# portable surface.)
#
# The sums are RENDERED as fixed-scale strings on both sides: Spark's
# sum(decimal(12,2)) widens to decimal(22,2) while DuckDB's widens to a
# HUGEINT-backed DECIMAL(38,2), and hashers that stringify the raw
# Decimal see two representations of the same exact value. Casting both
# to decimal(38,2) then to a string pins one canonical rendering without
# giving up exactness (no float anywhere).
# --------------------------------------------------------------------------
@register("pricing_totals_exact", oracle="""
SELECT l_returnflag,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_price,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR)      AS sum_qty,
       CAST(COUNT(*) AS BIGINT)                    AS n_items
FROM lineitem
GROUP BY l_returnflag
""")
def pricing_totals_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
              .agg(F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
                    .cast("decimal(38,2)").cast("string").alias("sum_price"),
                   F.sum(F.col("l_quantity").cast("decimal(12,2)"))
                    .cast("decimal(38,2)").cast("string").alias("sum_qty"),
                   F.count("*").alias("n_items")))


# --------------------------------------------------------------------------
# segment_balance_span — first_value / last_value over an explicit
# whole-partition frame (the last §2.5-absent window functions): each
# customer row carries its segment's poorest and richest customer. The
# default frame (unbounded preceding -> current row) would make
# last_value degenerate; the explicit full frame is the classic gotcha
# this query pins (the oracle keeps that window form).
#
# Scale (the customer_value_ranks class, r8 lowcard-sweep finding): a
# full-frame window partitioned by c_mktsegment — 5 values forever —
# funnels ~N/5 customers through one sort task at any scale. But a
# whole-partition FIRST/LAST over (acctbal, custkey) order is just the
# per-segment argmin/argmax: ONE 5-row min/max-of-struct aggregate,
# broadcast-joined back — no fact-scale window at all, bit-identical
# values (struct ordering is lexicographic on (c_acctbal, c_custkey),
# exactly the window's ORDER BY, and custkey makes it total).
# --------------------------------------------------------------------------
@register("segment_balance_span", oracle="""
SELECT c_custkey, c_mktsegment,
       FIRST_VALUE(c_custkey) OVER w AS poorest_custkey,
       LAST_VALUE(c_custkey)  OVER w AS richest_custkey
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY c_acctbal ASC, c_custkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""")
def segment_balance_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    span = (cust.groupBy("c_mktsegment")
                .agg(F.min(F.struct("c_acctbal", "c_custkey"))
                      .getField("c_custkey").alias("poorest_custkey"),
                     F.max(F.struct("c_acctbal", "c_custkey"))
                      .getField("c_custkey").alias("richest_custkey")))
    return (cust.join(F.broadcast(span), "c_mktsegment")
                .select("c_custkey", "c_mktsegment",
                        "poorest_custkey", "richest_custkey"))


# --------------------------------------------------------------------------
# local_supplier_revenue — full TPC-H Q5 shape: a SIX-table star join
# (region -> nation -> customer -> orders -> lineitem -> supplier) with
# the correlated "local supplier" predicate (supplier in the customer's
# nation). The join-order story: every dimension chain
# (region/nation/customer, supplier) broadcasts; only the orders-lineitem
# fact-fact join shuffles, and the region filter prunes the broadcast
# chain before it touches either fact.
# --------------------------------------------------------------------------
@register("local_supplier_revenue", oracle="""
SELECT n.n_name AS nation,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey   = c.c_custkey
JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
JOIN supplier s ON s.s_suppkey   = l.l_suppkey
               AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
""")
def local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = read_table(spark, sf_dir, "nation")
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = (read_table(spark, sf_dir, "orders")
              .where((F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                     & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
              .select("o_orderkey", "o_custkey"))
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    dims = (nation.join(F.broadcast(region),
                        F.col("n_regionkey") == F.col("r_regionkey"))
                  .select("n_nationkey", "n_name"))
    cust = customer.join(F.broadcast(dims),
                         F.col("c_nationkey") == F.col("n_nationkey"))
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(supplier),
                    (F.col("l_suppkey") == F.col("s_suppkey"))
                    & (F.col("s_nationkey") == F.col("c_nationkey")))
              .groupBy(F.col("n_name").alias("nation"))
              .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                    .alias("revenue")))


# --------------------------------------------------------------------------
# lineitem_footer_stats — parquet aggregate pushdown: COUNT/MIN/MAX with
# no filter answered from row-group FOOTER STATISTICS alone (v2 scan +
# spark.sql.parquet.aggregatePushdown), never touching data pages. At
# 100 TB this is the difference between a metadata pass (one footer per
# file) and a full-table scan for the most common health-check query.
# The two confs live on an ISOLATED twin session (spark.newSession():
# shared SparkContext, private SQLConf) so they can never leak into a
# query planned concurrently on the caller's session — every other plan
# keeps the default v1 FileScan shape even mid-flight. The one-row
# result is re-wrapped onto the caller's session.
# Timestamp columns don't qualify for pushdown, so the stats stick to
# numeric/integer columns.
# --------------------------------------------------------------------------
@register("lineitem_footer_stats", oracle="""
SELECT CAST(COUNT(*) AS BIGINT)        AS n_rows,
       CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
       CAST(MAX(l_orderkey) AS BIGINT) AS max_orderkey,
       MIN(l_quantity)                 AS min_qty,
       MAX(l_quantity)                 AS max_qty
FROM lineitem
""")
def lineitem_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    iso = spark.newSession()          # private SQLConf, shared context
    ensure_session(iso)
    iso.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    iso.conf.set("spark.sql.sources.useV1SourceList", "")
    agg = (iso.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
           .agg(F.count("*").alias("n_rows"),
                F.min("l_orderkey").alias("min_orderkey"),
                F.max("l_orderkey").alias("max_orderkey"),
                F.min("l_quantity").alias("min_qty"),
                F.max("l_quantity").alias("max_qty")))
    rows = agg.collect()              # materialize under the v2 confs
    return local_frame(spark, rows, agg.schema)


# --------------------------------------------------------------------------
# synthetic_source_stats — per-user aggregate read through the CUSTOM
# PYTHON DATASOURCE (sources/pyds.py, Spark 4 pyspark.sql.datasource):
# proves the pluggable-format surface end to end inside the correctness
# gate. The source's rows are pure integer arithmetic on the row id, so
# the DuckDB oracle regenerates the identical dataset from range() —
# the custom format itself is oracle-checked, not just exercised.
# --------------------------------------------------------------------------
SYNTH_N = 10_000


@register("synthetic_source_stats", oracle=f"""
WITH g AS (
  SELECT i AS event_id, i % 97 AS user_id,
         (['view', 'click', 'purchase', 'signup', 'error'])[(i % 5) + 1]
           AS event_type,
         ((i * 37) % 1000) / 10.0 AS value
  FROM range({SYNTH_N}) t(i))
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 1) AS total_value,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
FROM g GROUP BY user_id
""")
def synthetic_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.sources.pyds import register_synthetic_source
    register_synthetic_source(spark)
    df = (spark.read.format("synthetic_events")
          .option("n", SYNTH_N).option("parts", 16).load())
    return (df.groupBy("user_id")
              .agg(F.count("*").cast("long").alias("n_events"),
                   F.round(F.sum("value"), 1).alias("total_value"),
                   F.countDistinct("event_type").cast("long")
                    .alias("n_types")))


# --------------------------------------------------------------------------
# revenue_pareto_abc — Pareto/ABC analysis: what share of orders carries
# the top 50% / next 30% / tail of revenue. The naive version globally
# sorts every order (single-partition window — a 100 TB killer); the
# scale shape BANDS prices first (fixed-width bins -> one agg), runs the
# cumulative share over the ~hundreds of bands (tiny frame), classifies
# bands, and aggregates classes. Band-granular classification is
# deterministic and oracle-exact; the band width is the precision knob.
# --------------------------------------------------------------------------
PARETO_BAND = 1_000.0     # price-band width in currency units
ABC_A, ABC_B = 0.5, 0.8   # cumulative revenue-share cuts


@register("revenue_pareto_abc", oracle=f"""
WITH bands AS (
  SELECT CAST(FLOOR(o_totalprice / {PARETO_BAND}) AS BIGINT) AS band,
         COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS rev
  FROM orders GROUP BY 1),
c AS (
  SELECT *, SUM(rev) OVER (ORDER BY band DESC
                           ROWS UNBOUNDED PRECEDING) AS cum_rev,
         SUM(rev) OVER () AS total_rev
  FROM bands),
cls AS (
  SELECT CASE WHEN cum_rev / total_rev <= {ABC_A} THEN 'A'
              WHEN cum_rev / total_rev <= {ABC_B} THEN 'B'
              ELSE 'C' END AS abc_class, n, rev, total_rev
  FROM c)
SELECT abc_class,
       CAST(SUM(n) AS BIGINT) AS n_orders,
       ROUND(SUM(rev), 2) AS revenue,
       ROUND(SUM(rev) / ANY_VALUE(total_rev), 6) AS revenue_share
FROM cls GROUP BY abc_class
""")
def revenue_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    bands = (orders.groupBy(
                F.floor(F.col("o_totalprice") / PARETO_BAND).cast("long")
                 .alias("band"))
             .agg(F.count("*").alias("n"),
                  F.round(F.sum("o_totalprice"), 2).alias("rev")))
    # Both windows run over the band frame (|bands| ~ hundreds): the
    # single-partition frames are fine BECAUSE the data is pre-reduced.
    w_cum = (Window.orderBy(F.col("band").desc())
                   .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy()
    c = (bands.withColumn("cum_rev", F.sum("rev").over(w_cum))
              .withColumn("total_rev", F.sum("rev").over(w_all)))
    cls = (F.when(F.col("cum_rev") / F.col("total_rev") <= ABC_A, "A")
            .when(F.col("cum_rev") / F.col("total_rev") <= ABC_B, "B")
            .otherwise("C"))
    return (c.select(cls.alias("abc_class"), "n", "rev", "total_rev")
             .groupBy("abc_class")
             .agg(F.sum("n").cast("long").alias("n_orders"),
                  F.round(F.sum("rev"), 2).alias("revenue"),
                  F.round(F.sum("rev") / F.first("total_rev"), 6)
                   .alias("revenue_share")))


# --------------------------------------------------------------------------
# Round-3 decision-support additions: the two classic TPC-H shapes still
# missing — Q3 (shipping-priority top-k over a 3-way join + aggregate)
# and Q10 (returned-item customer ranking over a 4-way join). Both rank
# on an AGGREGATED revenue, which would be hash-unstable as a float sum
# (partial-agg merge order could flip a last-ulp tie and with it the
# top-k cut); revenue is therefore computed in exact integer MICRO
# dollars — cents(price) * (100 - cents_pct(discount)) — making the sum
# associative and the ordering engine- and partitioning-invariant, the
# same integer-units trick as PageRank and the LM scorers.
#
# Scale shape: filters reach every scan (date/segment/returnflag
# pushdown), dimensions broadcast (customer->nation), the aggregate is
# partial-before-exchange on the join key, and the top-k is
# TakeOrderedAndProject (per-partition heaps), never a global sort.
# --------------------------------------------------------------------------
Q3_SEGMENT = "BUILDING"
Q3_CUTOFF = "1998-06-01"
Q3_TOPK = 10
_REV_MICRO_SQL = ("CAST(ROUND(l_extendedprice * 100) AS BIGINT) "
                  "* (100 - CAST(ROUND(l_discount * 100) AS BIGINT))")


@register("shipping_priority_topk", oracle=f"""
SELECT l_orderkey,
       CAST(SUM({_REV_MICRO_SQL}) AS BIGINT) AS revenue_micro,
       CAST(o_orderdate AS DATE) AS orderdate
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '{Q3_CUTOFF} 00:00:00'
  AND l_shipdate  > TIMESTAMP '{Q3_CUTOFF} 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue_micro DESC, l_orderkey ASC
LIMIT {Q3_TOPK}
""")
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (read_table(spark, sf_dir, "customer")
            .where(F.col("c_mktsegment") == Q3_SEGMENT)
            .select("c_custkey"))
    orders = (read_table(spark, sf_dir, "orders")
              .where(F.col("o_orderdate") < F.lit(Q3_CUTOFF).cast("timestamp"))
              .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = (read_table(spark, sf_dir, "lineitem")
          .where(F.col("l_shipdate") > F.lit(Q3_CUTOFF).cast("timestamp"))
          .select("l_orderkey", F.expr(_REV_MICRO_SQL).alias("rev")))
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
              .join(F.broadcast(cust),
                    F.col("o_custkey") == F.col("c_custkey"))
              .groupBy("l_orderkey", "o_orderdate")
              .agg(F.sum("rev").cast("long").alias("revenue_micro"))
              .select("l_orderkey", "revenue_micro",
                      F.to_date("o_orderdate").alias("orderdate"))
              .orderBy(F.col("revenue_micro").desc(),
                       F.col("l_orderkey").asc())
              .limit(Q3_TOPK))


Q10_TOPK = 20


@register("returned_item_customers", oracle=f"""
SELECT c_custkey, c_name, n_name AS nation,
       CAST(SUM({_REV_MICRO_SQL}) AS BIGINT) AS revenue_micro
FROM customer
JOIN nation ON n_nationkey = c_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_micro DESC, c_custkey ASC
LIMIT {Q10_TOPK}
""")
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_name", "c_nationkey")
    nation = read_table(spark, sf_dir, "nation") \
        .select("n_nationkey", F.col("n_name").alias("nation"))
    orders = read_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_custkey")
    li = (read_table(spark, sf_dir, "lineitem")
          .where(F.col("l_returnflag") == "R")
          .select("l_orderkey", F.expr(_REV_MICRO_SQL).alias("rev")))
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
              .groupBy("o_custkey")
              .agg(F.sum("rev").cast("long").alias("revenue_micro"))
              .join(F.broadcast(cust),
                    F.col("o_custkey") == F.col("c_custkey"))
              .join(F.broadcast(nation),
                    F.col("c_nationkey") == F.col("n_nationkey"))
              .select("c_custkey", "c_name", "nation", "revenue_micro")
              .orderBy(F.col("revenue_micro").desc(), F.col("c_custkey").asc())
              .limit(Q10_TOPK))


# --------------------------------------------------------------------------
# event_props_variant — the Spark 4 VARIANT path for semi-structured
# data: props parses ONCE into a binary variant (parse_json) and typed
# access is variant_get with a JSON path. Versus the from_json twin
# (event_props_typed), variant needs no up-front schema, keeps unknown
# keys queryable, and decodes fields lazily — the modern replacement for
# storing JSON as strings at 100 TB (the parse cost is paid once at
# ingest when the column is materialized; here it fuses into the scan).
# try_variant_get returns NULL for missing paths instead of erroring —
# the forgiving semantics string-JSON users expect. The oracle reads the
# same paths with DuckDB's JSON operators.
# --------------------------------------------------------------------------
@register("event_props_variant", oracle="""
SELECT event_type,
       CAST(COUNT(CASE WHEN CAST(props->>'k' AS BIGINT) IS NOT NULL THEN 1 END)
            AS BIGINT) AS n_with_channel,
       CAST(SUM(COALESCE(CAST(props->>'k' AS BIGINT), 0)) AS BIGINT)
         AS channel_sum,
       CAST(COUNT(CASE WHEN props->>'missing' IS NOT NULL THEN 1 END)
            AS BIGINT) AS n_with_missing
FROM events
GROUP BY event_type
""")
def event_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (read_table(spark, sf_dir, "events")
          .withColumn("v", F.parse_json(F.col("props"))))
    k = F.try_variant_get(F.col("v"), "$.k", "long")
    missing = F.try_variant_get(F.col("v"), "$.missing", "string")
    return (ev.groupBy("event_type")
              .agg(F.count(k).alias("n_with_channel"),
                   F.sum(F.coalesce(k, F.lit(0))).cast("long")
                    .alias("channel_sum"),
                   F.count(missing).alias("n_with_missing")))


# --------------------------------------------------------------------------
# part_token_calculus — array HIGHER-ORDER functions (lambda Column
# expressions the reference never touches and part_name_analysis's
# plain array ops don't cover): transform / filter / exists / aggregate
# all run inside whole-stage codegen — the idiomatic replacement for
# "explode, compute, re-collect" round trips (which would cost a
# per-row fan-out plus a re-grouping shuffle at 100 TB; this is one
# map-side pass, no shuffle at all). DuckDB mirrors each lambda with
# list_transform / list_filter / list_sum.
# --------------------------------------------------------------------------
@register("part_token_calculus", oracle="""
SELECT p_partkey,
       array_to_string(list_transform(string_split(p_name, ' '),
                                      x -> upper(x)), '|')  AS tokens_upper,
       CAST(len(list_filter(string_split(p_name, ' '),
                            x -> len(x) > 4)) AS BIGINT)    AS n_long_tokens,
       len(list_filter(string_split(p_name, ' '),
                       x -> contains(x, 'a'))) > 0          AS has_a_token,
       CAST(list_sum(list_transform(string_split(p_name, ' '),
                                    x -> len(x))) AS BIGINT) AS total_len
FROM part
""")
def part_token_calculus(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    toks = F.split(F.col("p_name"), " ")
    return part.select(
        "p_partkey",
        F.array_join(F.transform(toks, lambda x: F.upper(x)), "|")
         .alias("tokens_upper"),
        F.size(F.filter(toks, lambda x: F.length(x) > 4)).cast("long")
         .alias("n_long_tokens"),
        F.exists(toks, lambda x: x.contains("a")).alias("has_a_token"),
        F.aggregate(toks, F.lit(0).cast("long"),
                    lambda acc, x: acc + F.length(x)).alias("total_len"))


# --------------------------------------------------------------------------
# nation_balance_unpivot — UNPIVOT / melt, the inverse of the reference's
# pivot (SURVEY §2.4 A8): a wide per-nation aggregate melts into
# (nation, metric, value) long form — the shape BI metric stores and
# sparse metric pipelines want at rest. Spark's unpivot is a zero-shuffle
# projection fan-out (3 rows per input row, no exchange beyond the
# aggregate's); the oracle is the textbook UNION ALL expansion.
# --------------------------------------------------------------------------
@register("nation_balance_unpivot", oracle="""
WITH a AS (
  SELECT n_name AS nation,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(CASE WHEN c_acctbal > 0
                       THEN CAST(ROUND(c_acctbal * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS pos_cents,
         CAST(SUM(CASE WHEN c_acctbal < 0
                       THEN CAST(ROUND(c_acctbal * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS neg_cents
  FROM customer JOIN nation ON n_nationkey = c_nationkey
  GROUP BY n_name)
SELECT nation, 'n_customers' AS metric, n_customers AS value FROM a
UNION ALL SELECT nation, 'pos_cents', pos_cents FROM a
UNION ALL SELECT nation, 'neg_cents', neg_cents FROM a
""")
def nation_balance_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    nation = read_table(spark, sf_dir, "nation") \
        .select("n_nationkey", F.col("n_name").alias("nation"))
    wide = (read_table(spark, sf_dir, "customer")
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("nation")
            .agg(F.count("*").alias("n_customers"),
                 F.sum(F.when(F.col("c_acctbal") > 0, cents).otherwise(0))
                  .cast("long").alias("pos_cents"),
                 F.sum(F.when(F.col("c_acctbal") < 0, cents).otherwise(0))
                  .cast("long").alias("neg_cents")))
    return wide.unpivot(["nation"], ["n_customers", "pos_cents", "neg_cents"],
                        "metric", "value")


# --------------------------------------------------------------------------
# customer_rfm_segments — RFM (recency / frequency / monetary)
# segmentation, the classic CRM scoring matrix: per-customer metrics
# from one orders aggregate, quartile scores by BUCKETING against the
# three exact quartile cutpoints (PERCENTILE_DISC 0.25/0.5/0.75),
# rolled up to segment populations. Recency anchors on the corpus max
# order date (data-derived, so the query is reproducible).
#
# Scale (VERDICT r5 item 3): the earlier form ranked the whole customer
# dimension through three global NTILE(4) windows — three
# single-partition sorts of the dim. This form computes all nine
# cutpoints in ONE tiny aggregate (percentile_disc is engine-identical
# on integer inputs), broadcasts the 1-row cutpoint frame, and scores
# every customer map-side — no single-partition exchange at any size.
# Semantics deviation vs NTILE (documented): ties on a cutpoint land in
# the SAME bucket instead of being split by custkey position — the
# value-based rule is the one that stays deterministic when the dim no
# longer fits one node, and the oracle mirrors it exactly. Descending
# metrics (frequency, monetary) bucket on the negated value so one
# rule ("score = 1 + #cutpoints strictly below") serves all three.
# --------------------------------------------------------------------------
@register("customer_rfm_segments", oracle="""
WITH maxd AS (SELECT MAX(o_orderdate) AS mx FROM orders),
base AS (
  SELECT o_custkey,
         DATE_DIFF('day', MAX(o_orderdate), (SELECT mx FROM maxd))
           AS recency_days,
         -CAST(COUNT(*) AS BIGINT) AS fneg,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey),
cuts AS (
  SELECT
    PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY recency_days) AS r1,
    PERCENTILE_DISC(0.50) WITHIN GROUP (ORDER BY recency_days) AS r2,
    PERCENTILE_DISC(0.75) WITHIN GROUP (ORDER BY recency_days) AS r3,
    PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY fneg) AS f1,
    PERCENTILE_DISC(0.50) WITHIN GROUP (ORDER BY fneg) AS f2,
    PERCENTILE_DISC(0.75) WITHIN GROUP (ORDER BY fneg) AS f3,
    PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY -monetary_cents) AS m1,
    PERCENTILE_DISC(0.50) WITHIN GROUP (ORDER BY -monetary_cents) AS m2,
    PERCENTILE_DISC(0.75) WITHIN GROUP (ORDER BY -monetary_cents) AS m3
  FROM base),
scored AS (
  SELECT monetary_cents,
         CAST(1 + CASE WHEN recency_days > r1 THEN 1 ELSE 0 END
                + CASE WHEN recency_days > r2 THEN 1 ELSE 0 END
                + CASE WHEN recency_days > r3 THEN 1 ELSE 0 END
              AS INT) AS r_score,
         CAST(1 + CASE WHEN fneg > f1 THEN 1 ELSE 0 END
                + CASE WHEN fneg > f2 THEN 1 ELSE 0 END
                + CASE WHEN fneg > f3 THEN 1 ELSE 0 END
              AS INT) AS f_score,
         CAST(1 + CASE WHEN -monetary_cents > m1 THEN 1 ELSE 0 END
                + CASE WHEN -monetary_cents > m2 THEN 1 ELSE 0 END
                + CASE WHEN -monetary_cents > m3 THEN 1 ELSE 0 END
              AS INT) AS m_score
  FROM base CROSS JOIN cuts)
SELECT r_score, f_score, m_score,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(monetary_cents) AS BIGINT) AS total_monetary_cents
FROM scored GROUP BY r_score, f_score, m_score
""")
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    maxd = orders.agg(F.max("o_orderdate").alias("mx"))
    base = (orders.groupBy("o_custkey")
                  .agg(F.max("o_orderdate").alias("last_order"),
                       F.count("*").alias("frequency"),
                       F.sum("cents").cast("long").alias("monetary_cents"))
                  .crossJoin(F.broadcast(maxd))
                  .select("o_custkey", "monetary_cents",
                          (-F.col("frequency").cast("long")).alias("fneg"),
                          F.datediff(F.col("mx"), F.col("last_order"))
                           .alias("recency_days")))
    # ONE aggregate computes all nine exact quartile cutpoints;
    # percentile_disc picks actual data values, so integer inputs make
    # the cutpoints (and hence every bucket edge) engine-identical.
    cuts = base.agg(*[
        F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY {col})")
         .alias(f"{pfx}{i}")
        for pfx, col in (("r", "recency_days"), ("f", "fneg"),
                         ("m", "-monetary_cents"))
        for i, p in enumerate((0.25, 0.50, 0.75), 1)])

    def _bucket(value, pfx: str):
        return (F.lit(1)
                + (value > F.col(f"{pfx}1")).cast("int")
                + (value > F.col(f"{pfx}2")).cast("int")
                + (value > F.col(f"{pfx}3")).cast("int")).cast("int")

    scored = (base.crossJoin(F.broadcast(cuts))
                  .select("monetary_cents",
                          _bucket(F.col("recency_days"), "r").alias("r_score"),
                          _bucket(F.col("fneg"), "f").alias("f_score"),
                          _bucket(-F.col("monetary_cents"), "m")
                          .alias("m_score")))
    return (scored.groupBy("r_score", "f_score", "m_score")
                  .agg(F.count("*").alias("n_customers"),
                       F.sum("monetary_cents").cast("long")
                        .alias("total_monetary_cents")))


# --------------------------------------------------------------------------
# order_value_drift — distribution-drift audit (the training-data /
# segment-monitoring primitive): for each order priority, the maximum
# gap between its order-value CDF and the GLOBAL CDF, evaluated at the
# global deciles — a KS-style statistic restricted to 9 exact probe
# points so the whole computation stays integer-exact (no density
# estimation, no float CDFs: the compare is |c_g * N - c_all * n_g|
# by cross-multiplication).
#
# Shape: deciles come from one exact PERCENTILE_DISC pass (discrete —
# picks real data values, engine-identical on integer cents); the
# 9-value cutpoint row broadcasts onto ONE fact scan that computes all
# 9 running counts per group as conditional sums (no 9x fan-out of the
# fact table); the global row re-aggregates the per-group counts. At
# 100 TB: one percentile pass + one grouped scan, both
# partial-before-exchange.
# --------------------------------------------------------------------------
_DRIFT_DECILES = [i / 10 for i in range(1, 10)]


@register("order_value_drift", oracle=f"""
WITH o AS (
  SELECT o_orderpriority AS grp,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
cuts AS (
  SELECT {", ".join(
      f"PERCENTILE_DISC({p}) WITHIN GROUP (ORDER BY cents) AS c{i}"
      for i, p in enumerate(_DRIFT_DECILES, 1))}
  FROM o),
per_grp AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         {", ".join(
      f"CAST(COUNT(CASE WHEN cents <= c{i} THEN 1 END) AS BIGINT) AS le{i}"
      for i in range(1, 10))}
  FROM o CROSS JOIN cuts GROUP BY grp),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_all,
         {", ".join(f"CAST(SUM(le{i}) AS BIGINT) AS all{i}"
                    for i in range(1, 10))}
  FROM per_grp),
long_form AS (
  {" UNION ALL ".join(
      f"SELECT grp, {i} AS decile, c{i} AS cutpoint_cents, "
      f"(1000000 * ABS(CAST(le{i} AS HUGEINT) * n_all"
      f" - CAST(all{i} AS HUGEINT) * n))"
      f" // (CAST(n AS HUGEINT) * n_all) AS gap_ppm "
      f"FROM per_grp CROSS JOIN tot CROSS JOIN cuts"
      for i in range(1, 10))}),
ranked AS (
  SELECT grp, decile, cutpoint_cents, gap_ppm,
         ROW_NUMBER() OVER (PARTITION BY grp
                            ORDER BY gap_ppm DESC, decile ASC) AS rn
  FROM long_form)
SELECT grp AS o_orderpriority,
       CAST(gap_ppm AS BIGINT) AS max_gap_ppm,
       CAST(decile AS INT) AS at_decile,
       cutpoint_cents
FROM ranked WHERE rn = 1
""")
def order_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    cuts = o.agg(*[
        F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY cents)")
         .cast("long").alias(f"c{i}")
        for i, p in enumerate(_DRIFT_DECILES, 1)])
    per_grp = (o.crossJoin(F.broadcast(cuts))
                .groupBy("grp")
                .agg(F.count("*").alias("n"),
                     *[F.count(F.when(F.col("cents") <= F.col(f"c{i}"),
                                      F.lit(1))).alias(f"le{i}")
                       for i in range(1, 10)],
                     *[F.min(f"c{i}").alias(f"c{i}")
                       for i in range(1, 10)]))
    tot = per_grp.agg(
        F.sum("n").alias("n_all"),
        *[F.sum(f"le{i}").alias(f"all{i}") for i in range(1, 10)])
    wide = per_grp.crossJoin(F.broadcast(tot))
    # NOTE (r11, measured and deliberately left as-is): each union
    # branch below re-references `wide`, so the orders scan +
    # percentile pass executes once per decile. Two single-scan
    # rewrites were tried and BOTH rejected by paired A/B — a
    # struct-array explode (x1.18-1.30) and a persisted-wide union
    # (x1.44): at bench scale the nine duplicated branches run as
    # concurrent stages on idle cores, while both rewrites serialize
    # behind a persist/explode critical path. On a saturated production
    # cluster the persisted-wide form is the right shape (one scan, 9
    # cache reads) — revisit with a cluster-scale measurement; shipping
    # it on this evidence would trade a measured local regression for
    # an unmeasured remote win.
    long_form = None
    for i in range(1, 10):
        # DECIMAL(38,0) cross-multiplication (ADVICE r3): le * n_all
        # overflows int64 once orders exceed ~3M rows. The oracle uses
        # HUGEINT (int128); both are exact, so values stay identical.
        gap = F.expr(f"(1000000 * abs(CAST(le{i} AS DECIMAL(38,0)) * n_all"
                     f" - CAST(all{i} AS DECIMAL(38,0)) * n)) "
                     f"div (CAST(n AS DECIMAL(38,0)) * n_all)")
        row = wide.select("grp", F.lit(i).alias("decile"),
                          F.col(f"c{i}").alias("cutpoint_cents"),
                          gap.alias("gap_ppm"))
        long_form = row if long_form is None else long_form.unionByName(row)
    w = Window.partitionBy("grp").orderBy(F.col("gap_ppm").desc(),
                                          F.col("decile").asc())
    return (long_form.withColumn("rn", F.row_number().over(w))
                     .where(F.col("rn") == 1)
                     .select(F.col("grp").alias("o_orderpriority"),
                             F.col("gap_ppm").cast("long")
                              .alias("max_gap_ppm"),
                             F.col("decile").cast("int").alias("at_decile"),
                             "cutpoint_cents"))


# --------------------------------------------------------------------------
# orders_benford_audit — first-digit distribution of order values vs
# Benford's law, the forensic-accounting / synthetic-data smell test:
# naturally-occurring multi-scale amounts follow P(d) = log10(1 + 1/d),
# and a segment that drifts far from it was rounded, capped, or
# fabricated. Digit extraction is string-based on integer cents (both
# engines print a BIGINT identically — no float log10 whose ulp at a
# power-of-ten boundary could flip a digit); the expected shares are
# compile-time integer ppm constants embedded in both texts, so the
# whole audit is integer-exact. One partial-agg pass; 9 rows out.
# --------------------------------------------------------------------------
_BENFORD_PPM = {1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
                6: 66947, 7: 57992, 8: 51153, 9: 45757}

_BENFORD_CASE = ("CASE " + " ".join(
    f"WHEN first_digit = {d} THEN {p}"
    for d, p in _BENFORD_PPM.items()) + " END")


@register("orders_benford_audit", oracle=f"""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS first_digit
  FROM orders),
c AS (
  SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
  FROM d GROUP BY first_digit)
SELECT first_digit, n,
       CAST((1000000 * n) // total AS BIGINT) AS share_ppm,
       CAST({_BENFORD_CASE} AS BIGINT) AS benford_ppm,
       CAST(ABS((1000000 * n) // total - {_BENFORD_CASE}) AS BIGINT)
         AS gap_ppm
FROM c
""")
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d = read_table(spark, sf_dir, "orders").select(
        F.substring(cents.cast("string"), 1, 1).cast("long")
         .alias("first_digit"))
    c = (d.groupBy("first_digit")
          .agg(F.count("*").cast("long").alias("n"))
          .withColumn("total", F.sum("n").over(Window.partitionBy())))
    expected = F.expr(_BENFORD_CASE).cast("long")
    share = F.expr("(1000000 * n) div total").cast("long")
    return c.select("first_digit", "n",
                    share.alias("share_ppm"),
                    expected.alias("benford_ppm"),
                    F.abs(share - expected).cast("long").alias("gap_ppm"))


# --------------------------------------------------------------------------
# join_cardinality_audit — the cost-based-optimizer statistics audit:
# for each core join, compare the textbook uniform-NDV estimate
# |A| * |B| / max(ndv_A, ndv_B) against the TRUE join cardinality —
# the number that tells you whether CBO statistics can be trusted to
# pick join orders on this corpus, and by how much skew breaks them.
#
# The true cardinality is computed WITHOUT materializing the join:
# both sides pre-aggregate to (key, count) and the product sums over
# the key-matched counts — two narrow shuffles + one key-sized join,
# never a fact x fact row explosion (the only way this audit itself
# survives 100 TB).
#
# Determinism: every quantity is an exact integer; err_ppm is an
# integer floor division.
# --------------------------------------------------------------------------
_CARD_JOINS = (
    # key entries are EXPRESSIONS valid in both engines (the repo's
    # shared-SQL-text discipline), so derived-key joins audit too.
    ("customer_orders", "customer", "c_custkey", "orders", "o_custkey"),
    ("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part_lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
    # The failure-mode arm: floor(sqrt(key)) packs quadratically more
    # rows into higher buckets, so the uniform-NDV estimate undershoots
    # — the skew case CBO statistics are famously blind to.
    ("sqrtkey_skew", "orders", "CAST(FLOOR(SQRT(o_custkey)) AS BIGINT)",
     "lineitem", "CAST(FLOOR(SQRT(l_orderkey)) AS BIGINT)"),
)


def _card_oracle() -> str:
    arms = "\nUNION ALL\n".join(f"""
SELECT '{name}' AS join_name,
       (SELECT COUNT(*) FROM {lt}) AS n_left,
       (SELECT COUNT(*) FROM {rt}) AS n_right,
       (SELECT COUNT(DISTINCT {lk}) FROM {lt}) AS ndv_left,
       (SELECT COUNT(DISTINCT {rk}) FROM {rt}) AS ndv_right,
       (SELECT COUNT(*) FROM {lt}) * (SELECT COUNT(*) FROM {rt})
         // GREATEST((SELECT COUNT(DISTINCT {lk}) FROM {lt}),
                     (SELECT COUNT(DISTINCT {rk}) FROM {rt})) AS est_rows,
       (SELECT SUM(a.n * b.n) FROM
          (SELECT {lk} AS k, COUNT(*) AS n FROM {lt} GROUP BY {lk}) a
          JOIN
          (SELECT {rk} AS k, COUNT(*) AS n FROM {rt} GROUP BY {rk}) b
          USING (k)) AS actual_rows
""" for name, lt, lk, rt, rk in _CARD_JOINS)
    return f"""
WITH arms AS ({arms})
SELECT join_name,
       CAST(n_left AS BIGINT) AS n_left,
       CAST(n_right AS BIGINT) AS n_right,
       CAST(ndv_left AS BIGINT) AS ndv_left,
       CAST(ndv_right AS BIGINT) AS ndv_right,
       CAST(est_rows AS BIGINT) AS est_rows,
       CAST(COALESCE(actual_rows, 0) AS BIGINT) AS actual_rows,
       CAST((1000000 * ABS(est_rows - COALESCE(actual_rows, 0)))
            // GREATEST(COALESCE(actual_rows, 0), 1) AS BIGINT) AS err_ppm
FROM arms
"""


@register("join_cardinality_audit", oracle=_card_oracle())
def join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for name, lt, lk, rt, rk in _CARD_JOINS:
        left = read_table(spark, sf_dir, lt).select(F.expr(lk).alias("k"))
        right = read_table(spark, sf_dir, rt).select(F.expr(rk).alias("k"))
        ls = left.agg(F.count("*").alias("n_left"),
                      F.countDistinct("k").alias("ndv_left"))
        rs = right.agg(F.count("*").alias("n_right"),
                       F.countDistinct("k").alias("ndv_right"))
        lk_cnt = left.groupBy("k").agg(F.count("*").alias("na"))
        rk_cnt = right.groupBy("k").agg(F.count("*").alias("nb"))
        actual = (lk_cnt.join(rk_cnt, "k")
                        .agg(F.coalesce(F.sum(F.col("na") * F.col("nb")),
                                        F.lit(0)).alias("actual_rows")))
        row = (ls.crossJoin(F.broadcast(rs))
                 .crossJoin(F.broadcast(actual))
                 .select(
                     F.lit(name).alias("join_name"),
                     F.col("n_left").cast("long").alias("n_left"),
                     F.col("n_right").cast("long").alias("n_right"),
                     F.col("ndv_left").cast("long").alias("ndv_left"),
                     F.col("ndv_right").cast("long").alias("ndv_right"),
                     F.expr("(n_left * n_right)"
                            " div greatest(ndv_left, ndv_right)")
                      .cast("long").alias("est_rows"),
                     F.col("actual_rows").cast("long").alias("actual_rows"),
                     F.expr("(1000000 * abs((n_left * n_right)"
                            " div greatest(ndv_left, ndv_right)"
                            " - actual_rows)) div greatest(actual_rows, 1)")
                      .cast("long").alias("err_ppm")))
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------------
# bloom_join_audit — runtime-filter planning audit: for a selective
# orders predicate semi-joined into lineitem, size the Bloom filter a
# runtime-filter pass would push down — theoretical false-positive
# probability fpp = (1 - exp(-k*n/m))^k at the optimal hash count
# k = max(1, round(ln 2 * m/n)) — and report the scan savings it buys
# at each candidate width. The arithmetic behind Spark's AQE runtime
# bloom filters, made auditable: at 100 TB the m-bits choice is a real
# memory/broadcast budget, and this table is how you pick it.
#
# Determinism: n/matches are exact integers; fpp and savings are
# fixed-order double chains over those integers, snapped to ppm.
# Shape: one NDV aggregate on the filtered build side, one key-count
# pre-aggregated semi join for the exact match count (no fact
# materialization), then a 3-row map over the widths.
# --------------------------------------------------------------------------
# Widths chosen so the sweep actually SHOWS the tradeoff at test scale:
# ~2.7 bits/key (fpp collapses), ~11 bits/key (production-typical), and
# a saturating width — rather than three indistinguishable fpp≈0 rows.
BLOOM_M_BITS = (1 << 13, 1 << 15, 1 << 18)
BLOOM_BUILD_PRED = "1-URGENT"

_SQL_BLOOM_M = ", ".join(str(m) for m in BLOOM_M_BITS)


@register("bloom_join_audit", oracle=f"""
WITH build AS (
  SELECT DISTINCT o_orderkey AS k FROM orders
  WHERE o_orderpriority = '{BLOOM_BUILD_PRED}'),
stats AS (
  SELECT (SELECT COUNT(*) FROM build) AS n_build,
         (SELECT COUNT(*) FROM lineitem) AS n_probe,
         (SELECT COUNT(*) FROM lineitem
          WHERE l_orderkey IN (SELECT k FROM build)) AS n_match),
arms AS (SELECT UNNEST([{_SQL_BLOOM_M}]) AS m_bits),
calc AS (
  SELECT m_bits, n_build, n_probe, n_match,
         GREATEST(1, CAST(ROUND(ln(2.0::DOUBLE) * m_bits
                                / GREATEST(n_build, 1)) AS BIGINT))
           AS k_hashes
  FROM arms, stats),
fpp AS (
  SELECT *,
         power(1.0::DOUBLE - exp(-CAST(k_hashes AS DOUBLE)
                                  * CAST(n_build AS DOUBLE)
                                  / CAST(m_bits AS DOUBLE)),
               CAST(k_hashes AS DOUBLE)) AS p
  FROM calc)
SELECT CAST(m_bits AS BIGINT) AS m_bits,
       CAST(k_hashes AS BIGINT) AS k_hashes,
       CAST(n_build AS BIGINT) AS n_build,
       CAST(n_probe AS BIGINT) AS n_probe,
       CAST(n_match AS BIGINT) AS n_match,
       CAST(ROUND(p * 1000000) AS BIGINT) AS fpp_ppm,
       CAST(ROUND((CAST(n_probe AS DOUBLE) - CAST(n_match AS DOUBLE))
                  * (1.0::DOUBLE - p) / GREATEST(CAST(n_probe AS DOUBLE),
                                                 1.0::DOUBLE)
                  * 1000000) AS BIGINT) AS scan_savings_ppm
FROM fpp
""")
def bloom_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    build = (orders.where(F.col("o_orderpriority") == BLOOM_BUILD_PRED)
                   .select(F.col("o_orderkey").alias("k")).distinct())
    probe = lineitem.select(F.col("l_orderkey").alias("k"))
    n_build = build.agg(F.count("*").alias("n_build"))
    n_probe = probe.agg(F.count("*").alias("n_probe"))
    n_match = (probe.join(build, "k", "left_semi")
                    .agg(F.count("*").alias("n_match")))
    stats = (n_build.crossJoin(F.broadcast(n_probe))
                    .crossJoin(F.broadcast(n_match)))
    arms = spark.range(len(BLOOM_M_BITS)).select(
        F.element_at(F.array(*[F.lit(m) for m in BLOOM_M_BITS]),
                     (F.col("id") + 1).cast("int")).alias("m_bits"))
    k = F.greatest(F.lit(1),
                   F.round(F.log(F.lit(2.0)) * F.col("m_bits")
                           / F.greatest(F.col("n_build"), F.lit(1)))
                    .cast("long"))
    calc = (arms.crossJoin(F.broadcast(stats))
                .withColumn("k_hashes", k))
    p = F.pow(F.lit(1.0) - F.exp(-F.col("k_hashes").cast("double")
                                 * F.col("n_build").cast("double")
                                 / F.col("m_bits").cast("double")),
              F.col("k_hashes").cast("double"))
    return calc.select(
        F.col("m_bits").cast("long").alias("m_bits"),
        F.col("k_hashes").cast("long").alias("k_hashes"),
        F.col("n_build").cast("long").alias("n_build"),
        F.col("n_probe").cast("long").alias("n_probe"),
        F.col("n_match").cast("long").alias("n_match"),
        F.round(p * 1000000).cast("long").alias("fpp_ppm"),
        F.round((F.col("n_probe").cast("double")
                 - F.col("n_match").cast("double"))
                * (F.lit(1.0) - p)
                / F.greatest(F.col("n_probe").cast("double"), F.lit(1.0))
                * 1000000).cast("long").alias("scan_savings_ppm"))


# --------------------------------------------------------------------------
# privacy_delete_cascade_audit — the right-to-be-forgotten impact
# report: for a deterministic 5% deletion cohort (md5-parity of the
# entity key — the idempotent sampling a DSR batch job uses), count the
# rows each table would lose, following the referential cascade
# customer -> orders -> lineitem (and the event log by user). The
# governance deliverable a deletion run publishes BEFORE it mutates
# anything.
#
# Determinism: cohort membership is the shared 60-bit md5 contract;
# all outputs are exact counts / ppm floor divisions. 100 TB shape:
# customer/orders/events membership is a MAP-SIDE hash predicate on
# the table's own key (no join at all); only lineitem needs a semi
# join, through the already-filtered orders keys (narrow, key-only).
# --------------------------------------------------------------------------
DELETE_COHORT_MOD = 20  # 5% deterministic deletion cohort


def _del_pred_sql(key: str) -> str:
    return (f"('0x' || substr(md5('del:' || CAST({key} AS VARCHAR)), 1, 15))"
            f"::BIGINT % {DELETE_COHORT_MOD} = 0")


@register("privacy_delete_cascade_audit", oracle=f"""
WITH del_orders AS (
  SELECT o_orderkey FROM orders WHERE {_del_pred_sql("o_custkey")}),
arms AS (
  SELECT 'customer' AS tbl,
         (SELECT COUNT(*) FROM customer) AS n_rows,
         (SELECT COUNT(*) FROM customer
          WHERE {_del_pred_sql("c_custkey")}) AS n_deleted
  UNION ALL
  SELECT 'orders',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM del_orders)
  UNION ALL
  SELECT 'lineitem',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))
  UNION ALL
  SELECT 'events',
         (SELECT COUNT(*) FROM events),
         (SELECT COUNT(*) FROM events WHERE {_del_pred_sql("user_id")}))
SELECT tbl, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_deleted AS BIGINT) AS n_deleted,
       CAST((1000000 * n_deleted) // GREATEST(n_rows, 1) AS BIGINT)
         AS deleted_ppm
FROM arms
""")
def privacy_delete_cascade_audit(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    def del_pred(key: str):
        return (F.conv(F.substring(
            F.md5(F.concat(F.lit("del:"), F.col(key).cast("string"))),
            1, 15), 16, 10).cast("long") % DELETE_COHORT_MOD) == 0

    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    events = read_table(spark, sf_dir, "events")
    del_orders = (orders.where(del_pred("o_custkey"))
                        .select(F.col("o_orderkey").alias("k")))

    def arm(tbl: str, full: DataFrame, deleted: DataFrame) -> DataFrame:
        n = full.agg(F.count("*").alias("n_rows"))
        d = deleted.agg(F.count("*").alias("n_deleted"))
        return (n.crossJoin(F.broadcast(d))
                 .select(F.lit(tbl).alias("tbl"),
                         F.col("n_rows").cast("long").alias("n_rows"),
                         F.col("n_deleted").cast("long").alias("n_deleted"),
                         F.expr("(1000000 * n_deleted)"
                                " div greatest(n_rows, 1)")
                          .cast("long").alias("deleted_ppm")))

    out = arm("customer", customer, customer.where(del_pred("c_custkey")))
    out = out.unionByName(arm("orders", orders,
                              orders.where(del_pred("o_custkey"))))
    out = out.unionByName(arm(
        "lineitem", lineitem,
        lineitem.select(F.col("l_orderkey").alias("k"))
                .join(del_orders, "k", "left_semi")))
    out = out.unionByName(arm("events", events,
                              events.where(del_pred("user_id"))))
    return out


# --------------------------------------------------------------------------
# supplier_concentration_hhi — supply-chain concentration risk: the
# Herfindahl-Hirschman index of supplier revenue shares within each
# supplier nation. HHI above ~2500 (250000 ppm-of-ppm here) is the
# antitrust "highly concentrated" line; for a procurement team it flags
# nations where one supplier failure takes out the supply. Completes
# the risk/audit family next to revenue_pareto_abc (demand side) and
# supplier_sole_late_blame (single-point-of-failure on lateness).
#
# Determinism: revenue snaps to exact integer cents per line item
# before any sum; shares are ppm floor divisions; HHI sums ppm^2 / 1e6
# in integers.
#
# 100 TB shape: one lineitem aggregate on l_suppkey (map-side partial),
# supplier dim broadcast; everything after the per-supplier rollup is
# |suppliers| rows grouped to |nations|.
# --------------------------------------------------------------------------
@register("supplier_concentration_hhi", oracle="""
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
           AS cents
  FROM lineitem GROUP BY l_suppkey),
j AS (
  SELECT n.n_name AS nation, r.l_suppkey, r.cents,
         SUM(r.cents) OVER (PARTITION BY n.n_name) AS tot
  FROM rev r
  JOIN supplier s ON s.s_suppkey = r.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey),
sh AS (SELECT nation, l_suppkey, cents, tot,
              (1000000 * cents) // tot AS share_ppm
       FROM j)
SELECT nation,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(MAX(tot) AS BIGINT) AS total_rev_cents,
       CAST(MAX(share_ppm) AS BIGINT) AS top_share_ppm,
       CAST(SUM(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm
FROM sh GROUP BY nation
""")
def supplier_concentration_hhi(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
         .cast("long").alias("cents"))
    rev = li.groupBy("l_suppkey").agg(F.sum("cents").alias("cents"))
    sup = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    nat = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    j = (rev.join(F.broadcast(sup),
                  rev["l_suppkey"] == sup["s_suppkey"])
            .join(F.broadcast(nat),
                  sup["s_nationkey"] == nat["n_nationkey"])
            .select(F.col("n_name").alias("nation"), "cents"))
    w_tot = Window.partitionBy("nation")
    sh = (j.withColumn("tot", F.sum("cents").over(w_tot))
           .withColumn("share_ppm", F.expr("(1000000 * cents) div tot")))
    return (sh.groupBy("nation")
              .agg(F.count("*").cast("long").alias("n_suppliers"),
                   F.max("tot").cast("long").alias("total_rev_cents"),
                   F.max("share_ppm").cast("long").alias("top_share_ppm"),
                   F.expr("sum(share_ppm * share_ppm) div 1000000")
                    .cast("long").alias("hhi_ppm")))
