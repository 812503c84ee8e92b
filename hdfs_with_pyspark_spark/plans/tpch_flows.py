"""Classic multi-table analytics shapes (TPC-H Q6/Q7/Q8/Q14/Q15/Q19/
Q21/Q22 adapted to this corpus's schema) — the relational breadth the
reference's mart queries never exercise: disjunctive pair predicates,
market-share ratio aggregation, scalar-subquery max selection,
multi-branch OR pushdown, sole-blame EXISTS/NOT-EXISTS rewritten as one
aggregate, and a global-average threshold applied with exact integer
cross-multiplication.

Reference parity note: the reference (common_func.py / project_step_*.py)
has no multi-fact relational queries at all; these extend SURVEY.md §2.3/
§2.4 coverage (J2-J4, A1-A4) into the classic warehouse shapes a user of
any analytics engine expects.

Conventions follow plans/relational.py: identical aliases both sides,
revenue in exact integer MICRO dollars (cents(price) * (100 -
cents_pct(discount))) so sums are associative and partition-invariant,
ratios derived from those exact integers with one deterministic double
division, dates formatted/cast identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_with_pyspark_spark import state
from hdfs_with_pyspark_spark.plans.registry import register
from hdfs_with_pyspark_spark.sources.io import read_table

# Exact integer revenue: associative, merge-order-proof (same idiom as
# plans/relational.py shipping_priority_topk).
_REV_MICRO_SQL = ("CAST(ROUND(l_extendedprice * 100) AS BIGINT) "
                  "* (100 - CAST(ROUND(l_discount * 100) AS BIGINT))")
# Q6 wants price * discount (the *discounted-away* amount), not
# price * (1 - discount): cents * discount-pct, still exact.
_DISCOUNTED_MICRO_SQL = ("CAST(ROUND(l_extendedprice * 100) AS BIGINT) "
                         "* CAST(ROUND(l_discount * 100) AS BIGINT)")


def _rev_micro() -> F.Column:
    return F.expr(_REV_MICRO_SQL)


# --------------------------------------------------------------------------
# forecast_revenue_change — TPC-H Q6 shape: the purest scan->filter->agg
# pipeline. Every predicate (shipdate range, discount band, quantity cap)
# is scan-evaluable: Parquet row-group min/max statistics skip whole
# row groups before decode, and the aggregate is a single partial-
# before-exchange sum of one integer column. At 100 TB this query's cost
# is IO on the pruned row groups and nothing else — the benchmark of
# whether pushdown actually works (plan-asserted in tests).
# --------------------------------------------------------------------------
Q6_YEAR_START = "1995-01-01"
Q6_YEAR_END = "1996-01-01"


@register("forecast_revenue_change", oracle=f"""
SELECT CAST(SUM({_DISCOUNTED_MICRO_SQL}) AS BIGINT) AS revenue_increase_micro,
       CAST(COUNT(*) AS BIGINT)                     AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{Q6_YEAR_START} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{Q6_YEAR_END} 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (li.where((F.col("l_shipdate") >= F.lit(Q6_YEAR_START).cast("timestamp"))
                     & (F.col("l_shipdate") < F.lit(Q6_YEAR_END).cast("timestamp"))
                     & (F.col("l_discount") >= 0.05)
                     & (F.col("l_discount") <= 0.07)
                     & (F.col("l_quantity") < 24))
              .agg(F.sum(F.expr(_DISCOUNTED_MICRO_SQL)).cast("long")
                    .alias("revenue_increase_micro"),
                   F.count("*").alias("n_lines")))


# --------------------------------------------------------------------------
# nation_trade_flows — TPC-H Q7 shape: bilateral trade volume between two
# nations by year. The disjunctive nation-pair predicate ((A,B) or (B,A))
# applies AFTER both dimension joins; both nation-filtered sides
# (supplier->nation, customer->nation via orders) are broadcast, so the
# only shuffle is the lineitem->orders equi-join. Filtering each
# dimension to the two nations BEFORE the join (a semi-join reduction
# Catalyst cannot invent, reference O6 idiom) shrinks the fact rows that
# survive to the pair predicate by ~12.5x on a 25-nation corpus.
# --------------------------------------------------------------------------
Q7_NATION_A = "NATION_1"
Q7_NATION_B = "NATION_2"


@register("nation_trade_flows", oracle=f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS ship_year,
       CAST(SUM({_REV_MICRO_SQL}) AS BIGINT)      AS volume_micro
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ns ON ns.n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation nc ON nc.n_nationkey = c_nationkey
WHERE (ns.n_name = '{Q7_NATION_A}' AND nc.n_name = '{Q7_NATION_B}')
   OR (ns.n_name = '{Q7_NATION_B}' AND nc.n_name = '{Q7_NATION_A}')
GROUP BY supp_nation, cust_nation, ship_year
""")
def nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = (Q7_NATION_A, Q7_NATION_B)
    nation = read_table(spark, sf_dir, "nation") \
        .where(F.col("n_name").isin(*pair))
    supp = (read_table(spark, sf_dir, "supplier")
            .join(F.broadcast(nation),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cust = (read_table(spark, sf_dir, "customer")
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", F.col("n_name").alias("cust_nation")))
    orders = (read_table(spark, sf_dir, "orders")
              .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
              .select("o_orderkey", "cust_nation"))
    li = read_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_suppkey", "l_shipdate",
                _rev_micro().alias("rev"))
    return (li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
              .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .where(F.col("supp_nation") != F.col("cust_nation"))
              .groupBy("supp_nation", "cust_nation",
                       F.year("l_shipdate").alias("ship_year"))
              .agg(F.sum("rev").cast("long").alias("volume_micro")))


# --------------------------------------------------------------------------
# regional_market_share — TPC-H Q8 shape: one nation's share of a
# region's market for one part type, by year. Both the numerator
# (supplier-nation conditional) and denominator are summed as exact
# integer micro dollars in ONE aggregate pass (conditional aggregation,
# not two scans), and the share is a single double division of two
# exact integers — deterministic across engines and partitionings.
# --------------------------------------------------------------------------
Q8_REGION = "EUROPE"
Q8_NATION = "NATION_3"
Q8_TYPE = "STANDARD"


@register("regional_market_share", oracle=f"""
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
       CAST(SUM(CASE WHEN ns.n_name = '{Q8_NATION}'
                     THEN {_REV_MICRO_SQL} ELSE 0 END) AS BIGINT)
         AS nation_micro,
       CAST(SUM({_REV_MICRO_SQL}) AS BIGINT) AS market_micro,
       ROUND(CAST(SUM(CASE WHEN ns.n_name = '{Q8_NATION}'
                           THEN {_REV_MICRO_SQL} ELSE 0 END) AS DOUBLE)
             / SUM({_REV_MICRO_SQL}), 6) AS mkt_share
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ns ON ns.n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation nc ON nc.n_nationkey = c_nationkey
JOIN region ON r_regionkey = nc.n_regionkey
WHERE r_name = '{Q8_REGION}' AND p_type = '{Q8_TYPE}'
GROUP BY order_year
""")
def regional_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (read_table(spark, sf_dir, "part")
            .where(F.col("p_type") == Q8_TYPE).select("p_partkey"))
    supp = (read_table(spark, sf_dir, "supplier")
            .join(F.broadcast(read_table(spark, sf_dir, "nation")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    region_nations = (read_table(spark, sf_dir, "nation")
                      .join(F.broadcast(
                          read_table(spark, sf_dir, "region")
                          .where(F.col("r_name") == Q8_REGION)),
                          F.col("n_regionkey") == F.col("r_regionkey"))
                      .select("n_nationkey"))
    cust = (read_table(spark, sf_dir, "customer")
            .join(F.broadcast(region_nations),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey"))
    orders = (read_table(spark, sf_dir, "orders")
              .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
              .select("o_orderkey", "o_orderdate"))
    li = read_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_partkey", "l_suppkey",
                _rev_micro().alias("rev"))
    nation_rev = F.when(F.col("supp_nation") == Q8_NATION,
                        F.col("rev")).otherwise(F.lit(0))
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
              .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
              .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .groupBy(F.year("o_orderdate").alias("order_year"))
              .agg(F.sum(nation_rev).cast("long").alias("nation_micro"),
                   F.sum("rev").cast("long").alias("market_micro"))
              .select("order_year", "nation_micro", "market_micro",
                      F.round(F.col("nation_micro").cast("double")
                              / F.col("market_micro"), 6).alias("mkt_share")))


# --------------------------------------------------------------------------
# promo_revenue_share — TPC-H Q14 shape: promotional revenue share per
# month over one year. Conditional aggregation over ONE fact scan with
# the part dimension broadcast; the ratio divides two exact integer
# sums. The month grain keeps the result frame tiny while the work is
# all map-side until a 12-group exchange.
# --------------------------------------------------------------------------
Q14_START = "1996-01-01"
Q14_END = "1997-01-01"


@register("promo_revenue_share", oracle=f"""
SELECT CAST(EXTRACT(MONTH FROM l_shipdate) AS INT) AS ship_month,
       CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_MICRO_SQL} ELSE 0 END)
            AS BIGINT) AS promo_micro,
       CAST(SUM({_REV_MICRO_SQL}) AS BIGINT) AS total_micro,
       ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN {_REV_MICRO_SQL} ELSE 0 END)
             / SUM({_REV_MICRO_SQL}), 4) AS promo_pct
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '{Q14_START} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{Q14_END} 00:00:00'
GROUP BY ship_month
""")
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = (read_table(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= F.lit(Q14_START).cast("timestamp"))
                 & (F.col("l_shipdate") < F.lit(Q14_END).cast("timestamp")))
          .select("l_partkey", "l_shipdate", _rev_micro().alias("rev")))
    promo_rev = F.when(F.col("p_type") == "PROMO",
                       F.col("rev")).otherwise(F.lit(0))
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
              .groupBy(F.month("l_shipdate").alias("ship_month"))
              .agg(F.sum(promo_rev).cast("long").alias("promo_micro"),
                   F.sum("rev").cast("long").alias("total_micro"))
              .select("ship_month", "promo_micro", "total_micro",
                      F.round(F.lit(100.0) * F.col("promo_micro")
                              / F.col("total_micro"), 4).alias("promo_pct")))


# --------------------------------------------------------------------------
# top_supplier_revenue — TPC-H Q15 shape: the supplier(s) whose quarterly
# revenue equals the global maximum. The scalar-subquery max is a 1-row
# aggregate of the ALREADY-aggregated per-supplier frame, broadcast back
# as a cross join — two tiny jobs over one shared shuffle, never a
# global sort or single-partition window. Ties keep all max suppliers
# (classic Q15 semantics); revenue in exact integer micro dollars makes
# the equality cut partition-invariant.
# --------------------------------------------------------------------------
Q15_START = "1996-01-01"
Q15_END = "1996-04-01"


@register("top_supplier_revenue", oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM({_REV_MICRO_SQL}) AS BIGINT) AS total_revenue_micro
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_START} 00:00:00'
    AND l_shipdate <  TIMESTAMP '{Q15_END} 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue_micro
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue_micro = (SELECT MAX(total_revenue_micro) FROM revenue)
""")
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    revenue = (read_table(spark, sf_dir, "lineitem")
               .where((F.col("l_shipdate") >= F.lit(Q15_START).cast("timestamp"))
                      & (F.col("l_shipdate") < F.lit(Q15_END).cast("timestamp")))
               .groupBy(F.col("l_suppkey").alias("supplier_no"))
               .agg(F.sum(_rev_micro()).cast("long")
                     .alias("total_revenue_micro")))
    mx = revenue.agg(F.max("total_revenue_micro").alias("mx"))
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (revenue.join(F.broadcast(mx),
                         F.col("total_revenue_micro") == F.col("mx"))
                   .join(F.broadcast(supp),
                         F.col("supplier_no") == F.col("s_suppkey"))
                   .select("s_suppkey", "s_name", "total_revenue_micro"))


# --------------------------------------------------------------------------
# brand_band_revenue — TPC-H Q19 shape: a disjunction of three
# (brand, size-band, quantity-band) conjunct groups. The quantity half
# of each branch evaluates on the fact scan, the brand/size half on the
# broadcast part dimension; Catalyst splits the OR into scan-side
# residuals where possible and the join stays a broadcast hash join.
# One aggregate row out — the "complex predicate, trivial result" probe
# of predicate handling.
# --------------------------------------------------------------------------
Q19_BRANCHES = [
    ("Brand#12", 1, 15, 1, 11),
    ("Brand#23", 1, 25, 10, 20),
    ("Brand#34", 1, 35, 20, 30),
]


def _q19_sql_pred() -> str:
    parts = []
    for brand, szlo, szhi, qlo, qhi in Q19_BRANCHES:
        parts.append(
            f"(p_brand = '{brand}' AND p_size BETWEEN {szlo} AND {szhi} "
            f"AND l_quantity BETWEEN {qlo} AND {qhi})")
    return " OR ".join(parts)


@register("brand_band_revenue", oracle=f"""
SELECT CAST(SUM({_REV_MICRO_SQL}) AS BIGINT) AS revenue_micro,
       CAST(COUNT(*) AS BIGINT)              AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE {_q19_sql_pred()}
""")
def brand_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part") \
        .select("p_partkey", "p_brand", "p_size")
    li = read_table(spark, sf_dir, "lineitem") \
        .select("l_partkey", "l_quantity", _rev_micro().alias("rev"))
    pred = None
    for brand, szlo, szhi, qlo, qhi in Q19_BRANCHES:
        branch = ((F.col("p_brand") == brand)
                  & F.col("p_size").between(szlo, szhi)
                  & F.col("l_quantity").between(qlo, qhi))
        pred = branch if pred is None else (pred | branch)
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
              .where(pred)
              .agg(F.sum("rev").cast("long").alias("revenue_micro"),
                   F.count("*").alias("n_lines")))


# --------------------------------------------------------------------------
# supplier_sole_late_blame — TPC-H Q21 shape, rewritten for scale: the
# classic form is two correlated (NOT) EXISTS probes of lineitem against
# itself; this engine computes the same predicate in ONE per-order
# aggregate — n_suppliers, n_late_suppliers, and the sole late supplier
# (exact when n_late_suppliers == 1) — then filters and re-aggregates
# per supplier. One lineitem shuffle on orderkey replaces two self-join
# shuffles. The oracle keeps the textbook EXISTS/NOT-EXISTS formulation,
# so the rewrite's equivalence is itself oracle-proven. "Late" adapts to
# this corpus's columns: shipped > 90 days after the order date.
# --------------------------------------------------------------------------
Q21_LATE_DAYS = 90
Q21_TOPK = 25


@register("supplier_sole_late_blame", oracle=f"""
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY)
SELECT s_name,
       CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
FROM late l1
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT {Q21_TOPK}
""")
def supplier_sole_late_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderdate")
    li = read_table(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    late_flag = (F.col("l_shipdate")
                 > F.date_add(F.col("o_orderdate"), Q21_LATE_DAYS)
                   .cast("timestamp"))
    # One aggregate per order: how many distinct suppliers total, how
    # many shipped late, and (valid only when exactly one) which one.
    per_order = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
                   .withColumn("late", late_flag)
                   .groupBy("l_orderkey")
                   .agg(F.countDistinct("l_suppkey").alias("n_supp"),
                        F.countDistinct(F.when(F.col("late"),
                                               F.col("l_suppkey")))
                         .alias("n_late_supp"),
                        F.max(F.when(F.col("late"), F.col("l_suppkey")))
                         .alias("late_supp")))
    blamed = (per_order.where((F.col("n_supp") > 1)
                              & (F.col("n_late_supp") == 1))
                       .groupBy("late_supp")
                       .agg(F.count("*").alias("numwait")))
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (blamed.join(F.broadcast(supp),
                        F.col("late_supp") == F.col("s_suppkey"))
                  .select("s_name", F.col("numwait").cast("long").alias("numwait"))
                  .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
                  .limit(Q21_TOPK))


# --------------------------------------------------------------------------
# idle_customer_balances — TPC-H Q22 shape adapted: well-funded customers
# (balance above the positive-balance average) with no RECENT orders
# (this corpus gives every customer some order, so "never ordered"
# becomes "idle since the cutoff"), grouped by nation. The
# global-average threshold is applied by exact integer CROSS-
# MULTIPLICATION — cents * n_positive > sum_positive_cents — so no
# float average ever exists to round differently across engines. The
# 1-row average aggregate broadcasts; the anti join's build side is the
# recent-orders FK projection only.
# --------------------------------------------------------------------------
Q22_CUTOFF = "2000-06-01"


@register("idle_customer_balances", oracle=f"""
WITH pos AS (
  SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer WHERE c_acctbal > 0)
SELECT n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS total_acctbal_cents
FROM customer, pos
JOIN nation ON n_nationkey = c_nationkey
WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) * pos.n > pos.s
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{Q22_CUTOFF} 00:00:00')
GROUP BY n_name
""")
def idle_customer_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    cust = read_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_nationkey", cents.alias("bal_cents"))
    pos = (cust.where(F.col("bal_cents") > 0)
               .agg(F.sum("bal_cents").cast("long").alias("s"),
                    F.count("*").alias("n")))
    recent = (read_table(spark, sf_dir, "orders")
              .where(F.col("o_orderdate")
                     >= F.lit(Q22_CUTOFF).cast("timestamp"))
              .select("o_custkey"))
    nation = read_table(spark, sf_dir, "nation") \
        .select("n_nationkey", F.col("n_name").alias("nation"))
    return (cust.crossJoin(F.broadcast(pos))
                .where(F.col("bal_cents") * F.col("n") > F.col("s"))
                .join(recent, F.col("c_custkey") == F.col("o_custkey"),
                      "left_anti")
                .join(F.broadcast(nation),
                      F.col("c_nationkey") == F.col("n_nationkey"))
                .groupBy("nation")
                .agg(F.count("*").alias("n_customers"),
                     F.sum("bal_cents").cast("long")
                      .alias("total_acctbal_cents")))


# (Window-ranking breadth — ntile/percent_rank/cume_dist/lead — already
# lives in plans/relational.py customer_value_ranks; deliberately not
# duplicated here.)


# --------------------------------------------------------------------------
# min_cost_part_supplier — TPC-H Q2 shape: for each part in a
# (type, size-band) slice, the cheapest supplier who actually ships it.
# This corpus has no partsupp relation, so the supplier-of-part set is
# the DISTINCT (l_partkey, l_suppkey) projection of lineitem — at scale
# one shuffle of two integer columns — and "cheapest" ranks on supplier
# account balance in exact integer cents. The classic formulation is a
# correlated scalar-subquery (kept verbatim in the oracle, plus a
# second correlated min as the deterministic tie-break); the engine
# expresses the same thing as one window top-1 per part — Catalyst's
# decorrelation target shape, written directly.
# --------------------------------------------------------------------------
Q2_TYPE = "STANDARD"
Q2_SIZE_LO, Q2_SIZE_HI = 1, 25

_Q2_CAND_SQL = f"""
  SELECT p_partkey, p_name, s_suppkey, s_name,
         CAST(ROUND(s_acctbal * 100) AS BIGINT) AS acctbal_cents
  FROM part
  JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    ON ps.l_partkey = p_partkey
  JOIN supplier ON s_suppkey = ps.l_suppkey
  WHERE p_type = '{Q2_TYPE}' AND p_size BETWEEN {Q2_SIZE_LO} AND {Q2_SIZE_HI}
"""


@register("min_cost_part_supplier", oracle=f"""
WITH cand AS ({_Q2_CAND_SQL})
SELECT p_partkey, p_name, s_name, acctbal_cents
FROM cand c
WHERE acctbal_cents = (SELECT MIN(acctbal_cents) FROM cand c2
                       WHERE c2.p_partkey = c.p_partkey)
  AND s_suppkey = (SELECT MIN(s_suppkey) FROM cand c3
                   WHERE c3.p_partkey = c.p_partkey
                     AND c3.acctbal_cents = c.acctbal_cents)
""")
def min_cost_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    ps = (read_table(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_suppkey").distinct())
    part = (read_table(spark, sf_dir, "part")
            .where((F.col("p_type") == Q2_TYPE)
                   & F.col("p_size").between(Q2_SIZE_LO, Q2_SIZE_HI))
            .select("p_partkey", "p_name"))
    supp = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name",
        F.round(F.col("s_acctbal") * 100).cast("long")
         .alias("acctbal_cents"))
    cand = (ps.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
              .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")))
    w = (Window.partitionBy("p_partkey")
               .orderBy(F.col("acctbal_cents").asc(), F.col("s_suppkey").asc()))
    return (cand.withColumn("rk", F.row_number().over(w))
                .where(F.col("rk") == 1)
                .select("p_partkey", "p_name", "s_name", "acctbal_cents"))


# --------------------------------------------------------------------------
# nation_year_profit — TPC-H Q9 shape: profit per (supplier nation,
# order year) on a part-name slice. No ps_supplycost exists, so cost is
# modeled as 60% of the part's retail price per unit — like revenue, an
# exact integer in cents*pct units (cents(retail) * 60 * qty), so
# profit = revenue - cost is associative and partition-invariant.
# Plan shape: part slice and supplier->nation broadcast onto the fact
# scan; the single data-sized exchange is the lineitem-orders join on
# orderkey for the order year.
# --------------------------------------------------------------------------
Q9_NAME_TOKEN = "widget"
_Q9_COST_MICRO_SQL = ("CAST(ROUND(p_retailprice * 100) AS BIGINT) * 60 "
                      "* CAST(l_quantity AS BIGINT)")


@register("nation_year_profit", oracle=f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       CAST(SUM({_REV_MICRO_SQL} - {_Q9_COST_MICRO_SQL}) AS BIGINT)
         AS profit_micro
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE p_name LIKE '%{Q9_NAME_TOKEN}%'
GROUP BY n_name, EXTRACT(year FROM o_orderdate)
""")
def nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (read_table(spark, sf_dir, "part")
            .where(F.col("p_name").contains(Q9_NAME_TOKEN))
            .select("p_partkey", "p_retailprice"))
    supp_nation = (read_table(spark, sf_dir, "supplier")
                   .join(F.broadcast(read_table(spark, sf_dir, "nation")),
                         F.col("s_nationkey") == F.col("n_nationkey"))
                   .select("s_suppkey", F.col("n_name").alias("nation")))
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("o_year"))
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        _rev_micro().alias("rev_micro"))
    amount = (F.col("rev_micro")
              - F.round(F.col("p_retailprice") * 100).cast("long") * 60
                * F.col("l_quantity").cast("long"))
    return (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
              .join(F.broadcast(supp_nation),
                    F.col("l_suppkey") == F.col("s_suppkey"))
              .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .groupBy("nation", "o_year")
              .agg(F.sum(amount).cast("long").alias("profit_micro")))


# --------------------------------------------------------------------------
# important_part_value — TPC-H Q11 shape: parts whose revenue through
# one nation's suppliers exceeds a fixed FRACTION of that nation's
# total — the scalar-subquery-in-HAVING pattern. The global total is a
# 1-row aggregate broadcast back; the threshold compare is exact
# integer cross-multiplication (value * DENOM > total), so no float
# fraction exists on either engine. At 100 TB: two aggregates over one
# semi-join-reduced fact projection, no second scan for the threshold.
# --------------------------------------------------------------------------
Q11_NATION = "NATION_5"
Q11_SHARE_DENOM = 1000  # keep parts with > 1/1000 of total value


@register("important_part_value", oracle=f"""
WITH v AS (
  SELECT l_partkey,
         CAST(SUM({_REV_MICRO_SQL}) AS BIGINT) AS value_micro
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE n_name = '{Q11_NATION}'
  GROUP BY l_partkey)
SELECT l_partkey, value_micro
FROM v
WHERE value_micro * {Q11_SHARE_DENOM} > (SELECT SUM(value_micro) FROM v)
""")
def important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation_supp = (read_table(spark, sf_dir, "supplier")
                   .join(F.broadcast(read_table(spark, sf_dir, "nation")
                                     .where(F.col("n_name") == Q11_NATION)),
                         F.col("s_nationkey") == F.col("n_nationkey"))
                   .select("s_suppkey"))
    v = state.pinned(
        spark, ("important_part_value:v", sf_dir),
        lambda: (read_table(spark, sf_dir, "lineitem")
                 .select("l_partkey", "l_suppkey", _rev_micro().alias("rev"))
                 .join(F.broadcast(nation_supp),
                       F.col("l_suppkey") == F.col("s_suppkey"))
                 .groupBy("l_partkey")
                 .agg(F.sum("rev").cast("long").alias("value_micro"))))
    total = v.agg(F.sum("value_micro").alias("total"))
    return (v.crossJoin(F.broadcast(total))
             .where(F.col("value_micro") * Q11_SHARE_DENOM > F.col("total"))
             .select("l_partkey", "value_micro"))


# --------------------------------------------------------------------------
# dominant_part_suppliers — TPC-H Q20 shape: suppliers who DOMINATE the
# supply of some part (shipped more than half of a part's total volume
# in the window, on a part-name slice) — the nested correlated-
# aggregate-threshold pattern. The per-part total re-aggregates the
# per-(part,supplier) frame (no second fact scan), the threshold is
# exact integer cross-multiplication (2*q > total), and the supplier
# dimension joins broadcast. Output: per supplier, how many parts they
# dominate.
# --------------------------------------------------------------------------
Q20_NAME_PREFIX = "small "
Q20_START, Q20_END = "1996-01-01", "1997-01-01"


@register("dominant_part_suppliers", oracle=f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '{Q20_NAME_PREFIX}%'
    AND l_shipdate >= TIMESTAMP '{Q20_START} 00:00:00'
    AND l_shipdate <  TIMESTAMP '{Q20_END} 00:00:00'
  GROUP BY l_partkey, l_suppkey),
pt AS (
  SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS total_qty
  FROM ps GROUP BY l_partkey)
SELECT s_name,
       CAST(COUNT(*) AS BIGINT) AS n_dominated_parts,
       CAST(SUM(ps.qty) AS BIGINT) AS dominated_qty
FROM ps
JOIN pt USING (l_partkey)
JOIN supplier ON s_suppkey = ps.l_suppkey
WHERE ps.qty * 2 > pt.total_qty
GROUP BY s_name
""")
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (read_table(spark, sf_dir, "part")
            .where(F.col("p_name").startswith(Q20_NAME_PREFIX))
            .select("p_partkey"))
    ps = state.pinned(
        spark, ("dominant_part_suppliers:ps", sf_dir),
        lambda: (read_table(spark, sf_dir, "lineitem")
                 .where((F.col("l_shipdate")
                         >= F.lit(Q20_START).cast("timestamp"))
                        & (F.col("l_shipdate")
                           < F.lit(Q20_END).cast("timestamp")))
                 .join(F.broadcast(part),
                       F.col("l_partkey") == F.col("p_partkey"))
                 .groupBy("l_partkey", "l_suppkey")
                 .agg(F.sum(F.col("l_quantity").cast("long")).cast("long")
                       .alias("qty"))))
    pt = (ps.groupBy("l_partkey")
            .agg(F.sum("qty").cast("long").alias("total_qty")))
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (ps.join(pt, "l_partkey")
              .where(F.col("qty") * 2 > F.col("total_qty"))
              .join(F.broadcast(supp),
                    F.col("l_suppkey") == F.col("s_suppkey"))
              .groupBy("s_name")
              .agg(F.count("*").alias("n_dominated_parts"),
                   F.sum("qty").cast("long").alias("dominated_qty")))
