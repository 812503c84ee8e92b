"""Temporal / frame-window / hierarchical-agg query plans.

Families the reference never uses (SURVEY.md §2.5 notes frame specs are
absent; §2.3 notes as-of/range joins are absent; §2.4 notes rollup and
percentiles are absent) but that a complete engine must offer. Each is
built scale-first:

* rolling windows run AFTER a pre-aggregation, so the frame scans
  |days| rows per group, not |orders|;
* the as-of join is the union + last(ignorenulls) rewrite — ONE shuffle
  on the key, no inequality join, no per-key fan-out (the classic
  scalable as-of used by time-series engines);
* sessionization is lag + cumulative-sum (two window passes over one
  partitioning — a single Exchange);
* the range-band join broadcasts the 3-row bands dim (BroadcastNestedLoop
  on a tiny side is O(n·3), not a shuffle).

Oracles: DuckDB ASOF JOIN, RANGE frames, ROLLUP/GROUPING, quantile_cont.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdfs_with_pyspark_spark import state
from hdfs_with_pyspark_spark.plans.registry import register
from hdfs_with_pyspark_spark.sources.io import local_frame, read_table


# --------------------------------------------------------------------------
# rolling_daily_revenue — 7-day trailing sum/avg per order priority.
# W-frame coverage (rangeBetween); two-level: pre-agg to (priority, day)
# first so the frame window runs over |priorities|×|days| rows only.
# Daily revenue is rounded BEFORE the rolling sum so both engines fold
# identical values (parallel float summation differs in last ulps).
# --------------------------------------------------------------------------
@register("rolling_daily_revenue", oracle="""
WITH daily AS (
  SELECT o_orderpriority,
         CAST(o_orderdate AS DATE)                       AS day,
         DATEDIFF('day', DATE '1970-01-01',
                  CAST(o_orderdate AS DATE))             AS day_num,
         ROUND(SUM(o_totalprice), 2)                     AS revenue
  FROM orders
  GROUP BY 1, 2, 3
)
SELECT o_orderpriority,
       STRFTIME(day, '%Y-%m-%d') AS day,
       revenue,
       ROUND(SUM(revenue) OVER w, 2) AS revenue_7d,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_days_7d
FROM daily
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day_num
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
""")
def rolling_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    daily = (orders
             .groupBy("o_orderpriority",
                      F.to_date("o_orderdate").alias("day"))
             .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
             .withColumn("day_num", F.datediff("day", F.lit("1970-01-01"))))
    w = (Window.partitionBy("o_orderpriority").orderBy("day_num")
               .rangeBetween(-6, Window.currentRow))
    return (daily
            .withColumn("revenue_7d", F.round(F.sum("revenue").over(w), 2))
            .withColumn("n_days_7d", F.count("*").over(w))
            .select("o_orderpriority",
                    F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "revenue", "revenue_7d", "n_days_7d"))


# --------------------------------------------------------------------------
# asof_last_order_before_event — for every event, the customer's latest
# order at-or-before the event time; aggregated per event type.
#
# Scalable rewrite: tag orders (is_event=0) and events (is_event=1),
# union, ONE shuffle on user_id, then last(order_price, ignorenulls)
# over (time, is_event) — orders sort before events at equal timestamps,
# giving inclusive <= semantics. No inequality join, no per-key blowup;
# at 100 TB this is a single sort-merge pass per key partition.
# Orders are pre-deduped to max price per (custkey, day) so the as-of
# pick is deterministic on ties in both engines.
# --------------------------------------------------------------------------
@register("asof_last_order_before_event", oracle="""
WITH o AS (
  SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS order_price
  FROM orders GROUP BY 1, 2
),
j AS (
  SELECT e.event_type, o.order_price
  FROM events e
  ASOF LEFT JOIN o
    ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT)          AS n_events,
       CAST(COUNT(order_price) AS BIGINT) AS n_matched,
       ROUND(AVG(order_price), 2)        AS avg_last_order_price
FROM j
GROUP BY event_type
""")
def asof_last_order_before_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.operators.asof import asof_join
    orders = (read_table(spark, sf_dir, "orders")
              .groupBy(F.col("o_custkey").alias("user_id"),
                       F.col("o_orderdate").alias("order_ts"))
              .agg(F.max("o_totalprice").alias("order_price")))
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type")
    joined = asof_join(events, orders, on=["user_id"],
                       left_ts="ts", right_ts="order_ts",
                       value_cols=["order_price"])
    return (joined.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.count("order_price").alias("n_matched"),
                 F.round(F.avg("order_price"), 2)
                  .alias("avg_last_order_price")))


# --------------------------------------------------------------------------
# user_sessions — batch sessionization: a >30-minute silence starts a new
# session. lag → gap flag → running sum = session id; both window passes
# share ONE partitioning (user_id), so the whole query is a single
# Exchange + sort. Durations are integer microseconds (exact — no float
# in the compare path).
# --------------------------------------------------------------------------
@register("user_sessions", oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR DATE_DIFF('microseconds', LAG(ts) OVER w, ts) > 1800000000
              THEN 1 ELSE 0 END AS new_session
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
         CAST(COUNT(*) AS BIGINT) AS n_events,
         DATE_DIFF('microseconds', MIN(ts), MAX(ts)) AS duration_us
  FROM sessions GROUP BY 1, 2
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT)        AS n_sessions,
       CAST(SUM(n_events) AS BIGINT)   AS n_events,
       CAST(MAX(duration_us) AS BIGINT) AS max_session_us,
       ROUND(AVG(n_events), 4)         AS avg_events_per_session
FROM per_session
GROUP BY user_id
""")
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts"))
    flagged = events.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > 1800 * 1000 * 1000), 1).otherwise(0))
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    per_session = (sessions.groupBy("user_id", "session_id")
                   .agg(F.count("*").alias("n_events"),
                        F.timestamp_diff("MICROSECOND", F.min("ts"),
                                         F.max("ts")).alias("duration_us")))
    return (per_session.groupBy("user_id")
            .agg(F.count("*").alias("n_sessions"),
                 F.sum("n_events").alias("n_events"),
                 F.max("duration_us").alias("max_session_us"),
                 F.round(F.avg("n_events"), 4)
                  .alias("avg_events_per_session")))


# --------------------------------------------------------------------------
# revenue_rollup — hierarchical totals via ROLLUP + grouping_id. Subtotal
# rows are labeled 'ALL' (source columns are non-null in this dataset;
# gid disambiguates regardless). Single shuffle: rollup is one hash agg
# with grouping-set expansion, map-side partial.
# --------------------------------------------------------------------------
@register("revenue_rollup", oracle="""
SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT)         AS n_orders,
       ROUND(SUM(o_totalprice), 2)      AS revenue
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
""")
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (orders.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.grouping_id().cast("long").alias("gid"),
                 F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                    "gid", "n_orders", "revenue"))


# --------------------------------------------------------------------------
# order_value_percentiles — EXACT percentiles (linear interpolation) per
# order status. Spark `percentile` and DuckDB `quantile_cont` share the
# continuous-quantile definition, so values hash-match after rounding.
# Exact percentile shuffles all values per group — at 100 TB swap in
# approx_percentile (t-digest, map-side mergeable); kept exact here
# because the oracle demands bit-stable answers.
# --------------------------------------------------------------------------
@register("order_value_percentiles", oracle="""
SELECT o_orderstatus,
       ROUND(QUANTILE_CONT(o_totalprice, 0.25), 2) AS p25,
       ROUND(QUANTILE_CONT(o_totalprice, 0.50), 2) AS p50,
       ROUND(QUANTILE_CONT(o_totalprice, 0.75), 2) AS p75,
       ROUND(MIN(o_totalprice), 2)                 AS min_price,
       ROUND(MAX(o_totalprice), 2)                 AS max_price
FROM orders
GROUP BY o_orderstatus
""")
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (orders.groupBy("o_orderstatus")
            .agg(F.round(F.expr("percentile(o_totalprice, 0.25)"), 2).alias("p25"),
                 F.round(F.expr("percentile(o_totalprice, 0.50)"), 2).alias("p50"),
                 F.round(F.expr("percentile(o_totalprice, 0.75)"), 2).alias("p75"),
                 F.round(F.min("o_totalprice"), 2).alias("min_price"),
                 F.round(F.max("o_totalprice"), 2).alias("max_price")))


# --------------------------------------------------------------------------
# order_price_bands — range (interval-containment) join against a tiny
# in-memory bands dimension. Spark plans BroadcastNestedLoopJoin: each
# order row tests 3 band rows map-side — no shuffle of the fact table,
# the only safe shape for theta joins at scale (tiny broadcast side).
# --------------------------------------------------------------------------
@register("order_price_bands", oracle="""
SELECT b.band,
       CAST(COUNT(*) AS BIGINT)    AS n_orders,
       ROUND(SUM(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN (VALUES ('low', 0.0, 100000.0),
             ('mid', 100000.0, 250000.0),
             ('high', 250000.0, 1e18)) AS b(band, lo, hi)
  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
GROUP BY b.band
""")
def order_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    bands = local_frame(
        spark,
        [("low", 0.0, 100000.0), ("mid", 100000.0, 250000.0),
         ("high", 250000.0, 1e18)],
        "band string, lo double, hi double")
    cond = (F.col("o_totalprice") >= F.col("lo")) & \
           (F.col("o_totalprice") < F.col("hi"))
    return (orders.join(F.broadcast(bands), cond)
            .groupBy("band")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


# --------------------------------------------------------------------------
# user_activity_cogroup — the co-grouped pandas surface
# (groupBy().cogroup().applyInPandas): two tables shuffled once each on
# the same key, each key's slices handed to one Python function as two
# pandas frames. The Spark-idiomatic custom-merge escape hatch when a
# per-key merge can't be said relationally; here the merge IS relational
# (so the DuckDB oracle can check it exactly), but the plumbing — Arrow
# batches, two-sided grouping, empty-side handling — is the real surface.
# Scale: cost is one shuffle per side keyed on user_id; Python sees only
# one key's rows at a time, never a partition-sized frame.
# --------------------------------------------------------------------------
@register("user_activity_cogroup", oracle="""
WITH e AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(SUM(value), 2) AS sum_value
  FROM events GROUP BY user_id),
o AS (
  SELECT o_custkey AS user_id, CAST(COUNT(*) AS BIGINT) AS n_orders,
         ROUND(SUM(o_totalprice), 2) AS sum_spend
  FROM orders WHERE o_custkey <= 149 GROUP BY o_custkey)
SELECT COALESCE(e.user_id, o.user_id) AS user_id,
       COALESCE(e.n_events, 0) AS n_events,
       COALESCE(e.sum_value, 0.0) AS sum_value,
       COALESCE(o.n_orders, 0) AS n_orders,
       COALESCE(o.sum_spend, 0.0) AS sum_spend
FROM e FULL OUTER JOIN o USING (user_id)
""")
def user_activity_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    events = read_table(spark, sf_dir, "events").select("user_id", "value")
    # Restrict orders to the events-table key domain (user_id < 150) so the
    # cogroup exercises both matched and one-sided keys, not 14k
    # orders-only groups.
    orders = (read_table(spark, sf_dir, "orders")
              .where(F.col("o_custkey") <= 149)
              .select(F.col("o_custkey").alias("user_id"), "o_totalprice"))

    def merge(key, ev: pd.DataFrame, od: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "user_id": [key[0]],
            "n_events": [len(ev)],
            "sum_value": [round(float(ev["value"].sum()), 2) if len(ev) else 0.0],
            "n_orders": [len(od)],
            "sum_spend": [round(float(od["o_totalprice"].sum()), 2) if len(od) else 0.0],
        })

    out_schema = ("user_id long, n_events long, sum_value double, "
                  "n_orders long, sum_spend double")
    return (events.groupBy("user_id")
            .cogroup(orders.groupBy("user_id"))
            .applyInPandas(merge, out_schema))


# --------------------------------------------------------------------------
# revenue_cube — CUBE completes the grouping-sets family (rollup above):
# all four (status, priority) marginal combinations in ONE hash aggregate
# with grouping-set expansion — map-side partial, single shuffle, vs four
# separate groupBys + union each rescanning the fact.
# --------------------------------------------------------------------------
@register("revenue_cube", oracle="""
SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT)         AS n_orders,
       ROUND(SUM(o_totalprice), 2)      AS revenue
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
""")
def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (orders.cube("o_orderstatus", "o_orderpriority")
            .agg(F.grouping_id().cast("long").alias("gid"),
                 F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                    "gid", "n_orders", "revenue"))


# --------------------------------------------------------------------------
# events_time_proximity — banded range join: for every error event,
# count click events within +/- PROX_WINDOW seconds. A naive inequality
# join is Spark's worst case (BroadcastNestedLoopJoin, O(n*m) row
# comparisons); the scale shape BANDS time into PROX_WINDOW-second
# cells, fans the smaller side out to its cell and both neighbors
# (3x replication), equi-joins on the cell id, and post-filters the
# exact |dt| <= window predicate. Every candidate pair is then found in
# exactly the hash-join bucket its cell maps to — a shuffled equi-join
# whose cost is O(pairs-in-band), not O(n*m). This is the standard
# time-series/interval-join rewrite engines hide behind RANGE JOIN
# hints.
#
# Epoch seconds are integer-truncated on BOTH engines (Spark
# unix_timestamp floors; the oracle floors explicitly) so the band and
# the predicate agree bit for bit.
# --------------------------------------------------------------------------
PROX_WINDOW = 1800   # seconds


@register("events_time_proximity", oracle=f"""
WITH e AS (SELECT event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s
           FROM events WHERE event_type = 'error'),
c AS (SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS s
      FROM events WHERE event_type = 'click')
SELECT e.event_id,
       CAST(COUNT(c.s) AS BIGINT) AS n_nearby_clicks
FROM e LEFT JOIN c ON ABS(e.s - c.s) <= {PROX_WINDOW}
GROUP BY e.event_id
""")
def events_time_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    secs = F.unix_timestamp("ts")
    errors = (ev.where(F.col("event_type") == "error")
                .select("event_id", secs.alias("s"),
                        (secs - secs % PROX_WINDOW).alias("cell")))
    ccell = (F.col("cs") - F.col("cs") % PROX_WINDOW)
    clicks = (ev.where(F.col("event_type") == "click")
                .select(secs.alias("cs"))
                .withColumn("cell", F.explode(F.array(
                    ccell - PROX_WINDOW, ccell, ccell + PROX_WINDOW))))
    hits = (errors.join(clicks, "cell")
                  .where(F.abs(F.col("s") - F.col("cs")) <= PROX_WINDOW)
                  .groupBy("event_id")
                  .agg(F.count("*").alias("n")))
    # Left join back so zero-neighbor errors keep a row (count 0).
    return (errors.select("event_id")
                  .join(hits, "event_id", "left")
                  .select("event_id",
                          F.coalesce(F.col("n"), F.lit(0)).cast("long")
                           .alias("n_nearby_clicks")))


# --------------------------------------------------------------------------
# user_funnel — ordered-step funnel analysis (signup -> click ->
# purchase), the product-analytics staple: each step's timestamp is the
# FIRST qualifying event at-or-after the previous step. Three
# conditional-min window passes over ONE user_id partitioning — Spark
# plans a single Exchange for all three (subset clustering reuse), so
# the funnel costs the same shuffle as any per-user aggregate at 100 TB.
# Step deltas are integer epoch-second diffs (floored identically on
# both engines).
# --------------------------------------------------------------------------
@register("user_funnel", oracle="""
WITH s AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
  FROM events GROUP BY user_id),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN s ON s.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts >= s.t_signup
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
  GROUP BY e.user_id)
SELECT s.user_id,
       (s.t_signup IS NOT NULL)   AS did_signup,
       (c.t_click IS NOT NULL)    AS did_click,
       (p.t_purchase IS NOT NULL) AS did_purchase,
       CAST(FLOOR(epoch(c.t_click)) - FLOOR(epoch(s.t_signup)) AS BIGINT)
         AS sec_to_click,
       CAST(FLOOR(epoch(p.t_purchase)) - FLOOR(epoch(c.t_click)) AS BIGINT)
         AS sec_to_purchase
FROM s LEFT JOIN c ON c.user_id = s.user_id
       LEFT JOIN p ON p.user_id = s.user_id
""")
def user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t_signup = F.min(F.when(F.col("event_type") == "signup",
                            F.col("ts"))).over(w)
    staged = ev.withColumn("t_signup", t_signup)
    t_click = F.min(F.when((F.col("event_type") == "click")
                           & (F.col("ts") >= F.col("t_signup")),
                           F.col("ts"))).over(w)
    staged = staged.withColumn("t_click", t_click)
    t_purchase = F.min(F.when((F.col("event_type") == "purchase")
                              & (F.col("ts") >= F.col("t_click")),
                              F.col("ts"))).over(w)
    staged = staged.withColumn("t_purchase", t_purchase)
    sec = F.unix_timestamp
    return (staged
            .select("user_id", "t_signup", "t_click", "t_purchase")
            .distinct()
            .select(
                "user_id",
                F.col("t_signup").isNotNull().alias("did_signup"),
                F.col("t_click").isNotNull().alias("did_click"),
                F.col("t_purchase").isNotNull().alias("did_purchase"),
                (sec("t_click") - sec("t_signup")).cast("long")
                 .alias("sec_to_click"),
                (sec("t_purchase") - sec("t_click")).cast("long")
                 .alias("sec_to_purchase")))


# --------------------------------------------------------------------------
# events_weekhour_heatmap — day-of-week x hour-of-day activity matrix,
# the standard ops-dashboard heatmap: one pass extracting (dow, hour),
# pivot on the 24 explicit hour values (explicit value list keeps the
# pivot a single pass — Spark needs no distinct-scan). UTC extraction on
# both engines; ISO day numbering (1=Monday) via DuckDB isodow.
# --------------------------------------------------------------------------
@register("events_weekhour_heatmap", oracle=f"""
SELECT CAST(isodow(ts) AS BIGINT) AS dow,
       {", ".join(f"CAST(COUNT(*) FILTER (WHERE hour(ts) = {h}) AS BIGINT) AS h{h:02d}" for h in range(24))}
FROM events
GROUP BY 1
""")
def events_weekhour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    # dayofweek is 1=Sunday in Spark; map to ISO 1=Monday.
    iso_dow = ((F.dayofweek("ts") + 5) % 7 + 1).cast("long")
    pivoted = (ev.select(iso_dow.alias("dow"), F.hour("ts").alias("hour"))
                 .groupBy("dow")
                 .pivot("hour", list(range(24)))
                 .count())
    return pivoted.select(
        "dow", *[F.coalesce(F.col(str(h)), F.lit(0)).cast("long")
                 .alias(f"h{h:02d}") for h in range(24)])


# --------------------------------------------------------------------------
# events_daily_anomalies — ops-monitoring shape: per (event_type, day)
# counts, z-scored against that type's own daily mean/std, |z| >= 2
# flagged. Two-level agg (day counts, then per-type moments via a
# window over the tiny daily frame); all stats computed from exact
# integer counts and rounded identically on both engines.
# --------------------------------------------------------------------------
@register("events_daily_anomalies", oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT *, AVG(n) OVER (PARTITION BY event_type) AS mu,
         STDDEV_SAMP(n) OVER (PARTITION BY event_type) AS sd
  FROM daily),
z AS (
  -- explicit NULL on zero/NULL stddev (constant daily volume): Spark's
  -- ANSI mode would otherwise raise DIVIDE_BY_ZERO where DuckDB nulls
  SELECT event_type, day, n,
         CASE WHEN sd IS NULL OR sd = 0 THEN NULL
              ELSE ROUND((n - mu) / sd, 4) END AS zscore
  FROM stats)
SELECT event_type, STRFTIME(day, '%Y-%m-%d') AS day,
       CAST(n AS BIGINT) AS n_events,
       zscore,
       (ABS(zscore) >= 2.0) AS is_anomaly
FROM z
""")
def events_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type",
                        F.to_date(F.date_trunc("day", "ts")).alias("day"))
               .agg(F.count("*").alias("n")))
    w = Window.partitionBy("event_type")
    sd = F.stddev_samp("n").over(w)
    # Guarded + ROUNDED z: a zero/NULL stddev (constant daily volume)
    # yields NULL instead of an ANSI DIVIDE_BY_ZERO, and the anomaly
    # flag thresholds the 4-dp-rounded value both engines render
    # identically (unrounded floats differ in last ulps across
    # accumulation orders).
    z = F.when(sd.isNotNull() & (sd != 0),
               F.round((F.col("n") - F.avg("n").over(w)) / sd, 4))
    return daily.select(
        "event_type", F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("long").alias("n_events"),
        z.alias("zscore"),
        (F.abs(z) >= 2.0).alias("is_anomaly"))


# --------------------------------------------------------------------------
# join_key_skew_stats — the diagnostic you run BEFORE picking a skew
# strategy (salt factor, AQE thresholds, broadcast cutoffs): per-key
# row counts of the lineitem join key, reduced to the moments that
# drive the decision — max/p99/mean multiplicity and the share of rows
# under the hottest keys. One agg to per-key counts, then a tiny
# single-row summary; percentile over the (already aggregated) count
# distribution.
# --------------------------------------------------------------------------
@register("join_key_skew_stats", oracle="""
WITH per_key AS (
  SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey),
tot AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys FROM per_key),
topk AS (SELECT SUM(n) AS top100_rows
         FROM (SELECT n FROM per_key ORDER BY n DESC, l_orderkey LIMIT 100))
SELECT CAST(t.n_keys AS BIGINT) AS n_keys,
       CAST(t.total AS BIGINT) AS n_rows,
       ROUND(t.total * 1.0 / t.n_keys, 4) AS mean_rows_per_key,
       CAST((SELECT MAX(n) FROM per_key) AS BIGINT) AS max_rows_per_key,
       ROUND((SELECT quantile_cont(n, 0.99) FROM per_key), 4)
         AS p99_rows_per_key,
       ROUND(k.top100_rows * 1.0 / t.total, 6) AS top100_key_row_share
FROM tot t, topk k
""")
def join_key_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(F.count("*").alias("n"))
    # All follow-up stats run over the per-key counts — |keys| rows,
    # tiny next to the fact table — so one corpus shuffle total.
    per_key = per_key.persist()
    top100 = (per_key.orderBy(F.col("n").desc(), F.col("l_orderkey"))
                     .limit(100).agg(F.sum("n").alias("top100_rows")))
    summary = per_key.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.round(F.sum("n") / F.count("*"), 4).alias("mean_rows_per_key"),
        F.max("n").cast("long").alias("max_rows_per_key"),
        F.round(F.expr("percentile(n, 0.99)"), 4).alias("p99_rows_per_key"))
    out = summary.crossJoin(top100).select(
        "n_keys", "n_rows", "mean_rows_per_key", "max_rows_per_key",
        "p99_rows_per_key",
        F.round(F.col("top100_rows") / F.col("n_rows"), 6)
         .alias("top100_key_row_share"))
    # Eagerly materialize the single summary row (both branches read the
    # persisted per-key counts exactly once), then release the pin and
    # hand back a leak-free local frame — same pattern as
    # lineitem_footer_stats.
    rows, schema = out.collect(), out.schema
    per_key.unpersist()
    return local_frame(spark, rows, schema)


# --------------------------------------------------------------------------
# user_cohort_retention — the classic retention triangle: users grouped
# by first-seen week (cohort), activity counted per weeks-since-first;
# each (cohort, offset) cell reports surviving users and their share of
# the cohort. Two passes over one user-keyed clustering (first-seen via
# a window min, then the distinct-activity agg) + a join of the
# |cohorts|-sized sizes back — the whole query is two corpus exchanges.
# Weeks are epoch-day // 7 (integer, engine-agnostic — no ISO-week
# boundary semantics to diverge on).
# --------------------------------------------------------------------------
@register("user_cohort_retention", oracle="""
WITH e AS (
  -- explicit double FLOOR: DuckDB's // is not floor division on
  -- DOUBLE operands, and CAST(double AS BIGINT) rounds, not truncates
  SELECT user_id,
         CAST(FLOOR(FLOOR(epoch(ts) / 86400) / 7) AS BIGINT) AS week
  FROM events),
f AS (SELECT user_id, MIN(week) AS cohort FROM e GROUP BY user_id),
act AS (
  SELECT DISTINCT f.cohort, e.week - f.cohort AS offset_weeks, e.user_id
  FROM e JOIN f USING (user_id)),
cs AS (SELECT cohort, COUNT(*) AS cohort_size FROM f GROUP BY cohort)
SELECT a.cohort,
       CAST(a.offset_weeks AS BIGINT) AS offset_weeks,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       ROUND(COUNT(*) * 1.0 / ANY_VALUE(c.cohort_size), 4) AS retention
FROM act a JOIN cs c USING (cohort)
GROUP BY a.cohort, a.offset_weeks
""")
def user_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    week = F.floor(F.floor(F.unix_timestamp("ts") / 86400) / 7).cast("long")
    e = ev.select("user_id", week.alias("week"))
    w = Window.partitionBy("user_id")
    # first-seen via a window over the same user clustering the distinct
    # below reuses — no separate firsts join against the corpus.
    act = (e.withColumn("cohort", F.min("week").over(w))
             .select("cohort", (F.col("week") - F.col("cohort"))
                     .alias("offset_weeks"), "user_id")
             .distinct())
    sizes = (act.where(F.col("offset_weeks") == 0)
                .groupBy("cohort")
                .agg(F.count("*").alias("cohort_size")))
    return (act.groupBy("cohort", "offset_weeks")
               .agg(F.count("*").alias("n_active"))
               .join(F.broadcast(sizes), "cohort")
               .select("cohort",
                       F.col("offset_weeks").cast("long").alias("offset_weeks"),
                       F.col("n_active").cast("long").alias("n_active"),
                       F.round(F.col("n_active") / F.col("cohort_size"), 4)
                        .alias("retention")))


# --------------------------------------------------------------------------
# events_k_anonymity — privacy audit over quasi-identifiers: bucket every
# event by the attacker-visible tuple (event_type, hour-of-day, value
# decade), measure each bucket's population k, and report the k < K
# buckets plus how many rows they expose. The pre-release check any
# user-event dataset should pass before leaving the trust boundary
# (k-anonymity, Sweeney 2002 — a row in a bucket of k is re-identifiable
# to 1-in-k).
#
# Scale: one map-side bucketing projection + one partial-before-exchange
# aggregate; the at-risk filter runs on the (tiny) bucket relation. No
# row-level data survives into the result — the audit itself is safe to
# share.
# --------------------------------------------------------------------------
K_ANON_THRESHOLD = 5


@register("events_k_anonymity", oracle=f"""
WITH buckets AS (
  SELECT event_type,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
         CAST(FLOOR(value / 10) AS BIGINT) AS value_decade,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM events
  GROUP BY 1, 2, 3)
SELECT event_type, hour_of_day, value_decade, k
FROM buckets
WHERE k < {K_ANON_THRESHOLD}
""")
def events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (ev.groupBy(
                "event_type",
                F.hour("ts").cast("long").alias("hour_of_day"),
                F.floor(F.col("value") / 10).cast("long")
                 .alias("value_decade"))
              .agg(F.count("*").cast("long").alias("k"))
              .where(F.col("k") < K_ANON_THRESHOLD))


# --------------------------------------------------------------------------
# daily_revenue_gapfill — calendar densification + forward fill, the two
# time-series primitives every BI layer needs and sparse event data
# lacks: (1) a complete day spine from the data's own min..max range
# (explode(sequence(...)) — no driver-side calendar, no hardcoded
# bounds), left-joined so zero-activity days exist with revenue 0;
# (2) carry-forward of the last active day's revenue via
# last(ignorenulls) over an unbounded-preceding frame — the same
# union-window idiom as the as-of join, zero join nodes for the fill.
#
# Scale: the spine is |days| rows (tiny); the one real exchange is the
# per-day pre-aggregate of orders. The fill window runs on the
# day-spine frame, not the fact table. Oracle: generate_series +
# IGNORE NULLS window.
# --------------------------------------------------------------------------
@register("daily_revenue_gapfill", oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         ROUND(SUM(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1),
spine AS (
  SELECT CAST(d AS DATE) AS day
  FROM (SELECT unnest(generate_series(
           (SELECT MIN(day) FROM daily),
           (SELECT MAX(day) FROM daily),
           INTERVAL 1 DAY)) AS d)),
filled AS (
  SELECT s.day,
         COALESCE(d.revenue, 0.0) AS revenue,
         d.revenue IS NULL AS is_gap,
         LAST_VALUE(d.revenue IGNORE NULLS) OVER (
           ORDER BY s.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_active_revenue
  FROM spine s LEFT JOIN daily d USING (day))
SELECT day, revenue, is_gap, last_active_revenue FROM filled
""")
def daily_revenue_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    daily = (orders.groupBy(F.to_date("o_orderdate").alias("day"))
                   .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue")))
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day"))
    w = (Window.orderBy("day")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (spine.join(daily, "day", "left")
                 .select("day",
                         F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
                         F.col("revenue").isNull().alias("is_gap"),
                         F.last("revenue", ignorenulls=True).over(w)
                          .alias("last_active_revenue")))


# --------------------------------------------------------------------------
# event_transition_matrix — first-order Markov transitions over each
# user's event stream: counts and exact-integer probabilities (ppm) of
# event_type following event_type. The sequence-mining primitive behind
# next-action prediction features and behavioral anomaly scoring.
#
# Scale shape: ONE shuffle of the fact table (hash(user_id)) feeds the
# lag window; everything after operates on |types|² rows. The
# row-normalization denominator comes from a window over the tiny
# transition matrix, and the probability is integer `div` on exact
# counts — partition-count invariant, no float summation anywhere.
# Reference parity: no sequence analytics exists in the reference; this
# extends SURVEY.md §2.5 (W5 lag) into n-gram-on-events territory.
# --------------------------------------------------------------------------
@register("event_transition_matrix", oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events),
trans AS (
  SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type)
SELECT prev_type, event_type, n_trans,
       CAST((1000000 * n_trans)
            // SUM(n_trans) OVER (PARTITION BY prev_type)
            AS BIGINT) AS prob_ppm
FROM trans
""")
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (ev.withColumn("prev_type", F.lag("event_type").over(w))
               .where(F.col("prev_type").isNotNull())
               .groupBy("prev_type", "event_type")
               .agg(F.count("*").alias("n_trans")))
    return trans.select(
        "prev_type", "event_type",
        F.col("n_trans").cast("long").alias("n_trans"),
        F.expr("(1000000 * n_trans) div sum(n_trans) over "
               "(partition by prev_type)").cast("long").alias("prob_ppm"))


# --------------------------------------------------------------------------
# weekly_brand_rank_shift — trending analysis: per-week brand revenue
# leaderboard with week-over-week rank movement. Composes the two
# window axes orthogonally: rank WITHIN each week (partition by week),
# then lag ACROSS weeks (partition by brand) — the "what moved this
# week" dashboard primitive.
#
# Scale shape: one partial-before-exchange aggregate collapses the fact
# table to |weeks| x |brands| rows; both windows and the final compare
# run on that tiny frame. Revenue is exact integer micro units, ranks
# take brand as tie-break — partition-count invariant end to end.
# --------------------------------------------------------------------------
_WEEK_REV_MICRO_SQL = ("CAST(ROUND(l_extendedprice * 100) AS BIGINT) "
                       "* (100 - CAST(ROUND(l_discount * 100) AS BIGINT))")


@register("weekly_brand_rank_shift", oracle=f"""
WITH weekly AS (
  SELECT CAST(DATE_TRUNC('week', l_shipdate) AS DATE) AS week_start,
         p_brand,
         CAST(SUM({_WEEK_REV_MICRO_SQL}) AS BIGINT) AS revenue_micro
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1, 2),
ranked AS (
  SELECT week_start, p_brand, revenue_micro,
         CAST(ROW_NUMBER() OVER (PARTITION BY week_start
                                 ORDER BY revenue_micro DESC, p_brand ASC)
              AS INT) AS rk
  FROM weekly),
-- the lag must see EVERY week's rank (a brand outside last week's top 5
-- still has a rank to fall from), so it runs in its own block BEFORE
-- the top-5 cut: a bare WHERE here would filter ahead of the same-block
-- window function.
shifted AS (
  SELECT week_start, p_brand, revenue_micro, rk,
         CAST(LAG(rk) OVER (PARTITION BY p_brand ORDER BY week_start)
              AS INT) AS prev_rk
  FROM ranked)
SELECT week_start, p_brand, revenue_micro, rk, prev_rk,
       CAST(prev_rk - rk AS INT) AS rank_gain
FROM shifted
WHERE rk <= 5
""")
def weekly_brand_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.date_trunc("week", "l_shipdate").cast("date").alias("week_start"),
        F.expr(_WEEK_REV_MICRO_SQL).alias("rev"))
    weekly = (li.join(F.broadcast(part),
                      F.col("l_partkey") == F.col("p_partkey"))
                .groupBy("week_start", "p_brand")
                .agg(F.sum("rev").cast("long").alias("revenue_micro")))
    rank_w = (Window.partitionBy("week_start")
                    .orderBy(F.col("revenue_micro").desc(),
                             F.col("p_brand").asc()))
    lag_w = Window.partitionBy("p_brand").orderBy("week_start")
    ranked = weekly.withColumn("rk", F.row_number().over(rank_w).cast("int"))
    return (ranked.withColumn("prev_rk", F.lag("rk").over(lag_w).cast("int"))
                  .where(F.col("rk") <= 5)
                  .select("week_start", "p_brand", "revenue_micro", "rk",
                          "prev_rk",
                          (F.col("prev_rk") - F.col("rk")).cast("int")
                           .alias("rank_gain")))


# --------------------------------------------------------------------------
# daily_peak_concurrency — sweep-line interval analytics: the peak
# number of SIMULTANEOUSLY active sessions per day (the capacity-
# planning metric). Sessions come from the same >30-min-gap
# sessionization as user_sessions; each session becomes a (+1 at start,
# -1 at end) event pair, a per-day running sum sweeps the timeline, and
# the day's max is the peak. A session is attributed to its START day
# (the 30-min-gap sessions of this corpus essentially never straddle
# midnight; a splitter would clip intervals at day bounds with the same
# plan shape).
#
# Determinism: the sweep orders by (t, delta DESC) so simultaneous
# starts count as concurrent before any end applies; equal-key rows are
# interchangeable under a running sum, and both engines' default RANGE
# frame treats them as peers identically — the per-day MAX is
# partition-count invariant.
#
# Scale shape: sessionization is the one fact-table exchange
# (hash(user_id)); the sweep runs over |sessions| * 2 boundary points
# partitioned BY DAY — each day's timeline sorts independently, so no
# global sort exists anywhere.
# --------------------------------------------------------------------------
@register("daily_peak_concurrency", oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR DATE_DIFF('microseconds', LAG(ts) OVER w, ts) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged),
iv AS (
  SELECT user_id, session_id, MIN(ts) AS st, MAX(ts) AS en
  FROM sessions GROUP BY user_id, session_id),
pts AS (
  SELECT CAST(st AS DATE) AS day, st AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT CAST(st AS DATE) AS day, en AS t, -1 AS delta FROM iv),
run AS (
  SELECT day,
         SUM(delta) OVER (PARTITION BY day ORDER BY t, delta DESC)
           AS concurrent
  FROM pts)
SELECT r.day,
       CAST(MAX(r.concurrent) AS INT) AS peak_concurrency,
       CAST((SELECT COUNT(*) FROM iv i WHERE CAST(i.st AS DATE) = r.day)
            AS BIGINT) AS n_sessions
FROM run r GROUP BY r.day
""")
def daily_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts"))
    sessions = (events
                .withColumn("new_session",
                            F.when(gap_us.isNull()
                                   | (gap_us > 1800 * 1000 * 1000), 1)
                             .otherwise(0))
                .withColumn("session_id",
                            F.sum("new_session").over(
                                w.rowsBetween(Window.unboundedPreceding,
                                              Window.currentRow))))
    iv = (sessions.groupBy("user_id", "session_id")
                  .agg(F.min("ts").alias("st"), F.max("ts").alias("en")))
    # iv feeds both sweep-point branches AND the session-count arm. A
    # persist+pin was tried in r11 and REVERTED by the closing bench
    # (0.91 -> 1.56 s, x1.7): under the session's wide-initial AQE
    # cached-plan re-planning, materializing the |sessions| frame costs
    # more than the duplicated sessionization windows save at sf0.1.
    # At corpus scale the duplication is 3 window passes — revisit with
    # a cluster-scale measurement before re-pinning.
    pts = (iv.select(F.to_date("st").alias("day"), F.col("st").alias("t"),
                     F.lit(1).alias("delta"))
             .unionByName(
                 iv.select(F.to_date("st").alias("day"),
                           F.col("en").alias("t"),
                           F.lit(-1).alias("delta"))))
    sweep = Window.partitionBy("day").orderBy(F.col("t").asc(),
                                              F.col("delta").desc())
    run = pts.withColumn("concurrent", F.sum("delta").over(sweep))
    peaks = (run.groupBy("day")
                .agg(F.max("concurrent").cast("int")
                      .alias("peak_concurrency")))
    starts = (iv.groupBy(F.to_date("st").alias("day"))
                .agg(F.count("*").alias("n_sessions")))
    return (peaks.join(starts, "day")
                 .select("day", "peak_concurrency",
                         F.col("n_sessions").cast("long")
                          .alias("n_sessions")))


# --------------------------------------------------------------------------
# purchase_attribution — last-touch marketing attribution: each purchase
# is credited to the user's most recent click no older than the
# attribution horizon (7 days). Composes the engine's scalable as-of
# join (union + last-ignorenulls, ONE shuffle on user_id — see
# operators/asof.py) with a horizon POST-FILTER: the as-of match is the
# latest click ever, and the window test then decides attributed vs
# organic — no inequality join anywhere. Clicks pre-dedupe to distinct
# (user, ts), making the as-of pick well-defined (the operator's
# uniqueness contract); attribution rate is exact integer ppm.
#
# At 100 TB: |purchases| + |clicks| rows through one exchange, a
# per-key ordered pass, then a |days|-sized aggregate. The oracle uses
# DuckDB's native ASOF JOIN — the rewrite's equivalence is itself what
# the gate checks.
# --------------------------------------------------------------------------
ATTR_WINDOW_US = 7 * 24 * 3600 * 1000 * 1000  # 7 days in microseconds


@register("purchase_attribution", oracle=f"""
WITH purchases AS (
  SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
clicks AS (
  SELECT DISTINCT user_id, ts AS click_ts FROM events
  WHERE event_type = 'click'),
j AS (
  SELECT p.user_id, p.ts, c.click_ts
  FROM purchases p
  ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND p.ts >= c.click_ts)
SELECT CAST(ts AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(COUNT(CASE WHEN DATE_DIFF('microseconds', click_ts, ts)
                            <= {ATTR_WINDOW_US} THEN 1 END) AS BIGINT)
         AS n_attributed,
       CAST((1000000 * COUNT(CASE WHEN DATE_DIFF('microseconds',
                                                 click_ts, ts)
                                       <= {ATTR_WINDOW_US} THEN 1 END))
            // COUNT(*) AS BIGINT) AS attribution_ppm
FROM j GROUP BY CAST(ts AS DATE)
""")
def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.operators.asof import asof_join
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type")
    purchases = ev.where(F.col("event_type") == "purchase") \
                  .select("user_id", "ts")
    clicks = (ev.where(F.col("event_type") == "click")
                .select("user_id", F.col("ts").alias("click_ts"))
                .distinct()
                .withColumn("click_ts_v", F.col("click_ts")))
    j = asof_join(purchases, clicks, on=["user_id"],
                  left_ts="ts", right_ts="click_ts",
                  value_cols=["click_ts_v"])
    in_window = (F.timestamp_diff("MICROSECOND", F.col("click_ts_v"),
                                  F.col("ts")) <= ATTR_WINDOW_US)
    attributed = F.count(F.when(in_window, F.lit(1)))
    return (j.groupBy(F.to_date("ts").alias("day"))
             .agg(F.count("*").alias("n_purchases"),
                  attributed.alias("n_attributed"))
             .select("day",
                     F.col("n_purchases").cast("long").alias("n_purchases"),
                     F.col("n_attributed").cast("long").alias("n_attributed"),
                     F.expr("(1000000 * n_attributed) div n_purchases")
                      .cast("long").alias("attribution_ppm")))


# --------------------------------------------------------------------------
# seasonal_naive_eval — forecast-accuracy evaluation as a query: score
# the weekly seasonal-naive forecast (predict day d with day d-7) of
# daily revenue per order priority, reporting MAE and the count of
# scored days in exact integer cents — the baseline every production
# forecast must beat, continuously measured where the data lives (the
# same evaluation-as-a-query contract as the ANN/dedup recall evals).
#
# The lag-7 is BY POSITION over the calendar-complete day spine (gap
# days count as zero revenue — they are real zero-sales days, and
# without densification lag(7) would silently compare across gaps).
# Shape: one aggregate to (priority, day), a per-priority calendar
# spine from the GLOBAL date bounds (explode(sequence) of a 1-row
# aggregate — every group scores the same horizon), a lag window over
# the tiny frame, one summary row per priority.
# --------------------------------------------------------------------------
@register("seasonal_naive_eval", oracle="""
WITH daily AS (
  SELECT o_orderpriority,
         CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2),
bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
spine AS (
  SELECT p.o_orderpriority, d.day
  FROM (SELECT DISTINCT o_orderpriority FROM daily) p
  CROSS JOIN (SELECT UNNEST(GENERATE_SERIES((SELECT lo FROM bounds),
                                            (SELECT hi FROM bounds),
                                            INTERVAL 1 DAY))::DATE
                AS day) d),
filled AS (
  SELECT s.o_orderpriority, s.day, COALESCE(d.cents, 0) AS cents
  FROM spine s LEFT JOIN daily d
    ON d.o_orderpriority = s.o_orderpriority AND d.day = s.day),
scored AS (
  SELECT o_orderpriority, cents,
         LAG(cents, 7) OVER (PARTITION BY o_orderpriority
                             ORDER BY day) AS forecast
  FROM filled)
SELECT o_orderpriority,
       CAST(COUNT(forecast) AS BIGINT) AS n_days_scored,
       CAST(SUM(ABS(cents - forecast)) AS BIGINT) AS total_abs_err_cents,
       CAST(SUM(ABS(cents - forecast)) // COUNT(forecast) AS BIGINT)
         AS mae_cents
FROM scored WHERE forecast IS NOT NULL
GROUP BY o_orderpriority
""")
def seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.to_date("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    # daily feeds bounds + the priority spine + the fill join — three
    # references, each of which would re-run the orders scan +
    # aggregate. |priorities| x |days| rows.
    daily = state.pinned(
        spark, ("seasonal_naive_eval:daily", sf_dir),
        lambda: (orders.groupBy("o_orderpriority", "day")
                       .agg(F.sum("cents").cast("long").alias("cents"))))
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    days = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day"))
    prios = daily.select("o_orderpriority").distinct()
    spine = prios.crossJoin(F.broadcast(days))
    filled = (spine.join(daily, ["o_orderpriority", "day"], "left")
                   .select("o_orderpriority", "day",
                           F.coalesce("cents", F.lit(0)).alias("cents")))
    w = Window.partitionBy("o_orderpriority").orderBy("day")
    scored = (filled.withColumn("forecast", F.lag("cents", 7).over(w))
                    .where(F.col("forecast").isNotNull()))
    return (scored.groupBy("o_orderpriority")
                  .agg(F.count("forecast").alias("n_days_scored"),
                       F.sum(F.abs(F.col("cents") - F.col("forecast")))
                        .cast("long").alias("total_abs_err_cents"))
                  .select("o_orderpriority",
                          F.col("n_days_scored").cast("long")
                           .alias("n_days_scored"),
                          "total_abs_err_cents",
                          F.expr("total_abs_err_cents div n_days_scored")
                           .cast("long").alias("mae_cents")))


# --------------------------------------------------------------------------
# events_l_diversity — the privacy audit k-anonymity alone misses: a
# quasi-identifier bucket can be population-large (k passes) yet still
# attributable if few DISTINCT identities generated it. Same QI
# bucketing as events_k_anonymity; l = distinct user_id per bucket;
# buckets below the diversity floor are the at-risk report. One
# grouped aggregate computing k and l together — the audit costs one
# shuffle, shared with its k-anonymity sibling if run in one pass.
# --------------------------------------------------------------------------
L_DIV_THRESHOLD = 3


@register("events_l_diversity", oracle=f"""
SELECT event_type,
       CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
       CAST(FLOOR(value / 10) AS BIGINT) AS value_decade,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS l
FROM events
GROUP BY 1, 2, 3
HAVING COUNT(DISTINCT user_id) < {L_DIV_THRESHOLD}
""")
def events_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (ev.groupBy(
                "event_type",
                F.hour("ts").cast("long").alias("hour_of_day"),
                F.floor(F.col("value") / 10).cast("long")
                 .alias("value_decade"))
              .agg(F.count("*").cast("long").alias("k"),
                   F.count_distinct("user_id").cast("long").alias("l"))
              .where(F.col("l") < L_DIV_THRESHOLD))


# --------------------------------------------------------------------------
# events_user_retention — classic cohort retention triangle: users
# grouped by first-active week (the cohort), each later week's distinct
# active users counted at their week offset. The growth-analytics
# staple every event warehouse serves, and a shape the engine otherwise
# lacks: a per-entity MIN baseline joined back onto the entity's own
# activity stream.
#
# Scale: distinct (user, week) first (the big reduction, one shuffle
# partial-combined map-side); cohorts are a per-user MIN over that
# already-reduced frame; the join back is user-keyed on the reduced
# frame, never on raw events. Weeks are Monday-truncated in both
# engines, so offsets are exact multiples of 7 days.
# --------------------------------------------------------------------------
@register("events_user_retention", oracle="""
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id)
SELECT c.cohort_week,
       CAST(datediff('day', c.cohort_week, u.week) / 7 AS BIGINT)
         AS week_offset,
       CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n_users
FROM uw u JOIN cohort c USING (user_id)
GROUP BY 1, 2
""")
def events_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    # uw feeds the cohort aggregate AND the retention join — two
    # references, each of which would re-run the events scan + distinct
    # shuffle. |users| x |weeks| rows.
    uw = state.pinned(
        spark, ("events_user_retention:uw", sf_dir),
        lambda: (ev.where(F.col("ts").isNotNull()
                          & F.col("user_id").isNotNull())
                   .select("user_id",
                           F.date_trunc("week", "ts").cast("date")
                            .alias("week"))
                   .distinct()))
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (uw.join(cohort, "user_id")
              .groupBy("cohort_week",
                       (F.datediff("week", "cohort_week") / 7).cast("long")
                        .alias("week_offset"))
              .agg(F.count_distinct("user_id").cast("long")
                    .alias("n_users")))


# --------------------------------------------------------------------------
# events_funnel_conversion — the aggregate funnel report on top of
# user_funnel's ordered-step semantics (signup -> click -> purchase,
# each step's timestamp being the first qualifying event at-or-after
# the previous step): one row per step with the user count, the
# step-over-step conversion rate, and the conversion from the funnel
# top. This is the report a growth dashboard renders; user_funnel is
# its per-user detail.
#
# Scale shape: the per-user staging is the same single user_id Exchange
# as user_funnel (three conditional-min windows over one partitioning);
# the funnel rollup is a one-row global aggregate (partial-combined),
# and the 3-step unpivot runs on that single row. Nothing beyond the
# one per-user shuffle grows with the corpus.
#
# Determinism: counts are exact integers; rates divide two exact
# integers once, ROUND(..., 4) on both engines.
# --------------------------------------------------------------------------
@register("events_funnel_conversion", oracle="""
WITH s AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
  FROM events GROUP BY user_id),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN s ON s.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts >= s.t_signup
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
  GROUP BY e.user_id),
f AS (
  SELECT COUNT(s.t_signup)   AS n1,
         COUNT(c.t_click)    AS n2,
         COUNT(p.t_purchase) AS n3
  FROM s LEFT JOIN c ON c.user_id = s.user_id
         LEFT JOIN p ON p.user_id = s.user_id)
SELECT 1 AS step_idx, 'signup' AS step, CAST(n1 AS BIGINT) AS n_users,
       CASE WHEN n1 > 0 THEN ROUND(1.0, 4) END AS conv_from_prev,
       CASE WHEN n1 > 0 THEN ROUND(1.0, 4) END AS conv_from_first
FROM f
UNION ALL
SELECT 2, 'click', CAST(n2 AS BIGINT),
       CASE WHEN n1 > 0 THEN ROUND(n2 * 1.0 / n1, 4) END,
       CASE WHEN n1 > 0 THEN ROUND(n2 * 1.0 / n1, 4) END
FROM f
UNION ALL
SELECT 3, 'purchase', CAST(n3 AS BIGINT),
       CASE WHEN n2 > 0 THEN ROUND(n3 * 1.0 / n2, 4) END,
       CASE WHEN n1 > 0 THEN ROUND(n3 * 1.0 / n1, 4) END
FROM f
""")
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t_signup = F.min(F.when(F.col("event_type") == "signup",
                            F.col("ts"))).over(w)
    staged = ev.withColumn("t_signup", t_signup)
    t_click = F.min(F.when((F.col("event_type") == "click")
                           & (F.col("ts") >= F.col("t_signup")),
                           F.col("ts"))).over(w)
    staged = staged.withColumn("t_click", t_click)
    t_purchase = F.min(F.when((F.col("event_type") == "purchase")
                              & (F.col("ts") >= F.col("t_click")),
                              F.col("ts"))).over(w)
    staged = staged.withColumn("t_purchase", t_purchase)
    per_user = (staged
                .select("user_id", "t_signup", "t_click", "t_purchase")
                .distinct())
    f = per_user.agg(
        F.count("t_signup").alias("n1"),
        F.count("t_click").alias("n2"),
        F.count("t_purchase").alias("n3"))
    n1, n2, n3 = F.col("n1"), F.col("n2"), F.col("n3")
    rate = lambda num, den: F.when(den > 0, F.round(num * 1.0 / den, 4))
    steps = f.select(F.explode(F.array(
        F.struct(F.lit(1).alias("step_idx"), F.lit("signup").alias("step"),
                 n1.cast("long").alias("n_users"),
                 rate(n1, n1).alias("conv_from_prev"),
                 rate(n1, n1).alias("conv_from_first")),
        F.struct(F.lit(2).alias("step_idx"), F.lit("click").alias("step"),
                 n2.cast("long").alias("n_users"),
                 rate(n2, n1).alias("conv_from_prev"),
                 rate(n2, n1).alias("conv_from_first")),
        F.struct(F.lit(3).alias("step_idx"), F.lit("purchase").alias("step"),
                 n3.cast("long").alias("n_users"),
                 rate(n3, n2).alias("conv_from_prev"),
                 rate(n3, n1).alias("conv_from_first")),
    )).alias("r")).select("r.*")
    return steps


# --------------------------------------------------------------------------
# events_t_closeness — completes the classic privacy-audit triad
# (k-anonymity, l-diversity, t-closeness; Li et al., ICDE 2007): a
# bucket can be large (k passes) AND identity-diverse (l passes) yet
# still leak if its SENSITIVE-VALUE distribution diverges from the
# corpus — membership alone then predicts the sensitive attribute.
# QI here is (event_type, hour_of_day); the sensitive attribute is the
# ordered value decade; t is the Earth Mover's Distance between each
# bucket's decade distribution and the global one, which for ordered
# categories is the mean absolute CUMULATIVE difference. Every bucket
# is reported with its t (the full audit table, not just the at-risk
# slice — thresholds are a policy choice).
#
# Determinism: per-decade cumulative differences use the common
# denominator n_b * g, so every term is the exact integer
# n_bd * g - g_d * n_b; the final EMD is one integer division to ppm,
# with the 1e6 scale-up computed in decimal(38,0) / HUGEINT so large
# corpora can't overflow int64. Scale: one shuffle builds the
# (QI, decade) counts; everything after runs on the |QI| x |decades|
# frame (the window orders DECADES within a bucket, never rows).
# --------------------------------------------------------------------------
@register("events_t_closeness", oracle="""
WITH b AS (
  SELECT event_type,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
         CAST(FLOOR(value / 10) AS BIGINT) AS dec,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3),
qi AS (SELECT event_type, hour_of_day, SUM(n) AS n_b FROM b GROUP BY 1, 2),
g AS (SELECT dec, SUM(n) AS g_d FROM b GROUP BY dec),
tot AS (SELECT SUM(g_d) AS g, COUNT(*) AS m FROM g),
dense AS (
  SELECT q.event_type, q.hour_of_day, q.n_b, g.dec, g.g_d,
         COALESCE(b.n, 0) AS n_bd
  FROM qi q CROSS JOIN g
  LEFT JOIN b ON b.event_type = q.event_type
             AND b.hour_of_day = q.hour_of_day AND b.dec = g.dec),
cum AS (
  SELECT d.event_type, d.hour_of_day, d.n_b, t.g, t.m,
         SUM(d.n_bd * t.g - d.g_d * d.n_b)
           OVER (PARTITION BY d.event_type, d.hour_of_day
                 ORDER BY d.dec ASC) AS cnum
  FROM dense d, tot t)
SELECT event_type, hour_of_day, CAST(MAX(n_b) AS BIGINT) AS k,
       CASE WHEN MAX(m) > 1 THEN
         CAST((1000000 * SUM(ABS(cnum)))
              // ((MAX(m) - 1) * MAX(n_b) * MAX(g)) AS BIGINT)
       ELSE CAST(0 AS BIGINT) END AS t_ppm
FROM cum GROUP BY event_type, hour_of_day
""")
def events_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    # b feeds qi, g AND the dense join — three references, each of which
    # would re-run the corpus shuffle. |QI| x |decades| rows.
    b = state.pinned(
        spark, ("events_t_closeness:b", sf_dir),
        lambda: (ev.groupBy("event_type",
                            F.hour("ts").cast("long").alias("hour_of_day"),
                            F.floor(F.col("value") / 10).cast("long")
                             .alias("dec"))
                   .agg(F.count("*").cast("long").alias("n"))))
    qi = b.groupBy("event_type", "hour_of_day").agg(F.sum("n").alias("n_b"))
    g = b.groupBy("dec").agg(F.sum("n").alias("g_d"))
    tot = g.agg(F.sum("g_d").alias("g"), F.count("*").alias("m"))
    dense = (qi.crossJoin(F.broadcast(g))
               .join(b, ["event_type", "hour_of_day", "dec"], "left")
               .withColumn("n_bd", F.coalesce("n", F.lit(0)))
               .crossJoin(F.broadcast(tot)))
    w = (Window.partitionBy("event_type", "hour_of_day")
               .orderBy(F.col("dec").asc())
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = dense.withColumn(
        "cnum", F.sum(F.col("n_bd") * F.col("g")
                      - F.col("g_d") * F.col("n_b")).over(w))
    dec38 = "decimal(38,0)"
    return (cum.groupBy("event_type", "hour_of_day")
               .agg(F.max("n_b").alias("n_b"), F.max("g").alias("gt"),
                    F.max("m").alias("m"),
                    F.sum(F.abs("cnum")).alias("sum_abs"))
               .select("event_type", "hour_of_day",
                       F.col("n_b").cast("long").alias("k"),
                       # Single-decade guard: m = 1 makes the
                       # EMD denominator (m-1) zero — but t is trivially 0
                       # there (every per-decade term cancels), so emit 0
                       # instead of ANSI DIVIDE_BY_ZERO in either engine.
                       F.when(F.col("m") > 1,
                              (F.lit(1000000).cast(dec38)
                               * F.col("sum_abs").cast(dec38)
                               / ((F.col("m") - 1).cast(dec38)
                                  * F.col("n_b").cast(dec38)
                                  * F.col("gt").cast(dec38)))
                              .cast("long"))
                        .otherwise(F.lit(0).cast("long")).alias("t_ppm")))


# --------------------------------------------------------------------------
# orders_survival_km — Kaplan-Meier survival curve of customer reorder
# gaps: the time-to-event primitive (churn/retention modeling) the
# temporal family lacked. Observations: every consecutive-order gap is
# an EVENT at t = gap days; every customer's tail (last order -> corpus
# max date) is a CENSORED observation — the standard right-censored
# setup. S(t) = prod_{t_i <= t} (1 - d_i / n_i) over event times.
#
# Determinism across engines: each event time's ln(1 - d/n) is snapped
# to integer NANO-units before the cumulative sum (the
# corpus_unigram_logprob discipline), so the product becomes an integer
# cumsum and exp() of an identical double in both engines; d, n are
# exact integers. A time where d == n (everyone at risk dies) drives
# S to exactly 0 from there on (MAX(dead) over the prefix).
#
# 100 TB shape: one lag window partitioned ON CUSTOMER (the natural
# key, millions of partitions), one groupBy(t) to a frame bounded by
# DISTINCT GAP LENGTHS (days — thousands at most), and the only
# unpartitioned windows run over that post-aggregate frame. Nothing
# row-scale ever converges on one partition.
# --------------------------------------------------------------------------
@register("orders_survival_km", oracle="""
WITH o AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders),
mx AS (SELECT MAX(d) AS mxd FROM o),
seq AS (
  SELECT o_custkey, d,
         LAG(d) OVER (PARTITION BY o_custkey
                      ORDER BY d ASC, o_orderkey ASC) AS prev
  FROM o),
ev AS (SELECT DATE_DIFF('day', prev, d) AS t
       FROM seq WHERE prev IS NOT NULL),
cen AS (SELECT DATE_DIFF('day', MAX(d), (SELECT mxd FROM mx)) AS t
        FROM o GROUP BY o_custkey),
obs AS (SELECT t, 1 AS e FROM ev UNION ALL SELECT t, 0 AS e FROM cen),
agg AS (SELECT t, SUM(e) AS d_t, COUNT(*) AS a_t FROM obs GROUP BY t),
tot AS (SELECT SUM(a_t) AS n FROM agg),
cum AS (
  SELECT t, d_t,
         (SELECT n FROM tot)
           - COALESCE(SUM(a_t) OVER (ORDER BY t ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS n_risk
  FROM agg),
evt AS (
  SELECT t, d_t, n_risk,
         CASE WHEN d_t < n_risk THEN
           CAST(ROUND(ln(1.0::DOUBLE - CAST(d_t AS DOUBLE)
                         / CAST(n_risk AS DOUBLE)) * 1000000000) AS BIGINT)
         ELSE 0 END AS lnu,
         CASE WHEN d_t >= n_risk THEN 1 ELSE 0 END AS dead
  FROM cum WHERE d_t > 0),
km AS (
  SELECT t, d_t, n_risk,
         SUM(lnu) OVER (ORDER BY t ASC) AS cln,
         MAX(dead) OVER (ORDER BY t ASC) AS anydead
  FROM evt)
SELECT CAST(t AS BIGINT) AS t_days,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d_t AS BIGINT) AS n_events,
       CASE WHEN anydead = 1 THEN CAST(0 AS BIGINT)
            ELSE CAST(ROUND(exp(CAST(cln AS DOUBLE) / 1000000000)
                            * 1000000) AS BIGINT) END AS survival_ppm
FROM km
""")
def orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"))
    mx = o.agg(F.max("d").alias("mxd"))
    w_seq = (Window.partitionBy("o_custkey")
                   .orderBy(F.col("d").asc(), F.col("o_orderkey").asc()))
    ev = (o.withColumn("prev", F.lag("d").over(w_seq))
           .where(F.col("prev").isNotNull())
           .select(F.datediff("d", "prev").alias("t"),
                   F.lit(1).alias("e")))
    cen = (o.groupBy("o_custkey").agg(F.max("d").alias("last_d"))
            .crossJoin(F.broadcast(mx))
            .select(F.datediff("mxd", "last_d").alias("t"),
                    F.lit(0).alias("e")))
    obs = ev.unionByName(cen)
    agg = obs.groupBy("t").agg(F.sum("e").alias("d_t"),
                               F.count("*").alias("a_t"))
    tot = agg.agg(F.sum("a_t").alias("n"))
    w_cum = (Window.orderBy(F.col("t").asc())
                   .rowsBetween(Window.unboundedPreceding, -1))
    cum = (agg.crossJoin(F.broadcast(tot))
              .withColumn("n_risk",
                          F.col("n")
                          - F.coalesce(F.sum("a_t").over(w_cum), F.lit(0))))
    evt = (cum.where(F.col("d_t") > 0)
              .select("t", "d_t", "n_risk",
                      F.when(F.col("d_t") < F.col("n_risk"),
                             F.round(F.log(F.lit(1.0)
                                           - F.col("d_t").cast("double")
                                           / F.col("n_risk").cast("double"))
                                     * F.lit(1e9)).cast("long"))
                       .otherwise(F.lit(0).cast("long")).alias("lnu"),
                      F.when(F.col("d_t") >= F.col("n_risk"), 1)
                       .otherwise(0).alias("dead")))
    w_km = Window.orderBy(F.col("t").asc())
    km = evt.select("t", "d_t", "n_risk",
                    F.sum("lnu").over(w_km).alias("cln"),
                    F.max("dead").over(w_km).alias("anydead"))
    return km.select(
        F.col("t").cast("long").alias("t_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d_t").cast("long").alias("n_events"),
        F.when(F.col("anydead") == 1, F.lit(0).cast("long"))
         .otherwise(F.round(F.exp(F.col("cln").cast("double") / F.lit(1e9))
                            * 1000000).cast("long")).alias("survival_ppm"))


# --------------------------------------------------------------------------
# events_ab_test_eval — deterministic-hash experiment evaluation, the
# online-experimentation primitive the engine lacked: users are
# assigned to variant A/B by md5 parity of the user id (the idempotent,
# coordination-free assignment a real platform uses), conversion is
# "reached a purchase event", and the readout is the two-proportion
# pooled z statistic plus the rate lift.
#
# Determinism: assignment is the 60-bit md5 bigint mod 2 — identical in
# both engines; counts are exact integers; the rates are integer-ppm
# floor divisions; z is one fixed-order double chain over those exact
# integers, rounded to milli-units. Degenerate splits (either arm
# empty, or pooled rate 0/1 -> zero variance) yield NULL — the rates
# and lift are guarded on their own arm counts (n_a > 0 / n_b > 0) and
# z on both plus nonzero variance — so no path raises an ANSI divide
# error, in Spark or in the DuckDB oracle.
#
# 100 TB shape: ONE groupBy(user) over the event log (map-side partial
# on the conversion flag), then a 1-row conditional aggregate. Nothing
# else shuffles.
# --------------------------------------------------------------------------
@register("events_ab_test_eval", oracle="""
WITH u AS (
  SELECT user_id,
         ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
           ::BIGINT % 2 AS variant,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id),
s AS (
  SELECT SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS conv_a,
         SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
         SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS conv_b
  FROM u)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
       CAST(CASE WHEN n_a > 0
                 THEN (1000000 * conv_a) // n_a END AS BIGINT) AS rate_a_ppm,
       CAST(CASE WHEN n_b > 0
                 THEN (1000000 * conv_b) // n_b END AS BIGINT) AS rate_b_ppm,
       CAST(CASE WHEN n_a > 0 AND n_b > 0
                 THEN (1000000 * conv_b) // n_b
                      - (1000000 * conv_a) // n_a END AS BIGINT) AS lift_ppm,
       CASE WHEN n_a > 0 AND n_b > 0
                 AND conv_a + conv_b > 0
                 AND conv_a + conv_b < n_a + n_b THEN
         CAST(ROUND(1000.0::DOUBLE
              * (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                 - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
              / sqrt((CAST(conv_a + conv_b AS DOUBLE)
                      / CAST(n_a + n_b AS DOUBLE))
                     * (1.0::DOUBLE - CAST(conv_a + conv_b AS DOUBLE)
                        / CAST(n_a + n_b AS DOUBLE))
                     * (1.0::DOUBLE / CAST(n_a AS DOUBLE)
                        + 1.0::DOUBLE / CAST(n_b AS DOUBLE))))
              AS BIGINT) END AS z_milli
FROM s
""")
def events_ab_test_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    variant = (F.conv(F.substring(
        F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
        1, 15), 16, 10).cast("long") % 2)
    u = (ev.groupBy("user_id")
           .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0)).alias("conv"))
           .select(variant.alias("variant"), "conv"))
    s = u.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0))
         .alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0))
         .alias("conv_b"))
    pooled = ((F.col("conv_a") + F.col("conv_b")).cast("double")
              / (F.col("n_a") + F.col("n_b")).cast("double"))
    z = (F.lit(1000.0)
         * (F.col("conv_b").cast("double") / F.col("n_b").cast("double")
            - F.col("conv_a").cast("double") / F.col("n_a").cast("double"))
         / F.sqrt(pooled * (F.lit(1.0) - pooled)
                  * (F.lit(1.0) / F.col("n_a").cast("double")
                     + F.lit(1.0) / F.col("n_b").cast("double"))))
    return s.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("conv_a").cast("long").alias("conv_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("conv_b").cast("long").alias("conv_b"),
        F.expr("CASE WHEN n_a > 0 THEN (1000000 * conv_a) div n_a END")
         .cast("long").alias("rate_a_ppm"),
        F.expr("CASE WHEN n_b > 0 THEN (1000000 * conv_b) div n_b END")
         .cast("long").alias("rate_b_ppm"),
        F.expr("CASE WHEN n_a > 0 AND n_b > 0 THEN "
               "(1000000 * conv_b) div n_b - (1000000 * conv_a) div n_a END")
         .cast("long").alias("lift_ppm"),
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0)
               & (F.col("conv_a") + F.col("conv_b") > 0)
               & (F.col("conv_a") + F.col("conv_b")
                  < F.col("n_a") + F.col("n_b")),
               F.round(z).cast("long")).alias("z_milli"))


# --------------------------------------------------------------------------
# orders_cohort_ltv — the cumulative lifetime-value triangle, the
# revenue companion to user_cohort_retention's activity triangle:
# customers cohorted by FIRST-ORDER month, revenue accumulated per
# months-since-first, each cell reporting the cohort's cumulative
# revenue and per-user LTV so far — the curve a growth team projects
# payback from. Months are (year*12 + month) integers, so there are no
# calendar-arithmetic semantics to diverge on.
#
# Determinism: all revenue is exact integer cents; per-user LTV is an
# integer floor division. 100 TB shape: one groupBy(custkey) window for
# first-order month (the user-keyed clustering), one groupBy(cohort,
# age) aggregate, and the cumulative window runs over the POST-AGGREGATE
# triangle (|cohort months| x |age months| cells), partitioned by
# cohort — never a row-scale or single-partition sort.
# --------------------------------------------------------------------------
@register("orders_cohort_ltv", oracle="""
WITH o AS (
  SELECT o_custkey,
         CAST(EXTRACT(year FROM o_orderdate) * 12
              + EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
f AS (SELECT o_custkey, MIN(m) AS cohort FROM o GROUP BY o_custkey),
cell AS (
  SELECT f.cohort, o.m - f.cohort AS age_months,
         SUM(o.cents) AS revenue_cents
  FROM o JOIN f USING (o_custkey)
  GROUP BY f.cohort, o.m - f.cohort),
cs AS (SELECT cohort, COUNT(*) AS cohort_size FROM f GROUP BY cohort),
cum AS (
  SELECT cohort, age_months, revenue_cents,
         SUM(revenue_cents) OVER (PARTITION BY cohort
                                  ORDER BY age_months ASC) AS cum_cents
  FROM cell)
SELECT c.cohort, CAST(c.age_months AS BIGINT) AS age_months,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       CAST(c.revenue_cents AS BIGINT) AS revenue_cents,
       CAST(c.cum_cents AS BIGINT) AS cum_revenue_cents,
       CAST(c.cum_cents // s.cohort_size AS BIGINT) AS ltv_cents_per_user
FROM cum c JOIN cs s USING (cohort)
""")
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
         .alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    w_first = Window.partitionBy("o_custkey")
    withc = o.withColumn("cohort", F.min("m").over(w_first))
    cell = (withc.groupBy("cohort",
                          (F.col("m") - F.col("cohort")).alias("age_months"))
                 .agg(F.sum("cents").alias("revenue_cents")))
    cs = (withc.select("o_custkey", "cohort").distinct()
               .groupBy("cohort").agg(F.count("*").alias("cohort_size")))
    w_cum = (Window.partitionBy("cohort").orderBy(F.col("age_months").asc())
                   .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = cell.withColumn("cum_cents", F.sum("revenue_cents").over(w_cum))
    return (cum.join(F.broadcast(cs), "cohort")
               .select("cohort",
                       F.col("age_months").cast("long").alias("age_months"),
                       F.col("cohort_size").cast("long").alias("cohort_size"),
                       F.col("revenue_cents").cast("long")
                        .alias("revenue_cents"),
                       F.col("cum_cents").cast("long")
                        .alias("cum_revenue_cents"),
                       F.expr("cum_cents div cohort_size").cast("long")
                        .alias("ltv_cents_per_user")))


# --------------------------------------------------------------------------
# events_cep_pattern_match — complex-event-processing pattern over the
# per-user event sequence: a PURCHASE preceded by a VIEW within
# CEP_WINDOW seconds with NO ERROR in between (MATCH_RECOGNIZE's
# "A ... B within T, no C" shape, expressed as per-user running-state
# windows instead of an NFA). The funnel query counts stage reach;
# this emits the matched instances — the alerting/trigger primitive.
#
# Mechanics: one window partitioned by user ordered by (ts, event_id)
# carries two running values — the latest VIEW time and the latest
# ERROR time seen so far; a purchase matches iff its latest view is
# within the window and no error is newer than that view. Every
# comparison is on exact epoch-microsecond longs.
#
# 100 TB shape: ONE shuffle on user_id; the pattern is two running
# max's over the same partitioning — no self-join, no per-event
# backtracking. Event-time ties break on event_id in both engines.
# --------------------------------------------------------------------------
CEP_WINDOW_S = 3600


@register("events_cep_pattern_match", oracle=f"""
WITH e AS (
  SELECT user_id, event_id, event_type,
         epoch_us(ts) AS tu
  FROM events),
runs AS (
  SELECT user_id, event_id, event_type, tu,
         MAX(CASE WHEN event_type = 'view' THEN tu END)
           OVER (PARTITION BY user_id ORDER BY tu ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_view,
         MAX(CASE WHEN event_type = 'error' THEN tu END)
           OVER (PARTITION BY user_id ORDER BY tu ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_error
  FROM e)
SELECT user_id, event_id AS purchase_event_id,
       CAST(tu - last_view AS BIGINT) AS gap_us
FROM runs
WHERE event_type = 'purchase'
  AND last_view IS NOT NULL
  AND tu - last_view <= {CEP_WINDOW_S}::BIGINT * 1000000
  AND (last_error IS NULL OR last_error < last_view)
""")
def events_cep_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    e = ev.select("user_id", "event_id", "event_type",
                  F.unix_micros("ts").alias("tu"))
    w = (Window.partitionBy("user_id")
               .orderBy(F.col("tu").asc(), F.col("event_id").asc())
               .rowsBetween(Window.unboundedPreceding, -1))
    runs = e.select(
        "user_id", "event_id", "event_type", "tu",
        F.max(F.when(F.col("event_type") == "view", F.col("tu")))
         .over(w).alias("last_view"),
        F.max(F.when(F.col("event_type") == "error", F.col("tu")))
         .over(w).alias("last_error"))
    return (runs.where((F.col("event_type") == "purchase")
                       & F.col("last_view").isNotNull()
                       & (F.col("tu") - F.col("last_view")
                          <= CEP_WINDOW_S * 1_000_000)
                       & (F.col("last_error").isNull()
                          | (F.col("last_error") < F.col("last_view"))))
                .select("user_id",
                        F.col("event_id").alias("purchase_event_id"),
                        (F.col("tu") - F.col("last_view")).cast("long")
                         .alias("gap_us")))


# --------------------------------------------------------------------------
# events_power_analysis — experiment sizing from the observed arms: with
# the md5-parity A/B assignment's observed conversion rates as the
# planning effect size, the classical two-proportion sample size per arm
# at alpha = 0.05 (two-sided) and 80% power:
#   n = ceil((z_a * sqrt(2 p̄ (1-p̄)) + z_b * sqrt(p1(1-p1) + p2(1-p2)))^2
#            / (p2 - p1)^2)
# The "how long must this test run" readout that belongs next to
# events_ab_test_eval's "is it significant yet" — an experimentation
# platform ships both.
#
# Determinism: counts are exact integers; the z constants are fixed
# literals embedded in both engines; the n formula is ONE fixed-order
# double chain over exact integers, so both engines produce the same
# IEEE double and the same ceil. Degenerate inputs (an empty arm, zero
# observed lift, or a pooled rate of 0/1) yield NULL, never a divide
# error — under ANSI mode too.
#
# 100 TB shape: identical to events_ab_test_eval — ONE groupBy(user)
# over the event log, then a 1-row conditional aggregate.
# --------------------------------------------------------------------------
Z_ALPHA_2 = 1.959963984540054   # Phi^-1(0.975)
Z_BETA_80 = 0.8416212335729143  # Phi^-1(0.80)


@register("events_power_analysis", oracle=f"""
WITH u AS (
  SELECT user_id,
         ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
           ::BIGINT % 2 AS variant,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id),
s AS (
  SELECT SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS conv_a,
         SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
         SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS conv_b
  FROM u),
p AS (
  SELECT n_a, n_b, conv_a, conv_b,
         CAST(conv_a AS DOUBLE) / n_a AS p1,
         CAST(conv_b AS DOUBLE) / n_b AS p2,
         (CAST(conv_a AS DOUBLE) / n_a + CAST(conv_b AS DOUBLE) / n_b)
           / 2.0 AS pbar
  FROM s WHERE n_a > 0 AND n_b > 0),
z AS (
  SELECT *,
         {Z_ALPHA_2} * sqrt(2.0::DOUBLE * pbar * (1.0::DOUBLE - pbar))
         + {Z_BETA_80} * sqrt(p1 * (1.0::DOUBLE - p1)
                              + p2 * (1.0::DOUBLE - p2)) AS num
  FROM p)
SELECT CAST(s.n_a AS BIGINT) AS n_a, CAST(s.n_b AS BIGINT) AS n_b,
       CAST(s.conv_a AS BIGINT) AS conv_a,
       CAST(s.conv_b AS BIGINT) AS conv_b,
       CASE WHEN s.n_a > 0 AND s.n_b > 0
                 AND s.conv_a * s.n_b <> s.conv_b * s.n_a
                 AND z.p1 <> z.p2
                 AND s.conv_a + s.conv_b > 0
                 AND s.conv_a + s.conv_b < s.n_a + s.n_b THEN
         CAST(CEIL((z.num * z.num)
                   / ((z.p2 - z.p1) * (z.p2 - z.p1))) AS BIGINT)
       END AS n_required_per_arm
FROM s LEFT JOIN z ON z.n_a = s.n_a
""")
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    variant = (F.conv(F.substring(
        F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
        1, 15), 16, 10).cast("long") % 2)
    u = (ev.groupBy("user_id")
           .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0)).alias("conv"))
           .select(variant.alias("variant"), "conv"))
    s = u.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0))
         .alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0))
         .alias("conv_b"))
    p1 = F.col("conv_a").cast("double") / F.col("n_a")
    p2 = F.col("conv_b").cast("double") / F.col("n_b")
    pbar = (p1 + p2) / F.lit(2.0)
    num = (F.lit(Z_ALPHA_2)
           * F.sqrt(F.lit(2.0) * pbar * (F.lit(1.0) - pbar))
           + F.lit(Z_BETA_80)
           * F.sqrt(p1 * (F.lit(1.0) - p1) + p2 * (F.lit(1.0) - p2)))
    n_req = F.ceil((num * num) / ((p2 - p1) * (p2 - p1)))
    # Both guards are needed: the integer cross-multiplication is the
    # exact zero-lift test, but rationally distinct rates can still
    # round to bit-equal DOUBLES — and it's the double (p2 - p1) that
    # divides, so a double-equal pair would CEIL(Infinity) and error
    # under ANSI in both engines rather than yield NULL.
    ok = ((F.col("n_a") > 0) & (F.col("n_b") > 0)
          & (F.col("conv_a") * F.col("n_b")
             != F.col("conv_b") * F.col("n_a"))
          & (p1 != p2)
          & (F.col("conv_a") + F.col("conv_b") > 0)
          & (F.col("conv_a") + F.col("conv_b")
             < F.col("n_a") + F.col("n_b")))
    return s.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("conv_a").cast("long").alias("conv_a"),
        F.col("conv_b").cast("long").alias("conv_b"),
        F.when(ok, n_req).cast("long").alias("n_required_per_arm"))
