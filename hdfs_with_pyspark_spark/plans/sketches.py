"""Mergeable-sketch audits: HLL distinct-count sketches with rollup.

The 100 TB capability being exercised: DataSketches HLL sketches
(`hll_sketch_agg`) are MERGEABLE — per-partition / per-group sketches
union into a global estimate (`hll_union_agg`) without re-scanning the
fact table. That is how a cluster answers "distinct users this quarter"
from pre-aggregated daily rollups instead of a quarter-long scan.

Oracle strategy (same evaluation-as-a-query pattern as
`ann_lsh_recall_eval`): the output carries the EXACT distinct counts
(hash-matched against DuckDB) plus boolean within-bound flags computed
Spark-side from the sketch estimates; the oracle asserts the flags TRUE,
so a sketch estimate drifting outside its error bound flips the value
hash and fails the gate. The sketches themselves are deterministic
(DataSketches HLL has no RNG), so the flags are stable.

Reference parity: the reference has no sketch surface (SURVEY.md §2.8
covers only exact scalar functions); this is part of the driver's
extended large-scale-pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_with_pyspark_spark import state
from hdfs_with_pyspark_spark.plans.registry import register
from hdfs_with_pyspark_spark.sources.io import read_table

# Relative-error acceptance bound for the audit flags. Spark's
# hll_sketch_agg default lgConfigK=12 gives rsd ~1.6%; approx_count_
# distinct is called with rsd=0.02. 5% is ~3 standard errors for both.
REL_ERR_BOUND = 0.05


def _within_pct(est: Column, exact: Column, bound: float) -> Column:
    """TRUE iff the estimate is within ``bound`` relative error of exact."""
    return (F.abs(est.cast("double") - exact.cast("double"))
            <= F.lit(bound) * exact.cast("double"))


def _within(est: Column, exact: Column) -> Column:
    """TRUE iff the estimate is within REL_ERR_BOUND of the exact count."""
    return _within_pct(est, exact, REL_ERR_BOUND)


@register("distinct_sketch_audit", oracle="""
SELECT l_returnflag AS grp,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       TRUE AS hll_ok,
       TRUE AS approx_ok
FROM lineitem
GROUP BY l_returnflag
UNION ALL
SELECT 'ALL' AS grp,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       TRUE AS hll_ok,
       TRUE AS approx_ok
FROM lineitem
ORDER BY grp
""")
def distinct_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l_orderkey per return flag and globally, three ways:
    exact COUNT(DISTINCT) (the oracle-matched truth), an HLL
    DataSketch per flag, and HLL++ approx_count_distinct — with the
    per-flag sketches UNIONED (not recomputed) for the global row.

    Scale shape: the exact path is one shuffle on (flag, orderkey); the
    sketch path is map-side partial sketches merged on the reducer —
    constant state per group regardless of input rows. The 'ALL' row
    touches only the |groups| pre-aggregated sketches, which is the
    rollup pattern a 100 TB deployment uses in place of a re-scan.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey")

    per = (li.groupBy("l_returnflag")
             .agg(F.count_distinct("l_orderkey").alias("exact_orders"),
                  F.hll_sketch_agg("l_orderkey").alias("sk"),
                  F.approx_count_distinct("l_orderkey", 0.02).alias("apx"))
             .persist())

    per_rows = per.select(
        F.col("l_returnflag").alias("grp"),
        F.col("exact_orders").cast("long").alias("exact_orders"),
        _within(F.hll_sketch_estimate("sk"),
                F.col("exact_orders")).alias("hll_ok"),
        _within(F.col("apx"), F.col("exact_orders")).alias("approx_ok"))

    # Global row: exact global distinct (one agg over the fact frame)
    # vs the UNION of the per-flag sketches — the merge is the point.
    merged = (per.agg(F.hll_union_agg("sk").alias("sk"))
                 .select(F.hll_sketch_estimate("sk").alias("hll_est")))
    exact_all = li.agg(
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("apx"))
    all_row = (exact_all.crossJoin(merged)  # 1x1
               .select(F.lit("ALL").alias("grp"),
                       F.col("exact_orders").cast("long").alias("exact_orders"),
                       _within(F.col("hll_est"),
                               F.col("exact_orders")).alias("hll_ok"),
                       _within(F.col("apx"),
                               F.col("exact_orders")).alias("approx_ok")))

    out = state.pinned(spark, ("distinct_sketch_audit", sf_dir),
                       lambda: per_rows.unionByName(all_row).orderBy("grp"))
    out.count()        # cut lineage, then release the sketch frame
    per.unpersist()
    return out


# Integer-cents order values (CAST(ROUND(x*100)) — the repo's exact-
# money convention, identical text in Spark and DuckDB) so the discrete
# percentiles are engine-exact, no float interpolation anywhere.
_CENTS_SQL = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"


@register("quantile_sketch_audit", oracle=f"""
SELECT o_orderpriority AS grp,
       CAST(PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY {_CENTS_SQL})
            AS BIGINT) AS p50_cents,
       CAST(PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY {_CENTS_SQL})
            AS BIGINT) AS p90_cents,
       CAST(PERCENTILE_DISC(0.99) WITHIN GROUP (ORDER BY {_CENTS_SQL})
            AS BIGINT) AS p99_cents,
       TRUE AS approx_ok
FROM orders
GROUP BY o_orderpriority
ORDER BY grp
""")
def quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority p50/p90/p99 of order value two ways: exact
    PERCENTILE_DISC (the oracle-matched truth — discrete, so it picks
    real data values and matches DuckDB bit for bit on integer cents)
    and the Greenwald-Khanna quantile sketch (`approx_percentile`,
    accuracy 10000), flagged within a 1% value bound.

    Scale shape: PERCENTILE_DISC needs a per-group sort — affordable
    only because groups are few; the GK sketch is the 100 TB path:
    map-side mergeable summaries, bounded state (O(accuracy) per
    group), one exchange carrying sketches rather than rows. The audit
    keeps both so the cheap path's error is continuously measured
    against the exact one, and a drift past 1% fails the value hash at
    the gate (GK is deterministic — no RNG — so the flag is stable).
    """
    ords = (read_table(spark, sf_dir, "orders")
            .select("o_orderpriority",
                    F.expr(_CENTS_SQL).alias("cents")))
    per = (ords.groupBy("o_orderpriority")
           .agg(*[F.expr(f"percentile_disc({p}) WITHIN GROUP "
                         "(ORDER BY cents)").cast("long").alias(a)
                  for p, a in ((0.5, "p50_cents"), (0.9, "p90_cents"),
                               (0.99, "p99_cents"))],
                F.percentile_approx(
                    "cents", [0.5, 0.9, 0.99], 10000).alias("apx")))
    ok = None
    for i, a in enumerate(("p50_cents", "p90_cents", "p99_cents")):
        this = _within_pct(F.col("apx")[i], F.col(a), 0.01)
        ok = this if ok is None else ok & this
    return (per.select(F.col("o_orderpriority").alias("grp"),
                       "p50_cents", "p90_cents", "p99_cents",
                       ok.alias("approx_ok"))
               .orderBy("grp"))


# --- Count-Min heavy-hitter audit -----------------------------------------

# eps: the CMS over-estimate guarantee is est <= exact + eps*N with
# probability `conf` (depth = ceil(ln(1/(1-conf))) rows of width
# ceil(e/eps)); measured headroom on this corpus is ~2x at every sf
# (max over-estimate 1446 vs bound 3000 at sf0.1). seed fixed -> the
# sketch is fully deterministic, and counter merges are integer adds,
# so the flags are partition-count invariant.
CMS_EPS = 0.005
CMS_CONF = 0.99
CMS_SEED = 42
HH_TOPK = 10
# Counter-table geometry from (eps, conf): the classic CMS sizing.
CMS_WIDTH = 544   # ceil(e / CMS_EPS)
CMS_DEPTH = 5     # ceil(ln(1 / (1 - CMS_CONF)))


@register("heavy_hitter_sketch_audit", oracle=f"""
WITH counts AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM lineitem GROUP BY l_partkey),
topk AS (
  SELECT l_partkey, exact_cnt,
         ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, l_partkey ASC) AS rk
  FROM counts)
SELECT l_partkey, exact_cnt, TRUE AS cms_ok
FROM topk WHERE rk <= {HH_TOPK}
""")
def heavy_hitter_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{HH_TOPK} hottest part keys in lineitem two ways: exact
    hash-aggregate counts (the oracle-matched truth, deterministic
    count-desc/key-asc ranking) and a Count-Min sketch probed for the
    same keys, flagged within the CMS guarantee [exact, exact + eps*N].

    The sketch is built IN the DataFrame API (ADVICE r3: the previous
    form deserialized Spark's binary `count_min_sketch` through the
    private py4j bridge, which breaks under Spark Connect): each row
    hashes to one bucket per depth via xxhash64(key, depth, seed) mod
    width, and the counter table is a (depth, bucket) hash aggregate —
    at most depth x width = {CMS_DEPTH}x{CMS_WIDTH} rows survive the
    map-side combine per task, the exact mergeable-bounded-state shape
    of the binary sketch. Probing is a broadcast join of the counter
    table onto the top-k spine + min over depths. Everything stays in
    DataFrame/SQL, fully deterministic, no driver-side sketch state.

    Scale shape: the exact path shuffles |keys| partial counts; the CMS
    path shuffles <= depth x width counters per task regardless of
    corpus size. That answers "how hot is this key right now" over a
    100 TB stream without keeping |keys| state. The audit keeps both
    paths so the sketch's error is continuously measured against the
    truth (same evaluation-as-a-query pattern as distinct_sketch_audit
    / quantile_sketch_audit).
    """
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey")

    def buckets(key_col: str):
        # one bucket per depth; the depth literal is hashed alongside
        # the key so the CMS_DEPTH hash functions are independent
        return F.array(*[
            F.pmod(F.xxhash64(F.col(key_col), F.lit(d), F.lit(CMS_SEED)),
                   F.lit(CMS_WIDTH))
            for d in range(CMS_DEPTH)])

    counters = (li.select(F.posexplode(buckets("l_partkey"))
                           .alias("d", "b"))
                  .groupBy("d", "b").agg(F.count("*").alias("cnt")))
    n = li.agg(F.count("*").alias("n_rows"))
    topk = (li.groupBy("l_partkey")
              .agg(F.count("*").alias("exact_cnt"))
              .orderBy(F.col("exact_cnt").desc(), F.col("l_partkey").asc())
              .limit(HH_TOPK))
    probes = topk.select("l_partkey", "exact_cnt",
                         F.posexplode(buckets("l_partkey")).alias("d", "b"))
    est = (probes.join(F.broadcast(counters), ["d", "b"])
                 .groupBy("l_partkey", "exact_cnt")
                 .agg(F.min("cnt").alias("est")))
    return (est.crossJoin(F.broadcast(n))
               .select(F.col("l_partkey").cast("long").alias("l_partkey"),
                       F.col("exact_cnt").cast("long").alias("exact_cnt"),
                       ((F.col("exact_cnt") <= F.col("est"))
                        & (F.col("est") <= F.col("exact_cnt")
                           + CMS_EPS * F.col("n_rows")))
                       .alias("cms_ok")))


@register("rolling_distinct_users_audit", oracle="""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM ev)
SELECT w.day,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS exact_users,
       TRUE AS hll_ok
FROM days w JOIN ev e ON e.day BETWEEN w.day - 6 AND w.day
GROUP BY w.day
""")
def rolling_distinct_users_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the rolling
    DISTINCT problem, which unlike rolling sums does NOT decompose over
    days — solved both ways and audited:

    * exact: every event fans out to the 7 window-days it contributes
      to, then one COUNT(DISTINCT) per window-day. Correct, but the
      fan-out is 7x the FACT table — at 100 TB this is the
      calibration pass you run once.
    * sketch: one HLL sketch per day (a single corpus aggregate), then
      the 7-day window is a UNION of 7 day-sketches — the fan-out is
      7x |days| CONSTANT-SIZE sketches, independent of corpus size.
      This is the production path: daily sketch rollups answer any
      trailing window (7d/28d/quarter) without touching events again.

    The audit emits the exact counts (hash-matched against DuckDB's
    range-join formulation) plus within-5%-bound flags on the sketch
    estimates, asserted TRUE by the oracle — the same
    evaluation-as-a-query contract as the other sketch audits.
    """
    ev = read_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id")
    daily = (ev.groupBy("day")
               .agg(F.hll_sketch_agg("user_id").alias("sk")))
    # daily feeds the pinned day spine AND the sketch fan-out (the HLL
    # aggregate runs twice). Persisting daily itself measured slower
    # (0.71 -> 1.15 s): materializing the sketch column under the
    # wide-initial cached-plan session config costs more than the
    # duplicated |days|-row aggregate saves here.
    days = state.pinned(spark, ("rolling_distinct_users_audit:days", sf_dir),
                        lambda: daily.select("day"))

    # Sketch path: |days| sketches fan to their 7 covering windows.
    fan_sk = daily.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6)))
         .alias("wday"), "sk")
    est = (fan_sk.join(F.broadcast(days.withColumnRenamed("day", "wday")),
                       "wday")
                 .groupBy("wday")
                 .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                       .alias("est")))

    # Exact path: the fact table fans to its 7 covering windows.
    fan_ev = ev.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6)))
         .alias("wday"), "user_id")
    exact = (fan_ev.join(F.broadcast(days.withColumnRenamed("day", "wday")),
                         "wday")
                   .groupBy("wday")
                   .agg(F.count_distinct("user_id").alias("exact_users")))

    return (exact.join(est, "wday")
                 .select(F.col("wday").alias("day"),
                         F.col("exact_users").cast("long")
                          .alias("exact_users"),
                         _within(F.col("est"),
                                 F.col("exact_users")).alias("hll_ok")))
