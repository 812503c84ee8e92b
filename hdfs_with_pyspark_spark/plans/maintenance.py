"""Registered table-maintenance queries (MERGE upsert, SCD2).

Deterministic update batches derived from the customer dimension itself
(every 7th key gets +100 balance, three literal inserts) so the merge
semantics are oracle-checkable without external state. The write-back
side of the operators is round-trip-tested in tests/ (parquet sink +
re-read); the registered queries prove the merge JOIN semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_with_pyspark_spark.operators.merge import merge_upsert, scd2_apply
from hdfs_with_pyspark_spark.plans.registry import register
from hdfs_with_pyspark_spark.sources.io import local_frame, read_table

NEW_ROWS = [(900001, "NEW_CUST_1", 10.0),
            (900002, "NEW_CUST_2", 20.5),
            (900003, "NEW_CUST_3", 0.0)]
_SQL_NEW = ", ".join(f"({k}, '{n}', {b})" for k, n, b in NEW_ROWS)


def _update_batch(cust: DataFrame) -> DataFrame:
    """Every 7th customer with +100 balance, plus three inserts."""
    mod = (cust.where(F.col("c_custkey") % 7 == 0)
               .select("c_custkey", "c_name",
                       F.round(F.col("c_acctbal") + 100, 2).alias("c_acctbal")))
    spark = cust.sparkSession
    new = local_frame(spark, NEW_ROWS, "c_custkey long, c_name string, "
                                       "c_acctbal double")
    return mod.unionByName(new)


@register("customers_upsert", oracle=f"""
WITH src AS (
  SELECT c_custkey, c_name, ROUND(c_acctbal + 100, 2) AS c_acctbal
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT * FROM (VALUES {_SQL_NEW}) v(c_custkey, c_name, c_acctbal)),
t AS (SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal
      FROM customer)
SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name
            ELSE t.c_name END AS c_name,
       CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
            ELSE t.c_acctbal END AS c_acctbal,
       (s.c_custkey IS NOT NULL) AS updated
FROM t FULL OUTER JOIN src s ON s.c_custkey = t.c_custkey
""")
def customers_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 merge of a deterministic update batch into customers.

    One full-outer shuffle join on the key — with a bucketed target only
    the batch side moves; under AQE a small batch broadcasts.
    """
    cust = (read_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_name",
                    F.round("c_acctbal", 2).alias("c_acctbal")))
    return merge_upsert(cust, _update_batch(cust), key="c_custkey")


@register("customers_scd2", oracle=f"""
WITH src AS (
  SELECT c_custkey, c_name, ROUND(c_acctbal + 100, 2) AS c_acctbal
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT * FROM (VALUES {_SQL_NEW}) v(c_custkey, c_name, c_acctbal)),
dim AS (SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal,
               CAST(1 AS BIGINT) AS version, TRUE AS is_current
        FROM customer)
SELECT c_custkey, c_name, c_acctbal, version,
       CASE WHEN c_custkey IN (SELECT c_custkey FROM src)
            THEN FALSE ELSE is_current END AS is_current
FROM dim
UNION ALL
SELECT s.c_custkey, s.c_name, s.c_acctbal,
       CASE WHEN d.c_custkey IS NULL THEN 1 ELSE 2 END AS version,
       TRUE AS is_current
FROM src s LEFT JOIN (SELECT DISTINCT c_custkey FROM dim) d
  ON d.c_custkey = s.c_custkey
""")
def customers_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 application of the same batch onto a version-1 dimension:
    updated keys close their current row and append version 2; the
    three new keys insert at version 1."""
    cust = (read_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_name",
                    F.round("c_acctbal", 2).alias("c_acctbal"),
                    F.lit(1).cast("long").alias("version"),
                    F.lit(True).alias("is_current")))
    return scd2_apply(cust, _update_batch(cust), key="c_custkey")


# --------------------------------------------------------------------------
# orders_column_stats — ANALYZE TABLE in query form: per-column null
# count, exact distinct count, min/max — the statistics a cost-based
# optimizer (or a human sizing a join) feeds on. Computed column-at-a-
# time then stacked long-form (column_name, n_nulls, n_distinct, lo,
# hi as strings for a uniform schema across types).
#
# Scale: each count(distinct) is the standard two-level partial
# aggregate; the per-column passes share one scan via a single select
# of all stats (Spark computes them in ONE aggregate over the table —
# no per-column rescans), then the long-form stack is a literal-sized
# unpivot. At 100 TB: one full-table aggregate pass, exactly what
# ANALYZE costs.
# --------------------------------------------------------------------------
_STAT_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderpriority"]


@register("orders_column_stats", oracle=f"""
WITH a AS (
  SELECT {", ".join(
    f"CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS nn_{c}, "
    f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd_{c}, "
    f"CAST(MIN({c}) AS VARCHAR) AS lo_{c}, "
    f"CAST(MAX({c}) AS VARCHAR) AS hi_{c}" for c in _STAT_COLS)}
  FROM orders)
{" UNION ALL ".join(
    f"SELECT '{c}' AS column_name, nn_{c} AS n_nulls, nd_{c} AS n_distinct, "
    f"lo_{c} AS min_value, hi_{c} AS max_value FROM a"
    for c in _STAT_COLS)}
""")
def orders_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    aggs = []
    for c in _STAT_COLS:
        aggs += [
            (F.count("*") - F.count(c)).cast("long").alias(f"nn_{c}"),
            F.countDistinct(c).cast("long").alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"lo_{c}"),
            F.max(c).cast("string").alias(f"hi_{c}"),
        ]
    a = orders.agg(*aggs)
    stack = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, lo_{c}, hi_{c}" for c in _STAT_COLS)
    return a.select(F.expr(
        f"stack({len(_STAT_COLS)}, {stack}) AS "
        "(column_name, n_nulls, n_distinct, min_value, max_value)"))


# --------------------------------------------------------------------------
# orders_integrity_checks — declarative data-quality audit: each rule is
# a boolean predicate counted over one shared scan (conditional
# aggregation — adding a rule costs one column, never another pass).
# Rules: FK orphans (orders -> customer via a broadcast anti-join
# flag), non-positive totals, order dates outside the plausible window,
# and duplicate primary keys. The result is one row per rule with its
# violation count — the contract table a pipeline gates deploys on.
# --------------------------------------------------------------------------
@register("orders_integrity_checks", oracle="""
WITH flags AS (
  SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate,
         c.c_custkey IS NULL AS orphan_fk
  FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey),
dup AS (SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n
        FROM orders)
SELECT 'orphan_custkey' AS rule, CAST(SUM(CASE WHEN orphan_fk THEN 1 ELSE 0 END)
       AS BIGINT) AS n_violations FROM flags
UNION ALL
SELECT 'nonpositive_total', CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
       AS BIGINT) FROM flags
UNION ALL
SELECT 'date_out_of_range', CAST(SUM(CASE WHEN o_orderdate
         NOT BETWEEN TIMESTAMP '1990-01-01 00:00:00'
                 AND TIMESTAMP '2030-01-01 00:00:00'
       THEN 1 ELSE 0 END) AS BIGINT) FROM flags
UNION ALL
SELECT 'duplicate_orderkey', n FROM dup
""")
def orders_integrity_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    flags = (orders.join(F.broadcast(cust),
                         orders["o_custkey"] == cust["c_custkey"], "left")
                   .select("o_orderkey", "o_totalprice", "o_orderdate",
                           F.col("c_custkey").isNull().alias("orphan_fk")))
    lo = F.lit("1990-01-01").cast("timestamp")
    hi = F.lit("2030-01-01").cast("timestamp")
    counts = flags.agg(
        F.sum(F.when(F.col("orphan_fk"), 1).otherwise(0)).cast("long")
         .alias("orphan_custkey"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
         .cast("long").alias("nonpositive_total"),
        F.sum(F.when(~F.col("o_orderdate").between(lo, hi), 1).otherwise(0))
         .cast("long").alias("date_out_of_range"))
    dup = orders.agg((F.count("*") - F.countDistinct("o_orderkey"))
                     .cast("long").alias("duplicate_orderkey"))
    long_counts = counts.select(F.expr(
        "stack(3, 'orphan_custkey', orphan_custkey, "
        "'nonpositive_total', nonpositive_total, "
        "'date_out_of_range', date_out_of_range) AS (rule, n_violations)"))
    return long_counts.unionByName(
        dup.select(F.lit("duplicate_orderkey").alias("rule"),
                   F.col("duplicate_orderkey").alias("n_violations")))


# --------------------------------------------------------------------------
# orders_snapshot_diff — table diff between two snapshots: the
# reconciliation primitive behind CDC validation, backfill regression
# checks, and blue/green cutover audits. Snapshot B derives from orders
# by three deterministic mutations (hash-free, key-arithmetic only, so
# both engines build the identical snapshot): orderkey % 20 == 3 gets a
# 10% price bump (changed), orderkey % 25 == 7 is dropped (removed),
# and orderkey % 100 == 11 is re-inserted under a fresh negative key
# (added).
#
# Scale shape: ONE full-outer join on the primary key — each side
# shuffles once (zero shuffles if both snapshots are bucketed on the
# PK), with change classification as a projection over the join's
# null-presence pattern. Value compare uses exact integer cents; the
# summary is one tiny aggregate. No row-hash needed when columns are
# few; wide tables swap the compare for md5(concat_ws(cols)) with the
# same plan shape.
# --------------------------------------------------------------------------
@register("orders_snapshot_diff", oracle="""
WITH a AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderstatus
  FROM orders),
b AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 20 = 3
              THEN CAST(ROUND(o_totalprice * 110) AS BIGINT)
              ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS cents,
         o_orderstatus
  FROM orders WHERE o_orderkey % 25 <> 7
  UNION ALL
  SELECT -o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT),
         o_orderstatus
  FROM orders WHERE o_orderkey % 100 = 11),
d AS (
  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
         CASE WHEN a.o_orderkey IS NULL THEN 'added'
              WHEN b.o_orderkey IS NULL THEN 'removed'
              WHEN a.cents <> b.cents
                OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
              ELSE 'unchanged' END AS change_type,
         COALESCE(b.cents, 0) - COALESCE(a.cents, 0) AS delta_cents
  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
SELECT change_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(delta_cents) AS BIGINT) AS total_delta_cents
FROM d GROUP BY change_type
""")
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    a = base.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderstatus")
    bumped = F.when(F.col("o_orderkey") % 20 == 3,
                    F.round(F.col("o_totalprice") * 110).cast("long")) \
              .otherwise(F.round(F.col("o_totalprice") * 100).cast("long"))
    b = (base.where(F.col("o_orderkey") % 25 != 7)
             .select("o_orderkey", bumped.alias("cents"), "o_orderstatus")
         .unionByName(
             base.where(F.col("o_orderkey") % 100 == 11)
                 .select((-F.col("o_orderkey")).alias("o_orderkey"),
                         F.round(F.col("o_totalprice") * 100).cast("long")
                          .alias("cents"),
                         "o_orderstatus")))
    j = a.alias("a").join(b.alias("b"),
                          F.col("a.o_orderkey") == F.col("b.o_orderkey"),
                          "full_outer")
    change = (F.when(F.col("a.o_orderkey").isNull(), F.lit("added"))
               .when(F.col("b.o_orderkey").isNull(), F.lit("removed"))
               .when((F.col("a.cents") != F.col("b.cents"))
                     | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus")),
                     F.lit("changed"))
               .otherwise(F.lit("unchanged")))
    delta = (F.coalesce(F.col("b.cents"), F.lit(0))
             - F.coalesce(F.col("a.cents"), F.lit(0)))
    return (j.select(change.alias("change_type"), delta.alias("delta_cents"))
             .groupBy("change_type")
             .agg(F.count("*").alias("n_rows"),
                  F.sum("delta_cents").cast("long")
                   .alias("total_delta_cents")))


# --------------------------------------------------------------------------
# revenue_by_nation_ivm — INCREMENTAL VIEW MAINTENANCE: the aggregate a
# nightly pipeline should NOT recompute from scratch. The orders fact
# splits at a date cutoff into the BASE (the materialized aggregate a
# previous run persisted) and the DELTA (rows that arrived since); the
# refreshed view is the per-key merge base ⊕ delta — a full-outer join
# on the group key with coalesced partial sums. Revenue is kept in
# exact integer cents precisely so the merge is associative: a rounded
# double sum would NOT satisfy base ⊕ delta == full recompute, cents
# do, bit for bit. The oracle IS the full recompute, so the driver gate
# proves the IVM identity itself.
#
# Scale: at refresh only the delta scans (partition-pruned on the
# cutoff); the base side is |nations| rows. This is the pattern that
# turns a daily 100 TB re-aggregation into an O(day's data) job.
# --------------------------------------------------------------------------
IVM_CUTOFF = "2000-01-01"


@register("revenue_by_nation_ivm", oracle="""
SELECT n.n_name AS nation,
       CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
""")
def revenue_by_nation_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = (read_table(spark, sf_dir, "customer")
                .select("c_custkey", "c_nationkey"))
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey",
                                                        "n_name")
    cents = F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")

    def agg(orders_part: DataFrame) -> DataFrame:
        return (orders_part
                .join(F.broadcast(customer),
                      F.col("o_custkey") == F.col("c_custkey"))
                .join(F.broadcast(nation),
                      F.col("c_nationkey") == F.col("n_nationkey"))
                .groupBy(F.col("n_name").alias("nation"))
                .agg(F.sum(cents).alias("revenue_cents"),
                     F.count("*").alias("n_orders")))

    orders = read_table(spark, sf_dir, "orders")
    base = agg(orders.where(F.col("o_orderdate") < IVM_CUTOFF))
    delta = agg(orders.where(F.col("o_orderdate") >= IVM_CUTOFF))
    b = base.select(F.col("nation"),
                    F.col("revenue_cents").alias("b_rev"),
                    F.col("n_orders").alias("b_n"))
    d = delta.select(F.col("nation"),
                     F.col("revenue_cents").alias("d_rev"),
                     F.col("n_orders").alias("d_n"))
    return (b.join(d, "nation", "full_outer")
             .select("nation",
                     (F.coalesce("b_rev", F.lit(0))
                      + F.coalesce("d_rev", F.lit(0))).cast("long")
                     .alias("revenue_cents"),
                     (F.coalesce("b_n", F.lit(0))
                      + F.coalesce("d_n", F.lit(0))).cast("long")
                     .alias("n_orders")))


# --------------------------------------------------------------------------
# orders_pit_features — POINT-IN-TIME-correct feature join (the
# feature-store primitive): each order picks the feature value that was
# valid AS OF its order date from an effective-dated (SCD2-with-dates)
# dimension, never a later one — the join shape that prevents feature
# leakage when assembling training data. The dimension here is built
# deterministically in-query: every customer's balance carries version 1
# from the epoch; customers with c_custkey % 7 = 0 get a +100 version 2
# effective PIT_CHANGE_DATE, closing version 1 at that instant
# (valid_from inclusive, valid_to exclusive — the standard convention).
#
# Scale shape: the dimension is |customer| + |changed| rows and
# broadcast-joins onto the orders fact on the equi-key (custkey) with
# the validity range as a join filter — the fact table never shuffles.
# At 100 TB the dim side of a feature join is the small side by
# construction; were it not, the same semantics fall back to the
# repo's asof_join (sort-merge on key, last-value-before per row).
#
# Determinism: the version pick is structural (ranges partition the
# timeline per key, so exactly one row matches — asserted by the
# one-row-per-order invariant test), balances round to cents, dates
# compare exactly.
# --------------------------------------------------------------------------
PIT_CHANGE_DATE = "1995-06-17"


@register("orders_pit_features", oracle=f"""
WITH c AS (
  SELECT c_custkey,
         ROUND(c_acctbal, 2) AS bal0,
         ROUND(c_acctbal + 100, 2) AS bal1,
         c_custkey % 7 = 0 AS chg
  FROM customer),
dim AS (
  SELECT c_custkey, bal0 AS acctbal, 1 AS feature_version,
         DATE '1000-01-01' AS valid_from,
         CASE WHEN chg THEN DATE '{PIT_CHANGE_DATE}'
              ELSE DATE '9999-12-31' END AS valid_to
  FROM c
  UNION ALL
  SELECT c_custkey, bal1, 2, DATE '{PIT_CHANGE_DATE}', DATE '9999-12-31'
  FROM c WHERE chg)
SELECT o.o_orderkey, o.o_custkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
       d.acctbal AS acctbal_asof,
       CAST(d.feature_version AS BIGINT) AS feature_version
FROM orders o JOIN dim d
  ON d.c_custkey = o.o_custkey
 AND CAST(o.o_orderdate AS DATE) >= d.valid_from
 AND CAST(o.o_orderdate AS DATE) <  d.valid_to
""")
def orders_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    chg = F.col("c_custkey") % 7 == 0
    cust = (read_table(spark, sf_dir, "customer")
            .select("c_custkey",
                    F.round("c_acctbal", 2).alias("bal0"),
                    F.round(F.col("c_acctbal") + 100, 2).alias("bal1"),
                    chg.alias("chg")))
    epoch = F.to_date(F.lit("1000-01-01"))
    change = F.to_date(F.lit(PIT_CHANGE_DATE))
    forever = F.to_date(F.lit("9999-12-31"))
    v1 = cust.select(
        "c_custkey", F.col("bal0").alias("acctbal"),
        F.lit(1).cast("long").alias("feature_version"),
        epoch.alias("valid_from"),
        F.when(F.col("chg"), change).otherwise(forever).alias("valid_to"))
    v2 = cust.where("chg").select(
        "c_custkey", F.col("bal1").alias("acctbal"),
        F.lit(2).cast("long").alias("feature_version"),
        change.alias("valid_from"), forever.alias("valid_to"))
    dim = v1.unionByName(v2)
    orders = (read_table(spark, sf_dir, "orders")
              .select("o_orderkey", "o_custkey",
                      F.col("o_orderdate").cast("date").alias("o_orderdate")))
    return (orders.join(
                F.broadcast(dim),
                (F.col("c_custkey") == F.col("o_custkey"))
                & (F.col("o_orderdate") >= F.col("valid_from"))
                & (F.col("o_orderdate") < F.col("valid_to")))
            .select("o_orderkey", "o_custkey", "o_orderdate",
                    F.col("acctbal").alias("acctbal_asof"),
                    "feature_version"))


# --------------------------------------------------------------------------
# referential_integrity_audit — cross-table FK audit, the multi-table
# companion to orders_integrity_checks' single-table rules: for each
# declared foreign key, the child row count, orphan rows (no matching
# parent), distinct orphan keys, and the orphan rate — the report a
# warehouse publishes before anyone trusts a join.
#
# Shape: each arm is ONE left-anti join on the key pair (child side
# projected to the key column only, parent side distinct keys — at
# dim-sized parents the anti join broadcasts; at fact-sized parents it
# stays a narrow key-only shuffle). Nothing row-wide ever moves.
# Determinism: exact counts and ppm floor divisions.
# --------------------------------------------------------------------------
_FK_ARMS = (
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
)


def _ref_integrity_oracle() -> str:
    arms = "\nUNION ALL\n".join(f"""
SELECT '{name}' AS fk,
       (SELECT COUNT(*) FROM {ct}) AS n_child,
       (SELECT COUNT(*) FROM {ct}
        WHERE {ck} IS NULL
           OR {ck} NOT IN (SELECT {pk} FROM {pt} WHERE {pk} IS NOT NULL))
         AS n_orphans,
       (SELECT COUNT(DISTINCT {ck}) FROM {ct}
        WHERE {ck} IS NOT NULL
          AND {ck} NOT IN (SELECT {pk} FROM {pt} WHERE {pk} IS NOT NULL))
         AS n_orphan_keys
""" for name, ct, ck, pt, pk in _FK_ARMS)
    return f"""
WITH arms AS ({arms})
SELECT fk, CAST(n_child AS BIGINT) AS n_child,
       CAST(n_orphans AS BIGINT) AS n_orphans,
       CAST(n_orphan_keys AS BIGINT) AS n_orphan_keys,
       CAST((1000000 * n_orphans) // GREATEST(n_child, 1) AS BIGINT)
         AS orphan_ppm
FROM arms
"""


@register("referential_integrity_audit", oracle=_ref_integrity_oracle())
def referential_integrity_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    out = None
    for name, ct, ck, pt, pk in _FK_ARMS:
        child = read_table(spark, sf_dir, ct).select(F.col(ck).alias("k"))
        parent = (read_table(spark, sf_dir, pt)
                  .select(F.col(pk).alias("k"))
                  .where(F.col("k").isNotNull()).distinct())
        n_child = child.agg(F.count("*").alias("n_child"))
        orphans = (child.where(F.col("k").isNotNull())
                        .join(parent, "k", "left_anti"))
        null_k = child.where(F.col("k").isNull())
        stats = (orphans.agg(F.count("*").alias("n_nonnull_orphans"),
                             F.countDistinct("k").alias("n_orphan_keys"))
                 .crossJoin(F.broadcast(
                     null_k.agg(F.count("*").alias("n_null")))))
        row = (n_child.crossJoin(F.broadcast(stats))
               .select(F.lit(name).alias("fk"),
                       F.col("n_child").cast("long").alias("n_child"),
                       (F.col("n_nonnull_orphans") + F.col("n_null"))
                        .cast("long").alias("n_orphans"),
                       F.col("n_orphan_keys").cast("long")
                        .alias("n_orphan_keys"),
                       F.expr("(1000000 * (n_nonnull_orphans + n_null))"
                              " div greatest(n_child, 1)")
                        .cast("long").alias("orphan_ppm")))
        out = row if out is None else out.unionByName(row)
    return out


# --------------------------------------------------------------------------
# orders_schema_evolution_read — SCHEMA EVOLUTION across parquet slices:
# an "old ingest" slice written WITHOUT o_orderpriority and a "new
# ingest" slice written WITH it are read back as ONE dataset via
# mergeSchema; rows from the old slice surface the added column as NULL
# and the audit rolls revenue up per (priority-or-MISSING). The
# lakehouse capability every long-lived table eventually needs — a
# column added mid-history must not fork the table into two reads — and
# the registered-query contract proves the merged read end to end (the
# oracle regenerates the same dataset from the orders table with the
# slice rule inlined).
#
# Determinism: the slice assignment is o_orderkey parity; revenue is
# exact integer cents; the merged schema is (old ∪ new) by Spark's
# mergeSchema contract, asserted by the NULL->'MISSING' bucket.
#
# 100 TB shape: mergeSchema costs a footer read per file at planning
# (bounded by file count, not rows); the aggregate is one map-side
# partial groupBy on a low-cardinality key. The staging write is the
# test fixture, not the measured shape.
# --------------------------------------------------------------------------
@register("orders_schema_evolution_read", oracle="""
SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
            ELSE 'MISSING' END AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders
GROUP BY 1
""")
def orders_schema_evolution_read(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    import hashlib
    import os

    from hdfs_with_pyspark_spark.session import scratch_dir

    sf_key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    root = scratch_dir(spark, f"schema_evolution_{sf_key}")
    orders = read_table(spark, sf_dir, "orders")
    # "Old ingest": the column does not exist yet. "New ingest": it
    # does. Distinct physical schemas in one directory tree.
    (orders.where(F.col("o_orderkey") % 2 == 0)
           .select("o_orderkey", "o_totalprice")
           .write.mode("overwrite")
           .parquet(os.path.join(root, "ingest=v1")))
    (orders.where(F.col("o_orderkey") % 2 == 1)
           .select("o_orderkey", "o_totalprice", "o_orderpriority")
           .write.mode("overwrite")
           .parquet(os.path.join(root, "ingest=v2")))
    merged = (spark.read.option("mergeSchema", "true")
                   .option("basePath", root)
                   .parquet(os.path.join(root, "ingest=v1"),
                            os.path.join(root, "ingest=v2")))
    return (merged.groupBy(F.coalesce(F.col("o_orderpriority"),
                                      F.lit("MISSING")).alias("priority"))
                  .agg(F.count("*").cast("long").alias("n_orders"),
                       F.sum(F.expr(
                           "CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
                        .cast("long").alias("revenue_cents")))
