"""Entity-affinity operators over the relational corpus: fuzzy
entity-resolution pairs (blocked edit-distance join), market-basket
co-occurrence with exact integer lift, and recursive chain closure over
the fuzzy-pair graph (the Spark 4 ``WITH RECURSIVE`` SQL surface).

Reference parity note: the reference (common_func.py /
project_step_*.py) has no string-similarity, association-rule, or
recursive-SQL surface at all; these extend SURVEY.md §2.3/§2.8 coverage
(joins, scalar functions) into the entity-resolution and affinity-mining
shapes a training-data pipeline needs (near-identical product/entity
names, co-occurrence statistics for negative-sampling / mixture design).

Scale design notes (100 TB):
* The fuzzy join never goes all-pairs: candidates come from an exact
  LENGTH-BAND blocking (edit distance <= K implies |len(a) - len(b)|
  <= K), an equi-join on the banded length, with the expensive
  levenshtein verify run on candidates only — the same
  band-then-verify shape as events_time_proximity and the MinHash
  dedup family. The blocked relation is the distinct-NAME spine, which
  is orders of magnitude smaller than the fact table.
* Basket pairing applies the apriori guard: items below a RELATIVE
  support floor (exact integer cross-multiplication, no float
  threshold) are pruned BEFORE the per-basket self-join, so a viral
  basket of rare junk can't go quadratic. Pair counts and lift are
  exact integers (parts-per-million via integer division) — merge-order
  proof, partition-count invariant.
* The recursive chain query is bounded by construction: edges are
  lexicographically oriented (name_a < name_b), so every walk is
  strictly increasing and terminates without a cycle check; depth is
  additionally capped. Each recursion step is one equi-join of the
  frontier against the (tiny) edge relation — the BSP shape
  channel_pagerank uses, here expressed in pure SQL.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_with_pyspark_spark import state
from hdfs_with_pyspark_spark.plans.registry import register
from hdfs_with_pyspark_spark.sources.io import read_table

# Max edit distance for two part names to be considered the same entity.
FUZZY_MAX_DIST = 2
# Relative support floor for basket items: name must appear in
# >= 1/SUPPORT_DENOM of all baskets (exact integer cross-multiply).
SUPPORT_DENOM = 20
# Chain-depth cap for the recursive closure.
CHAIN_MAX_LEN = 3

# Distinct part names with their part multiplicity — the blocked spine.
_NAMES_SQL = """
  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM part GROUP BY p_name
"""

# Brute-force oracle pair predicate (the oracle may brute-force the tiny
# name spine; the engine must not).
_FUZZY_PAIRS_SQL = f"""
  SELECT a.p_name AS name_a, b.p_name AS name_b,
         CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev_dist,
         a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
  FROM names a JOIN names b
    ON a.p_name < b.p_name
   AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
"""


def blocked_fuzzy_pairs(names: DataFrame,
                        max_dist: int = FUZZY_MAX_DIST) -> DataFrame:
    """Length-band blocked fuzzy pairs over a (p_name, n_parts) spine.

    Exactness: levenshtein(a, b) <= K requires abs(len(a) - len(b))
    <= K, so fanning each name out to the K-neighborhood of its length
    and equi-joining on the banded length loses no qualifying pair; a
    pair is generated exactly once (probe side fans, build side
    doesn't, orientation a < b dedups). Property-tested against a
    brute-force Python model in tests/test_properties.py.
    """
    build = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        F.length("p_name").alias("len_b"))
    probe = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        F.explode(F.sequence(F.length("p_name") - max_dist,
                             F.length("p_name") + max_dist))
         .alias("len_b"))
    return (probe.join(build, "len_b")
                 .where(F.col("name_a") < F.col("name_b"))
                 .withColumn("lev_dist",
                             F.levenshtein("name_a", "name_b"))
                 .where(F.col("lev_dist") <= max_dist)
                 .select("name_a", "name_b",
                         F.col("lev_dist").cast("int").alias("lev_dist"),
                         "n_parts_a", "n_parts_b"))


@register("part_name_fuzzy_pairs", oracle=f"""
WITH names AS ({_NAMES_SQL})
{_FUZZY_PAIRS_SQL}
""")
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over part names: pairs of DISTINCT names within
    levenshtein distance {FUZZY_MAX_DIST}, with each name's part
    multiplicity. The blocked join shape (length bands -> equi-join ->
    verify) is the scale path; the oracle brute-forces the same pairs,
    so blocking exactness is oracle-proven on this corpus (and
    guaranteed analytically by the length bound).
    """
    names = (read_table(spark, sf_dir, "part")
             .groupBy("p_name").agg(F.count("*").alias("n_parts")))
    return blocked_fuzzy_pairs(names)


@register("basket_part_affinity", oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, p_name
  FROM lineitem JOIN part ON p_partkey = l_partkey),
n_orders AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items),
freq AS (
  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_item
  FROM items GROUP BY p_name
  HAVING CAST(COUNT(*) AS BIGINT) * {SUPPORT_DENOM}
         >= (SELECT n FROM n_orders))
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(COUNT(*) AS BIGINT)   AS n_both,
       MIN(fa.n_item)             AS n_a,
       MIN(fb.n_item)             AS n_b,
       CAST((1000000 * CAST((SELECT n FROM n_orders) AS HUGEINT)
             * CAST(COUNT(*) AS BIGINT))
            // (CAST(MIN(fa.n_item) AS HUGEINT) * MIN(fb.n_item))
            AS BIGINT) AS lift_ppm
FROM items a
JOIN items b ON a.l_orderkey = b.l_orderkey AND a.p_name < b.p_name
JOIN freq fa ON fa.p_name = a.p_name
JOIN freq fb ON fb.p_name = b.p_name
GROUP BY a.p_name, b.p_name
""")
def basket_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence over orders: for every pair of
    FREQUENT part names bought in the same order, the pair count and
    exact-integer lift (ppm): lift = N * c(ab) / (c(a) * c(b)).

    Shape: one broadcast dim join (part), one distinct on
    (order, name), the apriori prune (frequent set broadcasts back as
    a semi-join), then a per-basket self equi-join on the order key —
    candidate volume is sum-per-basket C(k,2) over FREQUENT items only,
    never |corpus|². Counts and lift are exact integers; the one
    division is integer `div`, so the result is identical however
    partitions merge.
    """
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    # The distinct (order, item) frame is the REDUCED form every stage
    # consumes (frequent-set build + both pair sides) — the C1 persist
    # idiom; narrow two-column cache, one distinct instead of three.
    items = state.pinned(
        spark, ("basket_part_affinity:items", sf_dir),
        lambda: (read_table(spark, sf_dir, "lineitem")
                 .select("l_orderkey", "l_partkey")
                 .join(F.broadcast(part),
                       F.col("l_partkey") == F.col("p_partkey"))
                 .select("l_orderkey", "p_name")
                 .distinct()))
    n_orders = items.agg(
        F.count_distinct("l_orderkey").alias("n"))
    # The frequent-item set is item-sized (tiny) but derives from a full
    # corpus aggregate; pin it so the a-side and b-side joins reuse ONE
    # aggregation instead of re-scanning the corpus per side.
    freq = state.pinned(
        spark, ("basket_part_affinity:freq", sf_dir),
        lambda: (items.groupBy("p_name")
                      .agg(F.count("*").alias("n_item"))
                      .crossJoin(F.broadcast(n_orders))
                      .where(F.col("n_item") * SUPPORT_DENOM >= F.col("n"))
                      .select("p_name", "n_item", "n")))
    fa = freq.select(F.col("p_name").alias("name_a"),
                     F.col("n_item").alias("n_a"),
                     F.col("n").alias("n_orders"))
    fb = freq.select(F.col("p_name").alias("name_b"),
                     F.col("n_item").alias("n_b"))
    # Apriori prune BEFORE the per-basket self-join: with the
    # frequent-set joins AFTER the pair expansion, the self-join expands
    # C(k,2) over ALL basket items and the prune only filters the
    # result — Catalyst does not commute inner joins below a self-join
    # on its own (no CBO join reorder here). The
    # broadcast semi-join drops infrequent items from BOTH sides first;
    # the inner joins commute, so the pair set (and all counts computed
    # from it) is unchanged.
    items_f = items.join(F.broadcast(freq.select("p_name")),
                         "p_name", "left_semi")
    pairs = (items_f.select(F.col("l_orderkey"),
                            F.col("p_name").alias("name_a"))
                    .join(items_f.select(F.col("l_orderkey"),
                                         F.col("p_name").alias("name_b")),
                          "l_orderkey")
                  .where(F.col("name_a") < F.col("name_b"))
                  .join(F.broadcast(fa), "name_a")
                  .join(F.broadcast(fb), "name_b")
                  .groupBy("name_a", "name_b")
                  .agg(F.count("*").alias("n_both"),
                       F.min("n_a").alias("n_a"),
                       F.min("n_b").alias("n_b"),
                       F.min("n_orders").alias("n_orders")))
    # DECIMAL(38,0) cross-multiplication (ADVICE r3): N * c(ab) with
    # N ~ 1.5e11 orders at 100 TB overflows int64; the oracle's HUGEINT
    # and Spark's DECIMAL(38,0) are both exact, values unchanged.
    lift = F.expr("(1000000 * CAST(n_orders AS DECIMAL(38,0)) * n_both) "
                  "div (CAST(n_a AS DECIMAL(38,0)) * n_b)")
    return pairs.select(
        "name_a", "name_b",
        F.col("n_both").cast("long").alias("n_both"),
        "n_a", "n_b",
        lift.cast("long").alias("lift_ppm"))


@register("fuzzy_chain_closure", oracle=f"""
WITH RECURSIVE names AS ({_NAMES_SQL}),
edges AS ({_FUZZY_PAIRS_SQL}),
chains(start_name, end_name, len) AS (
  SELECT name_a, name_b, 1 FROM edges
  UNION ALL
  SELECT c.start_name, e.name_b, c.len + 1
  FROM chains c JOIN edges e ON e.name_a = c.end_name
  WHERE c.len < {CHAIN_MAX_LEN})
SELECT len,
       CAST(COUNT(*) AS BIGINT)                  AS n_chains,
       CAST(COUNT(DISTINCT start_name) AS BIGINT) AS n_starts,
       MIN(start_name)                           AS first_start,
       MAX(end_name)                             AS last_end
FROM chains GROUP BY len
""")
def fuzzy_chain_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chains of fuzzy-matched names (a~b~c...) up to length
    {CHAIN_MAX_LEN}, via Spark 4's ``WITH RECURSIVE`` — the SQL-surface
    counterpart of the engine's iterative DataFrame loops
    (dedup_components, channel_pagerank). Walks follow the
    lexicographic edge orientation, so they are strictly increasing
    and acyclic by construction; the oracle runs the IDENTICAL
    recursive SQL, so the two engines' recursion semantics are checked
    against each other.
    """
    names = (read_table(spark, sf_dir, "part")
             .groupBy("p_name").agg(F.count("*").alias("n_parts")))
    edges = blocked_fuzzy_pairs(names).select("name_a", "name_b")
    # Per-invocation view name, dropped before returning (ADVICE r3): a
    # fixed name would let concurrent/interleaved runs in one session
    # clobber each other's edge set and would leak into the caller's
    # catalog forever. spark.sql() resolves the view at ANALYSIS time
    # (eager), so the returned DataFrame stays valid after the drop.
    view = f"fuzzy_edges_recursive_src_{uuid.uuid4().hex}"
    edges.createOrReplaceTempView(view)
    out = spark.sql(f"""
WITH RECURSIVE chains(start_name, end_name, len) AS (
  SELECT name_a, name_b, 1 FROM {view}
  UNION ALL
  SELECT c.start_name, e.name_b, c.len + 1
  FROM chains c JOIN {view} e ON e.name_a = c.end_name
  WHERE c.len < {CHAIN_MAX_LEN})
SELECT len,
       CAST(COUNT(*) AS BIGINT)                   AS n_chains,
       CAST(COUNT(DISTINCT start_name) AS BIGINT) AS n_starts,
       MIN(start_name)                            AS first_start,
       MAX(end_name)                              AS last_end
FROM chains GROUP BY len
""")
    spark.catalog.dropTempView(view)
    return out
