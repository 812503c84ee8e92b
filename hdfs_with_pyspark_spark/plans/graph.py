"""Iterative graph analytics over the channel co-membership graph.

The reference's social surface stops at one-hop recommendation pairs
(reference: src/scripts/project_step_3.py — channel co-membership +
distance filter). A complete engine also needs the multi-hop/iterative
family; PageRank is its canonical member, implemented Pregel-on-DataFrame
style: a statically unrolled chain of join->aggregate rounds (like the
k-means trainer in llm/similarity.py — iteration count is a compile-time
constant, so the oracle unrolls to the same CTE stages).

Determinism across engines: ranks live in integer MICRO-units and every
division is integer division (``div``), so partial-agg summation order
can't flip a bit — the same snap-to-int trick the unigram-LM scorer uses.

One graph, built once: every query here reads the subscriber relation
and the canonical ``u < v`` edge list from :func:`_channel_graph`, which
decides the edge format and the per-channel member cap (the
``friend_recommendations`` guard against a viral channel's quadratic
pair blowup) in one place and pins the edge list in ``state`` once per
``(sf_dir, cap)``. Queries that walk directed edges take
:func:`_both_ways` of it. No query persists or releases a frame of its
own: Spark's cache manager matches entries by plan, so releasing a
private copy of the shared edge plan would evict the pinned one under
every other query. Frames a round re-reads (PageRank's edges with their
degrees, its node list) are ``state.pinned`` too; each round is ONE
shuffled aggregation keyed on the destination node plus a join back to
the node list. Rounds are sequential by nature (round k+1 consumes
round k), but each round is fully data-parallel — the classic
bulk-synchronous-parallel schedule.

The REGISTERED query runs WITH the cap (``PR_CHANNEL_CAP``) and the
oracle mirrors it exactly (``ROW_NUMBER() <= cap`` per channel), so the
capped semantics — the shape a 100 TB run needs, where one viral channel
would otherwise contribute |members|² edges — are what the correctness
gate proves. The cap bites on the synthetic corpus (sf0.01 channels run
up to 31 members; sf0.1 up to 227), so the gate exercises capped-out
members becoming isolated base-rank nodes, not a no-op parameter. The
uncapped form stays registered as a local-only twin
(``channel_pagerank_uncapped``, below the driver's 50-query window) for
small-graph exactness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdfs_with_pyspark_spark import state
from hdfs_with_pyspark_spark.plans.registry import ORACLES, register
from hdfs_with_pyspark_spark.sources.io import read_table

PR_ITERS = 3
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100      # damping 0.85 as an exact ratio
PR_UNIT = 1_000_000                     # rank micro-units
PR_BASE = PR_UNIT * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN  # (1-d)*unit
# Per-channel edge fan-out cap for the registered queries: each channel
# contributes at most CAP*(CAP-1)/2 edges instead of n*(n-1)/2. The
# gate-proven production guard against a viral channel's quadratic pair
# blowup (reference hazard: src/scripts/project_step_3.py:63-69).
PR_CHANNEL_CAP = 16


def _sql_channel_edges(cmp: str, cap: int | None = PR_CHANNEL_CAP,
                       name: str = "edges", mat: str = "") -> str:
    """The oracle twin of :func:`_channel_graph` as CTE text: ``subs``,
    ``capped`` (only when ``cap`` is set) and the ``name`` edge CTE,
    whose pairs satisfy ``a.user_id {cmp} b.user_id`` (``<`` canonical,
    ``<>`` both directions). ``mat`` is inserted after each ``AS``.

    The cap keeps each channel's lowest-user_id prefix; ``subs`` is
    distinct on (user_id, channel), so ORDER BY user_id is a total
    order within a channel and the prefix is deterministic.
    """
    src, capped = "subs", ""
    if cap is not None:
        src = "capped"
        capped = f"""
capped AS{mat} (
  SELECT user_id, channel FROM (
    SELECT user_id, channel,
           ROW_NUMBER() OVER (PARTITION BY channel
                              ORDER BY user_id ASC) AS rn
    FROM subs)
  WHERE rn <= {cap}),"""
    return f"""subs AS{mat} (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS channel
  FROM events
  WHERE event_type = 'signup'
    AND json_extract_string(props, '$.k') IS NOT NULL),{capped}
{name} AS{mat} (
  SELECT DISTINCT a.user_id AS u, b.user_id AS v
  FROM {src} a JOIN {src} b USING (channel)
  WHERE a.user_id {cmp} b.user_id)"""


def _channel_graph(spark: SparkSession, sf_dir: str,
                   cap: int | None = PR_CHANNEL_CAP
                   ) -> tuple[DataFrame, DataFrame]:
    """``(subs, edges)``: the channel co-membership graph.

    ``subs`` is the distinct ``(user_id, channel)`` subscriber relation
    (signup events carrying ``props.k``); every subscriber is a node.
    ``edges`` is the canonical ``(u, v)`` list, ``u < v``, of users
    sharing a channel among its ``cap`` lowest user_ids (every member
    when ``cap`` is None), so a capped-out member is an isolated node.
    It is one ``state.pinned`` entry per ``(sf_dir, cap)`` that every
    graph query shares. Runs no Spark action.
    """
    ev = read_table(spark, sf_dir, "events")
    channel = F.get_json_object("props", "$.k").cast("long")
    subs = (ev.where((F.col("event_type") == "signup") & channel.isNotNull())
              .select("user_id", channel.alias("channel"))
              .distinct())

    def build() -> DataFrame:
        members = subs
        if cap is not None:
            w = Window.partitionBy("channel").orderBy(F.col("user_id").asc())
            members = (subs.withColumn("__rn", F.row_number().over(w))
                           .where(F.col("__rn") <= cap)
                           .drop("__rn"))
        return (members.alias("a")
                .join(members.alias("b"), "channel")
                .where(F.col("a.user_id") < F.col("b.user_id"))
                .select(F.col("a.user_id").alias("u"),
                        F.col("b.user_id").alias("v"))
                .distinct())

    return subs, state.pinned(spark, ("channel_graph:edges", sf_dir, cap),
                              build)


def _both_ways(edges: DataFrame) -> DataFrame:
    """Directed form of a canonical edge list: each edge once in each
    direction — exactly the distinct ``u <> v`` pairs, no dedup needed."""
    return edges.unionByName(edges.select(F.col("v").alias("u"),
                                          F.col("u").alias("v")))


def _sql_pagerank_ctes(cap: int | None = None) -> str:
    """Unrolled PR_ITERS rounds as DuckDB CTE stages.

    ``cap`` mirrors the Spark side's ``max_channel_members``: the edge
    expansion reads from the per-channel lowest-user_id prefix while the
    node set still covers every subscriber (capped-out members receive
    only the base rank).
    """
    ctes = [f"""{_sql_channel_edges("<>", cap)},
deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
nodes AS (SELECT DISTINCT user_id AS u FROM subs),
r0 AS (SELECT u, CAST({PR_UNIT} AS BIGINT) AS rank FROM nodes)"""]
    for i in range(PR_ITERS):
        ctes.append(f"""r{i + 1} AS (
  SELECT n.u,
         CAST({PR_BASE} + ({PR_DAMP_NUM} * COALESCE(SUM(r{i}.rank // d.deg), 0))
              // {PR_DAMP_DEN} AS BIGINT) AS rank
  FROM nodes n
  LEFT JOIN edges e ON e.v = n.u
  LEFT JOIN r{i} ON r{i}.u = e.u
  LEFT JOIN deg d ON d.u = e.u
  GROUP BY n.u)""")
    return ",\n".join(ctes)


@register("channel_pagerank", oracle=f"""
WITH {_sql_pagerank_ctes(cap=PR_CHANNEL_CAP)}
SELECT u AS user_id, rank AS rank_micro
FROM r{PR_ITERS}
""")
def channel_pagerank(spark: SparkSession, sf_dir: str,
                     max_channel_members: int | None = PR_CHANNEL_CAP
                     ) -> DataFrame:
    # The cap bounds the EDGE fan-out only; every subscriber stays a node
    # (a capped-out member becomes isolated, receiving just the base
    # rank) so the result cardinality is cap-invariant.
    subs, edges = _channel_graph(spark, sf_dir, max_channel_members)
    # Fold the out-degree onto the directed edge list once and pin that
    # (every round re-reads it): each round then needs a single join
    # (ranks) instead of two.
    edges = state.pinned(
        spark, ("channel_pagerank:edges", sf_dir, max_channel_members),
        lambda: _both_ways(edges).withColumn(
            "deg", F.count("*").over(Window.partitionBy("u"))))
    nodes = state.pinned(
        spark, ("channel_pagerank:nodes", sf_dir),
        lambda: subs.select(F.col("user_id").alias("u")).distinct())

    # The rank/receive tables are |nodes| rows while edges are |E| >>
    # |V|: BROADCAST the node-sized sides so the pinned edge list is
    # never re-shuffled — each round costs one partial-agg exchange on
    # the destination key and nothing else. (At billion-node scale the
    # rank vector outgrows broadcast; drop the hints and AQE plans the
    # shuffle join — the round structure is unchanged.)
    ranks = nodes.select("u", F.lit(PR_UNIT).cast("long").alias("rank"))
    for _ in range(PR_ITERS):
        contrib = (edges
                   .join(F.broadcast(ranks), "u")
                   .select(F.col("v"),
                           F.expr("rank div deg").alias("c")))
        recv = contrib.groupBy("v").agg(F.sum("c").alias("recv"))
        ranks = (nodes
                 .join(F.broadcast(recv), nodes["u"] == recv["v"], "left")
                 .select(
                     "u",
                     (F.lit(PR_BASE)
                      + F.expr(f"({PR_DAMP_NUM} * coalesce(recv, 0L)) "
                               f"div {PR_DAMP_DEN}"))
                     .cast("long").alias("rank")))
    return ranks.select(F.col("u").alias("user_id"),
                        F.col("rank").alias("rank_micro"))


@register("channel_pagerank_uncapped", oracle=f"""
WITH {_sql_pagerank_ctes(cap=None)}
SELECT u AS user_id, rank AS rank_micro
FROM r{PR_ITERS}
""")
def channel_pagerank_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-only twin: exact PageRank over the FULL co-membership edge
    set. Correct on small graphs; intentionally NOT in the driver gate
    window — the uncapped |channel|² expansion is the documented 100 TB
    scale-killer the capped registered query guards against.
    """
    return channel_pagerank(spark, sf_dir, max_channel_members=None)


# --------------------------------------------------------------------------
# channel_triangles — per-node triangle counts over the (capped)
# co-membership graph: the standard cohesion/clustering-coefficient
# numerator, and the second member of the multi-hop graph family
# (PageRank = iterative; triangles = multi-way self-join).
#
# Shape: canonical u < v edge list; the edge-iterator algorithm joins
# edges(a,b) x edges(b,c) on the shared middle node (one shuffle on the
# join key), then a LEFT SEMI probe of (a,c) against the edge list
# closes each wedge — at no point does a node's full neighborhood
# materialize as an array. Per-node counts explode each triangle to its
# three corners (3x fan-out of the TRIANGLE set, not the corpus) and the
# node spine left-joins zeros back. The same per-channel member cap as
# PageRank bounds the wedge count: a hub of degree d contributes
# O(d²) wedges, which is exactly what the cap controls at 100 TB.
# --------------------------------------------------------------------------
@register("channel_triangles", oracle=f"""
WITH {_sql_channel_edges("<")},
tri AS (
  SELECT ab.u AS a, ab.v AS b, bc.v AS c
  FROM edges ab JOIN edges bc ON ab.v = bc.u
  WHERE EXISTS (SELECT 1 FROM edges ac
                WHERE ac.u = ab.u AND ac.v = bc.v)),
corners AS (
  SELECT a AS user_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri),
pernode AS (SELECT user_id, COUNT(*) AS n FROM corners GROUP BY user_id),
nodes AS (SELECT DISTINCT user_id FROM subs)
SELECT n.user_id, CAST(COALESCE(p.n, 0) AS BIGINT) AS n_triangles
FROM nodes n LEFT JOIN pernode p USING (user_id)
""")
def channel_triangles(spark: SparkSession, sf_dir: str,
                      max_channel_members: int | None = PR_CHANNEL_CAP
                      ) -> DataFrame:
    subs, edges = _channel_graph(spark, sf_dir, max_channel_members)
    wedges = (edges.alias("ab")
              .join(edges.alias("bc"), F.col("ab.v") == F.col("bc.u"))
              .select(F.col("ab.u").alias("a"), F.col("ab.v").alias("b"),
                      F.col("bc.v").alias("c")))
    tri = wedges.join(
        edges.select(F.col("u").alias("a"), F.col("v").alias("c")),
        ["a", "c"], "left_semi")
    pernode = (tri.select(F.explode(F.array("a", "b", "c")).alias("user_id"))
                  .groupBy("user_id").agg(F.count("*").alias("n")))
    nodes = subs.select("user_id").distinct()
    return (nodes.join(pernode, "user_id", "left")
                 .select("user_id",
                         F.coalesce("n", F.lit(0)).cast("long")
                          .alias("n_triangles")))


# --------------------------------------------------------------------------
# channel_kcore — k-core decomposition of the (capped) co-membership
# graph by iterative peeling: drop nodes with degree < K, recompute,
# repeat. The community-detection / spam-filtering primitive: the
# k-core is the maximal subgraph where everyone keeps >= K neighbors
# AFTER the weakly-connected fringe is removed — node degree alone
# cannot compute it (peeling cascades; K=60 on this corpus takes 4
# rounds to settle).
#
# Shape: like PageRank, statically unrolled BSP rounds — each round is
# ONE degree aggregate over the current edge set plus two semi-joins
# shrinking it; edges only ever shrink, so round cost is monotone
# non-increasing. The oracle unrolls the same rounds as CTE stages.
# ``converged`` is TRUE iff the last two node sets match (fixpoint
# reached within KCORE_ROUNDS — true at the gate sf; at other scales
# the flag honestly reports a pre-fixpoint exit, and both engines
# compute the same rounds either way).
# --------------------------------------------------------------------------
KCORE_K = 60
KCORE_ROUNDS = 4

# Every round CTE is AS MATERIALIZED: DuckDB inlines plain CTEs per
# reference, and each round references the previous round's edge set
# ~5 times (n{i} twice, e{i} once directly + twice via n{i}) — the
# un-materialized chain recomputes e0 O(5^rounds) times (measured
# 177.5 s at sf0.01; 0.04 s materialized, identical rows). Same
# exponential-lineage fix as the Spark side's per-round
# localCheckpoint.
_SQL_KCORE_EDGES = "\n" + _sql_channel_edges("<", name="e0",
                                             mat=" MATERIALIZED")


def _sql_kcore_rounds() -> str:
    steps = []
    for i in range(1, KCORE_ROUNDS + 1):
        steps.append(f"""
n{i} AS MATERIALIZED (
  SELECT x AS user_id
  FROM (SELECT u AS x FROM e{i - 1} UNION ALL SELECT v FROM e{i - 1})
  GROUP BY x HAVING COUNT(*) >= {KCORE_K}),
e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i - 1} e
  JOIN n{i} a ON a.user_id = e.u
  JOIN n{i} b ON b.user_id = e.v)""")
    return ",".join(steps)


@register("channel_kcore", oracle=f"""
WITH {_SQL_KCORE_EDGES},
{_sql_kcore_rounds()}
SELECT x AS user_id, CAST(COUNT(*) AS BIGINT) AS core_degree,
       (SELECT COUNT(*) FROM n{KCORE_ROUNDS})
         = (SELECT COUNT(*) FROM n{KCORE_ROUNDS - 1}) AS converged
FROM (SELECT u AS x FROM e{KCORE_ROUNDS}
      UNION ALL SELECT v FROM e{KCORE_ROUNDS})
GROUP BY x
""")
def channel_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, e = _channel_graph(spark, sf_dir)

    def degrees(e: DataFrame) -> DataFrame:
        return (e.select(F.col("u").alias("x"))
                 .unionByName(e.select(F.col("v").alias("x")))
                 .groupBy("x").agg(F.count("*").alias("d")))

    # Each round's frame references the previous round's TWICE (degree
    # union + edge filter), so the raw lineage tree doubles per round —
    # by round 4 even rendering the plan string OOMs the driver. An
    # EAGER localCheckpoint per round cuts the lineage to the
    # materialized blocks (the same reason iterative GraphX/ML code
    # checkpoints); on a cluster with flaky executors, point
    # sparkContext.setCheckpointDir at durable storage and use
    # checkpoint() for the identical shape. Round 0 is the pinned edge
    # list itself. These checkpoints and the node counts run while the
    # frame is built: they are the algorithm, not bookkeeping.
    n_count = prev_count = None
    for _ in range(KCORE_ROUNDS):
        nodes = (degrees(e).where(F.col("d") >= KCORE_K)
                 .select("x").localCheckpoint(eager=True))
        e = (e.join(nodes.withColumnRenamed("x", "u"), "u")
              .join(nodes.withColumnRenamed("x", "v"), "v")
              .select("u", "v").localCheckpoint(eager=True))
        prev_count, n_count = n_count, nodes.count()
    converged = (prev_count is not None and n_count == prev_count)
    return (degrees(e)
            .select(F.col("x").alias("user_id"),
                    F.col("d").cast("long").alias("core_degree"),
                    F.lit(bool(converged)).alias("converged")))


# --------------------------------------------------------------------------
# graph_random_walks — deterministic hash-seeded random-walk sampling
# over the capped co-membership graph: the neighbor-sampling primitive
# under GraphSAGE / node2vec / DeepWalk training-data generation. Each
# node launches WALKS_PER_NODE walks of WALK_LEN steps; at every step
# the walk moves to the neighbor minimizing a cross-engine md5 hash of
# (start, walk_no, step, current, candidate) — pseudo-random transition
# choice with ZERO RNG state, exactly reproducible in any engine and at
# any parallelism (the corpus_weighted_sample discipline applied to
# graph transitions). Sinks (capped-out isolated members) stall in
# place, so every walk has a fixed length and the output schema is flat.
#
# Scale shape: the frontier is |V| x WALKS_PER_NODE rows; each step is
# ONE equi-join of the frontier against the pinned edge list keyed on
# the current node plus ONE argmin aggregate on the walk id — the same
# statically-unrolled BSP schedule as channel_pagerank, with per-step
# fan-out bounded by the channel cap. At 100 TB this is the shape GNN
# samplers run: walks never materialize more than frontier x avg-degree
# candidate rows per step.
# --------------------------------------------------------------------------
WALK_LEN = 3
WALKS_PER_NODE = 2


def _sql_walk_ctes() -> str:
    ctes = [f"""{_sql_channel_edges("<>")},
s0 AS (
  SELECT n.u AS start_u, w.w, n.u AS cur
  FROM (SELECT DISTINCT user_id AS u FROM subs) n,
       (SELECT UNNEST(range({WALKS_PER_NODE})) AS w) w)"""]
    for k in range(1, WALK_LEN + 1):
        ctes.append(f"""c{k} AS (
  SELECT s.start_u, s.w, e.v,
         ('0x' || substr(md5(CAST(s.start_u AS VARCHAR) || ':' ||
                             CAST(s.w AS VARCHAR) || ':{k}:' ||
                             CAST(s.cur AS VARCHAR) || ':' ||
                             CAST(e.v AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM s{k - 1} s JOIN edges e ON e.u = s.cur),
p{k} AS (
  SELECT start_u, w, v FROM (
    SELECT start_u, w, v,
           ROW_NUMBER() OVER (PARTITION BY start_u, w
                              ORDER BY h ASC, v ASC) AS rn
    FROM c{k})
  WHERE rn = 1),
s{k} AS (
  SELECT s.start_u, s.w, COALESCE(p.v, s.cur) AS cur
  FROM s{k - 1} s LEFT JOIN p{k} p USING (start_u, w))""")
    return ",\n".join(ctes)


@register("graph_random_walks", oracle=f"""
WITH {_sql_walk_ctes()}
SELECT s1.start_u AS user_id, CAST(s1.w AS BIGINT) AS walk_no,
       {", ".join(f"s{k}.cur AS step_{k}" for k in range(1, WALK_LEN + 1))}
FROM s1 {" ".join(f"JOIN s{k} USING (start_u, w)"
                  for k in range(2, WALK_LEN + 1))}
""")
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    subs, edges = _channel_graph(spark, sf_dir)
    edges = _both_ways(edges)
    nodes = subs.select(F.col("user_id").alias("start_u")).distinct()
    frontier = (nodes.crossJoin(
                    F.broadcast(spark.range(WALKS_PER_NODE)
                                     .select(F.col("id").alias("w"))))
                     .withColumn("cur", F.col("start_u")))
    for k in range(1, WALK_LEN + 1):
        h = F.conv(F.substring(F.md5(F.concat_ws(
                ":", F.col("start_u"), F.col("w"), F.lit(k),
                F.col("cur"), F.col("v"))), 1, 15), 16, 10).cast("long")
        # ONE pass per step: LEFT-join the frontier to the edge list
        # and take the min-(h, v) pick in the SAME aggregate that
        # carries the walk state. An inner join -> groupBy -> LEFT join
        # of the pick back into the frontier references the frontier
        # subtree twice per step, so the composed plan DOUBLES per
        # step (WALK_LEN 3 -> a 291-Exchange / 3.4k-line composed plan,
        # 44 AQE jobs) and pays an extra (start_u, w) shuffle per step
        # for the join-back. Grouping by
        # the carried state instead is exact: (start_u, w) is the group
        # key and every carried column is a function of it. A walker
        # whose cur has no out-edges keeps exactly one null-v row from
        # the left join, so min(struct(h, v)).v is NULL -> coalesce
        # keeps cur — bit-identical to the oracle's LEFT JOIN p{k}.
        carried = ["start_u", "w", "cur"] + [f"step_{i}"
                                             for i in range(1, k)]
        frontier = (frontier.join(edges, frontier["cur"] == edges["u"],
                                  "left")
                            .select(*carried, h.alias("h"), "v")
                            .groupBy(*carried)
                            .agg(F.min(F.struct("h", "v")).alias("m"))
                            .withColumn(f"step_{k}",
                                        F.coalesce(F.col("m.v"),
                                                   F.col("cur")))
                            .drop("m")
                            .withColumn("cur", F.col(f"step_{k}")))
    # Pinned for walk_skipgram_pairs, which re-reads the walks.
    return state.pinned(
        spark, ("graph_random_walks", sf_dir),
        lambda: frontier.select(
            F.col("start_u").alias("user_id"),
            F.col("w").cast("long").alias("walk_no"),
            *[F.col(f"step_{k}") for k in range(1, WALK_LEN + 1)]))


# --------------------------------------------------------------------------
# ego_subgraph_sample — capped k-hop ego-network extraction: for every
# seed node, sample at most EGO_FANOUT neighbors per visited node per
# hop, EGO_HOPS hops deep — the GNN minibatch loader (GraphSAGE's
# neighborhood sampler) as a batch query. Selection is the same
# RNG-free discipline as graph_random_walks: a node's sampled neighbors
# are the EGO_FANOUT smallest by md5(seed, hop, src, dst), so the
# subgraph is bit-reproducible at any parallelism and the oracle
# unrolls the identical choice.
#
# Scale shape: hop k's frontier is bounded by |seeds| x EGO_FANOUT^k by
# construction (the cap IS the algorithm), so each hop is one bounded
# equi-join of the frontier against the pinned edge list plus one
# per-(seed, src) window over at most node-degree rows. Output is the
# sampled edge list (seed, hop, src, dst) — what a GNN trainer feeds
# per minibatch.
# --------------------------------------------------------------------------
EGO_SEED_MOD = 17
EGO_FANOUT = 4
EGO_HOPS = 2


def _sql_ego_ctes() -> str:
    ctes = [f"""{_sql_channel_edges("<>")},
f0 AS (
  SELECT DISTINCT user_id AS seed, user_id AS node
  FROM subs WHERE user_id % {EGO_SEED_MOD} = 0)"""]
    for k in range(1, EGO_HOPS + 1):
        ctes.append(f"""h{k} AS (
  SELECT seed, src, dst FROM (
    SELECT f.seed, f.node AS src, e.v AS dst,
           ROW_NUMBER() OVER (
             PARTITION BY f.seed, f.node
             ORDER BY ('0x' || substr(md5(CAST(f.seed AS VARCHAR) || ':{k}:' ||
                                          CAST(f.node AS VARCHAR) || ':' ||
                                          CAST(e.v AS VARCHAR)), 1, 15))::BIGINT
                      ASC, e.v ASC) AS rn
    FROM f{k - 1} f JOIN edges e ON e.u = f.node)
  WHERE rn <= {EGO_FANOUT}),
f{k} AS (SELECT DISTINCT seed, dst AS node FROM h{k})""")
    return ",\n".join(ctes)


@register("ego_subgraph_sample", oracle=f"""
WITH {_sql_ego_ctes()}
{" UNION ALL ".join(f"SELECT seed, CAST({k} AS BIGINT) AS hop, src, dst FROM h{k}"
                    for k in range(1, EGO_HOPS + 1))}
""")
def ego_subgraph_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    subs, edges = _channel_graph(spark, sf_dir)
    edges = _both_ways(edges)
    frontier = (subs.select("user_id").distinct()
                    .where(F.col("user_id") % EGO_SEED_MOD == 0)
                    .select(F.col("user_id").alias("seed"),
                            F.col("user_id").alias("node")))
    hops = []
    for k in range(1, EGO_HOPS + 1):
        h = F.conv(F.substring(F.md5(F.concat_ws(
                ":", F.col("seed"), F.lit(k), F.col("node"),
                F.col("v"))), 1, 15), 16, 10).cast("long")
        w_sel = (Window.partitionBy("seed", "node")
                       .orderBy(F.col("__h").asc(), F.col("v").asc()))
        hop = (frontier.join(edges, frontier["node"] == edges["u"])
                       .withColumn("__h", h)
                       .withColumn("__rn", F.row_number().over(w_sel))
                       .where(F.col("__rn") <= EGO_FANOUT)
                       .select("seed",
                               F.lit(k).cast("long").alias("hop"),
                               F.col("node").alias("src"),
                               F.col("v").alias("dst")))
        hops.append(hop)
        frontier = hop.select("seed", F.col("dst").alias("node")).distinct()
    result = hops[0]
    for hop in hops[1:]:
        result = result.unionByName(hop)
    return result


# --------------------------------------------------------------------------
# walk_skipgram_pairs — (center, context) co-occurrence pairs within a
# +-SKIPGRAM_WINDOW window over every random-walk sequence: the
# DeepWalk/node2vec training-data generator (walks play the role of
# sentences, nodes of tokens; the pair counts feed a word2vec-style
# embedding trainer or a direct PMI factorization). Self-pairs from
# stalled walks are excluded.
#
# Scale shape: a literal 10-struct position-pair explode over the walk
# frame (map-side, |walks| x 10 rows) followed by ONE count aggregate on
# (center, context) — the only shuffle. Composes graph_random_walks, so
# the pairs inherit its RNG-free bit-reproducibility.
# --------------------------------------------------------------------------
SKIPGRAM_WINDOW = 2


def _skipgram_oracle() -> str:
    return f"""
WITH walks AS ({ORACLES["graph_random_walks"]}),
seq AS (
  SELECT [user_id, {", ".join(f"step_{k}" for k in range(1, WALK_LEN + 1))}]
           AS s
  FROM walks),
pairs AS (
  SELECT s[i.i + 1] AS center, s[j.j + 1] AS context
  FROM seq,
       (SELECT UNNEST(range({WALK_LEN + 1})) AS i) i,
       (SELECT UNNEST(range({WALK_LEN + 1})) AS j) j
  WHERE i.i <> j.j AND ABS(i.i - j.j) <= {SKIPGRAM_WINDOW})
SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs WHERE center <> context
GROUP BY center, context
"""


@register("walk_skipgram_pairs", oracle=_skipgram_oracle)
def walk_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    walks = graph_random_walks(spark, sf_dir)
    seq = walks.select(F.array(
        "user_id", *[f"step_{k}" for k in range(1, WALK_LEN + 1)]).alias("s"))
    L = WALK_LEN + 1
    ij = [(i, j) for i in range(L) for j in range(L)
          if i != j and abs(i - j) <= SKIPGRAM_WINDOW]
    structs = [F.struct(F.col("s").getItem(i).alias("center"),
                        F.col("s").getItem(j).alias("context"))
               for i, j in ij]
    return (seq.select(F.explode(F.array(*structs)).alias("p"))
               .select("p.*")
               .where(F.col("center") != F.col("context"))
               .groupBy("center", "context")
               .agg(F.count("*").cast("long").alias("n_pairs")))


# --------------------------------------------------------------------------
# channel_link_prediction — Adamic-Adar link prediction over the
# (capped) co-membership graph: for every NON-adjacent pair (u, v)
# sharing at least one neighbor, score = sum over common neighbors w of
# 1/ln(deg(w)); top-LP_TOPK scored pairs are the friend/follow
# recommendation candidates a production graph serves. Completes the
# graph-ML family (walks/skip-grams generate embeddings; this is the
# classical heuristic baseline they're evaluated against).
#
# Determinism: each wedge contribution snaps to round(1e6/ln(deg))
# BEFORE summation (deg >= 2 whenever w is a common neighbor, so ln is
# never 0); ties on the final score break by (u, v). Top-K is
# ORDER BY .. LIMIT (TakeOrderedAndProject), never a global window.
#
# 100 TB shape: degree attaches to the neighbor table keyed by w, so
# the wedge join (sym x sym on w) is co-partitioned with it — one
# shuffle on node id; the per-channel member cap bounds deg(w), hence
# wedges per node, exactly as in triangles/pagerank; the existing-edge
# removal is a shuffled LEFT ANTI on the canonical pair.
# --------------------------------------------------------------------------
LP_TOPK = 50


@register("channel_link_prediction", oracle=f"""
WITH {_sql_channel_edges("<")},
sym AS (SELECT u AS src, v AS dst FROM edges
        UNION ALL SELECT v, u FROM edges),
deg AS (SELECT src AS node, COUNT(*) AS d FROM sym GROUP BY src),
wedges AS (
  SELECT x.src AS u, y.src AS v, x.dst AS w
  FROM sym x JOIN sym y ON x.dst = y.dst AND x.src < y.src),
scored AS (
  SELECT wg.u, wg.v,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(CAST(ROUND(1000000.0::DOUBLE
                             / ln(CAST(dg.d AS DOUBLE))) AS BIGINT))
              AS BIGINT) AS aa_ppm
  FROM wedges wg JOIN deg dg ON dg.node = wg.w
  GROUP BY wg.u, wg.v),
cand AS (
  SELECT s.* FROM scored s
  LEFT JOIN edges e ON e.u = s.u AND e.v = s.v
  WHERE e.u IS NULL)
SELECT u, v, n_common, aa_ppm
FROM cand ORDER BY aa_ppm DESC, u ASC, v ASC LIMIT {LP_TOPK}
""")
def channel_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, edges = _channel_graph(spark, sf_dir)
    sym = _both_ways(edges).toDF("src", "dst")
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    # Degree rides on the neighbor table keyed by the common node, so
    # the wedge join below is co-partitioned with it.
    nbrd = (sym.join(deg, sym["dst"] == deg["node"])
               .select("src", "dst", "d"))
    wedges = (nbrd.alias("x")
              .join(sym.alias("y"),
                    (F.col("x.dst") == F.col("y.dst"))
                    & (F.col("x.src") < F.col("y.src")))
              .select(F.col("x.src").alias("u"), F.col("y.src").alias("v"),
                      F.col("x.d").alias("d")))
    scored = (wedges.groupBy("u", "v")
              .agg(F.count("*").cast("long").alias("n_common"),
                   F.sum(F.round(F.lit(1000000.0)
                                 / F.log(F.col("d").cast("double")))
                          .cast("long")).cast("long").alias("aa_ppm")))
    cand = scored.join(edges, ["u", "v"], "left_anti")
    return (cand.orderBy(F.col("aa_ppm").desc(), F.col("u").asc(),
                         F.col("v").asc())
                .limit(LP_TOPK))


# --------------------------------------------------------------------------
# channel_modularity_audit — partition-quality evaluation: Newman
# modularity Q of the "primary channel" partition (each user assigned
# to their lowest-id subscribed channel) over the capped co-membership
# graph. Q_c = m_c/m - (d_c/2m)^2 summed over communities; high Q means
# primary-channel membership explains the graph's wiring, near-zero
# means channels cross-cut the social structure — the eval a community
# product runs BEFORE trusting channel groupings for recommendations.
# Completes the graph family's audit side (pagerank/k-core/triangles
# compute structure; this scores a partition against it).
#
# Determinism: the partition is a min() per user; edges are the
# canonical u < v distinct set; every Q term is an integer ppm floor
# division ((dd*dd) div 1e6 for the degree term, so nothing exceeds
# ppm^2 magnitude regardless of graph size).
#
# 100 TB shape: the same capped edge expansion as channel_pagerank
# (per-channel lowest-id prefix bounds the fan-out); the partition is
# one groupBy(user) min; Q terms aggregate per community after two
# narrow user-keyed joins. No window over rows, no uncapped blowup.
# --------------------------------------------------------------------------
@register("channel_modularity_audit", oracle=f"""
WITH {_sql_channel_edges("<")},
part AS (SELECT user_id, MIN(channel) AS community FROM subs
         GROUP BY user_id),
m AS (SELECT COUNT(*) AS m FROM edges),
deg AS (
  SELECT user_id, COUNT(*) AS deg FROM (
    SELECT u AS user_id FROM edges
    UNION ALL SELECT v FROM edges) GROUP BY user_id),
dc AS (
  SELECT p.community, SUM(d.deg) AS d_c,
         COUNT(*) AS n_nodes_with_edges
  FROM deg d JOIN part p USING (user_id) GROUP BY p.community),
mc AS (
  SELECT pu.community, COUNT(*) AS m_c
  FROM edges e
  JOIN part pu ON pu.user_id = e.u
  JOIN part pv ON pv.user_id = e.v
  WHERE pu.community = pv.community
  GROUP BY pu.community)
SELECT d.community,
       CAST(d.n_nodes_with_edges AS BIGINT) AS n_nodes,
       CAST(COALESCE(c.m_c, 0) AS BIGINT) AS m_intra,
       CAST(d.d_c AS BIGINT) AS degree_total,
       CAST((1000000 * COALESCE(c.m_c, 0)) // m.m
            - ((1000000 * d.d_c) // (2 * m.m))
              * ((1000000 * d.d_c) // (2 * m.m)) // 1000000
            AS BIGINT) AS q_contrib_ppm
FROM dc d LEFT JOIN mc c USING (community), m
WHERE m.m > 0
""")
def channel_modularity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    subs, edges = _channel_graph(spark, sf_dir)
    part = subs.groupBy("user_id").agg(F.min("channel").alias("community"))
    m = edges.agg(F.count("*").alias("m"))
    deg = (edges.select(F.col("u").alias("user_id"))
                .unionByName(edges.select(F.col("v").alias("user_id")))
                .groupBy("user_id").agg(F.count("*").alias("deg")))
    dc = (deg.join(part, "user_id")
             .groupBy("community")
             .agg(F.sum("deg").alias("d_c"),
                  F.count("*").alias("n_nodes_with_edges")))
    pu = part.select(F.col("user_id").alias("u"),
                     F.col("community").alias("cu"))
    pv = part.select(F.col("user_id").alias("v"),
                     F.col("community").alias("cv"))
    mc = (edges.join(pu, "u").join(pv, "v")
               .where(F.col("cu") == F.col("cv"))
               .groupBy(F.col("cu").alias("community"))
               .agg(F.count("*").alias("m_c")))
    q = F.expr("(1000000 * coalesce(m_c, 0)) div m"
               " - ((1000000 * d_c) div (2 * m))"
               "   * ((1000000 * d_c) div (2 * m)) div 1000000")
    return (dc.join(mc, "community", "left")
              .crossJoin(F.broadcast(m))
              .where(F.col("m") > 0)
              .select("community",
                      F.col("n_nodes_with_edges").cast("long")
                       .alias("n_nodes"),
                      F.coalesce(F.col("m_c"), F.lit(0)).cast("long")
                       .alias("m_intra"),
                      F.col("d_c").cast("long").alias("degree_total"),
                      q.cast("long").alias("q_contrib_ppm")))


# --------------------------------------------------------------------------
# channel_conductance_audit — the CUT-side partition metric next to
# channel_modularity_audit's density side: conductance phi(c) =
# cut(c) / min(vol(c), vol(rest)) per primary-channel community over
# the capped co-membership graph, where cut(c) counts edges with
# exactly one endpoint in c and vol is the community's degree mass. Low
# conductance = a real cluster (few escaping edges); modularity can
# reward size where conductance exposes leaky boundaries — reading both
# is the standard partition-quality practice.
#
# Determinism: same capped edge set, same min-channel partition, exact
# integer edge/degree counts; phi is a ppm floor division with the
# min() denominator guarded to 1.
#
# 100 TB shape: shares channel_modularity_audit's bounded machinery
# (cap^2 edge fan-out per channel, one groupBy(user) partition, two
# narrow user-keyed joins); the cut classification is a map-side
# equality on the already-joined endpoints.
# --------------------------------------------------------------------------
@register("channel_conductance_audit", oracle=f"""
WITH {_sql_channel_edges("<")},
part AS (SELECT user_id, MIN(channel) AS community FROM subs
         GROUP BY user_id),
lab AS (
  SELECT pu.community AS cu, pv.community AS cv
  FROM edges e
  JOIN part pu ON pu.user_id = e.u
  JOIN part pv ON pv.user_id = e.v),
tot AS (SELECT 2 * COUNT(*) AS vol_all FROM lab),
stats AS (
  SELECT community,
         SUM(intra) AS m_intra, SUM(cut) AS cut_edges,
         SUM(vol) AS volume
  FROM (
    SELECT cu AS community,
           CASE WHEN cu = cv THEN 1 ELSE 0 END AS intra,
           CASE WHEN cu = cv THEN 0 ELSE 1 END AS cut,
           CASE WHEN cu = cv THEN 2 ELSE 1 END AS vol
    FROM lab
    UNION ALL
    SELECT cv, 0, CASE WHEN cu = cv THEN 0 ELSE 1 END,
           CASE WHEN cu = cv THEN 0 ELSE 1 END
    FROM lab)
  GROUP BY community)
SELECT s.community,
       CAST(s.m_intra AS BIGINT) AS m_intra,
       CAST(s.cut_edges AS BIGINT) AS cut_edges,
       CAST(s.volume AS BIGINT) AS volume,
       CAST((1000000 * s.cut_edges)
            // GREATEST(LEAST(s.volume, t.vol_all - s.volume), 1)
            AS BIGINT) AS conductance_ppm
FROM stats s CROSS JOIN tot t
""")
def channel_conductance_audit(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    subs, edges = _channel_graph(spark, sf_dir)
    part = subs.groupBy("user_id").agg(F.min("channel").alias("community"))
    pu = part.select(F.col("user_id").alias("u"),
                     F.col("community").alias("cu"))
    pv = part.select(F.col("user_id").alias("v"),
                     F.col("community").alias("cv"))
    lab = state.pinned(
        spark, ("channel_conductance_audit:lab", sf_dir),
        lambda: edges.join(pu, "u").join(pv, "v").select("cu", "cv"))
    tot = lab.agg((2 * F.count("*")).alias("vol_all"))
    intra = F.when(F.col("cu") == F.col("cv"), 1).otherwise(0)
    cut = F.when(F.col("cu") == F.col("cv"), 0).otherwise(1)
    side_u = lab.select(F.col("cu").alias("community"),
                        intra.alias("intra"), cut.alias("cut"),
                        F.when(F.col("cu") == F.col("cv"), 2).otherwise(1)
                         .alias("vol"))
    side_v = lab.select(F.col("cv").alias("community"),
                        F.lit(0).alias("intra"), cut.alias("cut"),
                        F.when(F.col("cu") == F.col("cv"), 0).otherwise(1)
                         .alias("vol"))
    stats = (side_u.unionByName(side_v)
                   .groupBy("community")
                   .agg(F.sum("intra").alias("m_intra"),
                        F.sum("cut").alias("cut_edges"),
                        F.sum("vol").alias("volume")))
    return (stats.crossJoin(F.broadcast(tot))
            .select("community",
                    F.col("m_intra").cast("long").alias("m_intra"),
                    F.col("cut_edges").cast("long").alias("cut_edges"),
                    F.col("volume").cast("long").alias("volume"),
                    F.expr("(1000000 * cut_edges) div"
                           " greatest(least(volume, vol_all - volume), 1)")
                     .cast("long").alias("conductance_ppm")))
