"""Similarity search over the ``embeddings`` table (array<float> vectors).

Driver-mandated LLM-pipeline surface (SURVEY.md §0 addendum):

  * ann_topk_bruteforce — exact top-k cosine neighbors for a query set:
    broadcast the (small) query side against the corpus, rank with a
    window. The correctness baseline every ANN variant is measured
    against.
  * ann_topk_lsh — sign-bit LSH bucketing (fixed axis-aligned
    hyperplanes = sign of the first B dims), equi-join on bucket, rank
    within bucket. Deterministic — no RNG — so it has an exact SQL
    oracle; recall loss vs brute force is a *property*, not a
    comparison artifact.
  * ann_topk_ivf + train_ivf_centroids / ivf_kmeans_centroids — IVF
    with a TRAINED coarse quantizer: deterministic Lloyd's k-means
    (oracle unrolls the same rounds as CTE stages), then probe the
    nprobe nearest inverted lists.
  * dedup_embedding_cosine — near-dup pairs by cosine >= threshold
    (brute-force half-matrix: the exhaustive verify kernel).
  * dedup_embedding_lsh — the scale path for near-dup: banded sign-LSH
    candidate join fronting the same exact-cosine verify.

All vector math is pure SQL expressions over array<double> (floats
upcast first so both engines do identical IEEE-double arithmetic): dots
are unrolled element_at sums emitted as SQL text — one JVM-side parse,
whole-stage codegen, and the exact left-associative summation order of a
sequential fold — with each vector's norm computed once and carried as a
column. Ranking/thresholding always uses ROUND(cos, 6) so last-ulp
differences between engines cannot flip an order or a threshold.

The ANN and near-dup queries share five steps, each written once:

  * _sql_cos — the rounded-cosine pair scorer (SQL text);
  * operators.windows.topk_per_key — the per-key top-K ranker
    (_top_neighbors applies it with the neighbor tie rule);
  * _sql_sign_code — the sign-bit bucket code (SQL text), for the LSH
    queries' single codes and the band tables (_sign_bands);
  * _emb_band_candidates — the band self-join, whose pairs
    _verify_pairs checks against the exact cosine threshold;
  * _recall_at_k — per-query recall@K of an approximate top-K against
    the brute-force truth.

At 100 TB: the brute-force path is O(|Q| x |corpus|) with the query side
broadcast — correct shape for small Q. The LSH path shuffles the corpus
once on bucket id; skewed buckets are AQE's problem (skew-join splitting
works because the join is a plain equi-join).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdfs_with_pyspark_spark import state
from hdfs_with_pyspark_spark.operators.windows import top1_per_key, topk_per_key
from hdfs_with_pyspark_spark.plans.registry import ORACLES, register
from hdfs_with_pyspark_spark.sources.io import local_frame, read_table


N_QUERIES = 10      # vec_id < 10 is the query set
TOP_K = 5
LSH_SIGN_DIMS = 4   # 16 buckets; at real scale use 8-12 dims + multiprobe
COSINE_DUP_THRESHOLD = 0.45  # synthetic vectors are near-orthogonal; 0.45
                             # captures the ~dozen closest pairs at sf0.01


EMBED_DIM = 64  # testdata embedding width (TESTDATA.md)


def _dot(a, b, dim: int | None = None):
    """Dot product of two array<double> columns.

    With ``dim`` (the fixed corpus width): unrolled sum of element_at
    terms, left-associative ((0 + t1) + t2) + ... — the exact summation
    order of a sequential fold, so results are bit-identical to the
    fold form — but the whole expression stays in whole-stage codegen.
    Spark evaluates higher-order functions interpreted per element;
    unrolling measured ~10x faster on the 64-dim corpus.

    Without ``dim``: the generic fold, for variable-length arrays.

    ``dim`` is an upper bound, not an exact requirement: positions past an
    array's end contribute an exact +0.0 (try_element_at -> NULL ->
    coalesce 0.0), which never changes the sum.
    """
    if dim is None:
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           F.lit(0.0), lambda acc, x: acc + x)
    acc = F.lit(0.0)
    for i in range(1, dim + 1):
        acc = acc + F.coalesce(F.try_element_at(a, F.lit(i))
                               * F.try_element_at(b, F.lit(i)), F.lit(0.0))
    return acc


def _norm(a, dim: int | None = None):
    return F.sqrt(_dot(a, a, dim))


def _sql_dot_cols(a: str, b: str, dim: int = EMBED_DIM) -> str:
    """SQL text of the unrolled dot product of two array columns.

    Identical op sequence to ``_dot(..., dim)`` — left-associative sum
    seeded with 0.0, missing positions contributing an exact +0.0 — but
    parsed JVM-side in one shot, where the Column-operator form costs one
    Py4J round-trip per node (~hundreds of ms per 64-dim dot)."""
    terms = " + ".join(
        f"coalesce(try_element_at({a}, {i}) * try_element_at({b}, {i}), 0.0D)"
        for i in range(1, dim + 1))
    return f"(0.0D + {terms})"


def _with_norm(df: DataFrame, vcol: str, out: str,
               dim: int = EMBED_DIM) -> DataFrame:
    """Attach the vector's L2 norm as a column, computed once per row and
    reused across every pair scoring that involves the row (the oracle
    recomputes sqrt(list_dot_product) per pair from the identical IEEE op
    sequence, so values are bit-equal). ``dim`` is the vector width,
    PQ_SUB_DIM for subvectors: terms past an array's end add an exact
    +0.0, so a wider ``dim`` gives the same bits in longer code."""
    return df.withColumn(out,
                         F.expr(f"sqrt({_sql_dot_cols(vcol, vcol, dim)})"))


def _sql_cos(a: str, b: str, na: str | None = None, nb: str | None = None,
             dim: int = EMBED_DIM) -> str:
    """SQL text of ROUND(cos(a, b), 6), the pair score every exact-cosine
    ranking, threshold and verify here uses: the oracles'
    ROUND(list_dot_product / (sqrt * sqrt), 6) op for op. ``na``/``nb``
    name norm columns carried from _with_norm; without them the norm is
    computed in place."""
    na = na or f"sqrt({_sql_dot_cols(a, a, dim)})"
    nb = nb or f"sqrt({_sql_dot_cols(b, b, dim)})"
    return f"ROUND({_sql_dot_cols(a, b, dim)} / ({na} * {nb}), 6)"


def _top_neighbors(scored: DataFrame, score: str, k: int = TOP_K,
                   key: str = "query_id") -> DataFrame:
    """The ``k`` best neighbors per ``key`` under the rule every ANN query
    ranks by, ``score`` DESC and neighbor_id ASC, with a long ``rank``."""
    return (topk_per_key(scored, [key], [F.col(score).desc(),
                                         F.col("neighbor_id").asc()], k)
            .withColumn("rank", F.col("rank").cast("long")))


def _sql_sign_code(elems) -> str:
    """SQL text of a sign-bit bucket code: bit i is set when the SQL value
    elems[i] is >= 0, and a NULL value is a 0 bit. One string, so the JVM
    parses a whole band table's codes in one call instead of one Py4J
    round trip per Column operator."""
    bits = "".join(f" + CASE WHEN {e} >= 0 THEN CAST({1 << i} AS BIGINT) "
                   "ELSE CAST(0 AS BIGINT) END" for i, e in enumerate(elems))
    return f"(CAST(0 AS BIGINT){bits})"


def _sql_axis_code(first: int, bits: int) -> str:
    """The code of ``bits`` axis-aligned hyperplanes: the signs of v's
    dims first..first+bits-1. try_element_at, not element_at: a dim past
    the vector's end is NULL (a 0 bit) instead of an error under ANSI
    mode, matching DuckDB's out-of-bounds list indexing."""
    return _sql_sign_code(f"try_element_at(v, {d})"
                          for d in range(first, first + bits))


def cosine(a, b, dim: int | None = None):
    """Cosine similarity of two array<double> columns (Column expr).

    Pass ``dim`` when the width is fixed and known (all corpus queries
    do) to get the codegen'd unrolled form.
    """
    return _dot(a, b, dim) / (_norm(a, dim) * _norm(b, dim))


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the embeddings file is scan-thin but every consumer runs
    # 64-term unrolled dots per row — without re-spreading, the single
    # scan split serializes all of that on one core (textops.spread is
    # a no-op once scans yield >= parallelism splits).
    #
    # Deliberately NOT cached/pinned (measured): a blanket
    # per-(application, sf_dir) persisted frame was tried to dedupe the
    # up-to-40 repeated scan subtrees composed evals carry
    # (plans/r11/*_before.txt) and rejected by the paired bench — the
    # eager materialization job plus losing scan->dot-product codegen
    # fusion cost single-pipeline queries 1.2-1.5x (ann_topk_lsh 0.68
    # -> 1.03 s, dedup_embedding_ivf 2.52 -> 4.16 s) while the heavy
    # evals gained only ~5-15%. Composed evals that provably reference
    # expensive SUB-RESULTS more than once pin those results instead
    # (bf/shortlist persists in the refine recall evals).
    from hdfs_with_pyspark_spark.llm.textops import spread
    return spread(read_table(spark, sf_dir, "embeddings")
                  .select("vec_id",
                          F.col("embedding").cast("array<double>").alias("v")))


_SQL_VECTORS = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
_SQL_COS = ("list_dot_product(a.v, b.v) / "
            "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))")


# --------------------------------------------------------------------------
# ann_topk_bruteforce — exact top-k. The query side (10 rows) broadcasts;
# the corpus never shuffles. Rank on (round(cos,6) DESC, vec_id ASC) —
# fully deterministic under float noise.
# --------------------------------------------------------------------------
@register("ann_topk_bruteforce", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
q AS (SELECT * FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND({_SQL_COS}, 6) AS cos_sim
  FROM q a JOIN v b ON a.vec_id <> b.vec_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos_sim
FROM ranked WHERE rank <= {TOP_K}
""")
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _with_norm(_vectors(spark, sf_dir), "v", "nv")
    q = v.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nv").alias("qnv"))
    scored = (F.broadcast(q)
              .join(v, F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      F.expr(_sql_cos("qv", "v", "qnv", "nv")).alias("cos_sim")))
    return (_top_neighbors(scored, "cos_sim")
            .select("query_id", "neighbor_id", "rank", "cos_sim"))


# --------------------------------------------------------------------------
# ann_topk_lsh — sign-bit bucketed ANN. Bucket = sum of sign(v[i])<<i for
# the first LSH_SIGN_DIMS dims (fixed hyperplanes — deterministic, exact
# oracle). Candidates = same-bucket corpus rows; then the same rank.
# --------------------------------------------------------------------------
_SQL_BUCKET = ("list_sum(list_transform(generate_series(1, " + str(LSH_SIGN_DIMS) + "), "
               "i -> CASE WHEN v[i] >= 0 THEN 1::BIGINT << (i - 1) ELSE 0::BIGINT END))")

@register("ann_topk_lsh", oracle=f"""
WITH v0 AS ({_SQL_VECTORS}),
v AS (SELECT vec_id, v, {_SQL_BUCKET} AS bucket FROM v0),
q AS (SELECT * FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND({_SQL_COS}, 6) AS cos_sim
  FROM q a JOIN v b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos_sim
FROM ranked WHERE rank <= {TOP_K}
""")
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _with_norm(_vectors(spark, sf_dir).withColumn(
        "bucket", F.expr(_sql_axis_code(1, LSH_SIGN_DIMS))), "v", "nv")
    q = v.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                 F.col("nv").alias("qnv"), "bucket").where(F.col("query_id") < N_QUERIES)
    scored = (F.broadcast(q)
              .join(v, ["bucket"])
              .where(F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      F.expr(_sql_cos("qv", "v", "qnv", "nv")).alias("cos_sim")))
    return (_top_neighbors(scored, "cos_sim")
            .select("query_id", "neighbor_id", "rank", "cos_sim"))


# --------------------------------------------------------------------------
# ann_topk_lsh_multiprobe — the production-shaped sign-LSH: a WIDER code
# (LSH_MP_BITS sign bits => 2^bits buckets, so per-bucket occupancy stays
# O(N / 2^bits) as the corpus grows) with the recall bought back by
# MULTIPROBE — each query also probes every bucket at Hamming distance
# <= LSH_MP_HAMMING from its own (flip one bit of the code: the buckets
# a near neighbor most likely landed in when it straddled one
# hyperplane). Swept against the 4-bit single-probe variant above on
# this corpus: identical recall at ~half the candidates scored
# (166 vs 303 at sf0.01, 697 vs 1238 at sf0.1). The probe fan-out is
# per-QUERY (bits+1 bucket lookups), not per-corpus-row — the corpus
# carries one bucket each and never re-shuffles; a candidate pair can't
# duplicate across probes (a corpus row lives in exactly one bucket),
# so no distinct is needed before ranking.
# --------------------------------------------------------------------------
LSH_MP_BITS = 8
LSH_MP_HAMMING = 1

_SQL_MP_BUCKET = (f"list_sum(list_transform(generate_series(1, {LSH_MP_BITS}), "
                  "i -> CASE WHEN v[i] >= 0 THEN 1::BIGINT << (i - 1) ELSE 0::BIGINT END))")
_MP_MASKS = [0] + [1 << i for i in range(LSH_MP_BITS)]  # H<=1 probe set


@register("ann_topk_lsh_multiprobe", oracle=f"""
WITH v0 AS ({_SQL_VECTORS}),
vb AS (SELECT vec_id, v, {_SQL_MP_BUCKET} AS bucket FROM v0),
q AS (SELECT * FROM vb WHERE vec_id < {N_QUERIES}),
probes AS (SELECT q.vec_id, q.v, xor(q.bucket, m.m) AS bucket
           FROM q CROSS JOIN (SELECT unnest([{", ".join(map(str, _MP_MASKS))}]) AS m) m),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND({_SQL_COS}, 6) AS cos_sim
  FROM probes a JOIN vb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos_sim
FROM ranked WHERE rank <= {TOP_K}
""")
def ann_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _with_norm(_vectors(spark, sf_dir).withColumn(
        "bucket", F.expr(_sql_axis_code(1, LSH_MP_BITS))), "v", "nv")
    # per-query probe fan-out: own bucket + each one-bit flip
    probes = (v.where(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
                       F.col("nv").alias("qnv"),
                       F.explode(F.array(*[
                           F.col("bucket").bitwiseXOR(F.lit(m)).alias("b")
                           for m in _MP_MASKS])).alias("bucket")))
    scored = (F.broadcast(probes)
              .join(v, ["bucket"])
              .where(F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      F.expr(_sql_cos("qv", "v", "qnv", "nv")).alias("cos_sim")))
    return (_top_neighbors(scored, "cos_sim")
            .select("query_id", "neighbor_id", "rank", "cos_sim"))


# --------------------------------------------------------------------------
# knn_graph_lsh — the k-nearest-neighbor GRAPH over the whole corpus:
# every vector is a query. The feed for graph-based curation at scale
# (connected-component near-dup clusters, label propagation, graph-based
# coreset selection). Reuses the multiprobe geometry (LSH_MP_BITS-bit
# code, Hamming<=1 probe fan-out) but the join SHAPE flips: with
# |Q| == |corpus| nothing broadcasts — the 9x probe fan-out and the
# corpus bucket table meet in a plain shuffle equi-join on bucket, the
# one-shuffle linear-cost all-pairs-candidates build. Per-node top-k is
# a bounded window over each node's own candidates. Directed by
# construction (a may rank b without b ranking a) — symmetrize with
# operators/pairs.py if an undirected graph is needed downstream.
# --------------------------------------------------------------------------
KNN_GRAPH_K = 3


@register("knn_graph_lsh", oracle=f"""
WITH v0 AS ({_SQL_VECTORS}),
vb AS (SELECT vec_id, v, {_SQL_MP_BUCKET} AS bucket FROM v0),
probes AS (SELECT q.vec_id, q.v, xor(q.bucket, m.m) AS bucket
           FROM vb q CROSS JOIN (SELECT unnest([{", ".join(map(str, _MP_MASKS))}]) AS m) m),
scored AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         ROUND({_SQL_COS}, 6) AS cos_sim
  FROM probes a JOIN vb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT vec_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos_sim
FROM ranked WHERE rank <= {KNN_GRAPH_K}
""")
def knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _with_norm(_vectors(spark, sf_dir).withColumn(
        "bucket", F.expr(_sql_axis_code(1, LSH_MP_BITS))), "v", "nv")
    probes = v.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
                      F.col("nv").alias("qnv"),
                      F.explode(F.array(*[
                          F.col("bucket").bitwiseXOR(F.lit(m)).alias("b")
                          for m in _MP_MASKS])).alias("bucket"))
    # No broadcast hint: both sides are corpus-sized — this is the
    # deliberate single shuffle on bucket.
    scored = (probes.join(v, ["bucket"])
                    .where(F.col("qid") != F.col("vec_id"))
                    .select("qid", F.col("vec_id").alias("neighbor_id"),
                            F.expr(_sql_cos("qv", "v", "qnv", "nv"))
                             .alias("cos_sim")))
    return (_top_neighbors(scored, "cos_sim", KNN_GRAPH_K, key="qid")
            .select(F.col("qid").alias("vec_id"), "neighbor_id", "rank",
                    "cos_sim"))


# --------------------------------------------------------------------------
# ann_topk_ivf — inverted-file ANN: a coarse quantizer assigns every
# corpus vector to its nearest centroid (the inverted list); a query
# scores only the vectors in its nprobe closest lists. The quantizer is
# TRAINED: train_ivf_centroids runs Lloyd's k-means (deterministic init =
# first N_CENTROIDS corpus vectors; per-iteration means rounded to 6
# decimals so both engines stay bit-identical) and the oracle unrolls the
# same fixed number of assignment/update rounds as CTE stages.
# At 100 TB: one shuffle of the corpus on list id; queries broadcast;
# per-list fan-out is |corpus| * nprobe / n_lists; training touches the
# corpus iters times but produces only k vectors of driver state.
# --------------------------------------------------------------------------
N_CENTROIDS = 8
NPROBE = 2
KMEANS_ITERS = 2

# Corpus-scaled coarse-quantizer sizing — the 25M
# ladder point measured the failure mode this rule exists to prevent:
# at a FIXED k=256, ~98k vectors/cell collapsed ADC planted recall to
# 0.06, while k scaled to hold ~24k vectors/cell (k=1024) restored the
# recall floor AND kept the query batch FLAT in corpus size (21.7 s at
# 25M vs 23.5 s at 5M: candidates/query = nprobe * N / k is constant
# when k tracks N). The floor is the probe ladder's own fixed k, below
# which the small points trained stably.
IVF_TARGET_CELL = 25_000
IVF_AUTO_K_FLOOR = 256


def ivf_auto_k(n_vectors: int) -> int:
    """Default centroid count for the PUBLIC index-build path: hold
    per-cell occupancy near IVF_TARGET_CELL so query cost stays flat as
    the corpus grows (measured, SCALING.md). Capped at
    the corpus size so degenerate tiny corpora stay well-defined;
    gated queries bypass this by pinning k=N_CENTROIDS explicitly (the
    oracles unroll that k)."""
    return max(1, min(n_vectors,
                      max(IVF_AUTO_K_FLOOR, n_vectors // IVF_TARGET_CELL)))

_SQL_COS_BC = ("ROUND(list_dot_product(b.v, c.cv) / "
               "(sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6)")


def _sql_kmeans(iters: int = KMEANS_ITERS, vcte: str = "v",
                prefix: str = "", k: int | str = N_CENTROIDS
                ) -> tuple[str, str]:
    """CTE chain unrolling ``iters`` Lloyd's rounds; returns (sql, final_cte).

    Each round: assign every vector to its ROUND(cos,6)-nearest centroid
    (cid ASC tie-break — the exact ordering the Spark trainer uses), then
    re-center as the per-dimension mean ROUNDed to 6 decimals. Empty
    clusters keep their previous centroid (LEFT JOIN + COALESCE).

    ``vcte`` names the (vec_id, v) input CTE and ``prefix`` namespaces
    every generated CTE, so several independent trainings (e.g. the two
    PQ subspaces) can coexist in one WITH chain. ``k`` may be a SQL
    scalar-subquery string so the centroid count can derive from the
    corpus size (the SemDedup dedup path scales k with N).
    """
    parts = [f"{prefix}c0 AS (SELECT vec_id AS cid, v AS cv "
             f"FROM {vcte} WHERE vec_id < {k})"]
    for t in range(1, iters + 1):
        p = t - 1
        parts.append(f"""
{prefix}a{t} AS (
  SELECT vec_id, v, cid FROM (
    SELECT b.vec_id, b.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                              ORDER BY {_SQL_COS_BC} DESC, c.cid ASC) AS rn
    FROM {vcte} b CROSS JOIN {prefix}c{p} c) WHERE rn = 1)""")
        parts.append(f"""
{prefix}m{t} AS (
  SELECT cid, list(mx ORDER BY dim) AS cv FROM (
    SELECT a.cid, e.dim, ROUND(AVG(e.x), 6) AS mx
    FROM {prefix}a{t} a
    JOIN (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS dim
          FROM {vcte}) e
      USING (vec_id)
    GROUP BY a.cid, e.dim) GROUP BY cid)""")
        parts.append(f"""
{prefix}c{t} AS (SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
         FROM {prefix}c{p} p LEFT JOIN {prefix}m{t} m USING (cid))""")
    return ",\n".join(parts), f"{prefix}c{iters}"


_SQL_KMEANS_CTES, _SQL_KMEANS_FINAL = _sql_kmeans()

def train_ivf_centroids(spark: SparkSession, sf_dir: str,
                        k: int | None = None,
                        iters: int = KMEANS_ITERS) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means over the embeddings corpus -> [(cid, centroid)].

    ``k=None`` (the public-path default) derives the centroid count
    from the corpus via ivf_auto_k — one cheap column-pruned count,
    memoized per session and sf_dir — so an
    index built without tuning lands in the flat-query-cost regime the
    25M probe validated instead of the fixed-k recall collapse. Gated
    queries pin ``k=N_CENTROIDS`` explicitly (their oracles unroll that
    k), the same pinned-vs-default contract as the kernel dispatch.

    Deterministic end to end: init = first ``k`` vectors by vec_id;
    assignment ranks ROUND(cos,6) DESC with cid ASC tie-break; the new
    mean is F.round(avg, 6) per dimension (rounding BEFORE collect keeps
    Spark's HALF_UP — Python's round() is banker's and would diverge from
    the oracle). Per iteration: one broadcast NLJ + argmin window over
    the corpus and one (cid, dim) hash aggregate; only k x dim doubles
    ever reach the driver, so the job shape is scale-safe. Memoized per
    session and (sf_dir, k, iters): repeated probes reuse one training
    run, like a reused broadcast.
    """
    if k is None:
        k = ivf_auto_k(state.memo(spark, ("corpus_count", sf_dir),
                                  lambda: _vectors(spark, sf_dir).count()))
    return state.memo(spark, ("ivf_centroids", sf_dir, k, iters),
                      lambda: _train_kmeans(_vectors(spark, sf_dir), k, iters))


def _train_kmeans(vdf: DataFrame, k: int, iters: int,
                  kernel: str = "exact") -> list[tuple[int, list[float]]]:
    """The Lloyd's core over any (vec_id, v) frame — full vectors for the
    IVF coarse quantizer, subvector slices for the PQ codebooks.

    ``kernel`` picks the per-iteration assignment implementation:

    * ``"exact"`` (default, every gated path): assign_nearest's exact
      kernel, whose op order matches the unrolled oracle CTEs bit for
      bit.
    * ``"arrow"``: the rounded-cosine GEMM with a fused argmax and
      map-side per-(cid, dim) partial sums (_arrow_iteration_means) —
      measured ~50x faster per iteration at 200k x 256
      (scripts/scale_probe_llm.py); same ROUND(cos,6) +
      cid-ASC rule, with numpy's re-associated sums inside the 6-dp
      guard band (equivalence-tested against "exact" on the gated
      corpus, where both produce identical centroids).
    """
    # Init = the k LOWEST vec_ids (TakeOrdered, scale-safe). For the
    # dense 0..N corpora this is exactly the historical `vec_id < k`
    # rule every oracle unrolls; for id-offset subsets (the incremental
    # index trains on vec_id >= INCR_VEC_SPLIT) it stays well-defined.
    init = (vdf.select("vec_id", "v").orderBy("vec_id").limit(k).collect())
    cents: list[tuple[int, list[float]]] = [(int(r["vec_id"]), list(r["v"]))
                                            for r in init]
    # The `vec_id < min + k` form the oracles unroll equals
    # this k-lowest-ids rule ONLY when the k lowest ids are contiguous
    # from the minimum. On a gapped id space the two inits silently
    # diverge and every downstream IVF/PQ/incremental parity breaks —
    # so fail LOUDLY here instead. (The testdata corpora are dense;
    # a deployment on gapped ids must densify vec_id first, e.g.
    # row_number() over the natural order.)
    ids = [c[0] for c in cents]
    if ids and ids != list(range(ids[0], ids[0] + len(ids))):
        gaps = [i for a, b in zip(ids, ids[1:]) for i in (a,) if b != a + 1]
        raise ValueError(
            "k-means init requires dense contiguous vec_ids: the k lowest "
            f"ids must be min..min+k-1, got gaps after {gaps[:5]} — the "
            "SQL oracles' `vec_id < min+k` init CTE would pick a different "
            "(possibly smaller) seed set and parity would silently break. "
            "Densify vec_id (row_number) before training.")
    for _ in range(iters):
        if kernel == "arrow":
            means = _arrow_iteration_means(vdf, cents)
        else:
            means = (assign_nearest(vdf, cents, kernel=kernel)
                     .select("cid", F.posexplode("v").alias("dim", "x"))
                     .groupBy("cid", "dim")
                     .agg(F.round(F.avg("x"), 6).alias("mx"))
                     .collect())
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(int(r["cid"]), {})[int(r["dim"])] = float(r["mx"])
        nxt = []
        for cid, old in cents:
            m = by_cid.get(cid)
            nxt.append((cid, [m[d] for d in sorted(m)] if m else old))
        cents = nxt
    return cents


def _arrow_iteration_means(vdf: DataFrame, cents) -> list:
    """One Lloyd's assignment + per-(cid, dim) mean via the GEMM kernel:
    each task accumulates per-cluster (sum, count) across ALL of its
    Arrow batches in two dense numpy arrays and emits ONE partial frame
    per PARTITION, one tiny shuffle aggregates them, and the mean rounds
    to 6 dp exactly like the exact path's F.avg.

    Per-partition (not per-batch) combine is load-bearing at scale: a
    10k-row Arrow batch touches ~k(1 - e^(-rows/k)) distinct cells, so
    per-batch emission amplifies a batch into up to k x dim partial
    rows — at the 100M-vector / k=4000 rung that is ~235k rows OUT per
    10k rows IN, a ~2.3B-row (~75 GB) shuffle per Lloyd iteration,
    measured as a full stall (0/71 tasks in 10 min). The
    partition-level accumulator bounds the shuffle at
    n_partitions x k x dim rows (~18M at that rung) regardless of batch
    sizing; the k x dim float64 accumulator is ~2 MB at k=4000 x d=64.
    Accumulation re-associates float sums across batches — inside the
    same ROUND(...,6) guard band as numpy's within-batch reassociation
    (equivalence-tested against the "exact" kernel on the gated corpus)."""
    import numpy as np

    cids_sorted, cmat, cnorm = _centroid_matrix(cents)

    def run(batches):
        import pandas as pd
        ws = _CosineWorkspace()
        sums = np.zeros_like(cmat)
        counts = np.zeros(len(cids_sorted), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            v = _stack_vectors(pdf["v"])
            vn = np.sqrt((v * v).sum(axis=1))
            cos = ws.rounded_cosine(v, vn, cmat, cnorm)
            best = cos.argmax(axis=1)          # first max = lowest cid
            np.add.at(sums, best, v)
            counts += np.bincount(best, minlength=len(counts))
        hit = np.flatnonzero(counts)
        if len(hit):
            d = sums.shape[1]
            yield pd.DataFrame(
                {"cid": np.repeat(cids_sorted[hit], d),
                 "dim": np.tile(np.arange(d, dtype=np.int64), len(hit)),
                 "s": sums[hit].ravel(),
                 "n": np.repeat(counts[hit], d)})

    partials = vdf.select("vec_id", "v").mapInPandas(
        run, "cid long, dim long, s double, n long")
    return (partials.groupBy("cid", "dim")
                    .agg(F.round(F.sum("s") / F.sum("n"), 6).alias("mx"))
                    .collect())


@register("ivf_kmeans_centroids", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
{_SQL_KMEANS_CTES}
SELECT cid,
       CAST(generate_subscripts(cv, 1) - 1 AS BIGINT) AS dim,
       unnest(cv) AS v
FROM {_SQL_KMEANS_FINAL}
""")
def ivf_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained quantizer itself, long-form (cid, dim, v) so the float
    compare is elementwise — proves the iterative training job, not just
    the probe that consumes it."""
    cents = train_ivf_centroids(spark, sf_dir, k=N_CENTROIDS)
    long_form = [(cid, dim, x) for cid, cv in cents for dim, x in enumerate(cv)]
    return local_frame(spark, long_form, "cid long, dim long, v double")


_SQL_ASSIGN = f"""
{_SQL_KMEANS_CTES},
cent AS (SELECT cid, cv FROM {_SQL_KMEANS_FINAL}),
assign AS (
  SELECT vec_id, v, cid FROM (
    SELECT b.vec_id, b.v, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY b.vec_id
             ORDER BY ROUND(list_dot_product(b.v, c.cv)
                            / (sqrt(list_dot_product(b.v, b.v))
                               * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                      c.cid ASC) AS rn
    FROM v b CROSS JOIN cent c
  ) WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT q.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.v, c.cv)
                            / (sqrt(list_dot_product(q.v, q.v))
                               * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                      c.cid ASC) AS rn
    FROM v q CROSS JOIN cent c WHERE q.vec_id < {N_QUERIES}
  ) WHERE rn <= {NPROBE})"""


@register("ann_topk_ivf", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
{_SQL_ASSIGN},
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.v, a.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(a.v, a.v))), 6) AS cos_sim
  FROM probes p
  JOIN v q ON q.vec_id = p.query_id
  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos_sim
FROM ranked WHERE rank <= {TOP_K}
""")
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_topk(_vectors(spark, sf_dir),
                     train_ivf_centroids(spark, sf_dir, k=N_CENTROIDS))


def _ivf_topk(v: DataFrame, cents) -> DataFrame:
    """(query_id, neighbor_id, rank, cos_sim): the IVF top-K of the
    N_QUERIES query vectors under the trained quantizer ``cents`` —
    every vector listed in its nearest cell, every query scoring the
    members of its NPROBE nearest cells.

    Dots are assembled as SQL text and parsed with ONE F.expr each:
    building the same unrolled tree with Column operators costs
    thousands of Py4J round-trips (~20s of driver time); the SQL parser
    does it JVM-side in milliseconds. Each side's norm is computed once
    and carried out of assign_nearest as ``nv`` — shared by centroid
    ranking and the final pair scoring, where the oracle recomputes
    sqrt(list_dot_product) from the identical IEEE op sequence.
    (A zero-shuffle variant — argmax over 8 inlined centroid-literal
    dots per row — was tried and reverted: 8 x 64 unrolled terms blew
    up codegen compile time far past what the small window exchange
    costs. The corpus pays ONE dimension-sized broadcast NLJ + window.)"""
    assign = assign_nearest(v, cents, kernel="exact")
    probes = (assign_nearest(v.where(F.col("vec_id") < N_QUERIES)
                              .select(F.col("vec_id").alias("query_id"), "v"),
                             cents, kernel="exact", id_col="query_id",
                             keep=NPROBE)
              .select("query_id", F.col("v").alias("qv"),
                      F.col("nv").alias("qnv"), "cid"))
    scored = (F.broadcast(probes)
              .join(assign, "cid")
              .where(F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      F.expr(_sql_cos("qv", "v", "qnv", "nv")).alias("cos_sim")))
    return (_top_neighbors(scored, "cos_sim")
            .select("query_id", "neighbor_id", "rank", "cos_sim"))


# --------------------------------------------------------------------------
# ann_topk_pq — product quantization (Jégou/Douze/Schmid, "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011): the vector
# splits into PQ_SUB subvectors, each quantized by its OWN trained
# codebook (the same deterministic Lloyd's trainer as IVF, run per
# subspace), so a 64-dim float vector compresses to PQ_SUB small codes.
# Queries stay exact: per query, a lookup table of dot(q_sub, centroid)
# per (subspace, code) is built (PQ_SUB x PQ_K entries), and a corpus
# vector's approximate inner product is just the SUM OF TABLE LOOKUPS —
# the asymmetric-distance (ADC) scan.
#
# Why this is THE 100 TB vector-store shape: the scored relation is the
# CODES table (PQ_SUB ints/vector ~ 2 bytes quantized vs 256 bytes of
# floats — a 100 TB corpus scans ~1 TB), the codebooks + query LUTs are
# kilobytes broadcast everywhere, and the scan is a map-side join +
# per-query top-k window — no shuffle of the corpus at query time. In
# production PQ composes with IVF (probe lists first, ADC-score inside
# probed lists); here it stands alone so the accuracy/compression
# trade is measurable in isolation against ann_topk_bruteforce.
#
# Determinism: codebooks are the unrolled Lloyd's rounds (oracle CTEs,
# one chain per subspace), code assignment ranks ROUND(cos,6) with cid
# ASC tie-break, and the ADC score is one addition of two identically-
# computed dots ROUNDed to 6 before ranking.
# --------------------------------------------------------------------------
PQ_SUB = 4                      # subspaces (M)
PQ_K = 16                       # codes per subspace codebook
PQ_SUB_DIM = EMBED_DIM // PQ_SUB


def _pq_codebooks(spark: SparkSession,
                  sf_dir: str) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace trained codebooks, memoized like the IVF centroids."""
    def train() -> list[list[tuple[int, list[float]]]]:
        v = _vectors(spark, sf_dir)
        return [_train_kmeans(
                    v.select("vec_id",
                             F.slice("v", s * PQ_SUB_DIM + 1, PQ_SUB_DIM)
                              .alias("v")),
                    PQ_K, KMEANS_ITERS)
                for s in range(PQ_SUB)]
    return state.memo(spark, ("pq_codebooks", sf_dir), train)


def _sql_pq_ctes() -> str:
    """Subspace slices + per-subspace k-means chains + codes + LUTs."""
    parts = []
    for s in range(PQ_SUB):
        lo, hi = s * PQ_SUB_DIM + 1, (s + 1) * PQ_SUB_DIM
        parts.append(f"sv{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM v)")
        km, final = _sql_kmeans(vcte=f"sv{s}", prefix=f"s{s}", k=PQ_K)
        parts.append(km)
        parts.append(f"cb{s} AS (SELECT cid, cv FROM {final})")
        parts.append(f"""
code{s} AS (
  SELECT vec_id, cid FROM (
    SELECT b.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                              ORDER BY {_SQL_COS_BC} DESC, c.cid ASC) AS rn
    FROM sv{s} b CROSS JOIN cb{s} c) WHERE rn = 1)""")
        parts.append(f"""
lut{s} AS (
  SELECT q.vec_id AS query_id, c.cid, list_dot_product(q.v, c.cv) AS p
  FROM sv{s} q CROSS JOIN cb{s} c WHERE q.vec_id < {N_QUERIES})""")
    return ",\n".join(parts)


def _sql_pq_scored() -> str:
    """codesM-join + lutM-join + summed ADC score, generated for PQ_SUB."""
    code_joins = "".join(
        f"\n  JOIN code{s} c{s} USING (vec_id)" for s in range(1, PQ_SUB))
    lut_joins = "\n  JOIN lut0 l0 ON l0.cid = c0.cid" + "".join(
        f"\n  JOIN lut{s} l{s} ON l{s}.cid = c{s}.cid "
        f"AND l{s}.query_id = l0.query_id" for s in range(1, PQ_SUB))
    score = " + ".join(f"l{s}.p" for s in range(PQ_SUB))
    return f"""
scored AS (
  SELECT l0.query_id, c0.vec_id AS neighbor_id,
         ROUND({score}, 6) AS pq_score
  FROM code0 c0{code_joins}{lut_joins}
  WHERE c0.vec_id <> l0.query_id)"""


def _pq_tagged_codebooks(spark: SparkSession, books) -> DataFrame:
    """The per-subspace codebooks as one broadcastable tagged frame
    (sub, cid, cv, cnv) — M x K x sub_dim doubles, kilobytes. Built
    once per PQ build and handed to both the encode and the LUTs."""
    return _with_norm(
        local_frame(spark, [(s, cid, cv) for s, book in enumerate(books)
                            for cid, cv in book],
                    "sub int, cid long, cv array<double>"),
        "cv", "cnv", PQ_SUB_DIM)


def _pq_encode_codes(v: DataFrame, cents: DataFrame) -> DataFrame:
    """INDEX-TIME half of the PQ machinery: the corpus's wide codes
    frame (vec_id, code0..codeM-1) — what a vector store persists.

    ONE encode pass for all subspaces: the corpus explodes into
    (vec_id, sub, subvector) long form, joins the broadcast tagged
    codebook union on `sub`, and a single (vec_id, sub) window takes
    the argmax — then one aggregate pivots the codes back to columns.
    Versus the naive per-subspace loop (M broadcast-NLJs + M windows +
    an (M-1)-way corpus self-join on vec_id) this is one window
    exchange + one aggregate, independent of M. Assignment math
    (ROUND(cos,6) DESC, cid ASC) is identical, so the oracles — which
    keep the per-subspace form for CTE clarity — match unchanged.
    ``cents`` is the _pq_tagged_codebooks frame."""
    sub_slices = F.array(*[
        F.struct(F.lit(s).cast("int").alias("sub"),
                 F.slice("v", s * PQ_SUB_DIM + 1, PQ_SUB_DIM).alias("sv"))
        for s in range(PQ_SUB)])
    corpus_sub = _with_norm(
        v.select("vec_id", F.explode(sub_slices).alias("p"))
         .select("vec_id", "p.sub", F.col("p.sv").alias("sv")),
        "sv", "nv", PQ_SUB_DIM)
    cos_c = F.expr(_sql_cos("sv", "cv", "nv", "cnv", PQ_SUB_DIM))
    codes_long = top1_per_key(
        corpus_sub.join(F.broadcast(cents), "sub")
                  .select("vec_id", "sub", "cid", cos_c.alias("__c")),
        ["vec_id", "sub"], [F.col("__c").desc(), F.col("cid").asc()])
    return codes_long.groupBy("vec_id").agg(
        *[F.max(F.when(F.col("sub") == s, F.col("cid")))
           .alias(f"code{s}") for s in range(PQ_SUB)])


def _pq_query_luts(v: DataFrame, cents: DataFrame,
                   n_queries: int = N_QUERIES) -> list[DataFrame]:
    """QUERY-TIME half: per-subspace (query_id, code_s, p_s) lookup
    tables — |queries| x K rows each, broadcast at the ADC joins.
    ``cents`` is the _pq_tagged_codebooks frame."""
    luts = []
    for s in range(PQ_SUB):
        lut = (v.where(F.col("vec_id") < n_queries)
                .select(F.col("vec_id").alias("query_id"),
                        F.slice("v", s * PQ_SUB_DIM + 1, PQ_SUB_DIM)
                         .alias("qv"))
                .join(F.broadcast(cents.where(F.col("sub") == s)
                                       .select("cid", "cv")), F.lit(True))
                .select("query_id", F.col("cid").alias(f"code{s}"),
                        F.expr(_sql_dot_cols("qv", "cv", PQ_SUB_DIM))
                         .alias(f"p{s}")))
        luts.append(lut)
    return luts


def _pq_codes_and_luts(spark: SparkSession, v: DataFrame,
                       books) -> tuple[DataFrame, list[DataFrame]]:
    """(codes wide frame, per-subspace query LUTs) — both halves in one
    call, the shape the gated standalone ADC scan uses."""
    cents = _pq_tagged_codebooks(spark, books)
    return _pq_encode_codes(v, cents), _pq_query_luts(v, cents)


def _pq_adc_score(codes: DataFrame, luts: list[DataFrame]) -> DataFrame:
    """(query_id, vec_id, pq_score): the summed-table-lookup ADC score
    of every (query, coded vector) pair the codes frame carries."""
    scored = codes.join(F.broadcast(luts[0]), "code0")
    for s in range(1, PQ_SUB):
        scored = scored.join(F.broadcast(luts[s]), ["query_id", f"code{s}"])
    adc = F.col("p0")
    for s in range(1, PQ_SUB):
        adc = adc + F.col(f"p{s}")
    return (scored.where(F.col("query_id") != F.col("vec_id"))
                  .select("query_id", "vec_id", F.round(adc, 6)
                           .alias("pq_score")))


def _pq_adc_score_candidates(cand: DataFrame, codes: DataFrame,
                             luts: list[DataFrame]) -> DataFrame:
    """(query_id, vec_id, pq_score) for ONLY the (query, vector) pairs in
    ``cand`` — the IVF-pruned composition's scorer: the
    candidate set joins into the codes frame FIRST, so the broadcast LUT
    lookups and the ADC sum run over |cand| rows, not |queries| x
    |corpus|. Every LUT join (including subspace 0) keys on
    (query_id, code_s) because cand already carries query_id. Same
    ROUND(sum, 6) as _pq_adc_score — identical scores on the shared
    pairs, so the oracle (which scores candidate-first too) is unmoved;
    the old full-scan-then-semi-join shape contradicted the query's own
    nprobe/k economics."""
    scored = cand.join(codes, "vec_id")
    for s in range(PQ_SUB):
        scored = scored.join(F.broadcast(luts[s]), ["query_id", f"code{s}"])
    adc = F.col("p0")
    for s in range(1, PQ_SUB):
        adc = adc + F.col(f"p{s}")
    return scored.select("query_id", "vec_id",
                         F.round(adc, 6).alias("pq_score"))


@register("ann_topk_pq", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
{_sql_pq_ctes()},
{_sql_pq_scored().strip()},
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY pq_score DESC, neighbor_id ASC)
            AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, pq_score
FROM ranked WHERE rank <= {TOP_K}
""")
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    codes, luts = _pq_codes_and_luts(spark, v,
                                     _pq_codebooks(spark, sf_dir))
    scored = (_pq_adc_score(codes, luts)
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      "pq_score"))
    return (_top_neighbors(scored, "pq_score")
            .select("query_id", "neighbor_id", "rank", "pq_score"))


# --------------------------------------------------------------------------
# embedding_label_centroids — per-label mean vector via grouped
# applyInPandas: the batch custom-operator surface (Arrow ships each
# label's vectors to one pandas function; numpy does the column mean).
# Output is long-form (label, dim, v) so the float compare is elementwise.
# Scale shape: one shuffle on label; state per group is a single vector.
# --------------------------------------------------------------------------
def _centroid_of_group(pdf):
    import numpy as np
    mat = np.stack(pdf["v"].to_list())          # |group| x dim
    mean = mat.mean(axis=0)
    # half-away to match the DuckDB oracle's ROUND(AVG(x), 6) — np.round
    # is half-to-even and would diverge on an exact 5e-7 boundary
    out = pd.DataFrame({"dim": np.arange(len(mean), dtype="int64"),
                        "v": _np_round_half_away(mean, 6)})
    out.insert(0, "label", int(pdf["label"].iloc[0]))
    return out


@register("embedding_label_centroids", oracle="""
WITH e AS (
  SELECT label, unnest(embedding::DOUBLE[]) AS x,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings)
SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
       ROUND(AVG(x), 6) AS v
FROM e GROUP BY label, dim
""")
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.sql.types as T
    schema = T.StructType([
        T.StructField("label", T.LongType()),
        T.StructField("dim", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ])
    vecs = (read_table(spark, sf_dir, "embeddings")
            .select(F.col("label").cast("long").alias("label"),
                    F.col("embedding").cast("array<double>").alias("v")))
    return vecs.groupBy("label").applyInPandas(_centroid_of_group, schema)


# --------------------------------------------------------------------------
# dedup_embedding_cosine — near-dup pairs with cosine >= threshold.
# Half-matrix self-join (vec_a < vec_b); threshold compared on the
# ROUNDed value so both engines cut identically. O(n^2) by design: this
# is the exhaustive VERIFY kernel / recall yardstick; the registered
# scale path is dedup_embedding_lsh below, which fronts the same verify
# with a sign-LSH bucket join.
# --------------------------------------------------------------------------
@register("dedup_embedding_cosine", oracle=f"""
WITH v AS ({_SQL_VECTORS})
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({_SQL_COS}, 6) AS cos_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE ROUND({_SQL_COS}, 6) >= {COSINE_DUP_THRESHOLD}
""")
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _with_norm(_vectors(spark, sf_dir), "v", "nv")
    a = v.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                 F.col("nv").alias("na"))
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                 F.col("nv").alias("nb"))
    return (a.join(b, F.col("vec_a") < F.col("vec_b"))
             .select("vec_a", "vec_b",
                     F.expr(_sql_cos("va", "vb", "na", "nb")).alias("cos_sim"))
             .where(F.col("cos_sim") >= COSINE_DUP_THRESHOLD))


# --------------------------------------------------------------------------
# dedup_embedding_lsh — the SCALE path for embedding near-dup: sign-bit
# LSH banding (EMB_LSH_BANDS bands of EMB_LSH_BAND_BITS sign bits each,
# over distinct leading dims) generates candidates with a bucket
# equi-join; the exact cosine verify runs on candidates only. Join state
# is (vec_id, band, bucket) — the vectors re-attach by vec_id equi-join
# AFTER the pair set is distinct, so nothing quadratic ever carries a
# 64-dim payload and no cross join exists anywhere in the plan
# (asserted in tests/test_llm.py).
#
# Fixed axis-sign hyperplanes keep it deterministic, so the oracle
# replicates the exact candidate set and recall cancels out of the
# comparison. Recall at this corpus' near-orthogonal ~0.45-cosine pairs
# is ~50% (measured 8/14 at sf0.01, 73/144 at sf0.1, vs the exhaustive
# kernel) — the synthetic vectors are noise-like; at real dedup
# thresholds (>= 0.9 cosine, small angles) per-bit collision probability
# rises to ~0.9 and the same band/bit shape recalls >95%.
#
# Geometry is the scale knob: a random pair collides per band with
# p ~= 2^-bits, so bits sets the quadratic coefficient of the candidate
# count (N^2 * bands * 2^-bits) and bands buys recall back. 8x6 was
# chosen by sweeping (4x4, 8x6, 8x8, 4x16) on this corpus: same recall
# as 4x4 at half the candidates. A billion-doc corpus at a 0.9
# threshold wants 16+ bits from random (not axis) hyperplanes — wire
# different constants through these two names; everything below adapts.
# --------------------------------------------------------------------------
EMB_LSH_BANDS = 8
EMB_LSH_BAND_BITS = 6


def _sql_sign_bucket(band: int) -> str:
    return ("list_sum(list_transform(generate_series(1, "
            f"{EMB_LSH_BAND_BITS}), i -> CASE WHEN v[i + {band * EMB_LSH_BAND_BITS}] >= 0 "
            "THEN 1::BIGINT << (i - 1) ELSE 0::BIGINT END))")


_SQL_EMB_BANDS = " UNION ALL ".join(
    f"SELECT vec_id, {k} AS band, {_sql_sign_bucket(k)} AS bucket FROM v"
    for k in range(EMB_LSH_BANDS))


@register("dedup_embedding_lsh", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
bands AS ({_SQL_EMB_BANDS}),
cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
SELECT vec_a, vec_b, ROUND({_SQL_COS}, 6) AS cos_sim
FROM cand
JOIN v a ON a.vec_id = vec_a
JOIN v b ON b.vec_id = vec_b
WHERE ROUND({_SQL_COS}, 6) >= {COSINE_DUP_THRESHOLD}
""")
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _normed_vectors(spark, sf_dir)
    codes = [_sql_axis_code(k * EMB_LSH_BAND_BITS + 1, EMB_LSH_BAND_BITS)
             for k in range(EMB_LSH_BANDS)]
    bands = state.pinned(spark, ("dedup_embedding_lsh:bands", sf_dir),
                         lambda: _sign_bands(v, codes))
    return _verify_pairs(_emb_band_candidates(bands), v)


def _normed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pinned (vec_id, v, nv) corpus both embedding-LSH variants
    band: the candidate join and the verify each read it."""
    return state.pinned(spark, ("vectors:normed", sf_dir),
                        lambda: _with_norm(_vectors(spark, sf_dir), "v", "nv"))


def _sign_bands(vecs: DataFrame, codes: list[str]) -> DataFrame:
    """(vec_id, band, bucket): one row per vector and band, ``codes[band]``
    being the band's sign code over ``vecs`` (SQL text, _sql_sign_code).
    The LSH queries pin it: their band self-join reads it twice, and
    unpinned each side re-ran the sign-bit projection. n_vecs x bands
    rows of three integers."""
    structs = ", ".join(f"struct({k} AS band, {code} AS bucket)"
                        for k, code in enumerate(codes))
    return (vecs.select("vec_id", F.expr(f"explode(array({structs})) AS b"))
                .select("vec_id", "b.band", "b.bucket"))


def _emb_band_candidates(bands: DataFrame) -> DataFrame:
    """Distinct (vec_a, vec_b), vec_a < vec_b, of the vectors sharing a
    band bucket: the band self-join of every embedding LSH query.

    Unlike dedup._band_candidates, the pairs are repartitioned by the
    pair key before the distinct. The band table is tiny next to the
    pair set it emits, so AQE would size (and coalesce to one) the
    post-distinct partitions from the map side and the whole per-pair
    verify would land on one core; repartitioning by the pair key
    spreads the pairs and gives the distinct the clustering it needs,
    in one exchange. Measured against the plain distinct in a paired,
    interleaved A/B (sf0.1, local[4], 10 pairs, medians): 6.3 vs 8.4 s
    for dedup_embedding_lsh, 5.8 vs 8.5 s for dedup_embedding_lsh_rand,
    13.1 vs 15.7 s for dedup_method_agreement."""
    return (bands.alias("x")
                 .join(bands.alias("y"),
                       (F.col("x.band") == F.col("y.band"))
                       & (F.col("x.bucket") == F.col("y.bucket"))
                       & (F.col("x.vec_id") < F.col("y.vec_id")))
                 .select(F.col("x.vec_id").alias("vec_a"),
                         F.col("y.vec_id").alias("vec_b"))
                 .repartition(bands.sparkSession.sparkContext.defaultParallelism,
                              "vec_a", "vec_b")
                 .distinct())


def _verify_pairs(cand: DataFrame, v: DataFrame, *extra: str) -> DataFrame:
    """(vec_a, vec_b, *extra, cos_sim) for the candidate pairs whose exact
    rounded cosine reaches COSINE_DUP_THRESHOLD. ``v`` is the (vec_id, v,
    nv) corpus; the vectors re-attach to the narrow pair set by vec_id,
    so nothing quadratic carries a 64-dim payload."""
    a = v.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                 F.col("nv").alias("na"))
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                 F.col("nv").alias("nb"))
    return (cand.join(a, "vec_a").join(b, "vec_b")
                .select("vec_a", "vec_b", *extra,
                        F.expr(_sql_cos("va", "vb", "na", "nb")).alias("cos_sim"))
                .where(F.col("cos_sim") >= COSINE_DUP_THRESHOLD))


# --------------------------------------------------------------------------
# Random-hyperplane sign-LSH — the REAL-threshold
# geometry. Axis-sign planes (dedup_embedding_lsh above) are fine on
# this corpus but collision probability is hostage to the data's axis
# alignment; production sign-LSH (Charikar 2002, SimHash) draws planes
# uniformly, giving per-bit collision P = 1 - theta/pi for ANY pair at
# angle theta. Planes here are seeded Rademacher (+-1 per dim) — a
# standard JL-style surrogate for Gaussian planes — generated from
# md5(seed:plane:dim) parity, so the matrix is a DETERMINISTIC constant
# with no RNG state, reproducible in any engine.
#
# Cross-engine exactness: each plane's projection is emitted as the
# SAME signed left-associative sum text in Spark SQL and DuckDB SQL
# (identical IEEE-double op sequence -> bit-equal projections -> equal
# sign bits -> equal buckets), so the oracle replicates the exact
# candidate set and recall cancels out of the parity comparison —
# recall itself is MEASURED by emb_lsh_rand_recall below.
#
# Geometry (documented in SCALING.md): 8 bands x 6 bits. At a 0.9
# cosine threshold (theta = 0.45 rad, per-bit P ~ 0.857) a true pair
# collides in a band with P ~ 0.395, misses all 8 with ~0.018 ->
# expected recall ~98%; at the planted-pair slice (cos 0.9..0.999) the
# eval below measures it. At 0.95+ thresholds recall -> 1 - 1e-4.
# --------------------------------------------------------------------------
EMB_LSH_RAND_BANDS = 8
EMB_LSH_RAND_BITS = 6
EMB_LSH_RAND_SEED = "emblsh-v1"
EMB_PLANT_OFFSET = 1_000_000


def _rand_plane_signs() -> list:
    """Seeded Rademacher hyperplane matrix: signs[p][d-1] in {+1, -1}
    from md5 parity — a pure function of (seed, plane, dim)."""
    import hashlib
    planes = []
    for p in range(EMB_LSH_RAND_BANDS * EMB_LSH_RAND_BITS):
        row = []
        for d in range(1, EMBED_DIM + 1):
            h = hashlib.md5(
                f"{EMB_LSH_RAND_SEED}:{p}:{d}".encode()).hexdigest()
            row.append(1 if int(h[:8], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


_EMB_LSH_PLANES = _rand_plane_signs()


def _sql_rand_bucket(band: int, elem: str, zero: str, big: str) -> str:
    """SQL text of a band's bucket id: EMB_LSH_RAND_BITS sign bits of
    Rademacher projections. ``elem``/``zero``/``big`` parameterize the
    engine dialect (element access, double-zero literal, bigint
    literal); the signed-term ORDER is identical across dialects, so
    both engines run the same left-associative IEEE-double sum."""
    bits = []
    for i in range(EMB_LSH_RAND_BITS):
        signs = _EMB_LSH_PLANES[band * EMB_LSH_RAND_BITS + i]
        terms = " ".join(("+ " if s > 0 else "- ") + elem.format(d=d)
                         for d, s in enumerate(signs, start=1))
        proj = f"({zero} {terms})"
        bits.append(f"(CASE WHEN {proj} >= {zero} "
                    f"THEN {big.format(v=1 << i)} "
                    f"ELSE {big.format(v=0)} END)")
    return "(" + " + ".join(bits) + ")"


def _duck_rand_bucket(band: int) -> str:
    return _sql_rand_bucket(
        band, elem="COALESCE(v[{d}], 0.0::DOUBLE)",
        zero="0.0::DOUBLE", big="{v}::BIGINT")


_SQL_EMB_RAND_BANDS = " UNION ALL ".join(
    f"SELECT vec_id, {k} AS band, {_duck_rand_bucket(k)} AS bucket FROM aug"
    for k in range(EMB_LSH_RAND_BANDS))


# The 48 Rademacher projections of ``v`` in one higher-order-function
# pass: the 48x64 literal sign matrix folded over the vector.
_SQL_RAND_PROJS = (
    "transform(array({}), p -> aggregate(zip_with(v, p, "
    "(x, s) -> coalesce(x, 0.0D) * s), 0.0D, (acc, x) -> acc + x))").format(
        ", ".join("array(" + ", ".join("1.0D" if s > 0 else "-1.0D"
                                       for s in row) + ")"
                  for row in _EMB_LSH_PLANES))


def _rand_bands(vecs: DataFrame) -> DataFrame:
    """(vec_id, band, bucket) under the seeded Rademacher planes.

    The projections come from _SQL_RAND_PROJS's one fold instead of 48
    unrolled 64-term sum expressions. The fold is strictly sequential over
    d = 1..64 with acc starting at 0.0, and x*(+-1.0) is IEEE-exact sign
    application, so the double sequence is bit-identical to the oracle's
    unrolled `(0.0 + e1 - e2 ...)` text; the compact tree also keeps the
    plan inside normal codegen limits (the unrolled form generated
    multi-MB Java sources that were re-compiled on every run — measured
    8+ s per materialization at sf0.1 against ~0.3 s for this form).
    """
    withp = vecs.select("vec_id", F.expr(_SQL_RAND_PROJS).alias("projs"))
    return _sign_bands(withp, [
        _sql_sign_code(f"element_at(projs, {k * EMB_LSH_RAND_BITS + i + 1})"
                       for i in range(EMB_LSH_RAND_BITS))
        for k in range(EMB_LSH_RAND_BANDS)])


@register("dedup_embedding_lsh_rand", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
aug AS (SELECT vec_id, v FROM v),
bands AS ({_SQL_EMB_RAND_BANDS}),
cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
SELECT vec_a, vec_b, ROUND({_SQL_COS}, 6) AS cos_sim
FROM cand
JOIN v a ON a.vec_id = vec_a
JOIN v b ON b.vec_id = vec_b
WHERE ROUND({_SQL_COS}, 6) >= {COSINE_DUP_THRESHOLD}
""")
def dedup_embedding_lsh_rand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_embedding_lsh with the seeded random-hyperplane geometry —
    the variant a real >=0.9-threshold corpus should run (see module
    comment; recall measured by emb_lsh_rand_recall)."""
    v = _normed_vectors(spark, sf_dir)
    bands = state.pinned(spark, ("dedup_embedding_lsh_rand:bands", sf_dir),
                         lambda: _rand_bands(v))
    return _verify_pairs(_emb_band_candidates(bands), v)


# Planted near-duplicate twins for the recall eval: every 5th vector
# gets a twin at vec_id + EMB_PLANT_OFFSET whose components are
# perturbed by +-eps with md5-parity signs, eps = 0.05 + 0.05*(vec_id%9)
# — so exact twin cosines ~ 1/sqrt(1+eps^2) span ~[0.90, 0.999), a
# genuine >=0.9-threshold slice instead of a single trivial point.
# Both engines build the twins from the SAME expression text (md5 of
# the same strings, same double ops), so the augmented corpus is
# bit-identical.
_PLANT_SIGN = ("CASE WHEN instr('02468ace', substr(md5(concat('pl:', "
               "CAST(vec_id AS STRING), ':', CAST(i + 1 AS STRING))), 1, 1)) > 0 "
               "THEN 1.0D ELSE -1.0D END")
_SPARK_PLANT_EXPR = (
    "transform(v, (x, i) -> x * (1.0D + "
    "(0.05D + 0.05D * CAST(vec_id % 9 AS DOUBLE)) * (" + _PLANT_SIGN + ")))")
_DUCK_PLANT_EXPR = (
    "list_transform(generate_series(1, len(v)), d -> v[d] * (1.0::DOUBLE + "
    "(0.05::DOUBLE + 0.05::DOUBLE * CAST(vec_id % 9 AS DOUBLE)) * "
    "CASE WHEN instr('02468ace', substr(md5('pl:' || vec_id || ':' || d), 1, 1)) > 0 "
    "THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END))")


@register("emb_lsh_rand_recall", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
planted AS (
  SELECT vec_id + {EMB_PLANT_OFFSET} AS vec_id, {_DUCK_PLANT_EXPR} AS v
  FROM v WHERE vec_id % 5 = 0),
aug AS (SELECT vec_id, v FROM v UNION ALL SELECT vec_id, v FROM planted),
bands AS ({_SQL_EMB_RAND_BANDS}),
cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
truth AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM v a JOIN planted b ON b.vec_id = a.vec_id + {EMB_PLANT_OFFSET}
  WHERE ROUND({_SQL_COS}, 6) >= 0.9)
SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(COUNT(c.vec_a) AS BIGINT) AS n_caught,
       ROUND(CAST(COUNT(c.vec_a) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
         AS recall
FROM truth t LEFT JOIN cand c
  ON c.vec_a = t.vec_a AND c.vec_b = t.vec_b
""")
def emb_lsh_rand_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall of the random-hyperplane LSH at a >=0.9 cosine
    slice: plant deterministic near-dup twins, run
    the banded candidate join over the augmented corpus, and report
    what fraction of exact->=0.9 planted pairs the buckets caught.
    One output row: (n_true, n_caught, recall)."""
    vecs = _vectors(spark, sf_dir).select("vec_id", "v")
    orig = vecs.where(F.col("vec_id") % 5 == 0)
    planted = orig.select((F.col("vec_id") + EMB_PLANT_OFFSET).alias("vec_id"),
                          F.expr(_SPARK_PLANT_EXPR).alias("v"))
    aug = state.pinned(spark, ("emb_lsh_rand_recall:aug", sf_dir),
                       lambda: vecs.unionByName(planted))
    bands = state.pinned(spark, ("emb_lsh_rand_recall:bands", sf_dir),
                         lambda: _rand_bands(aug))
    cand = _emb_band_candidates(bands).withColumn("hit", F.lit(1))
    # A twin is a function of its original's row (_SPARK_PLANT_EXPR reads
    # that row's vec_id and v), so each truth pair is one projection of
    # the original, with no original-to-twin join: the join's two array
    # columns made whole-stage codegen fail to compile its
    # broadcast-hash-join stage.
    truth = (orig.select(F.col("vec_id").alias("vec_a"),
                         (F.col("vec_id") + EMB_PLANT_OFFSET).alias("vec_b"),
                         F.col("v").alias("va"),
                         F.expr(_SPARK_PLANT_EXPR).alias("vb"))
                 .where(F.expr(_sql_cos("va", "vb")) >= 0.9)
                 .select("vec_a", "vec_b"))
    return (truth.join(cand, ["vec_a", "vec_b"], "left")
                 .agg(F.count("*").cast("long").alias("n_true"),
                      F.count("hit").cast("long").alias("n_caught"),
                      F.round(F.count("hit").cast("double")
                              / F.count("*").cast("double"), 4)
                       .alias("recall")))


# --------------------------------------------------------------------------
# embedding_top_pc — distributed power iteration for the corpus's top
# principal direction (of the uncentered second-moment matrix X^T X):
# the spectral primitive under PCA whitening, spectral ANN partitioners,
# and embedding-drift monitoring. v_{k+1} = normalize(X^T (X v_k)),
# unrolled PC_ITERS times from the deterministic all-0.125 start vector.
#
# The 100 TB shape: each iteration is ONE map-side partial aggregate —
# every task folds its rows into 64 longs, the final merge is a 1-row
# agg, and only 64 doubles ever reach the driver (the
# ivf_kmeans_centroids discipline); the corpus never shuffles.
#
# Determinism across engines (the corpus_unigram_logprob discipline,
# applied to VECTOR accumulation): each row's contribution x_d * s is
# snapped to integer NANO-units before summing, so Spark's partial-agg
# order vs DuckDB's serial order cannot flip a bit; the per-row dot
# x·v, the norm, and the renormalization are fixed-order IEEE double
# chains emitted identically in both engines (Spark inlines the
# driver-collected v as shortest-roundtrip literals; the oracle carries
# v as computed columns — same doubles either way).
# --------------------------------------------------------------------------
PC_ITERS = 3
_PC_Q = "1000000000.0"  # nano-unit quantizer (exactly representable)


def _top_pc_cte_list() -> list[str]:
    """CTEs computing v{PC_ITERS} (the unnormalized-rounding-free top
    principal direction) — shared by the top-PC and debias oracles."""
    dims = range(1, EMBED_DIM + 1)
    v0_dot = "(0.0::DOUBLE + " + " + ".join(
        f"COALESCE(x[{d}], 0.0::DOUBLE) * (0.125::DOUBLE)" for d in dims) + ")"
    ctes = [f"e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings)",
            f"s1 AS (SELECT x, {v0_dot} AS s FROM e)"]
    for k in range(1, PC_ITERS + 1):
        sums = ", ".join(
            f"SUM(CAST(ROUND(COALESCE(x[{d}], 0.0::DOUBLE) * s "
            f"* {_PC_Q}::DOUBLE) AS BIGINT)) AS w{d}" for d in dims)
        ctes.append(f"w{k} AS (SELECT {sums} FROM s{k})")
        sq = " + ".join(f"(w{d} / {_PC_Q}::DOUBLE) * (w{d} / {_PC_Q}::DOUBLE)"
                        for d in dims)
        ctes.append(f"n{k} AS (SELECT *, sqrt(0.0::DOUBLE + {sq}) AS nrm "
                    f"FROM w{k})")
        vs = ", ".join(f"(w{d} / {_PC_Q}::DOUBLE) / nrm AS v{d}" for d in dims)
        ctes.append(f"v{k} AS (SELECT {vs} FROM n{k})")
        if k < PC_ITERS:
            dot = "(0.0::DOUBLE + " + " + ".join(
                f"COALESCE(e.x[{d}], 0.0::DOUBLE) * c.v{d}" for d in dims) + ")"
            ctes.append(f"s{k + 1} AS (SELECT e.x, {dot} AS s FROM e, v{k} c)")
    return ctes


def _top_pc_oracle() -> str:
    dims = range(1, EMBED_DIM + 1)
    ctes = _top_pc_cte_list()
    weights = ", ".join(f"ROUND(v{d}, 6)" for d in dims)
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT UNNEST(generate_series(1, {EMBED_DIM})) AS dim,
       UNNEST([{weights}]) AS weight
FROM v{PC_ITERS}""")


def _pc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus as one ``x`` column, pinned: the power iteration scans
    it PC_ITERS times and embedding_debias_topc once more."""
    return state.pinned(spark, ("vectors:x", sf_dir),
                        lambda: _vectors(spark, sf_dir)
                        .select(F.col("v").alias("x")))


def _power_iteration_weights(spark: SparkSession, sf_dir: str) -> list[float]:
    """Driver-side PC_ITERS power-iteration loop (unrounded weights).

    Shared by embedding_top_pc (publishes the direction) and
    embedding_debias_topc (projects it out). Only EMBED_DIM longs cross
    to the driver per iteration. Both consumers run the SAME
    deterministic iteration, so the weights are memoized per session
    and sf_dir: the second consumer reuses EMBED_DIM driver-side floats
    instead of re-running PC_ITERS corpus aggregates. The pin is taken
    on a memo hit too, so every call leaves it registered."""
    import math

    vecs = _pc_vectors(spark, sf_dir)

    def iterate() -> list[float]:
        dims = range(1, EMBED_DIM + 1)
        v = [0.125] * EMBED_DIM
        for _ in range(PC_ITERS):
            dot_text = "(0.0D + " + " + ".join(
                f"coalesce(try_element_at(x, {d}), 0.0D) * ({val!r}D)"
                for d, val in zip(dims, v)) + ")"
            scored = vecs.withColumn("s", F.expr(dot_text))
            sums = scored.agg(*[
                F.sum(F.round(F.coalesce(F.try_element_at("x", F.lit(d)),
                                         F.lit(0.0))
                              * F.col("s") * F.lit(1e9)).cast("long"))
                 .alias(f"w{d}") for d in dims]).first()
            acc, ts = 0.0, []
            for d in dims:
                t = sums[f"w{d}"] / 1e9
                ts.append(t)
                acc = acc + t * t
            nrm = math.sqrt(acc)
            v = [t / nrm for t in ts]
        return v

    return state.memo(spark, ("pc_weights", sf_dir), iterate)


@register("embedding_top_pc", oracle=_top_pc_oracle())
def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _power_iteration_weights(spark, sf_dir)
    out = local_frame(
        spark, [(d, val) for d, val in zip(range(1, EMBED_DIM + 1), v)],
        "dim long, weight double")
    return out.select("dim", F.round("weight", 6).alias("weight"))


# --------------------------------------------------------------------------
# dedup_embedding_ivf — SemDedup-shape semantic dedup (Abbas et al. 2023,
# "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication"): cluster the corpus with the TRAINED k-means quantizer
# (the same deterministic Lloyd's training ann_topk_ivf uses, so the
# oracle unrolls identical rounds), then generate candidate pairs only
# WITHIN a cluster and run the exact-cosine verify on those. Candidate
# generation is a narrow (vec_id, cid) self equi-join — vectors re-attach
# by vec_id only after the pair set exists, so nothing quadratic carries
# a 64-dim payload (same discipline as dedup_embedding_lsh).
#
# Completes the candidate-generation matrix alongside the sign-LSH path:
# LSH buckets are geometry-oblivious hash planes; IVF clusters adapt to
# the corpus density, so correlated regions (where semantic dups live)
# land in shared clusters. Scale: k DERIVES
# from the corpus size — k = max(8, N // DEDUP_IVF_TARGET_CLUSTER) —
# so within-cluster candidate expansion is O(N * target) instead of
# the quadratic O(N²/8) a fixed k ships (production SemDedup keeps
# clusters ~constant-size the same way, k ≈ N/10³ in the paper; the
# smaller target here keeps the oracle's CROSS JOIN tractable). The
# oracle computes the SAME k as a scalar subquery over the corpus, so
# it self-adjusts per sf with no per-sf refreezing.
# --------------------------------------------------------------------------
DEDUP_IVF_TARGET_CLUSTER = 64


def dedup_ivf_k(n_vectors: int) -> int:
    """Centroid count for SemDedup-shape dedup: clusters of ~TARGET
    vectors, never fewer than the 8-centroid floor the small-sf corpora
    train stably with."""
    return max(N_CENTROIDS, n_vectors // DEDUP_IVF_TARGET_CLUSTER)


_SQL_DEDUP_IVF_K = (f"(SELECT GREATEST({N_CENTROIDS}, "
                    f"COUNT(*) // {DEDUP_IVF_TARGET_CLUSTER}) FROM v)")
_SQL_DK_CTES, _SQL_DK_FINAL = _sql_kmeans(k=_SQL_DEDUP_IVF_K, prefix="dk")


def _scaled_ivf_assign(spark: SparkSession,
                       sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(normed vectors, pinned (vec_id, cid) assignment) under the
    corpus-scaled quantizer — shared by the SemDedup pair generator and
    the cluster-balanced sampler.

    k scales with the corpus (one cheap count over the vec_id column;
    the trained centroids memoize on (sf_dir, k), so repeated probes in
    a session pay it once). The assignment is PINNED: it is corpus-keyed
    but 2-column narrow, and downstream self-joins would otherwise
    re-run the broadcast-NLJ + argmin window per consumer (measured
    ~1.3 s per re-evaluation at sf0.1 — over half the dedup query).
    """
    v = _with_norm(_vectors(spark, sf_dir), "v", "nv")
    cents = train_ivf_centroids(spark, sf_dir, k=dedup_ivf_k(v.count()))
    assign = state.pinned(
        spark, ("scaled_ivf_assign", sf_dir),
        lambda: assign_nearest(v, cents, kernel="exact")
                .select("vec_id", "cid"))
    return v, assign



@register("dedup_embedding_ivf", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
{_SQL_DK_CTES},
cent AS (SELECT cid, cv FROM {_SQL_DK_FINAL}),
assign AS (
  SELECT vec_id, v, cid FROM (
    SELECT b.vec_id, b.v, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY b.vec_id
             ORDER BY ROUND(list_dot_product(b.v, c.cv)
                            / (sqrt(list_dot_product(b.v, b.v))
                               * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                      c.cid ASC) AS rn
    FROM v b CROSS JOIN cent c) WHERE rn = 1)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(a.cid AS BIGINT) AS cid,
       ROUND({_SQL_COS}, 6) AS cos_sim
FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE ROUND({_SQL_COS}, 6) >= {COSINE_DUP_THRESHOLD}
""")
def dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    v, assign = _scaled_ivf_assign(spark, sf_dir)
    cand = (assign.alias("x")
                  .join(assign.alias("y"),
                        (F.col("x.cid") == F.col("y.cid"))
                        & (F.col("x.vec_id") < F.col("y.vec_id")))
                  .select(F.col("x.vec_id").alias("vec_a"),
                          F.col("y.vec_id").alias("vec_b"),
                          F.col("x.cid").alias("cid")))
    return _verify_pairs(cand, v, "cid")


# --------------------------------------------------------------------------
# embedding_quantize — per-vector int8 scalar quantization, the storage
# path for 100 TB embedding stores (4x smaller than float32; recall loss
# bounded by per-vector range). q[i] = round((v[i] - min) / (max - min)
# * 254) - 127, with (min, max, scale) kept for dequantization. Emitted
# long-form (vec_id, dim, q) so the oracle compares elementwise; the
# row-wise min/max/round arithmetic is integer-exact across engines.
# --------------------------------------------------------------------------
@register("embedding_quantize", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
b AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi FROM v),
e AS (SELECT vec_id, lo, hi, unnest(v) AS x,
             generate_subscripts(v, 1) - 1 AS dim
      FROM b)
SELECT vec_id,
       CAST(dim AS BIGINT) AS dim,
       CAST(CASE WHEN hi = lo THEN 0
                 ELSE ROUND((x - lo) / (hi - lo) * 254) - 127
            END AS BIGINT) AS q
FROM e
""")
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    b = v.select("vec_id", "v",
                 F.array_min("v").alias("lo"), F.array_max("v").alias("hi"))
    kv = b.select("vec_id", "lo", "hi",
                  F.posexplode("v").alias("dim", "x"))
    q = (F.when(F.col("hi") == F.col("lo"), F.lit(0))
          .otherwise(F.round((F.col("x") - F.col("lo"))
                             / (F.col("hi") - F.col("lo")) * 254) - 127))
    return kv.select("vec_id", F.col("dim").cast("long").alias("dim"),
                     q.cast("long").alias("q"))


# --------------------------------------------------------------------------
# embedding_outliers — embedding-quality audit: every vector's cosine to
# its own label centroid; vectors pointing AWAY from their centroid
# (cos < 0) are flagged as outliers — mislabeled or degenerate rows a
# curation pipeline routes to review. Centroid dims are rounded to 6dp
# (like embedding_label_centroids) so both engines fold identical
# values; the dot is the usual unrolled left-associative sum matching
# DuckDB's sequential list_dot_product.
#
# Scale: centroid agg is one shuffle on (label, dim); the re-assembled
# centroid table is |labels| rows -> broadcast back onto the corpus,
# which never shuffles for the scoring pass.
# --------------------------------------------------------------------------
OUTLIER_COS = 0.0


@register("embedding_outliers", oracle=f"""
WITH e AS (
  SELECT vec_id, label, unnest(embedding::DOUBLE[]) AS x,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings),
cd AS (SELECT label, dim, ROUND(AVG(x), 6) AS cx FROM e GROUP BY 1, 2),
c AS (SELECT label, list(cx ORDER BY dim) AS cv FROM cd GROUP BY label),
v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT v.vec_id, v.label,
         ROUND(list_dot_product(v.v, c.cv)
               / (sqrt(list_dot_product(v.v, v.v))
                  * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cos_to_centroid
  FROM v JOIN c USING (label))
SELECT vec_id, CAST(label AS BIGINT) AS label, cos_to_centroid,
       (cos_to_centroid < {OUTLIER_COS}) AS is_outlier
FROM s
""")
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (read_table(spark, sf_dir, "embeddings")
           .select("vec_id", F.col("label").cast("long").alias("label"),
                   F.col("embedding").cast("array<double>").alias("v")))
    pos = emb.select("label", F.posexplode("v").alias("dim", "x"))
    cent = (pos.groupBy("label", "dim")
               .agg(F.round(F.avg("x"), 6).alias("cx"))
               .groupBy("label")
               .agg(F.transform(
                   F.array_sort(F.collect_list(F.struct("dim", "cx"))),
                   lambda s: s["cx"]).alias("cv")))
    scored = (emb.join(F.broadcast(cent), "label")
              .select("vec_id", "label",
                      F.expr(_sql_cos("v", "cv")).alias("cos_to_centroid")))
    return scored.select(
        "vec_id", "label", "cos_to_centroid",
        (F.col("cos_to_centroid") < OUTLIER_COS).alias("is_outlier"))


# --------------------------------------------------------------------------
# ann_lsh_recall_eval — evaluation-as-a-query: per-query recall@K of the
# sign-LSH ANN against the exact brute-force top-K. The metric every ANN
# deployment tracks, computed by joining the two registered queries'
# results; the oracle composes their SQL texts as subqueries, so the
# evaluation itself is oracle-checked. Deterministic because both
# inputs are (no RNG anywhere in the LSH).
# --------------------------------------------------------------------------
def _recall_oracle() -> str:
    return f"""
SELECT bf.query_id,
       CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hit,
       ROUND(COUNT(l.neighbor_id) * 1.0 / {TOP_K}, 4) AS recall_at_k
FROM ({ORACLES["ann_topk_bruteforce"]}) bf
LEFT JOIN ({ORACLES["ann_topk_lsh"]}) l
  ON l.query_id = bf.query_id AND l.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
"""


def _recall_at_k(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """(query_id, n_hit, recall_at_k): per truth query, how many of its
    (query_id, neighbor_id) truth pairs ``approx`` returned, and that
    count over TOP_K. Every recall eval's measure."""
    hits = approx.select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    return (truth.join(hits, ["query_id", "neighbor_id"], "left")
                 .groupBy("query_id")
                 .agg(F.count("__hit").cast("long").alias("n_hit"),
                      F.round(F.count("__hit") / TOP_K, 4)
                       .alias("recall_at_k")))


@register("ann_lsh_recall_eval", oracle=_recall_oracle)
def ann_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_at_k(bf, ann_topk_lsh(spark, sf_dir))


# --------------------------------------------------------------------------
# ann_pq_recall_eval — the same evaluation for the PQ/ADC scan: recall@K
# of the compressed-domain ranking vs the exact float top-K. THE number
# that justifies (or vetoes) a 128x-compression deployment; computed and
# oracle-checked exactly like the LSH eval.
# --------------------------------------------------------------------------
def _pq_recall_oracle() -> str:
    return f"""
SELECT bf.query_id,
       CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hit,
       ROUND(COUNT(p.neighbor_id) * 1.0 / {TOP_K}, 4) AS recall_at_k
FROM ({ORACLES["ann_topk_bruteforce"]}) bf
LEFT JOIN ({ORACLES["ann_topk_pq"]}) p
  ON p.query_id = bf.query_id AND p.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
"""


@register("ann_pq_recall_eval", oracle=_pq_recall_oracle)
def ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_at_k(bf, ann_topk_pq(spark, sf_dir))


# --------------------------------------------------------------------------
# ann_topk_int8 — the quantized search path that completes the
# embedding_quantize story: per-vector affine int8 codes (the 4x-smaller
# stored form) searched DIRECTLY in the integer domain — the score is
# the raw int8 x int8 dot product, summed exactly in 64-bit integers,
# so the ranking is bit-identical across engines and partition layouts
# (no float anywhere until nothing is left to round). At 100 TB the
# scan reads ~1/4 the bytes of the float corpus and the SIMD integer
# dot is the cheapest kernel a vector store has; the recall cost of
# ranking by unscaled affine codes is measured by ann_int8_recall_eval
# (same evaluation-as-a-query contract as the LSH/PQ evals).
# --------------------------------------------------------------------------
_SQL_Q_CASE = ("CASE WHEN hi = lo THEN 0 "
               "ELSE ROUND((x - lo) / (hi - lo) * 254) - 127 END")


def _sql_int_dot(a: str, b: str, dim: int = EMBED_DIM) -> str:
    """Unrolled exact integer dot product (Spark side; 1-based)."""
    terms = " + ".join(
        f"coalesce(try_element_at({a}, {i}) * try_element_at({b}, {i}), 0)"
        for i in range(1, dim + 1))
    return f"(0 + {terms})"


@register("ann_topk_int8", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
b AS (SELECT vec_id, v, list_min(v) AS lo, list_max(v) AS hi FROM v),
q AS (SELECT vec_id, generate_subscripts(v, 1) AS dim,
             CAST({_SQL_Q_CASE.replace('x', 'unnest(v)')} AS BIGINT) AS qv
      FROM b),
s AS (SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM(a.qv * c.qv) AS BIGINT) AS dot_int
      FROM q a JOIN q c ON a.dim = c.dim AND c.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
      GROUP BY 1, 2),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY dot_int DESC, neighbor_id ASC)
                AS rank
      FROM s)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, dot_int
FROM r WHERE rank <= {TOP_K}
""")
def ann_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    qarr = F.expr(
        "transform(v, x -> CAST("
        "CASE WHEN hi = lo THEN 0 "
        "ELSE ROUND((x - lo) / (hi - lo) * 254) - 127 END AS BIGINT))")
    coded = (v.select("vec_id", "v",
                      F.array_min("v").alias("lo"),
                      F.array_max("v").alias("hi"))
              .select("vec_id", qarr.alias("qv")))
    probes = coded.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qq"))
    scored = (F.broadcast(probes)
              .join(coded, F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      F.expr(_sql_int_dot("qq", "qv")).cast("long")
                       .alias("dot_int")))
    return (_top_neighbors(scored, "dot_int")
            .select("query_id", "neighbor_id", "rank", "dot_int"))


def _int8_recall_oracle() -> str:
    return f"""
SELECT bf.query_id,
       CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hit,
       ROUND(COUNT(i.neighbor_id) * 1.0 / {TOP_K}, 4) AS recall_at_k
FROM ({ORACLES["ann_topk_bruteforce"]}) bf
LEFT JOIN ({ORACLES["ann_topk_int8"]}) i
  ON i.query_id = bf.query_id AND i.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
"""


@register("ann_int8_recall_eval", oracle=_int8_recall_oracle)
def ann_int8_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of the integer-domain int8 ranking vs the exact float
    cosine top-K — the number that prices the 4x storage saving."""
    bf = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_at_k(bf, ann_topk_int8(spark, sf_dir))


# --------------------------------------------------------------------------
# ann_topk_mmr — Maximal Marginal Relevance re-ranking (Carbonell &
# Goldstein, SIGIR 1998): from each query's top-C exact candidates,
# greedily select K results maximizing
#   score(c) = (7*rel(c) - 3*max_{s in selected} sim(c, s)) / 10
# (lambda = 0.7) — the standard diversity re-rank between retrieval and
# prompt assembly in RAG stacks (near-duplicate passages waste context).
#
# Shape: candidate generation is the broadcast-query exact scan; the
# greedy loop runs per query INSIDE a grouped applyInPandas — C is
# small by construction (the re-rank shortlist), so the K*C^2 greedy is
# per-group constant work, embarrassingly parallel across queries. The
# oracle unrolls the K greedy steps as CTE stages (the kmeans/PQ
# unrolling idiom).
#
# Determinism across engines: rel and the pairwise sims are rounded to
# 6dp from IDENTICAL left-associative dot products (the pandas loop
# accumulates sequentially, exactly like list_dot_product / the
# unrolled SQL dot), the lambda mix uses integer literals over already-
# rounded inputs (exactly-specified IEEE ops), and every argmax
# tie-breaks on neighbor_id.
# --------------------------------------------------------------------------
MMR_K = 4
MMR_C = 12


def _sql_mmr_steps() -> str:
    steps = []
    for i in range(1, MMR_K + 1):
        if i == 1:
            steps.append(f"""
s1 AS (
  SELECT query_id, neighbor_id, rel AS score FROM (
    SELECT query_id, neighbor_id, rel,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, neighbor_id ASC) AS rn
    FROM mcands) WHERE rn = 1)""")
            continue
        sel_union = " UNION ALL ".join(
            f"SELECT query_id, neighbor_id FROM s{j}" for j in range(1, i))
        steps.append(f"""
sel{i - 1} AS ({sel_union}),
sc{i} AS (
  SELECT c.query_id, c.neighbor_id,
         (7 * c.rel - 3 * MAX(p.sim)) / 10.0 AS score
  FROM mcands c
  JOIN sel{i - 1} s ON s.query_id = c.query_id
  JOIN msims p ON p.query_id = c.query_id
             AND p.a = c.neighbor_id AND p.b = s.neighbor_id
  WHERE c.neighbor_id NOT IN (SELECT neighbor_id FROM sel{i - 1} z
                              WHERE z.query_id = c.query_id)
  GROUP BY c.query_id, c.neighbor_id, c.rel),
s{i} AS (
  SELECT query_id, neighbor_id, score FROM (
    SELECT query_id, neighbor_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id ASC) AS rn
    FROM sc{i}) WHERE rn = 1)""")
    return ",".join(steps)


_SQL_MMR_OUT = " UNION ALL ".join(
    f"SELECT query_id, {i} AS position, neighbor_id, ROUND(score, 6) "
    f"AS mmr_score FROM s{i}" for i in range(1, MMR_K + 1))


@register("ann_topk_mmr", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM v),
sc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.v, c.v) / (q.nv * c.nv), 6) AS rel,
         c.v AS v, c.nv AS nv
  FROM n q JOIN n c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}),
mcands AS (
  SELECT query_id, neighbor_id, rel, v, nv FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, neighbor_id ASC) AS rn
    FROM sc) WHERE rn <= {MMR_C}),
msims AS (
  SELECT a.query_id, a.neighbor_id AS a, b.neighbor_id AS b,
         ROUND(list_dot_product(a.v, b.v) / (a.nv * b.nv), 6) AS sim
  FROM mcands a JOIN mcands b
    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id),
{_sql_mmr_steps()}
SELECT query_id, CAST(position AS INT) AS position, neighbor_id,
       mmr_score
FROM ({_SQL_MMR_OUT})
""")
def ann_topk_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    v = _with_norm(_vectors(spark, sf_dir), "v", "nv")
    q = v.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nv").alias("qnv"))
    scored = (F.broadcast(q)
              .join(v, F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      F.expr(_sql_cos("qv", "v", "qnv", "nv")).alias("rel"),
                      "v", "nv"))
    cands = (topk_per_key(scored, ["query_id"], [F.col("rel").desc(),
                                                 F.col("neighbor_id").asc()],
                          MMR_C)
             .select("query_id", "neighbor_id", "rel", "v", "nv"))

    def _round6(x: float) -> float:
        # HALF_UP away from zero, matching Spark/DuckDB ROUND (Python's
        # round() is banker's and would diverge at exact boundaries).
        import math
        s = -1.0 if x < 0 else 1.0
        return s * math.floor(abs(x) * 1e6 + 0.5) / 1e6

    def _seq_dot(a, b) -> float:
        # Sequential left-associative accumulation — bit-identical to
        # list_dot_product / the unrolled SQL dot.
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["neighbor_id"]).reset_index(drop=True)
        ids = list(pdf["neighbor_id"])
        rel = dict(zip(ids, pdf["rel"]))
        vecs = {r.neighbor_id: (list(r.v), float(r.nv))
                for r in pdf.itertuples()}
        sim = {}
        for a in ids:
            for b in ids:
                if a != b:
                    va, na = vecs[a]
                    vb, nb = vecs[b]
                    sim[(a, b)] = _round6(_seq_dot(va, vb) / (na * nb))
        selected, rows = [], []
        qid = int(pdf["query_id"].iloc[0])
        for pos in range(1, MMR_K + 1):
            best = None
            for c in ids:
                if c in selected:
                    continue
                if not selected:
                    score = rel[c]
                else:
                    score = (7 * rel[c]
                             - 3 * max(sim[(c, s)] for s in selected)) / 10.0
                # tie-break: higher score, then smaller neighbor_id
                # (ids iterate ascending, so strict > keeps the smaller)
                if best is None or score > best[1]:
                    best = (c, score)
            selected.append(best[0])
            rows.append((qid, pos, int(best[0]), _round6(best[1])))
        return pd.DataFrame(rows, columns=["query_id", "position",
                                           "neighbor_id", "mmr_score"])

    return cands.groupBy("query_id").applyInPandas(
        _greedy,
        "query_id long, position int, neighbor_id long, mmr_score double")


# --------------------------------------------------------------------------
# corpus_cluster_balanced_sample — cluster-quota (diversity-balanced)
# sampling: assign every vector to the corpus-scaled trained quantizer
# (the SemDedup clustering), then keep at most CLUSTER_SAMPLE_QUOTA
# vectors per cluster, chosen by a content-stable hash order — the
# density-equalizing selection a curation pipeline runs AFTER dedup so
# over-represented semantic regions stop dominating the training mix
# (the cluster-balanced sampling in SemDeDup §5 / DataComp baselines).
#
# Determinism: the per-cluster order is md5(vec_id) with vec_id as the
# tiebreak — no RNG, partition-invariant, identical in both engines.
# Scale: reuses the pinned (vec_id, cid) assignment (one broadcast-NLJ
# + argmin over the corpus, amortized with dedup_embedding_ivf); the
# quota pass is ONE window over the assignment keyed by cid. With
# k = N/64 clusters the output is ~quota*k rows — a fixed fraction of
# the corpus, never driver-sized.
# --------------------------------------------------------------------------
CLUSTER_SAMPLE_QUOTA = 32


@register("corpus_cluster_balanced_sample", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
{_SQL_DK_CTES},
cent AS (SELECT cid, cv FROM {_SQL_DK_FINAL}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT b.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY b.vec_id
             ORDER BY ROUND(list_dot_product(b.v, c.cv)
                            / (sqrt(list_dot_product(b.v, b.v))
                               * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                      c.cid ASC) AS rn
    FROM v b CROSS JOIN cent c) WHERE rn = 1),
ranked AS (
  SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY cid
                            ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC,
                                     vec_id ASC) AS rn
  FROM assign)
SELECT vec_id, CAST(cid AS BIGINT) AS cid,
       CAST(rn AS BIGINT) AS sample_rank
FROM ranked WHERE rn <= {CLUSTER_SAMPLE_QUOTA}
""")
def corpus_cluster_balanced_sample(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    _, assign = _scaled_ivf_assign(spark, sf_dir)
    order = [F.md5(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc()]
    return (topk_per_key(assign, ["cid"], order, CLUSTER_SAMPLE_QUOTA)
            .select("vec_id", F.col("cid").cast("long").alias("cid"),
                    F.col("rank").cast("long").alias("sample_rank")))


# --------------------------------------------------------------------------
# eval_contamination_embedding — embedding-space decontamination audit,
# the semantic companion of the n-gram corpus_decontaminate: for every
# corpus vector, its closest EVAL vector (the benchmark set = the query
# vectors, vec_id < N_QUERIES) and whether that cosine crosses the
# contamination threshold. n-gram overlap catches verbatim leakage;
# embedding proximity catches paraphrased leakage — a pipeline runs
# both and unions the flags.
#
# Scale: the eval set is benchmark-sized -> broadcast; the argmax is a
# lexicographic max(struct(cos, -eval_id)) hash aggregate, so the
# map-side combine reduces every task's fan-out to one row per corpus
# id before the (narrow) exchange — a window would shuffle the full
# |corpus| x |eval| expansion instead. ROUND(cos, 6) before ranking so
# engine last-ulp differences can't flip the argmax; ties break on
# lowest eval id (the negated-id struct field).
# --------------------------------------------------------------------------
EVAL_CONTAM_COS = 0.45


@register("eval_contamination_embedding", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
e AS (SELECT vec_id AS eval_id, v AS ev FROM v WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id, v FROM v WHERE vec_id >= {N_QUERIES}),
s AS (
  SELECT c.vec_id, e.eval_id,
         ROUND(list_dot_product(c.v, e.ev)
               / (sqrt(list_dot_product(c.v, c.v))
                  * sqrt(list_dot_product(e.ev, e.ev))), 6) AS cos_sim
  FROM c CROSS JOIN e),
r AS (SELECT vec_id, eval_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, eval_id ASC) AS rn
      FROM s)
SELECT vec_id, eval_id AS nearest_eval_id, cos_sim AS max_cos,
       cos_sim >= {EVAL_CONTAM_COS} AS contaminated
FROM r WHERE rn = 1
""")
def eval_contamination_embedding(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    v = _with_norm(_vectors(spark, sf_dir), "v", "nv")
    ev = (v.where(F.col("vec_id") < N_QUERIES)
           .select(F.col("vec_id").alias("eval_id"),
                   F.col("v").alias("evec"), F.col("nv").alias("ne")))
    corpus = v.where(F.col("vec_id") >= N_QUERIES)
    cos = F.expr(_sql_cos("v", "evec", "nv", "ne"))
    best = F.max(F.struct(F.col("cos_sim"),
                          (-F.col("eval_id")).alias("neg_id"))).alias("b")
    return (corpus.join(F.broadcast(ev), F.lit(True))
                  .select("vec_id", "eval_id", cos.alias("cos_sim"))
                  .groupBy("vec_id").agg(best)
                  .select("vec_id",
                          (-F.col("b.neg_id")).cast("long")
                          .alias("nearest_eval_id"),
                          F.col("b.cos_sim").alias("max_cos"),
                          (F.col("b.cos_sim") >= EVAL_CONTAM_COS)
                          .alias("contaminated")))


# --------------------------------------------------------------------------
# embedding_coverage_audit — cross-modality referential integrity: per
# document source, how many docs carry an embedding (vec_id == doc_id
# in this corpus), plus the orphan-vector row (embeddings whose doc is
# gone — the stale-store signal after a dedup/curation pass deletes
# documents without re-embedding). The first audit a multi-store
# training pipeline runs before a join-heavy build: silent coverage
# gaps here become silently missing training rows downstream.
#
# Scale: one shuffle equi-join on the id (both sides corpus-keyed —
# nothing broadcasts by design) with partial-agg counts, plus one anti
# join for the orphan row. ppm is exact integer division.
# --------------------------------------------------------------------------
@register("embedding_coverage_audit", oracle="""
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(e.vec_id) AS BIGINT) AS n_embedded,
       CAST((1000000 * COUNT(e.vec_id)) // COUNT(*) AS BIGINT)
         AS coverage_ppm
FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
GROUP BY d.source
UNION ALL
SELECT '__orphan_vectors__',
       CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
FROM embeddings e
WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)
""")
def embedding_coverage_audit(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id")
    per_source = (docs.join(emb, docs["doc_id"] == emb["vec_id"], "left")
                      .groupBy("source")
                      .agg(F.count("*").cast("long").alias("n_docs"),
                           F.count("vec_id").cast("long")
                            .alias("n_embedded")))
    per_source = per_source.select(
        "source", "n_docs", "n_embedded",
        F.expr("(1000000 * n_embedded) div n_docs").cast("long")
         .alias("coverage_ppm"))
    orphans = (emb.join(docs, docs["doc_id"] == emb["vec_id"], "left_anti")
                  .agg(F.count("*").cast("long").alias("n_docs"))
                  .select(F.lit("__orphan_vectors__").alias("source"),
                          "n_docs",
                          F.lit(0).cast("long").alias("n_embedded"),
                          F.lit(0).cast("long").alias("coverage_ppm")))
    return per_source.unionByName(orphans)


# --------------------------------------------------------------------------
# hybrid_retrieval_rrf — reciprocal-rank fusion (Cormack & Clarke,
# SIGIR'09: score(d) = sum over sources of 1/(K + rank_s(d)), K = 60) of
# the two retrieval halves the repo already ships: BM25 lexical top-20
# (llm/text.py bm25_topk) and embedding-cosine semantic top-20 against a
# fixed query vector (vec_id = HYBRID_QUERY_VEC, the "encoded query").
# This is the production hybrid-search shape: fuse a keyword ranker and
# a vector ranker without score calibration, since RRF only consumes
# RANKS. No reference counterpart (the reference has no IR surface).
#
# Scale shape: each side's candidate generation is its own
# already-audited ranker (BM25: map-side tf + one per-doc agg; semantic:
# broadcast 1-row query vector over the corpus scan, then
# TakeOrderedAndProject for the top-N — the corpus never shuffles).
# Fusion itself touches 2 x 20 rows; its windows are bounded by
# construction.
#
# Determinism: RRF contributions are exact integer floor-divisions
# (1e9 div (K + rank)) summed as BIGINTs — no float-order hazard; ranks
# tie-break on doc_id; the displayed score divides the exact integer
# once.
# --------------------------------------------------------------------------
RRF_K = 60
HYBRID_TOPN = 20          # per-side candidate depth (= BM25_TOPK)
HYBRID_QUERY_VEC = 0      # the corpus vector standing in for the query


def _hybrid_rrf_oracle() -> str:
    return f"""
WITH v AS ({_SQL_VECTORS}),
qv AS (SELECT v FROM v WHERE vec_id = {HYBRID_QUERY_VEC}),
sem AS (
  SELECT b.vec_id AS doc_id,
         ROUND(list_dot_product(q.v, b.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
  FROM qv q, v b),
semtop AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS sem_rank
  FROM sem ORDER BY cos_sim DESC, doc_id ASC LIMIT {HYBRID_TOPN}),
lex AS (SELECT doc_id, rank AS lex_rank FROM ({ORACLES["bm25_topk"]})),
f AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank,
         COALESCE(1000000000 // ({RRF_K} + l.lex_rank), 0)
         + COALESCE(1000000000 // ({RRF_K} + s.sem_rank), 0) AS rrf_u
  FROM lex l FULL JOIN semtop s ON s.doc_id = l.doc_id)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf_u DESC, doc_id ASC) AS BIGINT)
         AS hybrid_rank,
       CAST(lex_rank AS BIGINT) AS lex_rank,
       CAST(sem_rank AS BIGINT) AS sem_rank,
       ROUND(rrf_u / 1000000000.0, 6) AS rrf_score
FROM f
"""


@register("hybrid_retrieval_rrf", oracle=_hybrid_rrf_oracle)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.llm.text import bm25_topk
    lex = bm25_topk(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("lex_rank"))
    v = _with_norm(_vectors(spark, sf_dir), "v", "nv")
    q = (v.where(F.col("vec_id") == HYBRID_QUERY_VEC)
          .select(F.col("v").alias("qv"), F.col("nv").alias("qnv")))
    sem = (v.crossJoin(F.broadcast(q))
            .select(F.col("vec_id").alias("doc_id"),
                    F.expr(_sql_cos("qv", "v", "qnv", "nv")).alias("cos_sim")))
    # TakeOrderedAndProject bounds the frame; the rank window then runs
    # on HYBRID_TOPN rows.
    semtop = (sem.orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc())
                 .limit(HYBRID_TOPN)
                 .withColumn("sem_rank",
                             F.row_number().over(
                                 Window.orderBy(F.col("cos_sim").desc(),
                                                F.col("doc_id").asc())))
                 .select("doc_id", "sem_rank"))
    fused = (lex.join(semtop, "doc_id", "full")
                .withColumn(
                    "rrf_u",
                    F.coalesce(F.expr(f"1000000000L div ({RRF_K} + lex_rank)"),
                               F.lit(0).cast("long"))
                    + F.coalesce(F.expr(f"1000000000L div ({RRF_K} + sem_rank)"),
                                 F.lit(0).cast("long"))))
    wf = Window.orderBy(F.col("rrf_u").desc(), F.col("doc_id").asc())
    return fused.select(
        "doc_id",
        F.row_number().over(wf).cast("long").alias("hybrid_rank"),
        F.col("lex_rank").cast("long").alias("lex_rank"),
        F.col("sem_rank").cast("long").alias("sem_rank"),
        F.round(F.col("rrf_u") / F.lit(1e9), 6).alias("rrf_score"))


# --------------------------------------------------------------------------
# score_label_auc — exact ROC-AUC of the text quality score as a
# predictor of a binary label (label 0 vs rest on the embeddings
# table): the model-evaluation metric a filter-training loop reports.
# Computed via the Mann-Whitney rank identity WITH ties handled by
# average ranks — and, crucially for scale, from SCORE GROUPS, not
# rows: scores are grouped (the 4-dp quality score has bounded distinct
# values), the rank window runs over the tiny group frame ordered by
# score, and each group contributes n_pos * (2*cum_before + n + 1)
# half-rank units. The corpus pays one aggregation; no global
# row-ordering window ever exists.
#
# Determinism: all terms are exact integers (half-rank doubling removes
# the /2); the single final division is ROUND(..., 6) on both engines.
# --------------------------------------------------------------------------
AUC_POS_LABEL = 0


def _auc_oracle() -> str:
    return f"""
WITH q AS ({ORACLES["text_quality_score"]}),
j AS (
  SELECT q.quality_score AS s,
         CAST(e.label = {AUC_POS_LABEL} AS INT) AS y
  FROM q JOIN embeddings e ON e.vec_id = q.doc_id),
g AS (
  SELECT s, COUNT(*) AS n, SUM(y) AS n_pos
  FROM j GROUP BY s),
c AS (
  SELECT n, n_pos,
         COALESCE(SUM(n) OVER (ORDER BY s ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS before
  FROM g),
t AS (
  SELECT SUM(n_pos * (2 * before + n + 1)) AS r1_2,
         SUM(n_pos) AS n1, SUM(n - n_pos) AS n0
  FROM c)
SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
       CASE WHEN n1 > 0 AND n0 > 0 THEN
         ROUND(CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE)
               / CAST(2 * n1 * n0 AS DOUBLE), 6) END AS auc
FROM t
"""


@register("score_label_auc", oracle=_auc_oracle)
def score_label_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.llm.text import text_quality_score
    q = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    lab = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", (F.col("label") == AUC_POS_LABEL).cast("int").alias("y"))
    j = q.join(lab, q["doc_id"] == lab["vec_id"]).select(
        F.col("quality_score").alias("s"), "y")
    g = j.groupBy("s").agg(F.count("*").alias("n"), F.sum("y").alias("n_pos"))
    w = (Window.orderBy(F.col("s").asc())
               .rowsBetween(Window.unboundedPreceding, -1))
    c = g.select("n", "n_pos",
                 F.coalesce(F.sum("n").over(w), F.lit(0)).alias("before"))
    t = c.agg(
        F.sum(F.col("n_pos") * (2 * F.col("before") + F.col("n") + 1))
         .alias("r1_2"),
        F.sum("n_pos").alias("n1"),
        F.sum(F.col("n") - F.col("n_pos")).alias("n0"))
    # Single-class guard: a corpus whose joined labels are
    # all-positive or all-negative makes 2*n1*n0 = 0 — NULL in default
    # mode but DIVIDE_BY_ZERO under the ANSI sweep. AUC is undefined
    # there; emit NULL explicitly in both engines.
    return t.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_neg"),
        F.when((F.col("n1") > 0) & (F.col("n0") > 0),
               F.round((F.col("r1_2") - F.col("n1") * (F.col("n1") + 1))
                       .cast("double")
                       / (2 * F.col("n1") * F.col("n0")).cast("double"), 6))
         .alias("auc"))


# --------------------------------------------------------------------------
# source_target_encoding — smoothed target encoding + leave-one-out
# encoding of the documents' source column against the binary label:
# the standard high-cardinality-categorical feature-engineering pair
# for tabular ML, built leakage-aware (LOO excludes the row's own
# label; the smoothed form shrinks small sources toward the global
# rate, m = TE_SMOOTHING pseudo-counts).
#
# Determinism: encodings are integer ppm via integer division on exact
# counts — enc = 1e6 * (sum_y * g_n + m * g_sum) div ((n + m) * g_n),
# loo = 1e6 * (sum_y - y) div (n - 1) — no float summation anywhere.
# Scale: one groupBy on source (low cardinality, AQE-skew-safe), the
# 1-row global aggregate broadcast-crossed, then a broadcast join back
# onto the per-doc stream; the corpus shuffles once.
# --------------------------------------------------------------------------
TE_SMOOTHING = 10


@register("source_target_encoding", oracle=f"""
WITH j AS (
  SELECT d.doc_id, d.source, CAST(e.label = {AUC_POS_LABEL} AS INT) AS y
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
s AS (SELECT source, COUNT(*) AS n, SUM(y) AS sum_y FROM j GROUP BY source),
g AS (SELECT SUM(n) AS g_n, SUM(sum_y) AS g_sum FROM s)
SELECT j.doc_id, j.source, CAST(j.y AS BIGINT) AS y,
       CAST((1000000 * (s.sum_y * g.g_n + {TE_SMOOTHING} * g.g_sum))
            // ((s.n + {TE_SMOOTHING}) * g.g_n) AS BIGINT) AS te_ppm,
       CASE WHEN s.n > 1
            THEN CAST((1000000 * (s.sum_y - j.y)) // (s.n - 1) AS BIGINT)
       END AS loo_ppm
FROM j JOIN s USING (source), g
""")
def source_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    lab = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", (F.col("label") == AUC_POS_LABEL).cast("int").alias("y"))
    j = docs.join(lab, docs["doc_id"] == lab["vec_id"]).select(
        "doc_id", "source", "y")
    s = j.groupBy("source").agg(F.count("*").alias("n"),
                                F.sum("y").alias("sum_y"))
    g = s.agg(F.sum("n").alias("g_n"), F.sum("sum_y").alias("g_sum"))
    enc = (s.crossJoin(F.broadcast(g))
            .select("source", "n", "sum_y",
                    F.expr(f"(1000000 * (sum_y * g_n + {TE_SMOOTHING} * g_sum))"
                           f" div ((n + {TE_SMOOTHING}) * g_n)")
                     .cast("long").alias("te_ppm")))
    return (j.join(F.broadcast(enc), "source")
             .select("doc_id", "source", F.col("y").cast("long").alias("y"),
                     "te_ppm",
                     F.when(F.col("n") > 1,
                            F.expr("(1000000 * (sum_y - y)) div (n - 1)")
                             .cast("long"))
                      .alias("loo_ppm")))


# --------------------------------------------------------------------------
# score_label_pr_auc — average precision (the PR-AUC companion to
# score_label_auc, the metric that matters under class imbalance):
# AP = sum over descending score thresholds of delta-recall * precision.
# Same grouped-threshold shape as the ROC computation — thresholds are
# the DISTINCT scores, cumulative TP/PP come from one window over the
# group frame, never a global row ordering.
#
# Determinism: each group's term snaps to integer NANO-units before the
# final sum (round(1e9 * n_pos_g * TP_g / PP_g) — identical scalar ops
# on exact integers in both engines), so summation order can't flip a
# bit; the result divides the exact integer sum once.
# --------------------------------------------------------------------------
def _pr_auc_oracle() -> str:
    return f"""
WITH q AS ({ORACLES["text_quality_score"]}),
j AS (
  SELECT q.quality_score AS s,
         CAST(e.label = {AUC_POS_LABEL} AS INT) AS y
  FROM q JOIN embeddings e ON e.vec_id = q.doc_id),
g AS (
  SELECT s, COUNT(*) AS n, SUM(y) AS n_pos
  FROM j GROUP BY s),
c AS (
  SELECT n_pos,
         SUM(n_pos) OVER (ORDER BY s DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS tp,
         SUM(n) OVER (ORDER BY s DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS pp
  FROM g),
t AS (
  SELECT SUM(CAST(ROUND(1000000000.0 * n_pos * tp / pp) AS BIGINT)) AS ap_u,
         SUM(n_pos) AS n1
  FROM c)
SELECT CAST(n1 AS BIGINT) AS n_pos,
       CASE WHEN n1 > 0 THEN
         ROUND(CAST(ap_u AS DOUBLE) / (1000000000.0 * n1), 6)
       END AS avg_precision
FROM t
"""


@register("score_label_pr_auc", oracle=_pr_auc_oracle)
def score_label_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.llm.text import text_quality_score
    q = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    lab = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", (F.col("label") == AUC_POS_LABEL).cast("int").alias("y"))
    j = q.join(lab, q["doc_id"] == lab["vec_id"]).select(
        F.col("quality_score").alias("s"), "y")
    g = j.groupBy("s").agg(F.count("*").alias("n"), F.sum("y").alias("n_pos"))
    w = (Window.orderBy(F.col("s").desc())
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = g.select("n_pos",
                 F.sum("n_pos").over(w).alias("tp"),
                 F.sum("n").over(w).alias("pp"))
    t = c.agg(
        F.sum(F.round(F.lit(1e9) * F.col("n_pos") * F.col("tp") / F.col("pp"))
               .cast("long")).alias("ap_u"),
        F.sum("n_pos").alias("n1"))
    # Zero-positive guard: AP is undefined with no positive
    # labels; NULL in both engines instead of ANSI DIVIDE_BY_ZERO.
    return t.select(
        F.col("n1").cast("long").alias("n_pos"),
        F.when(F.col("n1") > 0,
               F.round(F.col("ap_u").cast("double")
                       / (F.lit(1e9) * F.col("n1")), 6))
         .alias("avg_precision"))


# --------------------------------------------------------------------------
# score_calibration_bins — the reliability diagram behind the AUC/AP
# metrics: fixed-width score bins (CAL_BINS over [0, 1]) with observed
# positive rate vs mean score per bin, plus the absolute gap — the
# table a calibration plot renders, and the evidence for/against
# temperature-scaling a quality classifier before thresholding it.
#
# Determinism: bin ids are integer floor(score * bins) (capped at
# bins-1); rates and mean scores are integer-ppm divisions of exact
# sums (scores enter as round(score * 1e6) integers). Scale: one
# groupBy on <= CAL_BINS keys after the map-side label join.
# --------------------------------------------------------------------------
CAL_BINS = 10


def _calibration_oracle() -> str:
    return f"""
WITH q AS ({ORACLES["text_quality_score"]}),
j AS (
  SELECT LEAST(CAST(FLOOR(q.quality_score * {CAL_BINS}) AS BIGINT),
               {CAL_BINS - 1}) AS bin_id,
         CAST(ROUND(q.quality_score * 1000000) AS BIGINT) AS s_u,
         CAST(e.label = {AUC_POS_LABEL} AS INT) AS y
  FROM q JOIN embeddings e ON e.vec_id = q.doc_id)
SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(s_u) // COUNT(*) AS BIGINT) AS avg_score_ppm,
       CAST((1000000 * SUM(y)) // COUNT(*) AS BIGINT) AS pos_rate_ppm,
       CAST(ABS(SUM(s_u) // COUNT(*)
                - (1000000 * SUM(y)) // COUNT(*)) AS BIGINT) AS abs_gap_ppm
FROM j GROUP BY bin_id
"""


@register("score_calibration_bins", oracle=_calibration_oracle)
def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.llm.text import text_quality_score
    q = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    lab = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", (F.col("label") == AUC_POS_LABEL).cast("int").alias("y"))
    j = (q.join(lab, q["doc_id"] == lab["vec_id"])
          .select(F.least(F.floor(F.col("quality_score") * CAL_BINS)
                           .cast("long"), F.lit(CAL_BINS - 1)).alias("bin_id"),
                  F.round(F.col("quality_score") * 1e6).cast("long")
                   .alias("s_u"), "y"))
    avg_s = F.expr("sum(s_u) div count(*)").cast("long")
    pos = F.expr("(1000000 * sum(y)) div count(*)").cast("long")
    return (j.groupBy("bin_id")
             .agg(F.count("*").cast("long").alias("n"),
                  avg_s.alias("avg_score_ppm"),
                  pos.alias("pos_rate_ppm"),
                  F.abs(avg_s - pos).cast("long").alias("abs_gap_ppm")))


# --------------------------------------------------------------------------
# retrieval_eval_mrr — ranking-metric evaluation of dense retrieval:
# MRR@K, nDCG@K, and hit-rate@K of exact-cosine retrieval against the
# planted near-dup twins (each query's single relevant document is its
# twin at vec_id + EMB_PLANT_OFFSET). The companion to the recall
# evals: recall measures CANDIDATE coverage; this measures RANKED
# quality — the metric a RAG/retrieval deployment actually reports.
# AUC/PR-AUC cover classifier scores; this covers ranking, the one
# eval family the score suite lacked.
#
# The rank is computed WITHOUT any ranking window: rank(twin) = 1 +
# count of other candidates scoring strictly better under the total
# order (round(cos,6) DESC, vec_id ASC) — a count aggregate, so no
# per-query sort and no single-partition exchange anywhere.
#
# Determinism: cosines round to 6 decimals before comparison (repo
# discipline); per-query metric contributions snap to integer ppm
# (ROUND(1e6/rank), ROUND(1e6/(ln(rank+1)/ln 2))) before the mean; the
# means are integer floor divisions.
#
# 100 TB shape: the query side is a BOUNDED eval sample (vec_id <
# RETR_EVAL_MAX_QID keeps it ~100 rows at any corpus size) broadcast
# against one corpus scan; everything after the per-query count is
# row-count O(|queries|).
# --------------------------------------------------------------------------
RETR_EVAL_K = 10
RETR_EVAL_MAX_QID = 500


@register("retrieval_eval_mrr", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
planted AS (
  SELECT vec_id + {EMB_PLANT_OFFSET} AS vec_id, {_DUCK_PLANT_EXPR} AS v
  FROM v WHERE vec_id % 5 = 0),
aug AS (SELECT vec_id, v FROM v UNION ALL SELECT vec_id, v FROM planted),
q AS (SELECT vec_id AS qid, v AS qv FROM v
      WHERE vec_id % 5 = 0 AND vec_id < {RETR_EVAL_MAX_QID}),
tcos AS (
  SELECT q.qid,
         ROUND(list_dot_product(q.qv, t.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(t.v, t.v))), 6) AS tc
  FROM q JOIN planted t ON t.vec_id = q.qid + {EMB_PLANT_OFFSET}),
scored AS (
  SELECT q.qid, a.vec_id AS did,
         ROUND(list_dot_product(q.qv, a.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(a.v, a.v))), 6) AS c
  FROM aug a CROSS JOIN q WHERE a.vec_id <> q.qid),
better AS (
  SELECT s.qid, COUNT(*) AS nb
  FROM scored s JOIN tcos t USING (qid)
  WHERE s.did <> s.qid + {EMB_PLANT_OFFSET}
    AND (s.c > t.tc OR (s.c = t.tc AND s.did < s.qid + {EMB_PLANT_OFFSET}))
  GROUP BY s.qid),
ranks AS (
  SELECT t.qid, COALESCE(b.nb, 0) + 1 AS rnk
  FROM tcos t LEFT JOIN better b ON b.qid = t.qid),
per AS (
  SELECT CASE WHEN rnk <= {RETR_EVAL_K}
              THEN CAST(ROUND(1000000.0::DOUBLE / rnk) AS BIGINT)
              ELSE 0 END AS mrr_u,
         CASE WHEN rnk <= {RETR_EVAL_K}
              THEN CAST(ROUND(1000000.0::DOUBLE
                   / (ln(CAST(rnk + 1 AS DOUBLE)) / ln(2.0::DOUBLE)))
                   AS BIGINT)
              ELSE 0 END AS ndcg_u,
         CASE WHEN rnk <= {RETR_EVAL_K} THEN 1 ELSE 0 END AS hit
  FROM ranks)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(mrr_u) // COUNT(*) AS BIGINT) AS mrr_ppm,
       CAST(SUM(ndcg_u) // COUNT(*) AS BIGINT) AS ndcg_ppm,
       CAST((1000000 * SUM(hit)) // COUNT(*) AS BIGINT) AS hit_rate_ppm
FROM per
""")
def retrieval_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vectors(spark, sf_dir).select("vec_id", "v")
    planted = (vecs.where(F.col("vec_id") % 5 == 0)
                   .select((F.col("vec_id") + EMB_PLANT_OFFSET)
                           .alias("vec_id"),
                           F.expr(_SPARK_PLANT_EXPR).alias("v")))
    aug = _with_norm(vecs.unionByName(planted), "v", "nv")
    q = _with_norm(
        vecs.where((F.col("vec_id") % 5 == 0)
                   & (F.col("vec_id") < RETR_EVAL_MAX_QID)),
        "v", "nv").select(F.col("vec_id").alias("qid"),
                          F.col("v").alias("qv"), F.col("nv").alias("qnv"))
    twin = _with_norm(planted, "v", "nv").select(
        F.col("vec_id").alias("tid"), F.col("v").alias("tv"),
        F.col("nv").alias("tnv"))
    tcos = (F.broadcast(q)
            .join(twin, F.col("tid") == F.col("qid") + EMB_PLANT_OFFSET)
            .select("qid", F.expr(_sql_cos("qv", "tv", "qnv", "tnv")).alias("tc")))
    scored = (F.broadcast(q)
              .join(aug, F.col("qid") != F.col("vec_id"))
              .select("qid", F.col("vec_id").alias("did"),
                      F.expr(_sql_cos("qv", "v", "qnv", "nv")).alias("c")))
    better = (scored.join(F.broadcast(tcos), "qid")
              .where(F.col("did") != F.col("qid") + EMB_PLANT_OFFSET)
              .where((F.col("c") > F.col("tc"))
                     | ((F.col("c") == F.col("tc"))
                        & (F.col("did") < F.col("qid") + EMB_PLANT_OFFSET)))
              .groupBy("qid").agg(F.count("*").alias("nb")))
    ranks = (tcos.join(better, "qid", "left")
                 .select("qid",
                         (F.coalesce(F.col("nb"), F.lit(0)) + 1)
                          .alias("rnk")))
    k = F.lit(RETR_EVAL_K)
    per = ranks.select(
        F.when(F.col("rnk") <= k,
               F.round(F.lit(1000000.0) / F.col("rnk")).cast("long"))
         .otherwise(F.lit(0).cast("long")).alias("mrr_u"),
        F.when(F.col("rnk") <= k,
               F.round(F.lit(1000000.0)
                       / (F.log((F.col("rnk") + 1).cast("double"))
                          / F.log(F.lit(2.0)))).cast("long"))
         .otherwise(F.lit(0).cast("long")).alias("ndcg_u"),
        F.when(F.col("rnk") <= k, 1).otherwise(0).alias("hit"))
    return per.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.expr("sum(mrr_u) div count(*)").cast("long").alias("mrr_ppm"),
        F.expr("sum(ndcg_u) div count(*)").cast("long").alias("ndcg_ppm"),
        F.expr("(1000000 * sum(hit)) div count(*)").cast("long")
         .alias("hit_rate_ppm"))


# --------------------------------------------------------------------------
# embedding_debias_topc — the "all-but-the-top" audit (Mu & Viswanath
# 2018): embedding corpora concentrate variance in a few dominant
# directions that encode frequency artifacts rather than semantics;
# removing the top principal component before cosine retrieval is the
# standard post-processing. This query measures HOW anisotropic the
# corpus is: the exact share of total (uncentered) second-moment energy
# the power-iteration top PC carries — the number that decides whether
# the debias step is worth a pipeline stage.
#
# Determinism: the projection direction is the SAME round(weight, 6)
# vector embedding_top_pc publishes (Spark inlines it as F.round
# literals; the oracle recomputes it from the shared CTE list and
# rounds identically); each row's p^2 and |x|^2 snap to integer
# micro-units before summation.
#
# 100 TB shape: the power iteration is PC_ITERS map-side partial
# aggregates (only EMBED_DIM longs reach the driver per pass); the
# audit itself is ONE more map-side aggregate over the corpus — the
# corpus never shuffles.
# --------------------------------------------------------------------------
def _debias_oracle() -> str:
    dims = range(1, EMBED_DIM + 1)
    ctes = _top_pc_cte_list()
    ws = ", ".join(f"ROUND(v{d}, 6) AS w{d}" for d in dims)
    ctes.append(f"w AS (SELECT {ws} FROM v{PC_ITERS})")
    p = "(0.0::DOUBLE + " + " + ".join(
        f"COALESCE(e.x[{d}] * w.w{d}, 0.0::DOUBLE)" for d in dims) + ")"
    tot = "(0.0::DOUBLE + " + " + ".join(
        f"COALESCE(e.x[{d}] * e.x[{d}], 0.0::DOUBLE)" for d in dims) + ")"
    ctes.append(f"proj AS (SELECT {p} AS p, {tot} AS tot FROM e, w)")
    return ("WITH " + ",\n".join(ctes) + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CAST(ROUND(tot * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT)
         AS var_total_u,
       CAST(SUM(CAST(ROUND(p * p * 1000000.0::DOUBLE) AS BIGINT)) AS BIGINT)
         AS var_top_pc_u,
       CAST((1000000 * SUM(CAST(ROUND(p * p * 1000000.0::DOUBLE) AS BIGINT)))
            // GREATEST(SUM(CAST(ROUND(tot * 1000000.0::DOUBLE) AS BIGINT)),
                        1) AS BIGINT) AS var_removed_ppm
FROM proj""")


@register("embedding_debias_topc", oracle=_debias_oracle())
def embedding_debias_topc(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _power_iteration_weights(spark, sf_dir)
    vecs = _pc_vectors(spark, sf_dir)
    dims = range(1, EMBED_DIM + 1)
    p = F.lit(0.0)
    for d, val in zip(dims, v):
        p = p + F.coalesce(F.try_element_at("x", F.lit(d))
                           * F.round(F.lit(val), 6), F.lit(0.0))
    tot = F.expr(_sql_dot_cols("x", "x"))
    proj = vecs.select(
        F.round(p * p * F.lit(1e6)).cast("long").alias("pc_u"),
        F.round(tot * F.lit(1e6)).cast("long").alias("tot_u"))
    return proj.agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum("tot_u").cast("long").alias("var_total_u"),
        F.sum("pc_u").cast("long").alias("var_top_pc_u"),
        F.expr("(1000000 * sum(pc_u)) div greatest(sum(tot_u), 1)")
         .cast("long").alias("var_removed_ppm"))


# --------------------------------------------------------------------------
# maxsim_retrieval_topk — late-interaction (ColBERT-style) retrieval:
# each vector splits into MAXSIM_PARTS sub-vectors ("token embeddings");
# the query-document score is the sum over query sub-vectors of the MAX
# cosine against any document sub-vector. The retrieval capability
# single-vector ANN cannot express (a document matches if EACH aspect
# of the query finds some strong region), completing the retrieval
# family alongside bm25 (lexical), ann_topk_* (single-vector dense),
# and hybrid RRF.
#
# Determinism: sub-vector cosines round to 6 decimals then scale to
# exact integer ppm BEFORE the max/sum aggregates; zero-norm
# sub-vectors score 0 by a guard in both engines; top-K ranks on
# (maxsim_ppm DESC, neighbor ASC) within each query.
#
# 100 TB shape: the query side is N_QUERIES x MAXSIM_PARTS rows
# broadcast against one corpus-subvector scan (MAXSIM_PARTS map-side
# rows per vector — a bounded fan-out of the corpus, exploded BEFORE
# the join so nothing quadratic carries payload); per-query ranking
# windows partition on query_id.
# --------------------------------------------------------------------------
MAXSIM_PARTS = 4
MAXSIM_SUB = EMBED_DIM // MAXSIM_PARTS

_SQL_MAXSIM_PARTS = ", ".join(str(p) for p in range(MAXSIM_PARTS))


@register("maxsim_retrieval_topk", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
sub AS (
  SELECT vec_id, p.part,
         v[p.part * {MAXSIM_SUB} + 1 : p.part * {MAXSIM_SUB} + {MAXSIM_SUB}]
           AS sv
  FROM v, (SELECT UNNEST([{_SQL_MAXSIM_PARTS}]) AS part) p),
q AS (SELECT vec_id AS qid, part AS qp, sv AS qsv,
             sqrt(list_dot_product(sv, sv)) AS qn
      FROM sub WHERE vec_id < {N_QUERIES}),
d AS (SELECT vec_id AS did, sv,
             sqrt(list_dot_product(sv, sv)) AS dn
      FROM sub),
combo AS (
  SELECT qid, did, qp,
         CASE WHEN qn * dn > 0 THEN
           CAST(ROUND(ROUND(list_dot_product(qsv, sv) / (qn * dn), 6)
                      * 1000000) AS BIGINT)
         ELSE 0 END AS c_u
  FROM q JOIN d ON did <> qid),
best AS (SELECT qid, did, qp, MAX(c_u) AS m FROM combo GROUP BY qid, did, qp),
score AS (SELECT qid, did, SUM(m) AS maxsim_ppm FROM best GROUP BY qid, did),
ranked AS (
  SELECT qid AS query_id, did AS neighbor_id, maxsim_ppm,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY maxsim_ppm DESC, did ASC) AS rank
  FROM score)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       CAST(maxsim_ppm AS BIGINT) AS maxsim_ppm
FROM ranked WHERE rank <= {TOP_K}
""")
def maxsim_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vectors(spark, sf_dir).select("vec_id", "v")
    parts = F.array(*[
        F.struct(F.lit(p).alias("part"),
                 F.slice("v", p * MAXSIM_SUB + 1, MAXSIM_SUB).alias("sv"))
        for p in range(MAXSIM_PARTS)])
    sub = (vecs.select("vec_id", F.explode(parts).alias("ps"))
               .select("vec_id", "ps.part", "ps.sv")
               .withColumn("nrm", F.expr(
                   f"sqrt({_sql_dot_cols('sv', 'sv', MAXSIM_SUB)})")))
    q = (sub.where(F.col("vec_id") < N_QUERIES)
            .select(F.col("vec_id").alias("qid"), F.col("part").alias("qp"),
                    F.col("sv").alias("qsv"), F.col("nrm").alias("qn")))
    combo = (F.broadcast(q)
             .join(sub, F.col("vec_id") != F.col("qid"))
             .select("qid", F.col("vec_id").alias("did"), "qp",
                     F.when(F.col("qn") * F.col("nrm") > 0,
                            F.round(F.expr(_sql_cos("qsv", "sv", "qn", "nrm",
                                                    MAXSIM_SUB))
                                    * 1000000).cast("long"))
                      .otherwise(F.lit(0).cast("long")).alias("c_u")))
    best = combo.groupBy("qid", "did", "qp").agg(F.max("c_u").alias("m"))
    score = best.groupBy("qid", "did").agg(F.sum("m").alias("maxsim_ppm"))
    return (topk_per_key(score, ["qid"], [F.col("maxsim_ppm").desc(),
                                          F.col("did").asc()], TOP_K)
            .select(F.col("qid").alias("query_id"),
                    F.col("did").alias("neighbor_id"),
                    F.col("rank").cast("long").alias("rank"),
                    F.col("maxsim_ppm").cast("long").alias("maxsim_ppm")))


# --------------------------------------------------------------------------
# embedding_matryoshka_recall — truncated-dimension retrieval quality
# (the Matryoshka-representation-learning deployment question): rank by
# the first P dims only and measure recall@K against full-width exact
# retrieval, for P in MRL_DIMS. The storage/latency curve that decides
# how many dims a 100 TB vector store actually keeps hot — the
# dimension-axis companion to ann_*_recall_eval's candidate-axis
# measurements.
#
# Determinism: prefix cosines round to 6 decimals before ranking; ranks
# tie-break on neighbor id; recall is an exact integer ppm division.
#
# 100 TB shape: ONE broadcast join of the bounded query sample against
# one corpus scan computes every prefix cosine map-side (prefix norms
# are extra projected columns, not extra passes); ranking windows
# partition on (prefix, query); the overlap join touches only the
# |prefixes| x |queries| x K top-K rows.
# --------------------------------------------------------------------------
MRL_DIMS = (8, 16, 32)


def _mrl_oracle() -> str:
    # Zero-norm guard: a degenerate all-zero prefix would be
    # NULL in Spark but inf/NaN under DuckDB's IEEE float division —
    # both sides score it 0, mirroring maxsim_retrieval_topk's guard.
    def cos(p: int) -> str:
        qn = f"sqrt(list_dot_product(q.qv[1:{p}], q.qv[1:{p}]))"
        dn = f"sqrt(list_dot_product(a.v[1:{p}], a.v[1:{p}]))"
        return (f"CASE WHEN {qn} * {dn} > 0 THEN"
                f" ROUND(list_dot_product(q.qv[1:{p}], a.v[1:{p}])"
                f" / ({qn} * {dn}), 6) ELSE 0 END")
    arms = "\n  UNION ALL ".join(
        f"SELECT q.qid, a.vec_id AS did, {p} AS p, {cos(p)} AS c "
        f"FROM v a CROSS JOIN q WHERE a.vec_id <> q.qid"
        for p in (*MRL_DIMS, EMBED_DIM))
    return f"""
WITH v AS ({_SQL_VECTORS}),
q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < {N_QUERIES}),
long_form AS (
  {arms}),
ranked AS (
  SELECT p, qid, did,
         ROW_NUMBER() OVER (PARTITION BY p, qid
                            ORDER BY c DESC, did ASC) AS rnk
  FROM long_form),
topk AS (SELECT p, qid, did FROM ranked WHERE rnk <= {TOP_K}),
full_k AS (SELECT qid, did FROM topk WHERE p = {EMBED_DIM}),
trunc AS (SELECT p, qid, did FROM topk WHERE p <> {EMBED_DIM})
SELECT CAST(t.p AS BIGINT) AS prefix_dim,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(COUNT(f.did) AS BIGINT) AS n_overlap,
       CAST((1000000 * COUNT(f.did)) // COUNT(*) AS BIGINT) AS recall_ppm
FROM trunc t LEFT JOIN full_k f ON f.qid = t.qid AND f.did = t.did
GROUP BY t.p
"""


@register("embedding_matryoshka_recall", oracle=_mrl_oracle())
def embedding_matryoshka_recall(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    vecs = _vectors(spark, sf_dir).select("vec_id", "v")
    all_p = (*MRL_DIMS, EMBED_DIM)

    def with_prefix_norms(df, vcol, pfx):
        for p in all_p:
            df = df.withColumn(f"{pfx}{p}", F.expr(
                f"sqrt({_sql_dot_cols(vcol, vcol, p)})"))
        return df

    q = with_prefix_norms(
        vecs.where(F.col("vec_id") < N_QUERIES)
            .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv")),
        "qv", "qn")
    corpus = with_prefix_norms(vecs, "v", "dn")
    arms = F.array(*[
        F.struct(F.lit(p).cast("long").alias("p"),
                 F.when(F.col(f"qn{p}") * F.col(f"dn{p}") > 0,
                        F.expr(_sql_cos("qv", "v", f"qn{p}", f"dn{p}", p)))
                  .otherwise(F.lit(0.0)).alias("c"))
        for p in all_p])
    long_form = (F.broadcast(q)
                 .join(corpus, F.col("vec_id") != F.col("qid"))
                 .select("qid", F.col("vec_id").alias("did"),
                         F.explode(arms).alias("a"))
                 .select("qid", "did", "a.p", "a.c"))
    # topk feeds BOTH the full_k and trunc branches; unpinned, the
    # broadcast corpus join + ranking windows execute twice per run.
    # The frame is |prefixes| x Q x K rows — tiny.
    topk = state.pinned(
        spark, ("embedding_matryoshka_recall:topk", sf_dir),
        lambda: topk_per_key(long_form, ["p", "qid"],
                             [F.col("c").desc(), F.col("did").asc()], TOP_K)
                .select("p", "qid", "did"))
    full_k = (topk.where(F.col("p") == EMBED_DIM)
                  .select("qid", "did", F.lit(1).alias("hit")))
    trunc = topk.where(F.col("p") != EMBED_DIM)
    return (trunc.join(F.broadcast(full_k), ["qid", "did"], "left")
                 .groupBy("p")
                 .agg(F.count("*").cast("long").alias("n_true"),
                      F.count("hit").cast("long").alias("n_overlap"),
                      F.expr("(1000000 * count(hit)) div count(*)")
                       .cast("long").alias("recall_ppm"))
                 .select(F.col("p").cast("long").alias("prefix_dim"),
                         "n_true", "n_overlap", "recall_ppm"))


# --------------------------------------------------------------------------
# embedding_knn_label_eval — the retrieval-probe evaluation of
# embedding quality: k-NN majority-vote label prediction over a bounded
# query sample, scored against the true labels — the standard probe
# task (kNN accuracy) that tells you whether an embedding space
# separates classes BEFORE you spend a training run on it. Completes
# the eval suite: AUC/PR (scores), MRR/nDCG (ranking), recall
# (candidates), and now label coherence (space geometry).
#
# Determinism: cosines round to 6 before ranking (tie-break neighbor
# id); the vote argmax tie-breaks on smallest label; accuracy is an
# exact ppm floor division per true label.
#
# 100 TB shape: bounded query sample broadcast against one corpus
# scan; ranking and vote windows partition on query id; everything
# after the top-K is |queries| x K rows.
# --------------------------------------------------------------------------
KNN_EVAL_QUERIES = 50
KNN_EVAL_K = 5


@register("embedding_knn_label_eval", oracle=f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv, label AS true_label FROM v
      WHERE vec_id < {KNN_EVAL_QUERIES}),
scored AS (
  SELECT q.qid, q.true_label, a.label,
         ROUND(list_dot_product(q.qv, a.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(a.v, a.v))), 6) AS c,
         a.vec_id AS did
  FROM v a CROSS JOIN q WHERE a.vec_id <> q.qid),
topk AS (
  SELECT qid, true_label, label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY c DESC, did ASC) AS rnk
    FROM scored) WHERE rnk <= {KNN_EVAL_K}),
votes AS (
  SELECT qid, true_label, label, COUNT(*) AS n,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY COUNT(*) DESC, label ASC) AS vr
  FROM topk GROUP BY qid, true_label, label),
pred AS (SELECT qid, true_label, label AS pred_label FROM votes
         WHERE vr = 1)
SELECT CAST(true_label AS BIGINT) AS true_label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST((1000000 * SUM(CASE WHEN pred_label = true_label
                                THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
         AS accuracy_ppm
FROM pred GROUP BY true_label
""")
def embedding_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.llm.textops import spread
    v = spread(read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"),
        "label"))
    v = _with_norm(v, "v", "nv")
    q = (v.where(F.col("vec_id") < KNN_EVAL_QUERIES)
          .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
                  F.col("nv").alias("qnv"),
                  F.col("label").alias("true_label")))
    scored = (F.broadcast(q)
              .join(v, F.col("vec_id") != F.col("qid"))
              .select("qid", "true_label", "label",
                      F.col("vec_id").alias("did"),
                      F.expr(_sql_cos("qv", "v", "qnv", "nv")).alias("c")))
    topk = (topk_per_key(scored, ["qid"], [F.col("c").desc(),
                                           F.col("did").asc()], KNN_EVAL_K)
            .select("qid", "true_label", "label"))
    votes = topk.groupBy("qid", "true_label", "label").agg(
        F.count("*").alias("n"))
    pred = (top1_per_key(votes, ["qid"], [F.col("n").desc(),
                                          F.col("label").asc()])
            .select("qid", "true_label", F.col("label").alias("pred_label")))
    return (pred.groupBy("true_label")
                .agg(F.count("*").cast("long").alias("n_queries"),
                     F.sum(F.when(F.col("pred_label") == F.col("true_label"),
                                  1).otherwise(0)).cast("long")
                      .alias("n_correct"),
                     F.expr("(1000000 * sum(CASE WHEN pred_label ="
                            " true_label THEN 1 ELSE 0 END)) div count(*)")
                      .cast("long").alias("accuracy_ppm"))
                .select(F.col("true_label").cast("long").alias("true_label"),
                        "n_queries", "n_correct", "accuracy_ppm"))


# --------------------------------------------------------------------------
# embedding_centroid_drift — per-label centroid stability between two
# dataset halves (vec_id parity stands in for "yesterday's snapshot vs
# today's"): the embedding-drift monitor a production feature store
# alerts on — a label whose centroid rotates between refreshes signals
# upstream model or data change before any downstream metric moves.
#
# Determinism (the power-iteration discipline, per label): per-row
# per-dim contributions snap to integer NANO-units before the sum;
# the cross-half dot/norm terms snap per DIM before the final sum, so
# no float accumulation order can flip a bit; the cosine is one
# fixed-order double chain over exact integers, rounded to 6.
#
# 100 TB shape: the dim enumeration is a map-side EMBED_DIM-x fan-out
# feeding ONE groupBy (label, half, dim) partial-aggregated sum;
# everything after is |labels| x |dims| rows.
# --------------------------------------------------------------------------
@register("embedding_centroid_drift", oracle=f"""
WITH e AS (
  SELECT label, vec_id % 2 AS half, u.d AS dim,
         CAST(ROUND(COALESCE(v[u.d], 0.0::DOUBLE) * 1000000000) AS BIGINT)
           AS xu
  FROM (SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       (SELECT UNNEST(generate_series(1, {EMBED_DIM})) AS d) u),
sums AS (
  SELECT label, half, dim, SUM(xu) AS su, COUNT(*) AS n
  FROM e GROUP BY label, half, dim),
cents AS (
  SELECT label, half, dim,
         (CAST(su AS DOUBLE) / 1000000000) / n AS c
  FROM sums),
pairs AS (
  SELECT a.label, a.dim, a.c AS ca, b.c AS cb,
         (SELECT MAX(n) FROM sums s WHERE s.label = a.label AND s.half = 0)
           AS n_a,
         (SELECT MAX(n) FROM sums s WHERE s.label = a.label AND s.half = 1)
           AS n_b
  FROM cents a JOIN cents b
    ON a.label = b.label AND a.dim = b.dim AND a.half = 0 AND b.half = 1),
terms AS (
  SELECT label, n_a, n_b,
         CAST(ROUND(ca * cb * 1000000000000.0::DOUBLE) AS BIGINT) AS du,
         CAST(ROUND(ca * ca * 1000000000000.0::DOUBLE) AS BIGINT) AS au,
         CAST(ROUND(cb * cb * 1000000000000.0::DOUBLE) AS BIGINT) AS bu
  FROM pairs)
SELECT CAST(label AS BIGINT) AS label,
       CAST(MAX(n_a) AS BIGINT) AS n_a,
       CAST(MAX(n_b) AS BIGINT) AS n_b,
       ROUND(CAST(SUM(du) AS DOUBLE)
             / (sqrt(CAST(SUM(au) AS DOUBLE))
                * sqrt(CAST(SUM(bu) AS DOUBLE))), 6) AS centroid_cos
FROM terms GROUP BY label
""")
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.llm.textops import spread
    e = spread(read_table(spark, sf_dir, "embeddings").select(
        "label", (F.col("vec_id") % 2).alias("half"),
        F.col("embedding").cast("array<double>").alias("v")))
    # Enumerate dims 1..EMBED_DIM explicitly (not posexplode of the
    # actual array) so a short/ragged vector contributes the SAME
    # coalesced-to-0 rows as the oracle's generate_series(1, EMBED_DIM)
    # — both sides derive the dim range from one constant. F.get is
    # the ANSI-safe accessor (NULL out of range).
    expl = (e.select("label", "half", "v",
                     F.explode(F.sequence(F.lit(1), F.lit(EMBED_DIM)))
                      .alias("dim"))
             .select("label", "half", "dim",
                     F.round(F.coalesce(F.get("v", F.col("dim") - 1),
                                        F.lit(0.0)) * F.lit(1e9))
                      .cast("long").alias("xu")))
    sums = (expl.groupBy("label", "half", "dim")
                .agg(F.sum("xu").alias("su"), F.count("*").alias("n")))
    cents = sums.select(
        "label", "half", "dim", "n",
        ((F.col("su").cast("double") / F.lit(1e9)) / F.col("n")).alias("c"))
    a = (cents.where(F.col("half") == 0)
              .select("label", "dim", F.col("c").alias("ca"),
                      F.col("n").alias("n_a")))
    b = (cents.where(F.col("half") == 1)
              .select("label", "dim", F.col("c").alias("cb"),
                      F.col("n").alias("n_b")))
    terms = (a.join(b, ["label", "dim"])
              .select("label", "n_a", "n_b",
                      F.round(F.col("ca") * F.col("cb") * F.lit(1e12))
                       .cast("long").alias("du"),
                      F.round(F.col("ca") * F.col("ca") * F.lit(1e12))
                       .cast("long").alias("au"),
                      F.round(F.col("cb") * F.col("cb") * F.lit(1e12))
                       .cast("long").alias("bu")))
    return (terms.groupBy("label")
                 .agg(F.max("n_a").cast("long").alias("n_a"),
                      F.max("n_b").cast("long").alias("n_b"),
                      F.round(F.sum("du").cast("double")
                              / (F.sqrt(F.sum("au").cast("double"))
                                 * F.sqrt(F.sum("bu").cast("double"))), 6)
                       .alias("centroid_cos"))
                 .select(F.col("label").cast("long").alias("label"),
                         "n_a", "n_b", "centroid_cos"))


# --------------------------------------------------------------------------
# embedding_anisotropy_audit — the corpus-level embedding-space health
# check: anisotropy = ||mean vector||^2 / E[||x||^2], the expected
# cosine between two random corpus vectors. A healthy embedding space
# sits near 0; a collapsed one (the "representation degeneration"
# failure mode that silently ruins cosine retrieval and SemDedup alike)
# drifts toward 1. Complements embedding_top_pc (direction of the bias)
# with the magnitude a monitoring dashboard thresholds on.
#
# Determinism: per-element values snap to integer 1e-4 units map-side;
# the per-dim sums accumulate in decimal(38,0) (DuckDB: HUGEINT) so no
# int64 ceiling at corpus scale and no float order-dependence; the
# per-dim mean/second-moment terms are single fixed-order double
# expressions snapped back to integers before the final sum.
#
# 100 TB shape: one explicit 1..EMBED_DIM enumeration (map-side
# fan-out, same pattern as embedding_centroid_drift) feeding ONE
# groupBy(dim) partial-aggregated sum; everything after is EMBED_DIM
# rows. No window, no join, no second corpus pass.
# --------------------------------------------------------------------------
@register("embedding_anisotropy_audit", oracle=f"""
WITH e AS (
  SELECT u.d AS dim,
         CAST(ROUND(COALESCE(v[u.d], 0.0::DOUBLE) * 10000) AS BIGINT) AS xu
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       (SELECT UNNEST(generate_series(1, {EMBED_DIM})) AS d) u),
s AS (SELECT dim, SUM(xu) AS su, SUM(xu * xu) AS s2u, COUNT(*) AS n
      FROM e GROUP BY dim),
t AS (SELECT dim, n,
             CAST(ROUND((CAST(su AS DOUBLE) / 10000 / n)
                        * (CAST(su AS DOUBLE) / 10000 / n)
                        * 1000000000000.0::DOUBLE) AS BIGINT) AS mu2_u,
             CAST(ROUND(CAST(s2u AS DOUBLE) * 10000 / n) AS BIGINT) AS ex2_u
      FROM s)
SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
       CAST(SUM(mu2_u) AS BIGINT) AS mu_norm2_u,
       CAST(SUM(ex2_u) AS BIGINT) AS mean_norm2_u,
       CAST((1000000 * SUM(mu2_u)) // GREATEST(SUM(ex2_u), 1) AS BIGINT)
         AS anisotropy_ppm
FROM t
""")
def embedding_anisotropy_audit(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.llm.textops import spread
    e = spread(read_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")))
    expl = (e.select("v",
                     F.explode(F.sequence(F.lit(1), F.lit(EMBED_DIM)))
                      .alias("dim"))
             .select("dim",
                     F.round(F.coalesce(F.get("v", F.col("dim") - 1),
                                        F.lit(0.0)) * 10000)
                      .cast("long").alias("xu")))
    s = expl.groupBy("dim").agg(
        F.sum(F.col("xu").cast("decimal(38,0)")).alias("su"),
        F.sum((F.col("xu") * F.col("xu")).cast("decimal(38,0)"))
         .alias("s2u"),
        F.count("*").alias("n"))
    mu = F.col("su").cast("double") / F.lit(10000.0) / F.col("n")
    t = s.select(
        "n",
        F.round(mu * mu * F.lit(1e12)).cast("long").alias("mu2_u"),
        F.round(F.col("s2u").cast("double") * F.lit(10000.0) / F.col("n"))
         .cast("long").alias("ex2_u"))
    return t.agg(
        F.max("n").cast("long").alias("n_vectors"),
        F.sum("mu2_u").cast("long").alias("mu_norm2_u"),
        F.sum("ex2_u").cast("long").alias("mean_norm2_u"),
        F.expr("(1000000 * sum(mu2_u)) div greatest(sum(ex2_u), 1)")
         .cast("long").alias("anisotropy_ppm"))


# --------------------------------------------------------------------------
# ann_ivf_nprobe_curve — the IVF tuning curve: recall@K against exact
# brute-force truth at nprobe = 1, 2, 4, from ONE quantizer training,
# ONE corpus assignment, and ONE candidate scoring pass (per-nprobe
# top-K is a filter + rank over the shared probe-rank-annotated
# candidate set). The latency/recall trade-off a vector store operator
# reads before fixing nprobe for a 100 TB deployment — the ANN
# companion of dedup_threshold_sweep's cutoff curve, same
# measure-don't-guess contract as the recall evals.
#
# Determinism: centroid training, probe ranking, and candidate ranks
# all inherit the IVF path's ROUND(cos,6) + id-ASC tie-breaks; recall
# is an exact integer ppm division.
#
# 100 TB shape: the exact side is the bounded query sample broadcast
# against one corpus scan (the price of measuring, eval-only); the
# approximate side reuses the IVF probe shape with the probe rank
# carried; every window partitions on (nprobe, query).
# --------------------------------------------------------------------------
IVF_CURVE_PROBES = (1, 2, 4)

_SQL_CURVE_PROBES = ", ".join(f"({p})" for p in IVF_CURVE_PROBES)
_CURVE_MAX_PROBE = max(IVF_CURVE_PROBES)


@register("ann_ivf_nprobe_curve", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
{_SQL_KMEANS_CTES},
cent AS (SELECT cid, cv FROM {_SQL_KMEANS_FINAL}),
assign AS (
  SELECT vec_id, v, cid FROM (
    SELECT b.vec_id, b.v, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY b.vec_id
             ORDER BY ROUND(list_dot_product(b.v, c.cv)
                            / (sqrt(list_dot_product(b.v, b.v))
                               * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                      c.cid ASC) AS rn
    FROM v b CROSS JOIN cent c
  ) WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, cid, rn AS probe_rank FROM (
    SELECT q.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.v, c.cv)
                            / (sqrt(list_dot_product(q.v, q.v))
                               * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
                      c.cid ASC) AS rn
    FROM v q CROSS JOIN cent c WHERE q.vec_id < {N_QUERIES}
  ) WHERE rn <= {_CURVE_MAX_PROBE}),
scored AS (
  SELECT p.query_id, p.probe_rank, a.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.v, a.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(a.v, a.v))), 6) AS c
  FROM probes p
  JOIN v q ON q.vec_id = p.query_id
  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id),
lv(nprobe) AS (VALUES {_SQL_CURVE_PROBES}),
approx AS (
  SELECT nprobe, query_id, neighbor_id FROM (
    SELECT lv.nprobe, s.query_id, s.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY lv.nprobe, s.query_id
                              ORDER BY s.c DESC, s.neighbor_id ASC) AS rnk
    FROM lv JOIN scored s ON s.probe_rank <= lv.nprobe
  ) WHERE rnk <= {TOP_K}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.v, a.v)
                            / (sqrt(list_dot_product(q.v, q.v))
                               * sqrt(list_dot_product(a.v, a.v))), 6) DESC,
                      a.vec_id ASC) AS rnk
    FROM v q CROSS JOIN v a
    WHERE q.vec_id < {N_QUERIES} AND a.vec_id <> q.vec_id
  ) WHERE rnk <= {TOP_K})
SELECT CAST(lv.nprobe AS BIGINT) AS nprobe,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(COUNT(ap.neighbor_id) AS BIGINT) AS n_overlap,
       CAST((1000000 * COUNT(ap.neighbor_id)) // COUNT(*) AS BIGINT)
         AS recall_ppm
FROM lv CROSS JOIN exact e
LEFT JOIN approx ap ON ap.nprobe = lv.nprobe
                   AND ap.query_id = e.query_id
                   AND ap.neighbor_id = e.neighbor_id
GROUP BY lv.nprobe
""")
def ann_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    v2 = v.withColumn("nv", F.expr(f"sqrt({_sql_dot_cols('v', 'v')})"))
    cents = train_ivf_centroids(spark, sf_dir, k=N_CENTROIDS)
    assign = assign_nearest(v, cents, kernel="exact")
    probes = (assign_nearest(v.where(F.col("vec_id") < N_QUERIES)
                              .select(F.col("vec_id").alias("query_id"), "v"),
                             cents, kernel="exact", id_col="query_id",
                             keep=_CURVE_MAX_PROBE)
              .select("query_id", F.col("v").alias("qv"),
                      F.col("nv").alias("qnv"), "cid",
                      F.col("rank").alias("probe_rank")))
    # One scoring pass for the nprobe superset; per-level top-K is a
    # filter + rank over this pinned candidate frame.
    scored = state.pinned(
        spark, ("ann_ivf_nprobe_curve:scored", sf_dir),
        lambda: (F.broadcast(probes)
                 .join(assign, "cid")
                 .where(F.col("query_id") != F.col("vec_id"))
                 .select("query_id", "probe_rank",
                         F.col("vec_id").alias("neighbor_id"),
                         F.expr(_sql_cos("qv", "v", "qnv", "nv")).alias("c"))))
    lv = local_frame(spark, [(p,) for p in IVF_CURVE_PROBES], "nprobe long")
    nearest = [F.col("c").desc(), F.col("neighbor_id").asc()]
    approx = (topk_per_key(F.broadcast(lv)
                           .join(scored, F.col("probe_rank") <= F.col("nprobe")),
                           ["nprobe", "query_id"], nearest, TOP_K)
              .select("nprobe", "query_id", "neighbor_id",
                      F.lit(1).alias("hit")))
    qx = (v2.where(F.col("vec_id") < N_QUERIES)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("v").alias("qv"), F.col("nv").alias("qnv")))
    exact = (topk_per_key(F.broadcast(qx)
                          .join(v2, F.col("vec_id") != F.col("query_id"))
                          .select("query_id",
                                  F.col("vec_id").alias("neighbor_id"),
                                  F.expr(_sql_cos("qv", "v", "qnv", "nv"))
                                   .alias("c")),
                          ["query_id"], nearest, TOP_K)
             .select("query_id", "neighbor_id"))
    return (F.broadcast(lv).crossJoin(exact)
            .join(F.broadcast(approx),
                  ["nprobe", "query_id", "neighbor_id"], "left")
            .groupBy("nprobe")
            .agg(F.count("*").cast("long").alias("n_true"),
                 F.count("hit").cast("long").alias("n_overlap"),
                 F.expr("(1000000 * count(hit)) div count(*)")
                  .cast("long").alias("recall_ppm")))


# --------------------------------------------------------------------------
# ann_ivf_incremental — ingest-time IVF index maintenance, the
# similarity twin of dedup_incremental's band store: a new embedding
# batch (vec_id < INCR_VEC_SPLIT) is assigned to the PERSISTED coarse
# quantizer trained on the existing corpus
# (vec_id >= INCR_VEC_SPLIT) — no retraining per ingest. The quantizer
# and the corpus inverted lists round-trip through a parquet sink
# exactly as a nightly vector-store ingest persists them; the batch
# probes the re-read centroids with ONE broadcast NLJ + per-vector
# argmax window. Per-batch cost is O(|batch| x k); the corpus
# contributes one (vec_id, cid) row of state per vector and is never
# re-scanned at ingest.
#
# Determinism: training is the standard unrolled Lloyd's (init = the k
# lowest corpus vec_ids, ROUND(cos,6) + cid-ASC assignment, 6-dp
# means); batch assignment uses the identical ranking rule.
#
# 100 TB shape: the centroid set is k x dim doubles (broadcast
# everywhere); the ingest job never touches the stored lists except to
# APPEND the batch's assignments — the rebuild decision is a separate,
# measured query (ann_ivf_incr_recall_eval below, with
# embedding_centroid_drift as the standing trigger metric).
# --------------------------------------------------------------------------
INCR_VEC_SPLIT = 100  # vec_id < 100 arrives as the new batch

_INCR_KM_CTES, _INCR_KM_FINAL = _sql_kmeans(
    vcte="icv", prefix="iv", k=INCR_VEC_SPLIT + N_CENTROIDS)

# The corpus CTE + trained-quantizer CTE chain shared by the ingest
# oracle and the recall eval below.
_SQL_INCR_CENT = f"""
icv AS (SELECT vec_id, v FROM v WHERE vec_id >= {INCR_VEC_SPLIT}),
{_INCR_KM_CTES},
icent AS (SELECT cid, cv FROM {_INCR_KM_FINAL})"""


def train_incr_corpus_centroids(
        spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """Lloyd's over the pre-ingest corpus only (vec_id >= split) —
    memoized like train_ivf_centroids, keyed separately so the full
    and corpus-trained quantizers coexist in one session."""
    return state.memo(
        spark, ("incr_centroids", sf_dir, INCR_VEC_SPLIT, N_CENTROIDS,
                KMEANS_ITERS),
        lambda: _train_kmeans(
            _vectors(spark, sf_dir).where(F.col("vec_id") >= INCR_VEC_SPLIT),
            N_CENTROIDS, KMEANS_ITERS))


def _incr_index_paths(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import hashlib
    import os

    from hdfs_with_pyspark_spark.session import scratch_dir
    sf_key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return (scratch_dir(spark, f"ivf_index_cent_{sf_key}"),
            scratch_dir(spark, f"ivf_index_lists_{sf_key}"))


@register("ann_ivf_incremental", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
{_SQL_INCR_CENT},
ibatch AS (SELECT vec_id, v FROM v WHERE vec_id < {INCR_VEC_SPLIT}),
iassign AS (
  SELECT vec_id, cid, c FROM (
    SELECT b.vec_id, c.cid, {_SQL_COS_BC} AS c,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                              ORDER BY {_SQL_COS_BC} DESC, c.cid ASC) AS rn
    FROM ibatch b CROSS JOIN icent c) WHERE rn = 1)
SELECT vec_id, CAST(cid AS BIGINT) AS cid, c AS cos_sim
FROM iassign
""")
def ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.sources.io import write_parquet

    v = _vectors(spark, sf_dir)
    corpus = v.where(F.col("vec_id") >= INCR_VEC_SPLIT)
    batch = v.where(F.col("vec_id") < INCR_VEC_SPLIT)
    cent_df = local_frame(
        spark, train_incr_corpus_centroids(spark, sf_dir),
        "cid long, cv array<double>")
    # Persist the index state a real ingest maintains between batches:
    # the quantizer + the corpus inverted lists, through the parquet
    # sink (the band-store discipline).
    cent_path, lists_path = _incr_index_paths(spark, sf_dir)
    write_parquet(cent_df, cent_path)
    # Gated query: the EXACT kernel, bit-matched to the unrolled SQL
    # oracle. Production ingest runs kernel="arrow" — the agreement
    # audit re-proves the two agree per run.
    write_parquet(assign_nearest(corpus, cent_df, kernel="exact")
                  .select("vec_id", "cid"), lists_path)
    cent_store = spark.read.parquet(cent_path)
    return (assign_nearest(batch, cent_store, kernel="exact")
            .select("vec_id", F.col("cid").cast("long").alias("cid"),
                    "cos_sim"))


# --------------------------------------------------------------------------
# ann_ivf_incr_recall_eval — the REBUILD GATE: per-query recall@K of the
# incrementally-maintained index (quantizer frozen at corpus-training
# time, batch appended to its lists) vs the fully-rebuilt index
# (quantizer retrained on corpus + batch, i.e. ann_topk_ivf), both
# against exact brute-force truth. `rebuild_gain` is the recall a
# rebuild would buy — the measured signal an operator thresholds
# (alongside embedding_centroid_drift's distribution-shift trigger)
# before paying a full 100 TB retrain. Same evaluation-as-a-query
# contract as the LSH/PQ/int8 recall evals: the eval itself is
# oracle-checked.
#
# 100 TB shape: eval-only — the exact side is the bounded query sample
# broadcast against one corpus scan; both approximate sides reuse the
# IVF probe shape (broadcast probes, per-list candidate scoring, top-K
# windows over per-query groups).
# --------------------------------------------------------------------------
_SQL_INCR_TOPK = f"""
WITH v AS ({_SQL_VECTORS}),
{_SQL_INCR_CENT},
iall AS (
  SELECT vec_id, v, cid FROM (
    SELECT b.vec_id, b.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                              ORDER BY {_SQL_COS_BC} DESC, c.cid ASC) AS rn
    FROM v b CROSS JOIN icent c) WHERE rn = 1),
iprobes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT b.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                              ORDER BY {_SQL_COS_BC} DESC, c.cid ASC) AS rn
    FROM v b CROSS JOIN icent c WHERE b.vec_id < {N_QUERIES}
  ) WHERE rn <= {NPROBE}),
iscored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.v, a.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(a.v, a.v))), 6) AS cos_sim
  FROM iprobes p
  JOIN v q ON q.vec_id = p.query_id
  JOIN iall a ON a.cid = p.cid AND a.vec_id <> p.query_id),
iranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM iscored)
SELECT query_id, neighbor_id FROM iranked WHERE rank <= {TOP_K}"""


def _incr_recall_oracle() -> str:
    return f"""
WITH bf AS (SELECT query_id, neighbor_id
            FROM ({ORACLES["ann_topk_bruteforce"]})),
i AS (SELECT bf.query_id, COUNT(x.neighbor_id) AS n_hit
      FROM bf LEFT JOIN ({_SQL_INCR_TOPK}) x
        ON x.query_id = bf.query_id AND x.neighbor_id = bf.neighbor_id
      GROUP BY bf.query_id),
r AS (SELECT bf.query_id, COUNT(x.neighbor_id) AS n_hit
      FROM bf LEFT JOIN ({ORACLES["ann_topk_ivf"]}) x
        ON x.query_id = bf.query_id AND x.neighbor_id = bf.neighbor_id
      GROUP BY bf.query_id)
SELECT i.query_id,
       CAST(i.n_hit AS BIGINT) AS n_hit_incr,
       ROUND(i.n_hit * 1.0 / {TOP_K}, 4) AS recall_incr,
       CAST(r.n_hit AS BIGINT) AS n_hit_rebuild,
       ROUND(r.n_hit * 1.0 / {TOP_K}, 4) AS recall_rebuild,
       ROUND((r.n_hit - i.n_hit) * 1.0 / {TOP_K}, 4) AS rebuild_gain
FROM i JOIN r ON r.query_id = i.query_id
"""


@register("ann_ivf_incr_recall_eval", oracle=_incr_recall_oracle)
def ann_ivf_incr_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    # the incrementally-maintained index: corpus-trained centroids, ALL
    # vectors (corpus + appended batch) in the lists
    incr = _ivf_topk(_vectors(spark, sf_dir),
                     train_incr_corpus_centroids(spark, sf_dir))
    i = _recall_at_k(bf, incr)
    r = _recall_at_k(bf, ann_topk_ivf(spark, sf_dir))
    return (i.alias("i").join(r.alias("r"), "query_id")
             .select("query_id",
                     F.col("i.n_hit").alias("n_hit_incr"),
                     F.col("i.recall_at_k").alias("recall_incr"),
                     F.col("r.n_hit").alias("n_hit_rebuild"),
                     F.col("r.recall_at_k").alias("recall_rebuild"),
                     F.round((F.col("r.n_hit") - F.col("i.n_hit")) / TOP_K, 4)
                      .alias("rebuild_gain")))


# --------------------------------------------------------------------------
# assign_nearest — THE nearest-centroid ranking. Every IVF assignment
# and probe, k-means iteration and ingest ranks each row's centroids by
# ROUND(cos, 6) DESC, cid ASC and keeps the top ``keep`` — the vector
# form of the reference's nearest-city argmin over a small broadcast
# list. Two kernels behind the one entry point:
#
#   * "exact" (broadcast NLJ + row_number window) — bit-exact against
#     the DuckDB oracles' identical op order; every correctness-gated
#     query passes it.
#   * "arrow" (mapInPandas + matmul) — centroids ride the closure
#     (k x dim doubles, kilobytes), each Arrow batch does ONE n x k
#     GEMM; no shuffle, no join node at all. The scale probe measured
#     the NLJ kernel at ~35 us per (vector, centroid) pair — the 64
#     unrolled try_element_at terms per dot are ~100x off BLAS
#     throughput — and at a 100 TB vector store the coarse assignment
#     is the ingest hot loop. Ranking applies the same rule:
#     half-away-from-zero rounding via _np_round_half_away, matching
#     Spark/DuckDB HALF_UP rather than np.round's half-to-even (the
#     helper's docstring names the 1-ulp scaling residue the audit
#     gates); numpy's re-associated float sums can differ from the
#     sequential chain by ~1-ulp (~1e-16 relative), far inside the
#     5e-7 guard band the 6-dp snap leaves (the quality_logreg_train
#     argument), so rankings agree in practice — equivalence-TESTED,
#     not assumed, on the gated corpora; deployments quantify on their
#     own data before swapping it into a verified path.
# --------------------------------------------------------------------------
def _np_round_half_away(x, decimals: int = 6):
    """Half-AWAY-from-zero rounding of a float ndarray — the mode Spark's
    F.round (BigDecimal HALF_UP) and DuckDB's ROUND use, where
    np.round is half-to-even (a cosine landing exactly on a
    5e-7 boundary would round differently under np.round and could flip
    the cid-ASC tie-break). Residual risk, named: the JVM/DuckDB round
    the DECIMAL expansion of the exact binary double, while this scales
    by 10^6 in binary first — the scaling itself can introduce a 1-ulp
    difference at a representability edge. That residue is what
    ann_kernel_agreement_audit gates on every correctness run."""
    import numpy as np

    scale = 10.0 ** decimals
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale


def _stack_vectors(col):
    """n x d float64 matrix from a mapInPandas vector column.

    The previous form, ``np.array(col.tolist(), dtype=np.float64)``,
    materializes every coordinate as a boxed PyFloat first — 640k
    short-lived Python objects per 10k x 64 batch, pure allocator
    churn on the kernels' hot path. ``np.stack`` over the per-row
    ndarrays stays in C. float32 -> float64 widening (the embeddings
    table is array<float>) is exact, so values are bit-identical to
    the tolist path."""
    import numpy as np

    try:
        m = np.stack(col.to_numpy())
    except Exception:          # ragged / non-array rows: old slow path
        return np.array(col.tolist(), dtype=np.float64)
    return m if m.dtype == np.float64 else m.astype(np.float64)


class _CosineWorkspace:
    """Reusable batch x k buffers for the rounded-cosine GEMM.

    The 100M-vector / k=4000 ladder rung caught the
    per-batch allocating form — ``_np_round_half_away(v @ cmat.T /
    np.outer(vn, cnorm))`` — at ~82% of every worker's CPU in the
    KERNEL (per-worker /proc stat: ~23.5k utime vs ~106.5k stime
    ticks; 32 workers pinned, 0/71 stage-3 tasks finished in 25+ min).
    At batch=10k, k=4000 each of the ~8 full-size temporaries (matmul
    out, outer, divide, and the sign/abs/scale/floor chain) is a
    320 MB allocation that glibc serves straight from mmap and returns
    on free, so 32 concurrent workers page-fault ~3 GB per batch
    through the VM subsystem — plus ~640k boxed PyFloats per batch
    from the ``.tolist()`` ingest. (The sys% alone is not the proof —
    this container's virtualization makes faults expensive everywhere,
    JVM stages included; the proof is the measured delta below.) This
    workspace computes the SAME op sequence into two persistent
    buffers (grown, never shrunk, per mapInPandas task), validated at
    the 25M/k=1000 rung: train 125.6 s vs the 512.1 s quiet-session
    anchor (4.1x, on a noisier session), index build 86.2 s vs 194.8,
    planted recall bit-identical (ADC 0.578 / refine 0.953) — results
    are bit-identical by op-sequence construction:

      matmul(v, cmat.T, out=A)            == v @ cmat.T
      multiply(vn[:,None], cnorm[None,:], out=B)  == np.outer(vn, cnorm)
      divide(A, B, out=A)                 == .../outer
      multiply(A, scale, out=B); absolute(B, out=B)
        (|q*s| == |q|*s exactly: IEEE multiply magnitude is
         sign-independent)
      add(B, 0.5, out=B); floor(B, out=B)
      sign(A, out=A); multiply(A, B, out=B); divide(B, scale, out=B)
        == np.sign(q) * np.floor(np.abs(q)*s + 0.5) / s

    Buffers live only for the task (the closure the generator holds),
    so the standing cost is 2 x batch x k doubles per active worker
    during the stage — ~640 MB at the 10k x 4000 rung — instead of a
    page-fault storm."""

    def __init__(self):
        self._a = None
        self._b = None

    def rounded_cosine(self, v, vn, cmat, cnorm):
        """Rounded cosine matrix (len(v) x len(cmat)); the returned
        array is a VIEW into an internal buffer, overwritten by the
        next call — consume (argmax/argsort/gather) before then."""
        import numpy as np

        n, k = v.shape[0], cmat.shape[0]
        if (self._a is None or self._a.shape[0] < n
                or self._a.shape[1] != k):
            self._a = np.empty((n, k), dtype=np.float64)
            self._b = np.empty((n, k), dtype=np.float64)
        a, b = self._a[:n], self._b[:n]
        np.matmul(v, cmat.T, out=a)
        np.multiply(vn[:, None], cnorm[None, :], out=b)
        np.divide(a, b, out=a)
        scale = 10.0 ** 6
        np.multiply(a, scale, out=b)
        np.absolute(b, out=b)
        np.add(b, 0.5, out=b)
        np.floor(b, out=b)
        np.sign(a, out=a)
        np.multiply(a, b, out=b)
        np.divide(b, scale, out=b)
        return b


def _centroid_matrix(cents):
    """(cids, matrix, norms) of a driver-side [(cid, centroid)] list,
    rows in ascending cid order: column j of a cosine GEMM against it
    is the j-th smallest cid, the order every GEMM kernel's cid-ASC
    tie-break reads off."""
    import numpy as np

    cents = sorted(cents, key=lambda c: c[0])
    cids = np.array([int(cid) for cid, _ in cents], dtype=np.int64)
    cmat = np.array([cv for _, cv in cents], dtype=np.float64)
    return cids, cmat, np.sqrt((cmat * cmat).sum(axis=1))


def assign_nearest(side: DataFrame, cents, *, kernel: str,
                   id_col: str = "vec_id", keep: int = 1) -> DataFrame:
    """Each ``side`` row's top-``keep`` centroids under ROUND(cos, 6)
    DESC, cid ASC: (``id_col``, cid, cos_sim, rank), rank 1..keep.

    ``side`` carries ``id_col`` and the vector ``v``. ``cents`` is the
    driver-side [(cid, centroid)] list every trainer returns; the exact
    kernel also takes a (cid, cv) frame, so a quantizer read back from
    parquet ranks without a collect.

    ``kernel="exact"``: broadcast NLJ + row_number window. The other
    columns of ``side`` and its row norm ``nv`` ride through, so a
    caller that scores pairs next keeps its vectors without a re-join.
    A list's centroid width sizes the norms and dots (PQ_SUB_DIM for
    the subspace trainings); a frame's is taken as EMBED_DIM.
    ``kernel="arrow"``: one numpy GEMM per Arrow batch; the four
    columns only."""
    if kernel == "exact":
        dim = EMBED_DIM
        if not isinstance(cents, DataFrame):
            dim = len(cents[0][1]) if cents else EMBED_DIM
            cents = local_frame(side.sparkSession, cents,
                                "cid long, cv array<double>")
        v2 = _with_norm(side, "v", "nv", dim)
        scored = (v2.join(F.broadcast(_with_norm(cents, "cv", "cnv", dim)),
                          F.lit(True))
                    .select(*v2.columns, "cid",
                            F.expr(_sql_cos("v", "cv", "nv", "cnv", dim))
                             .alias("cos_sim")))
        return topk_per_key(scored, [id_col], [F.col("cos_sim").desc(),
                                               F.col("cid").asc()], keep)
    if kernel != "arrow":
        raise ValueError(f"unknown assignment kernel {kernel!r}")
    import numpy as np

    cids, cmat, cnorm = _centroid_matrix(cents)

    def run(batches):
        import pandas as pd
        ws = _CosineWorkspace()
        for pdf in batches:
            if not len(pdf):
                continue
            v = _stack_vectors(pdf["v"])
            cos = ws.rounded_cosine(v, np.sqrt((v * v).sum(axis=1)),
                                    cmat, cnorm)
            if keep == 1:
                # argmax over the cid-ASC-sorted axis: numpy returns the
                # FIRST max, which is exactly the lowest-cid tie-break —
                # O(k) per row, where an argsort is O(k log k)
                top = cos.argmax(axis=1)[:, None]
            else:
                # the stable argsort of -cos keeps ascending column
                # (= cid) order among ties
                top = np.argsort(-cos, axis=1, kind="stable")[:, :keep]
            n, m = top.shape
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy(dtype="int64"), m),
                "cid": cids[top].reshape(-1),
                "cos_sim": np.take_along_axis(cos, top, axis=1).reshape(-1),
                "rank": np.tile(np.arange(1, m + 1, dtype=np.int32), n)})

    return side.select(id_col, "v").mapInPandas(
        run, f"{id_col} long, cid long, cos_sim double, rank int")


def _pq_encode_codes_arrow(v: DataFrame, books) -> DataFrame:
    """GEMM twin of _pq_encode_codes: the wide (vec_id, code0..M-1)
    frame via one mapInPandas — per batch, one (rows x K) cosine GEMM
    per subspace and an argmax, instead of exploding the corpus into
    N x M x K scored rows through a window exchange. Same rounding
    discipline as assign_nearest's arrow kernel (_np_round_half_away to
    6 dp, cid-ASC tie-break via argmax over the cid-sorted axis); the
    5M-vector probe measured the exact encode's window going
    superlinear (99 s at 1M -> 871 s at 5M — a 320M-row sort), which
    is exactly the batch-ingest spot the GEMM kernels exist for."""
    import numpy as np

    mats = [_centroid_matrix(book) for book in books]

    def run(batches):
        import pandas as pd
        ws = _CosineWorkspace()
        for pdf in batches:
            if not len(pdf):
                continue
            vv = _stack_vectors(pdf["v"])
            out = {"vec_id": pdf["vec_id"].astype("int64")}
            for s, (cids, cmat, cnorm) in enumerate(mats):
                # np.ascontiguousarray: the slice view's strided rows
                # would otherwise force matmul to copy into a fresh
                # temporary every batch — the exact churn the
                # workspace exists to avoid.
                sv = np.ascontiguousarray(
                    vv[:, s * PQ_SUB_DIM:(s + 1) * PQ_SUB_DIM])
                svn = np.sqrt((sv * sv).sum(axis=1))
                cos = ws.rounded_cosine(sv, svn, cmat, cnorm)
                out[f"code{s}"] = cids[cos.argmax(axis=1)]
            yield pd.DataFrame(out)

    schema = "vec_id long, " + ", ".join(
        f"code{s} long" for s in range(PQ_SUB))
    return v.select("vec_id", "v").mapInPandas(run, schema)


def pq_encode(spark: SparkSession, v: DataFrame, books, *,
              kernel: str) -> DataFrame:
    """PUBLIC index-time PQ encode entry point — the codes-table build
    a vector store persists: ``kernel="arrow"`` for ingest-scale encode
    (the 5M-vector probe measured the exact window-encode
    superlinear), ``kernel="exact"`` for the window form the gated
    queries' plans share with the unrolled SQL CTEs. The equivalence of
    the two kernels is pinned by
    tests/test_llm.py::test_pq_encode_arrow_kernel_equivalence on the
    gated corpora."""
    if kernel == "arrow":
        return _pq_encode_codes_arrow(v, books)
    if kernel == "exact":
        return _pq_encode_codes(v, _pq_tagged_codebooks(spark, books))
    raise ValueError(f"unknown encode kernel {kernel!r}")


# --------------------------------------------------------------------------
# ann_kernel_agreement_audit — the GEMM kernel's standing gate: assign
# every corpus vector with BOTH kernels (exact NLJ-window and Arrow
# GEMM) and count disagreements. The oracle pins the invariant the
# equivalence argument claims — zero cid mismatches — so the driver's
# correctness gate now EXERCISES the vectorized path on every run and
# fails loudly the day a corpus/numpy/JVM combination pushes a cosine
# across a 6-dp boundary (the distinct_sketch_audit contract: audits
# that gate-fail on drift, not dashboards that report it).
# --------------------------------------------------------------------------
@register("ann_kernel_agreement_audit", oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(0 AS BIGINT) AS n_disagree
FROM ({_SQL_VECTORS})
""")
def ann_kernel_agreement_audit(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    cents = train_incr_corpus_centroids(spark, sf_dir)
    exact = (assign_nearest(v, cents, kernel="exact")
             .select("vec_id", F.col("cid").alias("cid_exact")))
    fast = (assign_nearest(v, cents, kernel="arrow")
            .select("vec_id", F.col("cid").alias("cid_fast")))
    return (exact.join(fast, "vec_id")
                 .agg(F.count("*").cast("long").alias("n_vectors"),
                      F.sum(F.when(F.col("cid_exact")
                                   != F.col("cid_fast"), 1)
                             .otherwise(0)).cast("long")
                       .alias("n_disagree")))


# --------------------------------------------------------------------------
# ann_topk_ivfpq — the PRODUCTION vector-store composition the PQ
# docstring promises (Jégou et al., TPAMI 2011 §IV): the IVF coarse
# quantizer prunes the corpus to the query's NPROBE nearest inverted
# lists, and the PQ/ADC table-lookup score ranks ONLY those candidates
# — compressed-domain scoring over a pruned list instead of either
# path's full scan. At 100 TB this is the whole economics of a vector
# store: the scan touches nprobe/k of the CODES table (already ~128x
# smaller than the floats), the codebooks + LUTs + probe sets are
# kilobytes broadcast everywhere, and nothing corpus-sized shuffles at
# query time.
#
# Determinism: both stages reuse their audited machinery unchanged —
# coarse assignment/probes rank ROUND(cos,6) DESC, cid ASC; codes and
# LUTs are the PQ encode; the ADC sum rounds to 6 before the top-K
# rank. ann_ivfpq_recall_eval below measures what the composition
# costs in recall vs each stage alone (the every-approximate-path-
# ships-its-eval contract).
# --------------------------------------------------------------------------
def _sql_ivfpq_scored() -> str:
    code_joins = "".join(
        f"\n  JOIN code{s} c{s} ON c{s}.vec_id = cd.neighbor_id"
        for s in range(PQ_SUB))
    lut_joins = "".join(
        f"\n  JOIN lut{s} l{s} ON l{s}.cid = c{s}.cid "
        f"AND l{s}.query_id = cd.query_id" for s in range(PQ_SUB))
    score = " + ".join(f"l{s}.p" for s in range(PQ_SUB))
    return f"""
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id),
scored AS (
  SELECT cd.query_id, cd.neighbor_id, ROUND({score}, 6) AS pq_score
  FROM cand cd{code_joins}{lut_joins})"""


def ivfpq_search(spark: SparkSession, v: DataFrame, coarse_cents,
                 books, *, n_queries: int = N_QUERIES,
                 nprobe: int = NPROBE, top_k: int = TOP_K,
                 kernel: str = "exact",
                 codes: DataFrame | None = None,
                 assign: DataFrame | None = None,
                 prune_cells: bool = False) -> DataFrame:
    """The IVF+PQ composition over ANY (vec_id, v) frame — the
    parameterized core the gated ann_topk_ivfpq query AND the scale
    probe share (measure the composition, don't re-implement it in the
    probe).

    ``kernel`` is assign_nearest's coarse ranking kernel — "exact"
    (every gated path) or "arrow" (the measured scale path).
    ``codes`` / ``assign`` let an index-time caller pass the
    PRE-BUILT (e.g. parquet-persisted) PQ codes and coarse inverted
    lists, so query-time measures only the query-side work: probe
    ranking (|queries| x k), the broadcast candidate join against the
    probed cells, the broadcast-LUT ADC over candidates, and the
    per-query top-K window — nothing corpus-sized beyond the pruned
    slice of the codes table.

    ``prune_cells=True`` is EAGER: it runs the probe ranking as a Spark
    job at construction time (the probed-cell set must be a literal
    before the partition filter can be static); the collected probes
    are then reused as a literal frame, so the ranking runs exactly
    once."""
    if assign is not None and kernel == "exact":
        raise ValueError("pre-built assign is a persisted-index path; "
                         "the exact kernel recomputes it by contract")
    if assign is None:
        assign = assign_nearest(v, coarse_cents, kernel=kernel)
    assign = assign.select("vec_id", "cid")
    probes = assign_nearest(
        v.where(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("query_id"), "v"),
        coarse_cents, kernel=kernel, id_col="query_id",
        keep=nprobe).select("query_id", "cid")
    if prune_cells:
        # The production STORE layout: inverted lists (and codes, when
        # they carry `cid`) live in a parquet table PARTITIONED BY the
        # coarse cell, so a query batch reads only its probed cells'
        # files instead of scanning the corpus-wide store and filtering
        # after. The probed-cell set is bounded driver state
        # (<= n_queries x nprobe longs, <= k distinct) — collected once
        # and pushed as a literal IN so the pruning is a STATIC
        # partition filter visible in the scan, not left to runtime
        # DPP heuristics.
        #
        # NOTE: this fires one eager Spark job at CONSTRUCTION time (the
        # probe ranking must run before the partition filter can be a
        # literal). The collected probe set itself (query_id, cid —
        # <= n_queries x nprobe rows) is re-materialized as a literal
        # frame so the final plan does NOT recompute the probe ranking
        # (with kernel='exact' that recompute would be the full
        # broadcast-NLJ + window, twice).
        probe_rows = [(int(r["query_id"]), int(r["cid"]))
                      for r in probes.select("query_id", "cid").collect()]
        probes = local_frame(spark, probe_rows, "query_id long, cid long")
        cells = sorted({cid for _, cid in probe_rows})
        assign = assign.where(F.col("cid").isin(cells))
        if codes is not None and "cid" in codes.columns:
            codes = codes.where(F.col("cid").isin(cells))
    cand = (F.broadcast(probes).join(assign, "cid")
            .where(F.col("query_id") != F.col("vec_id"))
            .select("query_id", "vec_id"))
    cents = _pq_tagged_codebooks(spark, books)
    if codes is None:
        codes = _pq_encode_codes(v, cents)
    luts = _pq_query_luts(v, cents, n_queries)
    scored = (_pq_adc_score_candidates(cand, codes, luts)
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      "pq_score"))
    return (_top_neighbors(scored, "pq_score", top_k)
            .select("query_id", "neighbor_id", "rank", "pq_score"))


@register("ann_topk_ivfpq", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
{_SQL_ASSIGN},
{_sql_pq_ctes()},
{_sql_ivfpq_scored().strip()},
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY pq_score DESC, neighbor_id ASC)
            AS rank
  FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, pq_score
FROM ranked WHERE rank <= {TOP_K}
""")
def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivfpq_search(spark, _vectors(spark, sf_dir),
                        train_ivf_centroids(spark, sf_dir, k=N_CENTROIDS),
                        _pq_codebooks(spark, sf_dir), kernel="exact")


def _ivfpq_recall_oracle() -> str:
    return f"""
SELECT bf.query_id,
       CAST(COUNT(x.neighbor_id) AS BIGINT) AS n_hit,
       ROUND(COUNT(x.neighbor_id) * 1.0 / {TOP_K}, 4) AS recall_at_k
FROM (SELECT query_id, neighbor_id
      FROM ({ORACLES["ann_topk_bruteforce"]})) bf
LEFT JOIN ({ORACLES["ann_topk_ivfpq"]}) x
  ON x.query_id = bf.query_id AND x.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
"""


@register("ann_ivfpq_recall_eval", oracle=_ivfpq_recall_oracle)
def ann_ivfpq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    return _recall_at_k(bf, ann_topk_ivfpq(spark, sf_dir))


# --------------------------------------------------------------------------
# ann_topk_ivf_filtered — METADATA-FILTERED vector search, the
# production vector-store feature the ANN family lacked: per-query
# top-K restricted to corpus vectors satisfying a predicate (here:
# same `label` as the query — "search within the query's class", the
# tenant/category/language filter every deployed vector store ships).
# The filter composes INSIDE the IVF prune: candidates are the probed
# cells' members equi-joined on label, so the predicate cuts the
# scored set BEFORE the distance math instead of post-filtering a
# label-blind top-K (which silently returns < K or misses same-label
# neighbors ranked below the global top-K — the classic filtered-
# search correctness trap).
#
# 100 TB shape: identical to ann_topk_ivf plus one broadcast-joined
# label column on the candidate set — at scale the label lives IN the
# inverted-list rows (partition or cluster key), so the equi-condition
# is a scan-level pushdown, not a join. ann_filtered_recall_eval below
# measures the composition against the filtered brute-force truth
# (the every-approximate-path-ships-its-eval contract).
#
# Determinism: the standard ROUND(cos,6) DESC, neighbor ASC rule; the
# label join is exact.
# --------------------------------------------------------------------------
_SQL_LABELS = "SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings"


@register("ann_topk_ivf_filtered", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
lab AS ({_SQL_LABELS}),
{_SQL_ASSIGN},
scored AS (
  SELECT p.query_id, lq.label, a.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.v, a.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(a.v, a.v))), 6) AS cos_sim
  FROM probes p
  JOIN v q ON q.vec_id = p.query_id
  JOIN lab lq ON lq.vec_id = p.query_id
  JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
  JOIN lab ln ON ln.vec_id = a.vec_id AND ln.label = lq.label),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, label, neighbor_id, CAST(rank AS BIGINT) AS rank, cos_sim
FROM ranked WHERE rank <= {TOP_K}
""")
def ann_topk_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    labels = (read_table(spark, sf_dir, "embeddings")
              .select("vec_id", F.col("label").cast("long").alias("label")))
    cents = train_ivf_centroids(spark, sf_dir, k=N_CENTROIDS)
    # candidate lists carry the neighbor label (at scale: a stored
    # column of the inverted list, i.e. scan pushdown, not a join)
    assign = (assign_nearest(v, cents, kernel="exact")
              .join(labels, "vec_id")
              .select("vec_id", "v", "nv", "cid",
                      F.col("label").alias("n_label")))
    probes = (assign_nearest(v.where(F.col("vec_id") < N_QUERIES)
                              .select(F.col("vec_id").alias("query_id"), "v"),
                             cents, kernel="exact", id_col="query_id",
                             keep=NPROBE)
              .join(labels.select(F.col("vec_id").alias("query_id"),
                                  "label"), "query_id")
              .select("query_id", "label", F.col("v").alias("qv"),
                      F.col("nv").alias("qnv"), "cid"))
    scored = (F.broadcast(probes).alias("p")
              .join(assign.alias("a"),
                    (F.col("p.cid") == F.col("a.cid"))
                    & (F.col("a.n_label") == F.col("p.label")))
              .where(F.col("query_id") != F.col("vec_id"))
              .select("query_id", "label",
                      F.col("vec_id").alias("neighbor_id"),
                      F.expr(_sql_cos("qv", "v", "qnv", "nv")).alias("cos_sim")))
    return (_top_neighbors(scored, "cos_sim")
            .select("query_id", "label", "neighbor_id", "rank", "cos_sim"))


# --------------------------------------------------------------------------
# ann_filtered_recall_eval — the filtered search's measured gate:
# recall@K of the IVF-pruned filtered path against the FILTERED
# brute-force truth (exact same-label top-K). Evaluating against the
# unfiltered truth would conflate predicate semantics with pruning
# loss; this isolates what nprobe costs under the filter, per query.
# --------------------------------------------------------------------------
_SQL_FILTERED_BF_TOPK = f"""
fbf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.v, b.v)
                            / (sqrt(list_dot_product(q.v, q.v))
                               * sqrt(list_dot_product(b.v, b.v))), 6) DESC,
                      b.vec_id ASC) AS rank
    FROM v q
    JOIN lab lq ON lq.vec_id = q.vec_id
    JOIN lab lb ON lb.label = lq.label
    JOIN v b ON b.vec_id = lb.vec_id AND b.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rank <= {TOP_K})"""


def _filtered_recall_oracle() -> str:
    return f"""
WITH v AS ({_SQL_VECTORS}),
lab AS ({_SQL_LABELS}),
{_SQL_FILTERED_BF_TOPK.strip()}
SELECT fbf.query_id,
       CAST(COUNT(x.neighbor_id) AS BIGINT) AS n_hit,
       ROUND(COUNT(x.neighbor_id) * 1.0 / {TOP_K}, 4) AS recall_at_k
FROM fbf
LEFT JOIN ({ORACLES["ann_topk_ivf_filtered"]}) x
  ON x.query_id = fbf.query_id AND x.neighbor_id = fbf.neighbor_id
GROUP BY fbf.query_id
"""


def _filtered_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact same-label top-K — the truth side of the filtered eval."""
    v = _vectors(spark, sf_dir)
    labels = (read_table(spark, sf_dir, "embeddings")
              .select("vec_id", F.col("label").cast("long").alias("label")))
    q = (v.where(F.col("vec_id") < N_QUERIES)
          .join(labels, "vec_id")
          .select(F.col("vec_id").alias("query_id"),
                  F.col("v").alias("qv"), "label"))
    b = (v.join(labels, "vec_id")
          .select("vec_id", "v", F.col("label").alias("n_label")))
    scored = (F.broadcast(q)
              .join(b, (F.col("n_label") == F.col("label"))
                    & (F.col("vec_id") != F.col("query_id")))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      F.expr(_sql_cos("qv", "v")).alias("cos_sim")))
    return _top_neighbors(scored, "cos_sim").select("query_id", "neighbor_id")


@register("ann_filtered_recall_eval", oracle=_filtered_recall_oracle)
def ann_filtered_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_at_k(_filtered_bruteforce_topk(spark, sf_dir),
                        ann_topk_ivf_filtered(spark, sf_dir))


# --------------------------------------------------------------------------
# ann_topk_pq_refine — the RE-RANK stage every deployed PQ system ships
# (FAISS's IVFPQR / "refine" wrapper; Jégou et al. TPAMI 2011 §V.C):
# the compressed-domain ADC scan produces a SHORTLIST of PQ_REFINE_R
# candidates per query, and only those R rows are re-scored with the
# exact float cosine before the final top-K. Quantization error then
# costs recall only when a true neighbor falls outside the shortlist
# entirely — the R/K ratio buys back ADC's ranking noise at the price
# of R exact distance evaluations per query.
#
# 100 TB shape: the corpus-sized work stays the compressed-code scan;
# the exact re-rank touches |queries| x R float vectors — a broadcast
# of the shortlist into the vector table, kilobytes of candidate ids,
# never a second corpus scan. ann_pq_refine_recall_eval measures the
# bought-back recall against plain PQ per query (refine_gain — the
# rebuild_gain pattern).
#
# Determinism: the ADC shortlist ranks ROUND(adc,6) DESC, neighbor ASC
# (the standalone scan's exact rule); the re-rank uses the standard
# ROUND(cos,6) DESC, neighbor ASC.
# --------------------------------------------------------------------------
PQ_REFINE_R = 3 * TOP_K


def _sql_pq_refine_topk() -> str:
    return f"""
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY pq_score DESC, neighbor_id ASC)
              AS arank
    FROM scored) WHERE arank <= {PQ_REFINE_R}),
refined AS (
  SELECT s.query_id, s.neighbor_id,
         ROUND(list_dot_product(q.v, b.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
  FROM shortlist s
  JOIN v q ON q.vec_id = s.query_id
  JOIN v b ON b.vec_id = s.neighbor_id),
rranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC)
            AS rank
  FROM refined)"""


def _exact_rerank_topk(v: DataFrame, shortlist: DataFrame,
                       top_k: int = TOP_K) -> DataFrame:
    """Exact-cosine re-rank of a (query_id, vec_id) shortlist against
    the vector frame ``v`` — the refine stage shared verbatim by
    ann_topk_pq_refine, ann_topk_ivfpq_refine, and the recall evals
    that compose them (one implementation, every consumer).

    The shortlist is |queries| x R rows, so both it and the query-side
    vectors broadcast; only the corpus-side vector join touches ``v``.
    Ranking: ROUND(cos,6) DESC, neighbor ASC (the standard rule)."""
    v2 = _with_norm(v, "v", "nv")
    q = (v2.where(F.col("vec_id") < N_QUERIES)
           .select(F.col("vec_id").alias("query_id"),
                   F.col("v").alias("qv"), F.col("nv").alias("qnv")))
    refined = (F.broadcast(shortlist.select("query_id", "vec_id"))
               .join(F.broadcast(q), "query_id")
               .join(v2, "vec_id")
               .select("query_id", F.col("vec_id").alias("neighbor_id"),
                       F.expr(_sql_cos("qv", "v", "qnv", "nv")).alias("cos_sim")))
    return (_top_neighbors(refined, "cos_sim", top_k)
            .select("query_id", "neighbor_id", "rank", "cos_sim"))


def _pq_adc_shortlist(spark: SparkSession, sf_dir: str,
                      keep: int = PQ_REFINE_R) -> DataFrame:
    """ADC-ranked (query_id, vec_id, rank) shortlist over the whole
    corpus — the first ``keep`` PQ-scored candidates per query. The
    plain PQ top-K (ann_topk_pq) is by construction the rank <= TOP_K
    prefix of this frame (same scored set, same (pq_score DESC,
    vec_id ASC) ordering), which the pq-refine recall eval exploits to
    score both arms from ONE scored pass."""
    v = _vectors(spark, sf_dir)
    codes, luts = _pq_codes_and_luts(spark, v,
                                     _pq_codebooks(spark, sf_dir))
    return (topk_per_key(_pq_adc_score(codes, luts), ["query_id"],
                         [F.col("pq_score").desc(), F.col("vec_id").asc()],
                         keep)
            .select("query_id", "vec_id", "rank"))


@register("ann_topk_pq_refine", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
{_sql_pq_ctes()},
{_sql_pq_scored().strip()},
{_sql_pq_refine_topk().strip()}
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos_sim
FROM rranked WHERE rank <= {TOP_K}
""")
def ann_topk_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    shortlist = _pq_adc_shortlist(spark, sf_dir)
    return _exact_rerank_topk(_vectors(spark, sf_dir), shortlist)


def _pq_refine_recall_oracle() -> str:
    return f"""
WITH bf AS (SELECT query_id, neighbor_id
            FROM ({ORACLES["ann_topk_bruteforce"]})),
r AS (SELECT bf.query_id, COUNT(x.neighbor_id) AS n_hit
      FROM bf LEFT JOIN ({ORACLES["ann_topk_pq_refine"]}) x
        ON x.query_id = bf.query_id AND x.neighbor_id = bf.neighbor_id
      GROUP BY bf.query_id),
p AS (SELECT bf.query_id, COUNT(x.neighbor_id) AS n_hit
      FROM bf LEFT JOIN ({ORACLES["ann_topk_pq"]}) x
        ON x.query_id = bf.query_id AND x.neighbor_id = bf.neighbor_id
      GROUP BY bf.query_id)
SELECT r.query_id,
       CAST(r.n_hit AS BIGINT) AS n_hit_refined,
       ROUND(r.n_hit * 1.0 / {TOP_K}, 4) AS recall_refined,
       CAST(p.n_hit AS BIGINT) AS n_hit_pq,
       ROUND(p.n_hit * 1.0 / {TOP_K}, 4) AS recall_pq,
       ROUND((r.n_hit - p.n_hit) * 1.0 / {TOP_K}, 4) AS refine_gain
FROM r JOIN p ON p.query_id = r.query_id
"""


def _bruteforce_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_topk_bruteforce's (query_id, neighbor_id) ground truth,
    pinned once for every recall eval that scores against it."""
    return state.pinned(spark, ("ann_topk_bruteforce:pairs", sf_dir),
                        lambda: (ann_topk_bruteforce(spark, sf_dir)
                                 .select("query_id", "neighbor_id")))


@register("ann_pq_refine_recall_eval", oracle=_pq_refine_recall_oracle)
def ann_pq_refine_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bf feeds BOTH recall arms (r and p below) — pin the 50-row
    # top-K result so the brute-force NLJ+window pipeline, the plan's
    # biggest duplicated subtree, runs once, not once per arm.
    bf = _bruteforce_pairs(spark, sf_dir)
    # ONE ADC-scored pass serves both arms: ann_topk_pq is by
    # construction the rank <= TOP_K prefix of the PQ_REFINE_R
    # shortlist (same scored set, same ordering — _pq_adc_shortlist
    # docstring), so scoring the shortlist once and slicing replaces
    # the eval's former second full PQ pipeline. |queries| x R rows.
    shortlist = state.pinned(
        spark, ("ann_pq_refine_recall_eval:shortlist", sf_dir),
        lambda: _pq_adc_shortlist(spark, sf_dir))
    r = _recall_at_k(bf, _exact_rerank_topk(_vectors(spark, sf_dir),
                                            shortlist))
    p = _recall_at_k(bf, shortlist.where(F.col("rank") <= TOP_K)
                           .select("query_id",
                                   F.col("vec_id").alias("neighbor_id")))
    return (r.alias("r").join(p.alias("p"), "query_id")
             .select("query_id",
                     F.col("r.n_hit").alias("n_hit_refined"),
                     F.col("r.recall_at_k").alias("recall_refined"),
                     F.col("p.n_hit").alias("n_hit_pq"),
                     F.col("p.recall_at_k").alias("recall_pq"),
                     F.round((F.col("r.n_hit") - F.col("p.n_hit")) / TOP_K, 4)
                      .alias("refine_gain")))


# --------------------------------------------------------------------------
# dedup_method_agreement — GOVERNANCE audit across the two near-dup
# modalities: does lexical dedup (MinHash-LSH over shingles, verified
# Jaccard >= 0.8) agree with semantic dedup (sign-LSH over embeddings,
# verified cosine >= threshold) about WHICH pairs are duplicates? A
# production pipeline runs both (lexical catches templated boilerplate,
# embeddings catch paraphrase); this query is the confusion matrix a
# data lead reads before trusting either alone — and the regression
# alarm when a re-embedding or tokenizer change silently shifts one
# method's verdicts.
#
# Semantics: pair sets are compared over the SHARED id universe (ids
# present in both `documents` and `embeddings` — the testdata's sf0.1
# snapshot has 5k docs but only 2k embeddings, and at 100 TB the
# embedded slice typically lags the crawl). A one-sided pair is then
# DIRECTLY verified against the opposite modality (a pair
# that passes the cosine threshold but was never surfaced by a sign-LSH
# band is a candidate-recall miss, NOT a method disagreement — lumping
# them overstates cross-modality disagreement). The one-sided sets are
# near-dup-sized, so the direct verify is cheap: text-only pairs get an
# exact cosine on their two embeddings; embedding-only pairs get an
# exact shingle-Jaccard via the inverted index restricted to the pair
# list. Output is a fixed 5-row spine ('both' / 'text_only_disagree' /
# 'text_only_cand_miss' / 'embedding_only_disagree' /
# 'embedding_only_cand_miss') with pair counts and exact integer score
# sums — every row now carries BOTH modality scores (reported where the
# method fired, directly computed where it didn't), all snapped to e6
# integers so both engines sum identically. Verify rules mirror each
# method's own gate: cosine compares the e6-snapped value (what
# dedup_embedding_lsh thresholds), jaccard compares the raw ratio (what
# dedup_minhash_lsh thresholds) — both computed from identical integer
# operands in both engines.
#
# 100 TB shape: both inputs are near-dup-sized (<< corpus — each is the
# output of a banded candidate join + verify); the audit is a full-outer
# equi-join on the pair key, two pair-bounded verify joins (the jaccard
# one re-derives the shingle index: one corpus scan, same cost class as
# either input), and a 5-group aggregate.
# --------------------------------------------------------------------------
def _method_agreement_oracle() -> str:
    from hdfs_with_pyspark_spark.llm.dedup import (_sql_shingles,
                                                   JACCARD_THRESHOLD)
    cos_gate_e6 = int(round(COSINE_DUP_THRESHOLD * 1e6))
    return f"""
WITH tp0 AS ({ORACLES["dedup_minhash_lsh"]}),
ep0 AS ({ORACLES["dedup_embedding_lsh"]}),
{_sql_shingles()},
shn AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
v AS ({_SQL_VECTORS}),
shared AS (SELECT e.vec_id AS id
           FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
tp AS (SELECT t.doc_a AS id_a, t.doc_b AS id_b,
              CAST(ROUND(t.jaccard * 1000000) AS BIGINT) AS jacc_e6
       FROM tp0 t
       JOIN shared sa ON sa.id = t.doc_a
       JOIN shared sb ON sb.id = t.doc_b),
ep AS (SELECT e.vec_a AS id_a, e.vec_b AS id_b,
              CAST(ROUND(e.cos_sim * 1000000) AS BIGINT) AS cos_e6
       FROM ep0 e
       JOIN shared sa ON sa.id = e.vec_a
       JOIN shared sb ON sb.id = e.vec_b),
both_p AS (SELECT 'both' AS category, t.jacc_e6, e.cos_e6
           FROM tp t JOIN ep e ON t.id_a = e.id_a AND t.id_b = e.id_b),
tonly AS (SELECT t.* FROM tp t LEFT JOIN ep e
            ON t.id_a = e.id_a AND t.id_b = e.id_b
          WHERE e.id_a IS NULL),
tscored AS (SELECT CASE WHEN CAST(ROUND({_SQL_COS} * 1000000) AS BIGINT)
                             >= {cos_gate_e6}
                        THEN 'text_only_cand_miss'
                        ELSE 'text_only_disagree' END AS category,
                   t.jacc_e6,
                   CAST(ROUND({_SQL_COS} * 1000000) AS BIGINT) AS cos_e6
            FROM tonly t
            JOIN v a ON a.vec_id = t.id_a
            JOIN v b ON b.vec_id = t.id_b),
eonly AS (SELECT e.* FROM ep e LEFT JOIN tp t
            ON t.id_a = e.id_a AND t.id_b = e.id_b
          WHERE t.id_a IS NULL),
einter AS (SELECT eo.id_a, eo.id_b, count(*) AS inter
           FROM eonly eo
           JOIN shh a ON a.doc_id = eo.id_a
           JOIN shh b ON b.doc_id = eo.id_b AND b.h = a.h
           GROUP BY 1, 2),
escored AS (
  SELECT CASE WHEN (COALESCE(na.n, 0) + COALESCE(nb.n, 0)
                    - COALESCE(i.inter, 0)) > 0
              THEN CASE WHEN COALESCE(i.inter, 0) * 1.0
                             / (COALESCE(na.n, 0) + COALESCE(nb.n, 0)
                                - COALESCE(i.inter, 0))
                             >= {JACCARD_THRESHOLD}
                        THEN 'embedding_only_cand_miss'
                        ELSE 'embedding_only_disagree' END
              ELSE 'embedding_only_disagree' END AS category,
         CASE WHEN (COALESCE(na.n, 0) + COALESCE(nb.n, 0)
                    - COALESCE(i.inter, 0)) > 0
              THEN CAST(ROUND(COALESCE(i.inter, 0) * 1000000.0
                              / (COALESCE(na.n, 0) + COALESCE(nb.n, 0)
                                 - COALESCE(i.inter, 0))) AS BIGINT)
              ELSE 0 END AS jacc_e6,
         eo.cos_e6
  FROM eonly eo
  LEFT JOIN einter i ON i.id_a = eo.id_a AND i.id_b = eo.id_b
  LEFT JOIN shn na ON na.doc_id = eo.id_a
  LEFT JOIN shn nb ON nb.doc_id = eo.id_b),
u AS (SELECT * FROM both_p UNION ALL
      SELECT * FROM tscored UNION ALL
      SELECT * FROM escored),
agg AS (SELECT category,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COALESCE(SUM(jacc_e6), 0) AS BIGINT) AS sum_jaccard_e6,
               CAST(COALESCE(SUM(cos_e6), 0) AS BIGINT) AS sum_cos_e6
        FROM u GROUP BY category),
cats(category) AS (VALUES ('both'), ('text_only_disagree'),
                          ('text_only_cand_miss'),
                          ('embedding_only_disagree'),
                          ('embedding_only_cand_miss'))
SELECT c.category,
       CAST(COALESCE(a.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(a.sum_jaccard_e6, 0) AS BIGINT) AS sum_jaccard_e6,
       CAST(COALESCE(a.sum_cos_e6, 0) AS BIGINT) AS sum_cos_e6
FROM cats c LEFT JOIN agg a ON a.category = c.category
"""


@register("dedup_method_agreement", oracle=_method_agreement_oracle)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.llm.dedup import (_minhash_lsh_pairs,
                                                   _pinned_spine,
                                                   JACCARD_THRESHOLD)

    cos_gate_e6 = int(round(COSINE_DUP_THRESHOLD * 1e6))
    # shared is referenced by four semi-join filters below; pin the
    # (tiny) id-universe so the scan+join builds once.
    #
    # Restricting BOTH pipeline INPUTS to the shared universe (spine
    # over docs ⋉ shared, bands over vectors ⋉ shared — semantically
    # exact, since signatures are per-doc functions and only
    # both-shared pairs survive) measured 15-30% SLOWER in three
    # interleaved A/B windows: every pipeline then serializes behind
    # the shared build, while this late-filter form runs the spine, the
    # MinHash aggregate and the band join CONCURRENTLY on idle cores
    # and applies shared to the tiny pair sets at the end. On a
    # saturated cluster the input-restricted form does strictly less
    # corpus work (at 100 TB the embedded slice lags the crawl by far
    # more than sf0.1's 2.5x) — prefer it there.
    shared = state.pinned(
        spark, ("dedup_method_agreement:shared", sf_dir),
        lambda: (_vectors(spark, sf_dir).select(F.col("vec_id").alias("id"))
                 .join(read_table(spark, sf_dir, "documents")
                       .select(F.col("doc_id").alias("id")), "id")))
    # ONE shingle spine feeds both the MinHash pipeline and the
    # embedding-only verify's inverted index below: composing
    # dedup_minhash_lsh directly would materialize its own identical
    # spine — a second corpus scan + spine shuffle.
    shh = _pinned_spine(spark, sf_dir)

    def pairs() -> DataFrame:
        tp = (_minhash_lsh_pairs(spark, sf_dir)
              .select(F.col("doc_a").alias("id_a"),
                      F.col("doc_b").alias("id_b"),
                      F.round(F.col("jaccard") * 1e6).cast("long")
                       .alias("jacc_e6"))
              .join(shared.withColumnRenamed("id", "id_a"), "id_a")
              .join(shared.withColumnRenamed("id", "id_b"), "id_b"))
        ep = (dedup_embedding_lsh(spark, sf_dir)
              .select(F.col("vec_a").alias("id_a"),
                      F.col("vec_b").alias("id_b"),
                      F.round(F.col("cos_sim") * 1e6).cast("long")
                       .alias("cos_e6"))
              .join(shared.withColumnRenamed("id", "id_a"), "id_a")
              .join(shared.withColumnRenamed("id", "id_b"), "id_b"))
        return tp.join(ep, ["id_a", "id_b"], "full_outer")
    # u fans out into THREE branches (both_p / tonly / eonly), and
    # Catalyst recomputes an unpinned subtree per reference — i.e.
    # BOTH full banded-LSH pipelines would run three times each. The
    # frame is near-dup-pair-sized: one pass per modality, three cache
    # reads.
    u = state.pinned(spark, ("dedup_method_agreement:u", sf_dir), pairs)

    both_p = (u.where(F.col("jacc_e6").isNotNull()
                      & F.col("cos_e6").isNotNull())
               .select(F.lit("both").alias("category"),
                       "jacc_e6", "cos_e6"))

    # text-only: direct cosine verify (both ids are in the shared
    # universe, so both embeddings exist; |tonly| is near-dup-sized and
    # the vector side broadcasts by size).
    tonly = u.where(F.col("cos_e6").isNull()).select("id_a", "id_b",
                                                     "jacc_e6")
    v = _with_norm(_vectors(spark, sf_dir), "v", "nv")
    va = v.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
                  F.col("nv").alias("na"))
    vb = v.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
                  F.col("nv").alias("nb"))
    cos_e6_direct = F.expr(
        f"CAST(ROUND({_sql_dot_cols('va', 'vb')} / (na * nb) * 1000000.0D)"
        " AS BIGINT)")
    tscored = (tonly.join(va, "id_a").join(vb, "id_b")
                    .select(F.when(cos_e6_direct >= cos_gate_e6,
                                   "text_only_cand_miss")
                             .otherwise("text_only_disagree")
                             .alias("category"),
                            "jacc_e6",
                            cos_e6_direct.alias("cos_e6")))

    # embedding-only: direct exact-jaccard verify via the shingle
    # inverted index restricted to the pair list (one corpus scan; the
    # joins are |eonly|-bounded). Docs with no shingles / no shared
    # shingle coalesce to jaccard 0 — a disagree, not a miss.
    eonly = u.where(F.col("jacc_e6").isNull()).select("id_a", "id_b",
                                                      "cos_e6")
    # shh is the SAME persisted spine the tp pipeline above consumed.
    shn = shh.groupBy("doc_id").agg(F.count("*").alias("n"))
    einter = (eonly.select("id_a", "id_b")
                   .join(shh.select(F.col("doc_id").alias("id_a"), "h"),
                         "id_a")
                   .join(shh.select(F.col("doc_id").alias("id_b"), "h"),
                         ["id_b", "h"])
                   .groupBy("id_a", "id_b")
                   .agg(F.count("*").alias("inter")))
    denom = (F.coalesce(F.col("na"), F.lit(0))
             + F.coalesce(F.col("nb"), F.lit(0))
             - F.coalesce(F.col("inter"), F.lit(0)))
    raw = F.coalesce(F.col("inter"), F.lit(0)) / denom
    escored = (eonly.join(einter, ["id_a", "id_b"], "left")
                    .join(shn.select(F.col("doc_id").alias("id_a"),
                                     F.col("n").alias("na")),
                          "id_a", "left")
                    .join(shn.select(F.col("doc_id").alias("id_b"),
                                     F.col("n").alias("nb")),
                          "id_b", "left")
                    .select(F.when(denom > 0,
                                   F.when(raw >= JACCARD_THRESHOLD,
                                          "embedding_only_cand_miss")
                                    .otherwise("embedding_only_disagree"))
                             .otherwise("embedding_only_disagree")
                             .alias("category"),
                            F.when(denom > 0,
                                   F.round(raw * F.lit(1e6)).cast("long"))
                             .otherwise(F.lit(0).cast("long"))
                             .alias("jacc_e6"),
                            "cos_e6"))

    scored = both_p.unionByName(tscored).unionByName(escored)
    agg = (scored.groupBy("category")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.coalesce(F.sum("jacc_e6"), F.lit(0)).cast("long")
                  .alias("sum_jaccard_e6"),
                 F.coalesce(F.sum("cos_e6"), F.lit(0)).cast("long")
                  .alias("sum_cos_e6")))
    spine = local_frame(
        spark,
        [("both",), ("text_only_disagree",), ("text_only_cand_miss",),
         ("embedding_only_disagree",), ("embedding_only_cand_miss",)],
        "category string")
    return (spine.join(F.broadcast(agg), "category", "left")
            .select("category",
                    F.coalesce("n_pairs", F.lit(0)).cast("long")
                     .alias("n_pairs"),
                    F.coalesce("sum_jaccard_e6", F.lit(0)).cast("long")
                     .alias("sum_jaccard_e6"),
                    F.coalesce("sum_cos_e6", F.lit(0)).cast("long")
                     .alias("sum_cos_e6")))


# --------------------------------------------------------------------------
# ann_topk_ivfpq_refine — the FULL production vector-store composition
# (FAISS IndexIVFPQR): IVF coarse pruning bounds the scan to ~nprobe/k
# of the codes table, the broadcast-LUT ADC ranks those candidates in
# the compressed domain, and only a PQ_REFINE_R-deep shortlist per
# query is re-scored with the exact float cosine before the final
# top-K. Each stage pays for the next one's cheapness: the prune makes
# ADC touch kilobytes, ADC makes the exact re-rank touch R rows — at
# 100 TB nothing corpus-sized moves at query time except the pruned
# code slice, and quantization error costs recall only when a true
# neighbor misses the shortlist entirely.
#
# Implementation: the shortlist IS ivfpq_search(top_k=PQ_REFINE_R) —
# the same parameterized core the gated ann_topk_ivfpq query and the
# scale probe run (one implementation, three consumers), so the
# composition cannot drift from its parts. The re-rank joins the
# broadcast shortlist back into the vector table (|queries| x R rows).
#
# Determinism: ADC shortlist ranks ROUND(adc,6) DESC, neighbor ASC;
# the re-rank uses the standard ROUND(cos,6) DESC, neighbor ASC.
# --------------------------------------------------------------------------
@register("ann_topk_ivfpq_refine", oracle=f"""
WITH v AS ({_SQL_VECTORS}),
{_SQL_ASSIGN},
{_sql_pq_ctes()},
{_sql_ivfpq_scored().strip()},
{_sql_pq_refine_topk().strip()}
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos_sim
FROM rranked WHERE rank <= {TOP_K}
""")
def ann_topk_ivfpq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(spark, sf_dir)
    shortlist = (ivfpq_search(spark, v, train_ivf_centroids(spark, sf_dir, k=N_CENTROIDS),
                              _pq_codebooks(spark, sf_dir),
                              top_k=PQ_REFINE_R, kernel="exact")
                 .select("query_id",
                         F.col("neighbor_id").alias("vec_id")))
    return _exact_rerank_topk(v, shortlist)


def _ivfpq_refine_recall_oracle() -> str:
    return f"""
WITH bf AS (SELECT query_id, neighbor_id
            FROM ({ORACLES["ann_topk_bruteforce"]})),
r AS (SELECT bf.query_id, COUNT(x.neighbor_id) AS n_hit
      FROM bf LEFT JOIN ({ORACLES["ann_topk_ivfpq_refine"]}) x
        ON x.query_id = bf.query_id AND x.neighbor_id = bf.neighbor_id
      GROUP BY bf.query_id),
p AS (SELECT bf.query_id, COUNT(x.neighbor_id) AS n_hit
      FROM bf LEFT JOIN ({ORACLES["ann_topk_ivfpq"]}) x
        ON x.query_id = bf.query_id AND x.neighbor_id = bf.neighbor_id
      GROUP BY bf.query_id)
SELECT r.query_id,
       CAST(r.n_hit AS BIGINT) AS n_hit_refined,
       ROUND(r.n_hit * 1.0 / {TOP_K}, 4) AS recall_refined,
       CAST(p.n_hit AS BIGINT) AS n_hit_ivfpq,
       ROUND(p.n_hit * 1.0 / {TOP_K}, 4) AS recall_ivfpq,
       ROUND((r.n_hit - p.n_hit) * 1.0 / {TOP_K}, 4) AS refine_gain
FROM r JOIN p ON p.query_id = r.query_id
"""


@register("ann_ivfpq_refine_recall_eval", oracle=_ivfpq_refine_recall_oracle)
def ann_ivfpq_refine_recall_eval(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    # Same single-pass shape as ann_pq_refine_recall_eval: bf is
    # pinned (feeds both arms), and ONE IVF+PQ search at
    # top_k=PQ_REFINE_R serves both the refine shortlist and — as its
    # rank <= TOP_K prefix (same scored set, same ordering) — the plain
    # ivfpq arm, instead of a second full IVF+PQ pipeline.
    bf = _bruteforce_pairs(spark, sf_dir)
    v = _vectors(spark, sf_dir)
    shortlist = state.pinned(
        spark, ("ann_ivfpq_refine_recall_eval:shortlist", sf_dir),
        lambda: (ivfpq_search(spark, v,
                              train_ivf_centroids(spark, sf_dir,
                                                  k=N_CENTROIDS),
                              _pq_codebooks(spark, sf_dir),
                              top_k=PQ_REFINE_R, kernel="exact")
                 .select("query_id",
                         F.col("neighbor_id").alias("vec_id"), "rank")))
    r = _recall_at_k(bf, _exact_rerank_topk(v, shortlist))
    p = _recall_at_k(bf, shortlist.where(F.col("rank") <= TOP_K)
                           .select("query_id",
                                   F.col("vec_id").alias("neighbor_id")))
    return (r.alias("r").join(p.alias("p"), "query_id")
             .select("query_id",
                     F.col("r.n_hit").alias("n_hit_refined"),
                     F.col("r.recall_at_k").alias("recall_refined"),
                     F.col("p.n_hit").alias("n_hit_ivfpq"),
                     F.col("p.recall_at_k").alias("recall_ivfpq"),
                     F.round((F.col("r.n_hit") - F.col("p.n_hit")) / TOP_K, 4)
                      .alias("refine_gain")))


