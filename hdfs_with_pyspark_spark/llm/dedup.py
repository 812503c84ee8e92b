"""Deduplication operators over the ``documents`` table.

Driver-mandated LLM-pipeline surface (SURVEY.md §0 addendum). Four
strategies, cheapest to most semantic:

  * exact       — full-text hash groupBy (one shuffle on a 60-bit hash),
  * n-gram Jaccard — exact set overlap via inverted-index join,
  * MinHash-LSH — shingle -> 32 minhashes -> 8 bands -> bucket join ->
                  exact-Jaccard verify (the 100 TB near-dup workhorse),
  * SimHash     — 48-bit map-side signature; Hamming<=3 pairs found with
                  an exact pigeonhole chunk join (4 x 12-bit chunks).

Everything is Column expressions + joins — no UDFs, no collect. All hash
math is md5-prefix based (textops.hash64) so every query has an exact
DuckDB oracle, MinHash banding included (the oracle replicates the same
deterministic hash-parameter table, so approximate recall is *identical*
by construction, not just similar).

Scale notes per operator are inline; the common one: candidate
verification joins are always keyed on (doc_id, shingle-hash) — they scale
with candidate count, never with corpus^2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdfs_with_pyspark_spark import state
from hdfs_with_pyspark_spark.llm.textops import (
    MERSENNE31,
    MINHASH_BANDS,
    MINHASH_PARAMS,
    MINHASH_ROWS,
    SPLIT_TRAIN,
    SPLIT_VAL,
    hash31,
    hash64,
    tokens,
)
from hdfs_with_pyspark_spark.plans.registry import ORACLES, register
from hdfs_with_pyspark_spark.sources.io import local_frame, read_table

JACCARD_THRESHOLD = 0.8     # planted near-dups in testdata sit at ~0.96+
SIMHASH_BITS = 48           # fits bigint shifts in both engines
SIMHASH_MAX_HAMMING = 3     # pigeonhole: 4 chunks of 12 bits
SHINGLE_N = 3

# The measured shuffle-sizing invariant for dedup's heavy stages
# (SCALING.md, 25M-doc ladder): BOUNDED ROWS PER SHUFFLE PARTITION.
# These shuffles move NARROW, CPU-dense rows (a band row is ~30 bytes, a
# token-hash row ~20), so AQE's byte-target coalescing — sized for
# IO-bound shuffles — lands multi-million-row partitions and the md5/
# window work inside them goes super-linear (verify 310.9 s at the AQE
# default vs 222.7 s with row-derived counts at 25M docs). Bytes cannot
# express a rows invariant; when the caller KNOWS the row estimate
# (docs x bands for the band store, docs x tokens for the shingle spine
# — both known before the shuffle), derive the partition count from it
# and pin the exchange (VERDICT r9 item 3).
DEDUP_ROWS_PER_PARTITION = 1_000_000
# Upper bound on the derived count (ADVICE r10): the rows-per-partition
# rule is an under-partitioning guard, not a license to request 10M
# shuffle partitions at the 100 TB extreme (~1e13 token rows) — past the
# cap, partitions grow beyond DEDUP_ROWS_PER_PARTITION gracefully (still
# bounded at ~300M rows each at 1e13) instead of pathologizing the
# shuffle tracker with per-partition bookkeeping. 32768 keeps the
# map-status bitmap and scheduler overhead in the range Spark's shuffle
# machinery is engineered for.
DEDUP_MAX_PARTITIONS = 32_768


def dedup_parallelism(spark: SparkSession, n_rows: int) -> int:
    """Partition count for a dedup shuffle expected to carry ``n_rows``:
    one partition per DEDUP_ROWS_PER_PARTITION rows, floored at the
    session's core count so small corpora keep every core busy, capped
    at DEDUP_MAX_PARTITIONS so extreme inputs degrade to bigger
    partitions instead of a pathological partition count. The shingle
    spine (_shingle_hashes, under every dedup path and the band store)
    derives this itself from a memoized corpus count by default; pass
    its ``num_partitions`` explicitly only to override."""
    floor = spark.sparkContext.defaultParallelism
    derived = min(-(-n_rows // DEDUP_ROWS_PER_PARTITION),
                  DEDUP_MAX_PARTITIONS)
    return max(floor, derived)


def _spine_token_rows(docs: DataFrame) -> int:
    """Total token occurrences in ``docs`` — the exact row count of the
    shingle spine's one shuffle (posexplode fans each doc to its token
    count). One column-pruned scan summing size(tokens(text)); memoized
    per session and semantic plan, so the auto-partitioning default pays
    one count per corpus, not one per operator call."""
    def count() -> int:
        n = (docs.select(F.size(tokens(F.col("text"))).alias("nt"))
                 .agg(F.sum("nt").alias("n")).collect()[0]["n"])
        return int(n or 0)
    return state.memo(docs.sparkSession,
                      ("spine_token_rows", docs.semanticHash()), count)


def _auto_spine_partitions(docs: DataFrame) -> int | None:
    """Row-derived partition pin for the spine — or None when the corpus
    is small enough that AQE's byte-target default cannot
    under-partition it (derived count would just be the core floor).
    Returning None for small corpora keeps every gated query's plan
    byte-identical to the pre-auto default: the pin appears exactly when
    the measured invariant (DEDUP_ROWS_PER_PARTITION rows per partition)
    starts to bind."""
    spark = docs.sparkSession
    n_rows = _spine_token_rows(docs)
    derived = dedup_parallelism(spark, n_rows)
    if derived <= spark.sparkContext.defaultParallelism:
        return None
    return derived


def _sql_tokens(expr: str = "text") -> str:
    return f"list_filter(string_split({expr}, ' '), x -> x <> '')"


def _sql_shingles() -> str:
    """DuckDB twin of _shingle_hashes as a CTE chain ending in shh(doc_id, h).

    Shingle hash = ((h1*31 + h2)*31 + h3) % P over per-token 31-bit md5
    hashes — one md5 per token instead of one per (longer) shingle string,
    and no per-shingle string assembly. Max intermediate < 2^41: no
    overflow in either engine.
    """
    return f"""
t AS (SELECT doc_id, {_sql_tokens()} AS toks FROM documents),
th AS (SELECT doc_id,
              list_transform(toks,
                x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {MERSENNE31}) AS ths
       FROM t),
shh AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(ths) >= {SHINGLE_N}
                     THEN list_transform(generate_series(1, len(ths) - {SHINGLE_N - 1}),
                                         i -> ((ths[i] * 31 + ths[i+1]) * 31 + ths[i+2])
                                              % {MERSENNE31})
                     ELSE [] END) AS h
  FROM th)"""


def _shingle_hashes(docs: DataFrame, spread_input: bool = True,
                    num_partitions: int | None | str = "auto") -> DataFrame:
    """Distinct (doc_id, h) 31-bit shingle hashes — the dedup spine.

    Token hashes computed once (one md5 per token occurrence), shingle
    hashes combined arithmetically — see _sql_shingles for the identity.

    ``spread_input=False`` for BATCH-sized inputs (the incremental
    ingest path): re-spreading a few rows just inserts shuffles ahead
    of the window shuffle (measured +0.5 s on dedup_incremental).

    ``num_partitions`` pins the spine's one shuffle (the doc_id window
    exchange, which the downstream distinct/groupBy reuse) to a
    row-derived count for corpus-scale runs where AQE's byte target
    under-partitions the narrow token-hash rows. Default ``"auto"``
    derives it from a memoized token count exactly
    as train_ivf_centroids(k=None) derives k — a corpus-scale caller
    gets the measured pin without knowing its row count; small corpora
    (every gated query) resolve to None, keeping AQE's choice and the
    pre-auto plan. Batch-sized inputs (``spread_input=False``) also
    resolve to None: a micro-batch never amortizes the count scan and
    can never exceed the floor. Pass an int to pin explicitly, or None
    to force AQE.
    """
    if num_partitions == "auto":
        num_partitions = (_auto_spine_partitions(docs)
                          if spread_input else None)
    # posexplode evaluates the token-hash transform exactly once per row
    # (indexing the array expression with element_at would instead
    # re-inline — and re-md5 — the whole array per reference; measured
    # 10x). lead() then assembles the 3-gram. The window's doc_id
    # partitioning also satisfies the distinct's clustering, so the whole
    # spine costs ONE shuffle.
    ths = F.transform(tokens(F.col("text")), hash31)
    # spread: one md5 per token occurrence is the CPU hot spot, and the
    # corpus often arrives as one scan split (input-byte task sizing
    # cannot see the fan-out); no-op when the scan is already parallel.
    from hdfs_with_pyspark_spark.llm.textops import spread
    src = spread(docs) if spread_input else docs
    tok_rows = src.select("doc_id", F.posexplode(ths).alias("pos", "th"))
    if num_partitions is not None:
        # Explicit n disables AQE coalescing for THIS exchange only; the
        # window's ClusteredDistribution(doc_id) is satisfied by it, so
        # no second shuffle appears (plan-asserted in tests).
        tok_rows = tok_rows.repartition(num_partitions, "doc_id")
    w = Window.partitionBy("doc_id").orderBy("pos")
    h = ((F.col("th") * 31 + F.lead("th", 1).over(w)) * 31
         + F.lead("th", 2).over(w)) % MERSENNE31
    return (tok_rows.select("doc_id", h.alias("h"))
                    .where(F.col("h").isNotNull())
                    .distinct())


def _pinned_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents corpus's shingle spine, pinned once for every
    query that reads it more than once."""
    return state.pinned(
        spark, ("documents:shingle_hashes", sf_dir),
        lambda: _shingle_hashes(read_table(spark, sf_dir, "documents")))


def _overlap(cand: DataFrame, shh: DataFrame) -> DataFrame:
    """``cand``'s rows — candidate pairs (doc_a, doc_b) plus any other
    columns — with the exact shingle intersection ``inter`` and each
    side's set size ``na``/``nb``, all bigint, for pairs sharing at
    least one shingle. Callers derive an exact ratio or integer ppm.

    Each doc's shingle set is gathered once (one shuffle of the spine
    on doc_id) and intersected per pair map-side: no per-pair
    aggregate, so nothing shuffles on the pair key. Pair cost scales
    with |candidates| * doc-length, never corpus^2.
    """
    sets = shh.groupBy("doc_id").agg(F.collect_list("h").alias("hs"))
    inter = F.size(F.array_intersect("ha", "hb")).cast("long")
    return (cand.join(sets.select(F.col("doc_id").alias("doc_a"),
                                  F.col("hs").alias("ha")), "doc_a")
                .join(sets.select(F.col("doc_id").alias("doc_b"),
                                  F.col("hs").alias("hb")), "doc_b")
                .select(*cand.columns, inter.alias("inter"),
                        F.size("ha").cast("long").alias("na"),
                        F.size("hb").cast("long").alias("nb"))
                .where(F.col("inter") > 0))


def _verified_jaccard(cand: DataFrame, shh: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs (doc_a, doc_b)."""
    # jaccard_raw is the FILTER column (the oracles threshold on the raw
    # ratio; filtering on the 6-dp rounded value would admit pairs in
    # [threshold - 5e-7, threshold) that the oracle excludes); the
    # rounded jaccard is the OUTPUT column both engines render equally.
    raw = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return _overlap(cand, shh).select("doc_a", "doc_b",
                                      raw.alias("jaccard_raw"),
                                      F.round(raw, 6).alias("jaccard"))


# --------------------------------------------------------------------------
# The MinHash format — 32 LCG minhashes per doc, 8 bands of 4, band key
# the comma-joined minhashes — is decided here once for Spark
# (_minhash_bands) and once for the DuckDB oracles (_SQL_MINHASH_BANDS).
# The band store that incremental ingest persists and the band join
# that probes it only agree because both go through these two.
# --------------------------------------------------------------------------
_SQL_PARAMS = ", ".join(f"({j}, {a}::BIGINT, {b}::BIGINT)"
                        for j, (a, b) in enumerate(MINHASH_PARAMS))

# CTEs mh(doc_id, j, mh) and bands(doc_id, band, bkey) over shh.
_SQL_MINHASH_BANDS = f"""params(j, a, b) AS (VALUES {_SQL_PARAMS}),
mh AS (SELECT doc_id, j, MIN((a * h + b) % {MERSENNE31}) AS mh
       FROM shh CROSS JOIN params GROUP BY doc_id, j),
bands AS (SELECT doc_id, j // {MINHASH_ROWS} AS band,
                 string_agg(mh::VARCHAR, ',' ORDER BY j) AS bkey
          FROM mh GROUP BY doc_id, j // {MINHASH_ROWS}),"""

# CTE cand(doc_a, doc_b) over bands: the twin of _band_candidates.
_SQL_CAND = """cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),"""

# The same format as Spark SQL text: one F.expr per column costs one
# Py4J call, where composing it from Column operators cost one per
# operator (~350 per signature + band build).
_SIG_AGGS = [f"min(({a} * h + {b}) % {MERSENNE31}) AS mh{j}"
             for j, (a, b) in enumerate(MINHASH_PARAMS)]
_BANDS_EXPLODE = "explode(array({})) AS b".format(", ".join(
    f"struct({i} AS band, concat_ws(',', "
    + ", ".join(f"CAST(mh{i * MINHASH_ROWS + r} AS STRING)"
                for r in range(MINHASH_ROWS))
    + ") AS bkey)" for i in range(MINHASH_BANDS)))


def _minhash_bands(shh: DataFrame, sf_dir: str | None = None
                   ) -> tuple[DataFrame, DataFrame]:
    """(sig, bands) over a shingle spine: sig is (doc_id, mh0..mh31),
    bands is (doc_id, band, bkey).

    With ``sf_dir``, ``shh`` is that corpus's pinned spine and the
    signatures are pinned beside it: every query over the corpus then
    shares one signature aggregate (K longs per doc) instead of each
    recomputing it per band-join side."""
    def build() -> DataFrame:
        return shh.groupBy("doc_id").agg(*[F.expr(e) for e in _SIG_AGGS])
    sig = (build() if sf_dir is None else state.pinned(
        shh.sparkSession, ("documents:minhash_sig", sf_dir), build))
    bands = (sig.select("doc_id", F.expr(_BANDS_EXPLODE))
                .select("doc_id", "b.band", "b.bkey"))
    return sig, bands


def _band_candidates(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b, of docs sharing a band."""
    return (bands.alias("x")
                 .join(bands.alias("y"),
                       (F.col("x.band") == F.col("y.band"))
                       & (F.col("x.bkey") == F.col("y.bkey"))
                       & (F.col("x.doc_id") < F.col("y.doc_id")))
                 .select(F.col("x.doc_id").alias("doc_a"),
                         F.col("y.doc_id").alias("doc_b"))
                 .distinct())


def _corpus_minhash(spark: SparkSession, sf_dir: str
                    ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(shh, sig, cand) for the documents corpus: the spine, its
    signatures and its band candidates, each pinned once and shared by
    every MinHash query over the corpus. cand is near-dup-pair-sized
    and feeds both the exact verify and the signature match count."""
    shh = _pinned_spine(spark, sf_dir)
    sig, bands = _minhash_bands(shh, sf_dir)
    cand = state.pinned(spark, ("documents:minhash_cand", sf_dir),
                        lambda: _band_candidates(bands))
    return shh, sig, cand


# --------------------------------------------------------------------------
# dedup_exact — canonical-id assignment by full-text hash. One shuffle on
# the hash; at 100 TB this is the standard "hash, min-id per group" pass.
# --------------------------------------------------------------------------
@register("dedup_exact", oracle="""
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
FROM documents
""")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Canon key is the FULL 128-bit md5 (not the 60-bit hash64 prefix):
    # at billion-doc scale the birthday bound on 60 bits (~2^30) makes
    # false-positive merges expected; 128 bits keeps the shuffle key at
    # 32 bytes and removes the collision window.
    docs = read_table(spark, sf_dir, "documents")
    w = (docs.select(F.md5(F.col("text")).alias("th"), "doc_id")
             .groupBy("th").agg(F.min("doc_id").alias("canonical_id")))
    return (docs.select("doc_id", F.md5(F.col("text")).alias("th"))
                .join(w, "th")
                .select("doc_id", "canonical_id",
                        (F.col("doc_id") != F.col("canonical_id")).alias("is_dup")))


# --------------------------------------------------------------------------
# dedup_ngram_jaccard — exact word-3-gram Jaccard >= 0.8 pairs via an
# inverted-index join on shingle hashes. Scale caveat (documented, not
# hit here): hot shingles blow up the co-occurrence join; production runs
# drop shingles with document-frequency above a cap first — that filter
# is one extra groupBy and changes no >=t results for t > 0 thresholds
# hit by real near-dups.
# --------------------------------------------------------------------------
@register("dedup_ngram_jaccard", oracle=f"""
WITH {_sql_shingles()},
n AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
       GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(inter * 1.0 / (na.n + nb.n - inter), 6) AS jaccard
FROM co
JOIN n na ON na.doc_id = doc_a
JOIN n nb ON nb.doc_id = doc_b
WHERE inter * 1.0 / (na.n + nb.n - inter) >= {JACCARD_THRESHOLD}
""")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pinned: consumed by the co-occurrence self-join (twice) and the
    # per-doc counts — (doc_id, long) rows, far smaller than the text.
    shh = _pinned_spine(spark, sf_dir)
    return _jaccard_pairs(shh).select(
        "doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard"))


def _jaccard_pairs(shh: DataFrame, df_cap: int | None = None) -> DataFrame:
    """(doc_a, doc_b, jaccard_raw) pairs with exact 3-gram Jaccard >=
    threshold, via the inverted-index co-occurrence join.

    ``df_cap`` is the hot-shingle mitigation: shingles occurring in more
    than ``df_cap`` documents are dropped from the index AND from the
    per-doc set sizes before anything joins (one extra groupBy + one
    anti-join), so the co-occurrence join's per-key fan-out is bounded by
    df_cap^2 instead of corpus^2 on stop-phrase shingles. Jaccard is then
    computed over the capped shingle universe — on non-skewed corpora
    (no shingle above the cap) results are IDENTICAL to the uncapped run
    (equivalence-tested in tests/test_llm.py)."""
    if df_cap is not None:
        hot = (shh.groupBy("h").agg(F.count("*").alias("df"))
                  .where(F.col("df") > df_cap).select("h"))
        # The hot set is SMALL by construction (stop-phrase shingles
        # above the cap): collect it once and cap via a map-side NOT-IN
        # filter, so the three consumers below (counts, both sides of
        # the co-occurrence self-join) each re-apply a cheap fused
        # filter instead of re-running the df groupBy + anti-join — and
        # nothing needs a persist that would leak per invocation. If a
        # pathological corpus produces a huge hot set, fall back to the
        # distributed anti-join (recompute over leak).
        hot_hashes = [r["h"] for r in hot.limit(10_001).collect()]
        if len(hot_hashes) <= 10_000:
            if hot_hashes:
                shh = shh.where(~F.col("h").isin(hot_hashes))
        else:
            shh = shh.join(hot, "h", "left_anti")
    counts = shh.groupBy("doc_id").agg(F.count("*").alias("n"))
    co = (shh.alias("a")
             .join(shh.alias("b"),
                   (F.col("a.h") == F.col("b.h"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("inter")))
    j = (co.join(counts.select(F.col("doc_id").alias("doc_a"),
                               F.col("n").alias("na")), "doc_a")
           .join(counts.select(F.col("doc_id").alias("doc_b"),
                               F.col("n").alias("nb")), "doc_b")
           .withColumn("jaccard_raw",
                       F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))))
    return j.where(F.col("jaccard_raw") >= JACCARD_THRESHOLD)


def _pinned_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's exact (doc_a, doc_b) pairs at the Jaccard threshold,
    pinned once for dedup_components, corpus_curation and
    dedup_lsh_recall_eval."""
    shh = _pinned_spine(spark, sf_dir)
    return state.pinned(spark, ("documents:jaccard_pairs", sf_dir),
                        lambda: _jaccard_pairs(shh).select("doc_a", "doc_b"))


# --------------------------------------------------------------------------
# dedup_ngram_jaccard_capped — the PRODUCTION variant of the above: hot
# shingles (document frequency > SHINGLE_DF_CAP) are dropped before the
# inverted-index join. At 100 TB a stop-phrase shingle ("in the of")
# appears in ~every doc and its join key alone is corpus^2; the cap turns
# that worst case into df_cap^2 while real near-dups (which share many
# LOW-frequency shingles) keep their verdicts. The cap BITES on this
# corpus (max shingle df = 7 > cap) so the oracle proves the capped
# semantics, not a no-op.
# --------------------------------------------------------------------------
SHINGLE_DF_CAP = 5


@register("dedup_ngram_jaccard_capped", oracle=f"""
WITH {_sql_shingles()},
hot AS (SELECT h FROM shh GROUP BY h HAVING count(*) > {SHINGLE_DF_CAP}),
shc AS (SELECT doc_id, h FROM shh WHERE h NOT IN (SELECT h FROM hot)),
n AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
       GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(inter * 1.0 / (na.n + nb.n - inter), 6) AS jaccard
FROM co
JOIN n na ON na.doc_id = doc_a
JOIN n nb ON nb.doc_id = doc_b
WHERE inter * 1.0 / (na.n + nb.n - inter) >= {JACCARD_THRESHOLD}
""")
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    shh = _pinned_spine(spark, sf_dir)
    return _jaccard_pairs(shh, df_cap=SHINGLE_DF_CAP).select(
        "doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard"))


# --------------------------------------------------------------------------
# dedup_minhash_lsh — the scale path for near-dup detection:
#   shingle-hash -> 32 minhashes (one groupBy; map-side partial min)
#   -> 8 bands of 4 -> equi-join on (band, key) for candidates
#   -> exact-Jaccard verify on candidates only.
# The band join replaces ngram_jaccard's all-co-occurring-pairs join:
# at 100 TB candidates ~ near-dups, not pairs-sharing-any-shingle.
# Hash params are fixed module constants, embedded verbatim in the oracle,
# so Spark and DuckDB produce the *same* candidate set — LSH recall
# (<100% near threshold) cancels out of the comparison by construction.
# --------------------------------------------------------------------------
@register("dedup_minhash_lsh", oracle=f"""
WITH {_sql_shingles()},
{_SQL_MINHASH_BANDS}
{_SQL_CAND}
n AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
inter AS (SELECT doc_a, doc_b, count(*) AS inter
          FROM cand
          JOIN shh a ON a.doc_id = doc_a
          JOIN shh b ON b.doc_id = doc_b AND b.h = a.h
          GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(inter * 1.0 / (na.n + nb.n - inter), 6) AS jaccard
FROM inter
JOIN n na ON na.doc_id = doc_a
JOIN n nb ON nb.doc_id = doc_b
WHERE inter * 1.0 / (na.n + nb.n - inter) >= {JACCARD_THRESHOLD}
""")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_lsh_pairs(spark, sf_dir)


def _minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_lsh's verified pairs, over the corpus's shared
    spine and band candidates, for composers that also read the spine
    themselves (dedup_method_agreement's inverted-index verify)."""
    shh, _, cand = _corpus_minhash(spark, sf_dir)
    return (_verified_jaccard(cand, shh)
            .where(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
            .drop("jaccard_raw"))


# --------------------------------------------------------------------------
# dedup_simhash — 48-bit SimHash computed entirely map-side per row (one
# nested array expression; zero shuffle for signatures), then Hamming<=3
# pairs via the exact pigeonhole chunk join: distance<=3 guarantees one of
# 4 disjoint 12-bit chunks matches, so the chunk equi-join + exact Hamming
# filter finds exactly the brute-force pair set (which is what the oracle
# computes).
# --------------------------------------------------------------------------
_N_CHUNKS = SIMHASH_MAX_HAMMING + 1
_CHUNK_BITS = SIMHASH_BITS // _N_CHUNKS


def _simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) for every doc with >= 1 token.

    Shape: explode tokens -> one 48-bit md5 hash per token -> ONE hash
    aggregate on doc_id carrying 48 per-bit popcounts -> majority-threshold
    into the signature. Every expression (shiftright/bitwiseAND/sum/when)
    is whole-stage-codegen'd, and the shuffle moves only the aggregate
    state per doc per map partition thanks to partial aggregation. An
    earlier version computed the signature map-side as an F.aggregate fold
    over the token array — zero shuffle, but Spark evaluates higher-order
    functions interpreted per element: 82s vs ~3s at sf0.1 for this one
    shuffle.

    Counters are PACKED four per 64-bit sum (16-bit lanes): a lane holds
    the popcount of one bit position, so the majority test is
    2*popcount >= n_tokens — integer-equivalent to the oracle's
    sum(2*bit - 1) >= 0. Packing cuts the aggregate count 48 -> 13,
    which shrinks both the per-group shuffle state and the generated
    aggregate-update code (cold-start codegen compile was the dominant
    per-process cost at 48 aggregates). Lanes cannot carry into each
    other below 65536 tokens per doc; ingest-scale corpora chunk long
    documents far below that.
    """
    lanes = 4
    lane_bits = 16
    tok_rows = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    th = F.conv(F.substring(F.md5(F.col("tok")), 1, 12), 16, 10).cast("long")

    def packed(g: int):
        expr = None
        for f in range(lanes):
            i = g * lanes + f
            t = F.shiftleft(
                F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)).cast("long"),
                f * lane_bits)
            expr = t if expr is None else expr + t
        return F.sum(expr).alias(f"p{g}")

    bit_sums = (tok_rows.select("doc_id", th.alias("th"))
                .groupBy("doc_id")
                .agg(F.count("*").alias("n"),
                     *[packed(g) for g in range(SIMHASH_BITS // lanes)]))
    sig = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        g, f = divmod(i, lanes)
        pop = (F.shiftright(F.col(f"p{g}"), f * lane_bits)
                .bitwiseAND(F.lit((1 << lane_bits) - 1)))
        sig = sig + F.when(pop * 2 >= F.col("n"),
                           F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return bit_sums.select("doc_id", sig.alias("simhash"))


_SQL_SIMHASH = f"""
t AS (SELECT doc_id, {_sql_tokens()} AS toks FROM documents WHERE len({_sql_tokens()}) > 0),
h AS (SELECT doc_id, list_transform(toks, x -> ('0x' || substr(md5(x), 1, 12))::BIGINT) AS ths FROM t),
sig AS (SELECT doc_id,
               list_sum(list_transform(generate_series(0, {SIMHASH_BITS - 1}),
                 i -> CASE WHEN list_sum(list_transform(ths, x -> 2 * ((x >> i) & 1) - 1)) >= 0
                           THEN 1::BIGINT << i ELSE 0::BIGINT END))::BIGINT AS simhash
        FROM h)"""


@register("text_simhash", oracle=f"""
WITH {_SQL_SIMHASH}
SELECT doc_id, simhash FROM sig
""")
def text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_signatures(read_table(spark, sf_dir, "documents"))


@register("dedup_simhash", oracle=f"""
WITH {_SQL_SIMHASH}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
""")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pinned: the chunk self-join references the signature subtree twice,
    # and signatures (doc_id, 8 bytes) are ~10^-4 of the text they derive
    # from — the reference's C1 cache idiom (project_step_1.py:35).
    sig = state.pinned(spark, ("documents:simhash", sf_dir),
                       lambda: text_simhash(spark, sf_dir))
    chunk_structs = [
        F.struct(F.lit(c).alias("chunk"),
                 F.shiftright(F.col("simhash"), c * _CHUNK_BITS)
                  .bitwiseAND(F.lit((1 << _CHUNK_BITS) - 1)).alias("ckey"))
        for c in range(_N_CHUNKS)]
    chunks = (sig.select("doc_id", "simhash",
                         F.explode(F.array(*chunk_structs)).alias("c"))
                 .select("doc_id", "simhash", "c.chunk", "c.ckey"))
    pairs = (chunks.alias("a")
                   .join(chunks.alias("b"),
                         (F.col("a.chunk") == F.col("b.chunk"))
                         & (F.col("a.ckey") == F.col("b.ckey"))
                         & (F.col("a.doc_id") < F.col("b.doc_id")))
                   .select(F.col("a.doc_id").alias("doc_a"),
                           F.col("b.doc_id").alias("doc_b"),
                           F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                            .cast("long").alias("hamming"))
                   .distinct())
    return pairs.where(F.col("hamming") <= SIMHASH_MAX_HAMMING)


# --------------------------------------------------------------------------
# dedup_components — near-dup CLUSTERS, not just pairs: connected
# components over the >= threshold Jaccard pair graph, each doc labeled
# with the min doc_id of its component (the canonical survivor a training
# pipeline keeps) + the component size.
#
# Iterative min-label propagation — the one genuinely iterative algorithm
# in the engine (SURVEY.md §7.4.6 family). Each round is ONE equi-join +
# ONE agg, both keyed on node id: label(v) <- min(label(v), min over
# neighbors label(u)). Rounds needed = graph diameter; near-dup components
# are tiny cliques (diameter 1-2), so the loop converges in 2-3 rounds at
# ANY corpus size — the 100 TB cost is a handful of shuffles on the (small)
# pair graph, never on the corpus. Convergence is checked with a count of
# changed labels; a 25-round cap bounds pathological chains.
#
# Oracle: DuckDB recursive CTE enumerating reachable labels, MIN per node
# — exact same fixpoint.
# --------------------------------------------------------------------------
@register("dedup_components", oracle=f"""
WITH RECURSIVE {_sql_shingles()},
n AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b
  FROM co
  JOIN n na ON na.doc_id = doc_a
  JOIN n nb ON nb.doc_id = doc_b
  WHERE inter * 1.0 / (na.n + nb.n - inter) >= {JACCARD_THRESHOLD}),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, label) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.a, r.label FROM reach r JOIN edges e ON e.b = r.node),
comp AS (SELECT node AS doc_id, MIN(label) AS component_id
         FROM reach GROUP BY node)
SELECT doc_id, component_id,
       CAST(COUNT(*) OVER (PARTITION BY component_id) AS BIGINT) AS cluster_size
FROM comp
""")
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pinned_jaccard_pairs(spark, sf_dir)
    edges = (pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
             .unionByName(pairs.select(F.col("doc_b").alias("a"),
                                       F.col("doc_a").alias("b")))
             .persist())

    cached = (edges.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")).persist())
    cached.count()  # materialize before the loop
    labels = cached
    changed = 0
    for _ in range(25):
        neighbor_min = (edges
                        .join(labels.withColumnRenamed("node", "b"), "b")
                        .groupBy(F.col("a").alias("node"))
                        .agg(F.min("label").alias("nbr_label")))
        # Carry the previous label through the update so convergence is
        # read off the SAME materialized frame, not a second full pass
        # per round re-joining with the old labels.
        stepped = (labels.join(neighbor_min, "node", "left")
                   .select("node", F.col("label").alias("__prev"),
                           F.least("label", F.coalesce("nbr_label", "label"))
                            .alias("label"))
                   .persist())
        changed = stepped.where(F.col("label") != F.col("__prev")).count()
        cached.unpersist()
        cached = stepped
        labels = stepped.select("node", "label")
        if changed == 0:
            break
    if changed:
        # Chain-shaped components with diameter > 25 would exit here with
        # labels short of the fixpoint — surface it rather than letting
        # un-converged output masquerade as correct.
        import warnings
        warnings.warn(
            f"dedup_components: min-label propagation hit the round cap "
            f"with {changed} labels still changing; output is NOT a "
            f"fixpoint (component diameter exceeds the cap)",
            RuntimeWarning, stacklevel=2)
    # Truncate the iterative lineage (guide §3.3): each propagation
    # round nested the previous round's full plan, so the returned
    # frame's logical plan grew with the iteration count — and every
    # COMPOSER (dedup_canonical_docs, dedup_cross_source_matrix,
    # leakage_safe_splits) inherited a plan with thousands of repeated
    # scan/exchange nodes that Catalyst + AQE re-optimize per query
    # stage (measured: dedup_cross_source_matrix's formatted plan was
    # 107k lines / 11890 Exchange nodes before this truncation; plans/
    # r11/*_before.txt). localCheckpoint materializes the converged
    # labels (already cached — the extra job is a cache read) and
    # replaces the lineage with the checkpointed RDD. Labels are final
    # converged values, so re-execution-under-lineage is not needed for
    # correctness; at cluster scale a reliable checkpoint() is the
    # fault-tolerant equivalent — gated on $SPARK_GRAFT_CHECKPOINT_DIR
    # (localCheckpoint lives on executors, so an executor loss after
    # construction would make every composed query fail unrecoverably
    # on a real cluster; point the env var at a durable DFS path there,
    # leave it unset for the local bench).
    import os
    final = labels.select(F.col("node").alias("doc_id"),
                          F.col("label").alias("component_id"))
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        spark.sparkContext.setCheckpointDir(ckpt_dir)
        final = final.checkpoint(eager=True)
    else:
        final = final.localCheckpoint(eager=True)
    # pairs is the session's pinned pair list: state owns its release.
    # Unpersisting it here would evict the pin dedup_lsh_recall_eval
    # reads, since the cache manager matches entries by plan.
    for f in (cached, edges):
        f.unpersist()
    w = Window.partitionBy("component_id")
    return final.withColumn("cluster_size", F.count("*").over(w))


# --------------------------------------------------------------------------
# corpus_curation — the end-to-end training-data curation pass: every doc
# gets a keep/drop verdict with the FIRST matching drop reason, in the
# order a production pipeline applies them (cheapest first):
#
#   1. 'short'      — fewer than MIN_TOKENS whitespace tokens (map-side),
#   2. 'exact_dup'  — not the min-doc_id survivor of its full-text hash
#                     group (one shuffle on the hash),
#   3. 'near_dup'   — the higher-id side of any >= threshold 3-gram
#                     Jaccard pair (inverted-index join; at 100 TB this
#                     stage swaps in the MinHash-LSH candidate join with
#                     no change to the verdict semantics),
#   4. keep         — reason NULL.
#
# Composing the stages as one DataFrame means Catalyst sees the whole
# pipeline and the doc scan is shared. Reasons are assigned with `when`
# precedence over the full corpus (so verdicts are order-independent and
# the oracle is exact); the production drop-early variant — filtering
# each stage's survivors before the next, which changes near-dup
# verdicts for docs whose only partner was already dropped — is the same
# plan with three added filters.
# --------------------------------------------------------------------------
MIN_TOKENS = 5


@register("corpus_curation", oracle=f"""
WITH {_sql_shingles()},
n AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
near AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM co
  JOIN n na ON na.doc_id = doc_a
  JOIN n nb ON nb.doc_id = doc_b
  WHERE inter * 1.0 / (na.n + nb.n - inter) >= {JACCARD_THRESHOLD}),
exact AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon
  FROM documents),
verdicts AS (
  SELECT d.doc_id,
         CASE
           WHEN len({_sql_tokens()}) < {MIN_TOKENS} THEN 'short'
           WHEN e.canon <> d.doc_id THEN 'exact_dup'
           WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
         END AS drop_reason
  FROM documents d
  JOIN exact e USING (doc_id)
  LEFT JOIN near nr USING (doc_id))
SELECT doc_id, drop_reason IS NULL AS keep, drop_reason
FROM verdicts
""")
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    short = F.size(tokens(F.col("text"))) < MIN_TOKENS

    # Full md5 canon key — same collision rationale as dedup_exact; the
    # oracle groups on md5(text) and now so do we, bit for bit.
    canon = (docs.select("doc_id", F.md5(F.col("text")).alias("th"))
                 .groupBy("th").agg(F.min("doc_id").alias("canon")))
    with_exact = (docs.select("doc_id", "text",
                              F.md5(F.col("text")).alias("th"))
                      .join(canon, "th")
                      .withColumn("is_exact_dup", F.col("doc_id") != F.col("canon")))

    near = (_pinned_jaccard_pairs(spark, sf_dir)
            .select(F.col("doc_b").alias("doc_id")).distinct()
            .withColumn("is_near_dup", F.lit(True)))

    verdict = (with_exact
               .join(near, "doc_id", "left")
               .select("doc_id",
                       F.when(short, "short")
                        .when(F.col("is_exact_dup"), "exact_dup")
                        .when(F.col("is_near_dup"), "near_dup")
                        .alias("drop_reason")))
    return verdict.select("doc_id",
                          F.col("drop_reason").isNull().alias("keep"),
                          "drop_reason")


# --------------------------------------------------------------------------
# Incremental dedup — the ingestion-time shape: an arriving batch is
# checked against the EXISTING corpus via its persisted MinHash band
# store, so per-batch cost is O(|batch| + matched candidates) and the
# corpus is never recomputed. At 100 TB the band store is the only state
# (~32 longs per doc), bucket-partitioned on (band, bkey) so the probe
# is a co-located join.
# --------------------------------------------------------------------------
def minhash_band_store(docs: DataFrame,
                       spread_input: bool = True) -> DataFrame:
    """(doc_id, band, bkey) band store for a corpus — the persisted state
    an incremental pipeline maintains (append new batches' bands after
    each ingest).

    ``spread_input=False`` for BATCH-sized inputs (streaming /
    incremental ingest): spread()'s partition probe plans the input and
    the repartition inserts a shuffle that a micro-batch never
    amortizes. A corpus-sized input gets the spine's row-derived
    shuffle sizing (see _shingle_hashes)."""
    shh = _shingle_hashes(docs, spread_input=spread_input)
    return _minhash_bands(shh)[1]


def dedup_incremental(new_docs: DataFrame, corpus_bands: DataFrame,
                      spread_input: bool = True) -> DataFrame:
    """New-batch docs that LSH-collide with the existing corpus.

    Returns (new_doc_id, corpus_doc_id) candidate pairs — the batch's
    bands equi-join the band store; verification (exact Jaccard against
    the matched corpus docs' shingles) proceeds exactly as in
    dedup_minhash_lsh and touches only the matched docs.
    ``spread_input=False`` for micro-batch-sized ``new_docs``.
    """
    new_bands = minhash_band_store(new_docs, spread_input=spread_input)
    return (new_bands.alias("n")
            .join(corpus_bands.alias("c"),
                  (F.col("n.band") == F.col("c.band"))
                  & (F.col("n.bkey") == F.col("c.bkey")))
            .select(F.col("n.doc_id").alias("new_doc_id"),
                    F.col("c.doc_id").alias("corpus_doc_id"))
            .distinct())


def _incremental_matches(new_docs: DataFrame, corpus_bands: DataFrame,
                         docs: DataFrame,
                         spread_input: bool = True) -> DataFrame:
    """Verified (new_doc_id, corpus_doc_id, jaccard) near-dups of
    ``new_docs`` against the band store ``corpus_bands``: probe the
    store (dedup_incremental), then shingle and exact-verify only the
    docs the probe touched, looked up by doc_id in ``docs``."""
    cand = dedup_incremental(new_docs, corpus_bands,
                             spread_input=spread_input)
    touched = (cand.select(F.col("new_doc_id").alias("doc_id"))
                   .unionByName(cand.select(F.col("corpus_doc_id")
                                             .alias("doc_id")))
                   .distinct())
    shh = _shingle_hashes(docs.join(touched, "doc_id", "left_semi"),
                          spread_input=False)
    verified = _verified_jaccard(
        cand.select(F.col("new_doc_id").alias("doc_a"),
                    F.col("corpus_doc_id").alias("doc_b")), shh)
    return (verified.where(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
                    .select(F.col("doc_a").alias("new_doc_id"),
                            F.col("doc_b").alias("corpus_doc_id"), "jaccard"))


# --------------------------------------------------------------------------
# dedup_incremental (registered) — the full ingestion-time pass, end to
# end: corpus docs (doc_id >= INCR_BATCH_MAX_ID) build the band store,
# which round-trips through a parquet sink exactly as a nightly ingest
# would persist it; the arriving batch (doc_id < INCR_BATCH_MAX_ID)
# probes the re-read store; candidate pairs get the exact-Jaccard verify
# — computed ONLY over the batch + matched corpus docs (a semi-join
# reduction), never the whole corpus. Per-batch cost is O(|batch| +
# candidates); the corpus contributes 32 longs per doc of state and is
# never re-shingled.
# --------------------------------------------------------------------------
INCR_BATCH_MAX_ID = 150  # ~10 of the planted near-dup pairs cross this split


@register("dedup_incremental", oracle=f"""
WITH {_sql_shingles()},
{_SQL_MINHASH_BANDS}
cand AS (SELECT DISTINCT nb.doc_id AS new_doc_id, cb.doc_id AS corpus_doc_id
         FROM bands nb JOIN bands cb ON nb.band = cb.band AND nb.bkey = cb.bkey
         WHERE nb.doc_id < {INCR_BATCH_MAX_ID}
           AND cb.doc_id >= {INCR_BATCH_MAX_ID}),
n AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
inter AS (SELECT new_doc_id, corpus_doc_id, count(*) AS inter
          FROM cand
          JOIN shh a ON a.doc_id = new_doc_id
          JOIN shh b ON b.doc_id = corpus_doc_id AND b.h = a.h
          GROUP BY 1, 2)
SELECT new_doc_id, corpus_doc_id,
       ROUND(inter * 1.0 / (na.n + nb.n - inter), 6) AS jaccard
FROM inter
JOIN n na ON na.doc_id = new_doc_id
JOIN n nb ON nb.doc_id = corpus_doc_id
WHERE inter * 1.0 / (na.n + nb.n - inter) >= {JACCARD_THRESHOLD}
""")
def dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from hdfs_with_pyspark_spark.sources.io import write_parquet

    docs = read_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") < INCR_BATCH_MAX_ID)
    corpus = docs.where(F.col("doc_id") >= INCR_BATCH_MAX_ID)

    # Persist + re-read the corpus band store through the parquet sink —
    # the state a real incremental pipeline maintains between ingests.
    # Keyed on a hash of the ABSOLUTE sf_dir (not its basename): two
    # corpora at .../a/sf0.01 and .../b/sf0.01 must not collide on one
    # store path. Lives in the session-scoped scratch dir
    # ($SPARK_GRAFT_SCRATCH_DIR or tmpdir/appId — never the launch cwd);
    # a production ingest passes its own durable store path to
    # minhash_band_store directly.
    import hashlib

    from hdfs_with_pyspark_spark.session import scratch_dir
    sf_key = hashlib.md5(
        os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    store_path = scratch_dir(spark, f"band_store_{sf_key}")
    write_parquet(minhash_band_store(corpus), store_path)
    store = spark.read.parquet(store_path)

    return _incremental_matches(batch, store, docs)


# --------------------------------------------------------------------------
# corpus_decontaminate — benchmark decontamination: flag training docs
# that share any shingle with a held-out eval set (the step that keeps
# test questions out of a training corpus). The eval split here is the
# deterministic doc_id % DECONTAM_FOLD == DECONTAM_EVAL stand-in; in
# production it's the benchmark suite itself — a FEW MB against a 100 TB
# corpus, which fixes the plan shape: the eval n-gram set BROADCASTS and
# the corpus-side probe is a map-side hash join. The corpus is never
# shuffled on content — only matched (doc_id, h) rows (a tiny fraction)
# reach the per-doc overlap count, and the final left join attaches
# zero-counts. 3-gram shingles reuse the dedup spine; real
# decontamination uses 8-13 grams — SHINGLE_N is the knob, the shape is
# identical.
# --------------------------------------------------------------------------
DECONTAM_FOLD = 25
DECONTAM_EVAL = 7   # doc_id % FOLD == EVAL is the "benchmark" split


@register("corpus_decontaminate", oracle=f"""
WITH {_sql_shingles()},
ev AS (SELECT DISTINCT h FROM shh WHERE doc_id % {DECONTAM_FOLD} = {DECONTAM_EVAL}),
tr AS (SELECT doc_id FROM documents WHERE doc_id % {DECONTAM_FOLD} <> {DECONTAM_EVAL}),
ov AS (SELECT s.doc_id, count(*) AS n
       FROM shh s JOIN ev USING (h)
       WHERE s.doc_id % {DECONTAM_FOLD} <> {DECONTAM_EVAL}
       GROUP BY s.doc_id)
SELECT tr.doc_id,
       CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_shared_shingles,
       COALESCE(ov.n, 0) >= 1 AS is_contaminated
FROM tr LEFT JOIN ov USING (doc_id)
""")
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % DECONTAM_FOLD) == DECONTAM_EVAL
    shh = _shingle_hashes(docs)
    eval_h = shh.where(is_eval).select("h").distinct()
    overlap = (shh.where(~is_eval)
                  .join(F.broadcast(eval_h), "h")
                  .groupBy("doc_id")
                  .agg(F.count("*").alias("n_shared_shingles")))
    return (docs.where(~is_eval).select("doc_id")
                .join(overlap, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("n_shared_shingles", F.lit(0))
                         .cast("long").alias("n_shared_shingles"),
                        (F.coalesce("n_shared_shingles", F.lit(0)) >= 1)
                         .alias("is_contaminated")))


# --------------------------------------------------------------------------
# corpus_pipeline_funnel — the capstone composition: the full
# pretraining-curation pipeline run end to end as ONE registered query,
# reporting the survivor count after each stage (the funnel chart every
# data-curation run produces):
#
#   raw -> quality filter (C4/Gopher verdict) -> decontamination
#       (eval split + shingle-overlap docs leave) -> exact dedup
#       (md5 canon reps) -> near-dedup (MinHash-LSH verified pairs,
#       higher doc_id of each pair dropped)
#
# Each stage is the ALREADY-REGISTERED operator — this query only chains
# their doc_id sets with semi/anti joins, so the funnel is correct by
# composition, and its oracle composes the same four oracle SQL texts as
# derived tables (like ann_lsh_recall_eval). Expect the decontamination
# stage to bite hard on this corpus (438 -> 77 at sf0.01): the 3-gram
# stand-in shingle (SHINGLE_N) over-flags relative to the 8-13-gram
# n-grams real decontamination uses — the documented property of
# corpus_decontaminate, surfaced honestly by the funnel. At 100 TB the stage order
# is the cost order: the map-only quality verdict first, the broadcast
# decontamination probe second, and the shuffling dedups run only on the
# (much smaller) survivor sets in a real pipeline — here each component
# recomputes from the corpus because each is independently oracle-gated;
# scripts/run_marts.py-style orchestration (pipeline/dag.py) is where
# the staged materialization lives.
# --------------------------------------------------------------------------
def _funnel_oracle() -> str:
    return f"""
WITH s1 AS (SELECT q.doc_id FROM ({ORACLES["corpus_quality_filter"]}) q
            WHERE q.keep),
s2 AS (SELECT s1.doc_id FROM s1
       JOIN ({ORACLES["corpus_decontaminate"]}) dec ON dec.doc_id = s1.doc_id
       WHERE NOT dec.is_contaminated),
s3 AS (SELECT s2.doc_id FROM s2
       JOIN ({ORACLES["dedup_exact"]}) de ON de.doc_id = s2.doc_id
       WHERE NOT de.is_dup),
s4 AS (SELECT doc_id FROM s3
       WHERE doc_id NOT IN (SELECT doc_b
                            FROM ({ORACLES["dedup_minhash_lsh"]}) mh))
SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
UNION ALL SELECT 1, 'quality', CAST(COUNT(*) AS BIGINT) FROM s1
UNION ALL SELECT 2, 'decontaminated', CAST(COUNT(*) AS BIGINT) FROM s2
UNION ALL SELECT 3, 'exact_dedup', CAST(COUNT(*) AS BIGINT) FROM s3
UNION ALL SELECT 4, 'near_dedup', CAST(COUNT(*) AS BIGINT) FROM s4
"""


@register("corpus_pipeline_funnel", oracle=_funnel_oracle)
def corpus_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.llm.text import corpus_quality_filter

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    s1 = docs.join(corpus_quality_filter(spark, sf_dir)
                   .where("keep").select("doc_id"), "doc_id", "left_semi")
    s2 = s1.join(corpus_decontaminate(spark, sf_dir)
                 .where(~F.col("is_contaminated")).select("doc_id"),
                 "doc_id", "left_semi")
    s3 = s2.join(dedup_exact(spark, sf_dir)
                 .where(~F.col("is_dup")).select("doc_id"),
                 "doc_id", "left_semi")
    s4 = s3.join(dedup_minhash_lsh(spark, sf_dir)
                 .select(F.col("doc_b").alias("doc_id")).distinct(),
                 "doc_id", "left_anti")
    out = None
    for idx, (name, df) in enumerate(
            [("raw", docs), ("quality", s1), ("decontaminated", s2),
             ("exact_dedup", s3), ("near_dedup", s4)]):
        c = df.agg(F.count("*").cast("long").alias("n_docs")).select(
            F.lit(idx).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"), "n_docs")
        out = c if out is None else out.unionByName(c)
    return out


# --------------------------------------------------------------------------
# dedup_lsh_recall_eval — evaluation-as-a-query for the NEAR-DUP path:
# how much of the exact-Jaccard truth (dedup_ngram_jaccard) does the
# banded MinHash pipeline (dedup_minhash_lsh) recover? The number that
# justifies the banding parameters (32 hashes x 8 bands here) before a
# 100 TB run — computed by joining the two REGISTERED queries' outputs,
# with the oracle composing their SQL texts, so the metric itself is
# oracle-checked (same contract as ann_lsh_recall_eval). Precision is
# reported too and is 1 by construction (the LSH path exact-verifies
# its candidates at the same threshold) — the eval would catch a
# regression that broke the verify step.
# --------------------------------------------------------------------------
def _dedup_recall_oracle() -> str:
    return f"""
WITH exact AS ({ORACLES["dedup_ngram_jaccard"]}),
lsh AS ({ORACLES["dedup_minhash_lsh"]})
SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact_pairs,
       CAST((SELECT COUNT(*) FROM lsh) AS BIGINT)   AS n_lsh_pairs,
       CAST(COUNT(*) AS BIGINT)                     AS n_hit,
       ROUND(COUNT(*) * 1.0 /
             (SELECT COUNT(*) FROM exact), 4)       AS recall,
       ROUND(COUNT(*) * 1.0 /
             (SELECT COUNT(*) FROM lsh), 4)         AS precision
FROM exact e JOIN lsh l
  ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b
"""


@register("dedup_lsh_recall_eval", oracle=_dedup_recall_oracle)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE shingle spine feeds both pipelines, and each pipeline's pair
    # output (near-dup-sized) is pinned because it is consumed twice
    # (its own count + the hit join) — unpinned, each full pipeline ran
    # twice and the spine materialized twice.
    exact = _pinned_jaccard_pairs(spark, sf_dir)
    lsh = state.pinned(spark, ("dedup_lsh_recall_eval:lsh", sf_dir),
                       lambda: _minhash_lsh_pairs(spark, sf_dir)
                       .select("doc_a", "doc_b"))
    n_exact = exact.agg(F.count("*").cast("long").alias("n_exact_pairs"))
    n_lsh = lsh.agg(F.count("*").cast("long").alias("n_lsh_pairs"))
    n_hit = (exact.join(lsh, ["doc_a", "doc_b"])
                  .agg(F.count("*").cast("long").alias("n_hit")))
    return (n_exact.crossJoin(n_lsh).crossJoin(n_hit)  # three 1-row frames
            .select("n_exact_pairs", "n_lsh_pairs", "n_hit",
                    F.round(F.col("n_hit") / F.col("n_exact_pairs"), 4)
                     .alias("recall"),
                    F.round(F.col("n_hit") / F.col("n_lsh_pairs"), 4)
                     .alias("precision")))


# --------------------------------------------------------------------------
# dedup_cluster_histogram — the dedup REPORT: distribution of near-dup
# cluster sizes (how many pairs/triples/large templated families the
# corpus carries), singletons included. This is the number a data lead
# reads to decide whether near-dup removal is worth a full pass — and
# the regression signal when a pipeline change suddenly merges half the
# corpus into one cluster. Composes the registered dedup_components
# (its oracle SQL is reused verbatim, so the histogram itself is
# oracle-checked end to end).
#
# Scale: the component frame is |clustered docs| rows (already the
# output of the bounded label propagation); the histogram is two
# tiny aggregates over it plus one corpus COUNT for the singleton row.
# --------------------------------------------------------------------------
def _cluster_histogram_oracle() -> str:
    return f"""
WITH comp AS ({ORACLES["dedup_components"]}),
agg AS (
  SELECT cluster_size,
         CAST(COUNT(DISTINCT component_id) AS BIGINT) AS n_clusters,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM comp GROUP BY cluster_size)
SELECT cluster_size, n_clusters, n_docs FROM agg
UNION ALL
SELECT CAST(1 AS BIGINT),
       CAST((SELECT COUNT(*) FROM documents)
            - (SELECT COUNT(*) FROM comp) AS BIGINT),
       CAST((SELECT COUNT(*) FROM documents)
            - (SELECT COUNT(*) FROM comp) AS BIGINT)
"""


@register("dedup_cluster_histogram", oracle=_cluster_histogram_oracle)
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = dedup_components(spark, sf_dir)
    agg = (comp.groupBy("cluster_size")
               .agg(F.count_distinct("component_id").cast("long")
                     .alias("n_clusters"),
                    F.count("*").cast("long").alias("n_docs")))
    n_total = read_table(spark, sf_dir, "documents").count()
    n_clustered = comp.count()
    singles = local_frame(
        spark, [(1, n_total - n_clustered, n_total - n_clustered)],
        "cluster_size long, n_clusters long, n_docs long")
    return agg.unionByName(singles)


# --------------------------------------------------------------------------
# contrastive_negatives — near-dup-SAFE negative sampling for
# contrastive / embedding training: every document draws K
# content-stable pseudo-random partners (md5(doc_id:i) mod corpus
# size — no RNG, partition-invariant, resumable), and a draw is kept
# only if the partner is neither the doc itself nor a member of the
# SAME near-dup cluster (dedup_components) — the false-negative guard:
# training against your own near-duplicate as a "negative" actively
# corrupts a contrastive objective. Downstream collators consume
# (doc_id, neg_rank, neg_doc_id) directly.
#
# Scale: the draw is a K-struct explode (map-side); the cluster guard
# is two equi-joins against the component table, which holds only
# CLUSTERED docs (a small fraction of the corpus). The oracle composes
# dedup_components' SQL, so the guard itself is oracle-proven.
# --------------------------------------------------------------------------
CONTRASTIVE_K = 4


def _contrastive_negatives_oracle() -> str:
    return f"""
WITH comp AS ({ORACLES["dedup_components"]}),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
draws AS (
  SELECT d.doc_id, i.i AS neg_rank,
         CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':'
                                  || CAST(i.i AS VARCHAR)), 1, 15))
              AS BIGINT) % (SELECT n_docs FROM n) AS neg_doc_id
  FROM documents d
  CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, {CONTRASTIVE_K})) AS i) i)
SELECT dr.doc_id, CAST(dr.neg_rank AS BIGINT) AS neg_rank, dr.neg_doc_id
FROM draws dr
LEFT JOIN comp ca ON ca.doc_id = dr.doc_id
LEFT JOIN comp cb ON cb.doc_id = dr.neg_doc_id
WHERE dr.neg_doc_id <> dr.doc_id
  AND (ca.component_id IS NULL OR cb.component_id IS NULL
       OR ca.component_id <> cb.component_id)
"""


@register("contrastive_negatives", oracle=_contrastive_negatives_oracle)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg(F.count("*").alias("n_docs"))
    comp = dedup_components(spark, sf_dir).select("doc_id", "component_id")
    draws = []
    for i in range(1, CONTRASTIVE_K + 1):
        neg = (hash64(F.concat(F.col("doc_id").cast("string"),
                               F.lit(":"), F.lit(str(i))))
               % F.col("n_docs"))
        draws.append(F.struct(F.lit(i).cast("long").alias("neg_rank"),
                              neg.alias("neg_doc_id")))
    exploded = (docs.crossJoin(F.broadcast(n))
                    .select("doc_id", F.explode(F.array(*draws)).alias("x"))
                    .select("doc_id", "x.neg_rank", "x.neg_doc_id"))
    ca = comp.select(F.col("doc_id"),
                     F.col("component_id").alias("__ca"))
    cb = comp.select(F.col("doc_id").alias("neg_doc_id"),
                     F.col("component_id").alias("__cb"))
    return (exploded.where(F.col("neg_doc_id") != F.col("doc_id"))
                    .join(ca, "doc_id", "left")
                    .join(cb, "neg_doc_id", "left")
                    .where(F.col("__ca").isNull() | F.col("__cb").isNull()
                           | (F.col("__ca") != F.col("__cb")))
                    .select("doc_id", "neg_rank", "neg_doc_id"))


# --------------------------------------------------------------------------
# dedup_canonical_docs — the KEEP decision a dedup pipeline actually
# ships: within every near-dup cluster (dedup_components), the survivor
# is the HIGHEST-QUALITY member (text_quality_score; doc_id breaks
# exact ties), not the arbitrary min-id — discarding a clean page in
# favor of its boilerplate-ridden twin is the classic naive-dedup
# regression. One row per cluster: the canonical doc, its quality, and
# the cluster size.
#
# Scale: the component frame holds only CLUSTERED docs (a small
# fraction of the corpus), so the per-doc quality stream broadcast-
# joins against it and the argmax window runs over |clustered| rows —
# the corpus itself contributes one map-side quality projection and
# never shuffles. The oracle composes both queries' SQL, so the
# survivor rule itself is oracle-proven.
# --------------------------------------------------------------------------
def _canonical_docs_oracle() -> str:
    return f"""
WITH comp AS ({ORACLES["dedup_components"]}),
q AS ({ORACLES["text_quality_score"]}),
ranked AS (
  SELECT c.component_id, c.doc_id, c.cluster_size, q.quality_score,
         ROW_NUMBER() OVER (PARTITION BY c.component_id
                            ORDER BY q.quality_score DESC, c.doc_id ASC)
           AS rn
  FROM comp c JOIN q ON q.doc_id = c.doc_id)
SELECT component_id,
       doc_id AS canonical_doc_id,
       quality_score AS canonical_quality,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rn = 1
"""


@register("dedup_canonical_docs", oracle=_canonical_docs_oracle)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.llm.text import text_quality_score

    comp = dedup_components(spark, sf_dir)
    q = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    w = (Window.partitionBy("component_id")
               .orderBy(F.col("quality_score").desc(), F.col("doc_id").asc()))
    return (comp.join(q, "doc_id")
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("component_id",
                        F.col("doc_id").alias("canonical_doc_id"),
                        F.col("quality_score").alias("canonical_quality"),
                        F.col("cluster_size").cast("long")
                         .alias("cluster_size")))


# --------------------------------------------------------------------------
# corpus_ngram_novelty — per-document novelty: the fraction of a doc's
# distinct word-3-grams whose FIRST corpus occurrence (min doc_id) is
# this doc. The corpus-saturation curve data teams watch while scaling
# a crawl: novelty collapsing toward 0 means new data is re-treading
# old shingles and the marginal epoch is mostly duplicate n-grams.
#
# Scale: reuses the dedup shingle spine (distinct (doc_id, h), one
# shuffle); first-seen is a min-over-h aggregate whose partial combines
# map-side; the novelty ratio re-aggregates per doc. Two shuffles
# total, both on narrow (id, hash) pairs.
# --------------------------------------------------------------------------
@register("corpus_ngram_novelty", oracle=f"""
WITH {_sql_shingles()},
first_seen AS (SELECT h, MIN(doc_id) AS first_doc FROM shh GROUP BY h)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       ROUND(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 4) AS novelty_frac
FROM shh s JOIN first_seen f USING (h)
GROUP BY s.doc_id
""")
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    shh = _pinned_spine(spark, sf_dir)
    first_seen = shh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (shh.join(first_seen, "h")
               .groupBy("doc_id")
               .agg(F.count("*").cast("long").alias("n_shingles"),
                    F.sum(novel).cast("long").alias("n_novel"),
                    F.round(F.sum(novel) / F.count("*"), 4)
                     .alias("novelty_frac")))


# --------------------------------------------------------------------------
# leakage_safe_splits — train/val/test assignment that cannot leak
# near-duplicates across splits: the hash bucket is keyed on the
# near-dup CLUSTER id (dedup_components; unclustered docs key on their
# own doc_id), so every member of a cluster co-travels into the same
# split. Hash-splitting on raw doc_id (corpus_splits) is stable but
# leaks: a train doc's near-twin lands in test with probability
# ~(1 - split_frac), silently inflating eval numbers — the known
# contamination-via-dedup-miss failure mode.
#
# Scale: the component frame holds only clustered docs, so the corpus
# left-joins a small broadcast side; the split expression is map-side.
# The oracle composes dedup_components' SQL, so the co-travel guarantee
# is itself oracle-proven.
# --------------------------------------------------------------------------
def _leakage_safe_splits_oracle() -> str:
    return f"""
WITH comp AS ({ORACLES["dedup_components"]}),
b AS (
  SELECT d.doc_id,
         COALESCE(c.component_id, d.doc_id) AS split_key,
         CASE WHEN c.component_id IS NULL THEN 0 ELSE 1 END AS is_clustered,
         ('0x' || substr(md5(CAST(COALESCE(c.component_id, d.doc_id)
                                  AS VARCHAR)), 1, 15))::BIGINT % 100
           AS bucket
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
SELECT doc_id,
       CASE WHEN bucket < {SPLIT_TRAIN} THEN 'train'
            WHEN bucket < {SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split,
       CAST(is_clustered AS INT) AS is_clustered
FROM b
"""


@register("leakage_safe_splits", oracle=_leakage_safe_splits_oracle)
def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    comp = dedup_components(spark, sf_dir).select("doc_id", "component_id")
    key = F.coalesce(F.col("component_id"), F.col("doc_id"))
    bucket = hash64(key.cast("string")) % 100
    split = (F.when(bucket < SPLIT_TRAIN, "train")
              .when(bucket < SPLIT_VAL, "val")
              .otherwise("test"))
    return (docs.join(comp, "doc_id", "left")
                .select("doc_id", split.alias("split"),
                        F.when(F.col("component_id").isNull(), 0)
                         .otherwise(1).cast("int").alias("is_clustered")))


# --------------------------------------------------------------------------
# minhash_estimate_error_audit — accuracy-of-the-sketch eval for the
# MinHash path (the dedup analogue of ann_*_recall_eval's candidate-axis
# measurements): for every banded candidate pair, the signature-estimated
# Jaccard (fraction of the K=32 minhash positions that agree) against
# the exact shingle Jaccard, both as integer ppm. The per-pair error is
# what justifies K before a 100 TB run — theory says the estimate's
# std dev is sqrt(J(1-J)/K) ~ 0.07 at J=0.8, and this query MEASURES it
# on real candidates instead of asserting it.
#
# Determinism: minhash params are fixed module constants embedded
# verbatim in the oracle (same candidate set by construction); match
# counts and intersections are exact integers; both ppm values are
# integer floor divisions.
#
# 100 TB shape: reuses dedup_minhash_lsh's exact pipeline (one shingle
# shuffle, one signature aggregate, banded candidates); the match-count
# join touches candidates x K signature columns (wide row, no explode)
# and the exact-Jaccard verify is |candidates| x doc-length — never
# corpus^2.
# --------------------------------------------------------------------------
MINHASH_K = MINHASH_BANDS * MINHASH_ROWS


@register("minhash_estimate_error_audit", oracle=f"""
WITH {_sql_shingles()},
{_SQL_MINHASH_BANDS}
{_SQL_CAND}
est AS (SELECT c.doc_a, c.doc_b,
               SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS n_match
        FROM cand c
        JOIN mh ma ON ma.doc_id = c.doc_a
        JOIN mh mb ON mb.doc_id = c.doc_b AND mb.j = ma.j
        GROUP BY 1, 2),
n AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
inter AS (SELECT doc_a, doc_b, count(*) AS inter
          FROM cand
          JOIN shh a ON a.doc_id = doc_a
          JOIN shh b ON b.doc_id = doc_b AND b.h = a.h
          GROUP BY 1, 2)
SELECT e.doc_a, e.doc_b,
       CAST((1000000 * e.n_match) // {MINHASH_K} AS BIGINT) AS est_ppm,
       CAST((1000000 * i.inter) // (na.n + nb.n - i.inter) AS BIGINT)
         AS exact_ppm,
       CAST(ABS((1000000 * e.n_match) // {MINHASH_K}
                - (1000000 * i.inter) // (na.n + nb.n - i.inter))
            AS BIGINT) AS abs_err_ppm
FROM est e
JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
JOIN n na ON na.doc_id = e.doc_a
JOIN n nb ON nb.doc_id = e.doc_b
""")
def minhash_estimate_error_audit(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    # The shared spine, signatures and candidates: sig feeds both sides
    # of the match-count join, cand both the match count (est) and the
    # exact verify.
    shh, sig, cand = _corpus_minhash(spark, sf_dir)
    # Signature match count over the WIDE sig row (no j-explode): one
    # codegen'd sum of K equality terms per candidate pair.
    a_sig = sig.select(F.col("doc_id").alias("doc_a"),
                       *[F.col(f"mh{j}").alias(f"a{j}")
                         for j in range(MINHASH_K)])
    b_sig = sig.select(F.col("doc_id").alias("doc_b"),
                       *[F.col(f"mh{j}").alias(f"b{j}")
                         for j in range(MINHASH_K)])
    n_match = None
    for j in range(MINHASH_K):
        term = F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        n_match = term if n_match is None else n_match + term
    est = (cand.join(a_sig, "doc_a").join(b_sig, "doc_b")
               .select("doc_a", "doc_b", n_match.alias("n_match")))
    # Exact intersection/union in INTEGERS (not _verified_jaccard's
    # double ratio): both ppm values must be exact floor divisions so
    # the error column is bit-identical to the oracle's.
    est_ppm = F.expr(f"(1000000 * n_match) div {MINHASH_K}")
    exact_ppm = F.expr("(1000000 * inter) div (na + nb - inter)")
    return (_overlap(est, shh)
               .select("doc_a", "doc_b",
                       est_ppm.cast("long").alias("est_ppm"),
                       exact_ppm.cast("long").alias("exact_ppm"),
                       F.abs(est_ppm - exact_ppm).cast("long")
                        .alias("abs_err_ppm")))


# --------------------------------------------------------------------------
# dedup_cross_source_matrix — duplicate-flow provenance: for every pair
# of sources (diagonal included), how many near-dup clusters contain
# docs from BOTH — the curation-governance readout that tells a data
# lead which feeds mirror which (the CommonCrawl-vs-C4-overlap
# question) before deciding what to drop, and the diagonal shows each
# source's internal templating. Composes the registered
# dedup_components, so the matrix itself is oracle-proven end to end.
#
# 100 TB shape: the component frame holds clustered docs only; the
# distinct (component, source) frame is strictly smaller; the self-join
# keys on component_id and is bounded by sources-per-cluster^2 per
# cluster (sources number in the dozens, not millions). Nothing here
# re-touches the corpus.
# --------------------------------------------------------------------------
def _cross_source_matrix_oracle() -> str:
    return f"""
WITH comp AS ({ORACLES["dedup_components"]}),
cs AS (SELECT DISTINCT c.component_id, d.source
       FROM comp c JOIN documents d USING (doc_id))
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_clusters
FROM cs a JOIN cs b
  ON a.component_id = b.component_id AND a.source <= b.source
GROUP BY 1, 2
"""


@register("dedup_cross_source_matrix", oracle=_cross_source_matrix_oracle)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        comp = dedup_components(spark, sf_dir).select("doc_id",
                                                      "component_id")
        src = read_table(spark, sf_dir, "documents").select("doc_id",
                                                            "source")
        return (comp.join(src, "doc_id")
                    .select("component_id", "source")
                    .distinct())
    cs = state.pinned(spark, ("dedup_cross_source_matrix:cs", sf_dir), build)
    a = cs.select("component_id", F.col("source").alias("source_a"))
    b = cs.select("component_id", F.col("source").alias("source_b"))
    return (a.join(b, "component_id")
             .where(F.col("source_a") <= F.col("source_b"))
             .groupBy("source_a", "source_b")
             .agg(F.count("*").cast("long").alias("n_shared_clusters")))


# --------------------------------------------------------------------------
# dedup_threshold_sweep — the threshold tuning curve: for each candidate
# Jaccard cutoff, how many banded near-dup pairs survive and how many
# docs would be dropped under the min-id-survivor rule. ONE candidate
# generation + ONE exact verify feeds every threshold (the sweep is a
# conditional aggregate over the verified pair set), so choosing a
# cutoff costs the same as evaluating one — the decision-support query a
# data lead runs before committing a 100 TB dedup pass to a number.
#
# Determinism: thresholds are fixed ppm integers; the verified Jaccard
# compares as an exact integer ppm floor division; zero-pair thresholds
# keep their row — the aggregate LEFT-JOINS back onto the threshold
# spine with 0/0 fills, so the sweep emits |thresholds| rows even when
# the banded candidate set is empty (an empty corpus or a band scheme
# that produces no collisions), in both engines.
#
# 100 TB shape: identical to dedup_minhash_lsh up through the verify;
# the sweep itself touches |candidates| x |thresholds| conditional
# terms map-side and aggregates to |thresholds| rows.
# --------------------------------------------------------------------------
SWEEP_THRESHOLDS_PPM = (500000, 600000, 700000, 800000, 900000, 950000)

_SQL_SWEEP_T = ", ".join(f"({t})" for t in SWEEP_THRESHOLDS_PPM)


@register("dedup_threshold_sweep", oracle=f"""
WITH {_sql_shingles()},
{_SQL_MINHASH_BANDS}
{_SQL_CAND}
n AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
jac AS (SELECT c.doc_a, c.doc_b,
               (1000000 * i.inter) // (na.n + nb.n - i.inter) AS j_ppm
        FROM cand c
        JOIN (SELECT doc_a, doc_b, count(*) AS inter
              FROM cand
              JOIN shh a ON a.doc_id = doc_a
              JOIN shh b ON b.doc_id = doc_b AND b.h = a.h
              GROUP BY 1, 2) i
          ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN n na ON na.doc_id = c.doc_a
        JOIN n nb ON nb.doc_id = c.doc_b),
thr(threshold_ppm) AS (VALUES {_SQL_SWEEP_T}),
agg AS (
  SELECT thr.threshold_ppm,
         SUM(CASE WHEN j.j_ppm >= thr.threshold_ppm THEN 1 ELSE 0 END)
           AS n_pairs,
         COUNT(DISTINCT CASE WHEN j.j_ppm >= thr.threshold_ppm
                             THEN j.doc_b END) AS n_dup_docs
  FROM thr CROSS JOIN jac j
  GROUP BY thr.threshold_ppm)
SELECT CAST(thr.threshold_ppm AS BIGINT) AS threshold_ppm,
       CAST(COALESCE(a.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(a.n_dup_docs, 0) AS BIGINT) AS n_dup_docs
FROM thr LEFT JOIN agg a ON a.threshold_ppm = thr.threshold_ppm
""")
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    shh, _, cand = _corpus_minhash(spark, sf_dir)
    jac = _overlap(cand, shh).select(
        "doc_a", "doc_b",
        F.expr("(1000000 * inter) div (na + nb - inter)").alias("j_ppm"))
    t = local_frame(spark, [(t,) for t in SWEEP_THRESHOLDS_PPM],
                    "threshold_ppm long")
    hit = F.col("j_ppm") >= F.col("threshold_ppm")
    agg = (F.broadcast(t).crossJoin(jac)
            .groupBy("threshold_ppm")
            .agg(F.sum(F.when(hit, 1).otherwise(0)).cast("long")
                  .alias("p"),
                 F.countDistinct(F.when(hit, F.col("doc_b")))
                  .cast("long").alias("d")))
    return (t.join(agg, "threshold_ppm", "left")
             .select("threshold_ppm",
                     F.coalesce("p", F.lit(0)).cast("long")
                      .alias("n_pairs"),
                     F.coalesce("d", F.lit(0)).cast("long")
                      .alias("n_dup_docs")))


# --------------------------------------------------------------------------
# dedup_containment — ASYMMETRIC near-dup: containment C(A, B) =
# |A ∩ B| / |A| over the 3-gram shingle sets, catching the
# doc-inside-doc cases Jaccard structurally misses (a quoted article, a
# README pasted into a larger page: inter/union is small when the
# container is long, but inter/|contained| is ~1). The pair orients
# (contained_doc, container_doc) by the smaller shingle set (doc_id
# tie-break) and thresholds on the contained side's coverage — the
# signal that drives "drop the quote, keep the source" curation, the
# third dedup geometry after symmetric Jaccard and span-level overlap.
#
# Determinism: set sizes and intersections are exact integers over the
# capped shingle universe (same SHINGLE_DF_CAP hot-shingle mitigation,
# applied identically in both engines); the orientation rule is a total
# order; the output rounds the exact ratio to 6.
#
# 100 TB shape: the same bounded inverted-index co-occurrence join as
# dedup_ngram_jaccard_capped (per-key fan-out bounded by df_cap^2);
# nothing new shuffles.
# --------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.9


@register("dedup_containment", oracle=f"""
WITH {_sql_shingles()},
hot AS (SELECT h FROM shh GROUP BY h HAVING count(*) > {SHINGLE_DF_CAP}),
shc AS (SELECT doc_id, h FROM shh WHERE h NOT IN (SELECT h FROM hot)),
n AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
j AS (
  SELECT co.doc_a, co.doc_b, co.inter, na.n AS na, nb.n AS nb
  FROM co
  JOIN n na ON na.doc_id = co.doc_a
  JOIN n nb ON nb.doc_id = co.doc_b)
SELECT CASE WHEN na < nb OR (na = nb AND doc_a < doc_b)
            THEN doc_a ELSE doc_b END AS contained_doc,
       CASE WHEN na < nb OR (na = nb AND doc_a < doc_b)
            THEN doc_b ELSE doc_a END AS container_doc,
       ROUND(inter * 1.0 / LEAST(na, nb), 6) AS containment
FROM j
WHERE inter * 1.0 / LEAST(na, nb) >= {CONTAINMENT_THRESHOLD}
""")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    shh = _pinned_spine(spark, sf_dir)
    # Same hot-shingle cap discipline as _jaccard_pairs(df_cap=...):
    hot = (shh.groupBy("h").agg(F.count("*").alias("df"))
              .where(F.col("df") > SHINGLE_DF_CAP).select("h"))
    hot_hashes = [r["h"] for r in hot.limit(10_001).collect()]
    shc = shh
    if len(hot_hashes) <= 10_000:
        if hot_hashes:
            shc = shh.where(~F.col("h").isin(hot_hashes))
    else:
        shc = shh.join(hot, "h", "left_anti")
    counts = shc.groupBy("doc_id").agg(F.count("*").alias("n"))
    co = (shc.alias("a")
             .join(shc.alias("b"),
                   (F.col("a.h") == F.col("b.h"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("inter")))
    j = (co.join(counts.select(F.col("doc_id").alias("doc_a"),
                               F.col("n").alias("na")), "doc_a")
           .join(counts.select(F.col("doc_id").alias("doc_b"),
                               F.col("n").alias("nb")), "doc_b"))
    a_contained = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("doc_a") < F.col("doc_b")))
    raw = F.col("inter") / F.least("na", "nb")
    return (j.where(raw >= CONTAINMENT_THRESHOLD)
             .select(F.when(a_contained, F.col("doc_a"))
                      .otherwise(F.col("doc_b")).alias("contained_doc"),
                     F.when(a_contained, F.col("doc_b"))
                      .otherwise(F.col("doc_a")).alias("container_doc"),
                     F.round(raw, 6).alias("containment")))


# --------------------------------------------------------------------------
# dedup_lsh_param_planner — the TUNING query behind dedup_minhash_lsh's
# "8 bands x 4 rows" constants: for every (bands, rows) factorization of
# the 32-hash signature budget, evaluate the LSH S-curve
# P(candidate | jaccard j) = 1 - (1 - j^rows)^bands on (a) the dedup
# threshold and (b) the corpus's OWN observed near-dup pairs (the exact
# inverted-index truth set), yielding the expected recall each geometry
# would deliver HERE — plus the j at which detection crosses 50%
# (closed form (1 - 0.5^(1/bands))^(1/rows)). This is the number a data
# lead reads before re-banding a 100 TB run: more bands = higher recall
# but bands x the band-bucket rows shuffled, and the planner quantifies
# the recall side of that trade on real data instead of folklore.
#
# Determinism: every probability is snapped to an exact e6 integer
# (ROUND(p * 1e6)); libm pow() divergence between JVM and DuckDB is
# <= a few ulp (relative ~1e-16), ~9 orders inside the 5e-7 snap guard
# band (the repo-wide snap discipline). Expected recall is an integer
# division of exact integer sums.
#
# 100 TB shape: the truth set is the near-dup pair frame (<< corpus);
# the grid is 6 literal rows broadcast into a crossJoin; the aggregate
# groups by 6 keys. At real scale you'd feed a SAMPLED pair set —
# the math is per-pair, so the plan is unchanged.
# --------------------------------------------------------------------------
# Derived from the production signature budget (ADVICE r9): every
# (bands, rows) factorization of k = MINHASH_BANDS * MINHASH_ROWS hashes,
# so re-sizing the budget re-sizes the grid the planner evaluates.
_LSH_SIGNATURE_BUDGET = MINHASH_BANDS * MINHASH_ROWS
assert _LSH_SIGNATURE_BUDGET == len(MINHASH_PARAMS), \
    "MINHASH_PARAMS must supply exactly bands*rows hash functions"
LSH_PLANNER_GRID = [(b, _LSH_SIGNATURE_BUDGET // b)
                    for b in range(_LSH_SIGNATURE_BUDGET, 0, -1)
                    if _LSH_SIGNATURE_BUDGET % b == 0]


def _lsh_planner_oracle() -> str:
    grid = ", ".join(f"({b}, {r})" for b, r in LSH_PLANNER_GRID)

    def p_e6(j: str, b: str, r: str) -> str:
        return (f"CAST(ROUND((1.0 - POWER(1.0 - POWER({j}, {r}), {b}))"
                " * 1000000) AS BIGINT)")

    return f"""
WITH truth AS ({ORACLES["dedup_ngram_jaccard"]}),
grid(bands, n_rows) AS (VALUES {grid}),
det AS (SELECT g.bands, g.n_rows,
               {p_e6("t.jaccard", "g.bands", "g.n_rows")} AS p_e6
        FROM truth t CROSS JOIN grid g)
SELECT CAST(bands AS BIGINT) AS bands,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(p_e6) // COUNT(*) AS BIGINT) AS expected_recall_ppm,
       {p_e6(str(JACCARD_THRESHOLD), "bands", "n_rows")}
         AS p_at_threshold_e6,
       CAST(ROUND(POWER(1.0 - POWER(0.5, 1.0 / bands), 1.0 / n_rows)
                  * 1000000) AS BIGINT) AS j_half_e6
FROM det
GROUP BY bands, n_rows
"""


@register("dedup_lsh_param_planner", oracle=_lsh_planner_oracle)
def dedup_lsh_param_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = dedup_ngram_jaccard(spark, sf_dir).select("jaccard")
    grid = local_frame(spark, LSH_PLANNER_GRID, "bands long, n_rows long")
    det = (truth.crossJoin(F.broadcast(grid))
                .select("bands", "n_rows",
                        F.round((F.lit(1.0)
                                 - F.pow(F.lit(1.0)
                                         - F.pow("jaccard", F.col("n_rows")),
                                         F.col("bands"))) * F.lit(1e6))
                         .cast("long").alias("p_e6")))
    return (det.groupBy("bands", "n_rows")
               .agg(F.count("*").cast("long").alias("n_pairs"),
                    F.expr("sum(p_e6) div count(*)").cast("long")
                     .alias("expected_recall_ppm"),
                    F.round((F.lit(1.0)
                             - F.pow(F.lit(1.0)
                                     - F.pow(F.lit(JACCARD_THRESHOLD),
                                             F.col("n_rows")),
                                     F.col("bands"))) * F.lit(1e6))
                     .cast("long").alias("p_at_threshold_e6"),
                    F.round(F.pow(F.lit(1.0)
                                  - F.pow(F.lit(0.5),
                                          F.lit(1.0) / F.col("bands")),
                                  F.lit(1.0) / F.col("n_rows"))
                            * F.lit(1e6))
                     .cast("long").alias("j_half_e6")))


