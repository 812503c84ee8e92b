"""Text-analysis operators over the ``documents`` table.

Driver-mandated LLM-pipeline surface (SURVEY.md §0 addendum; the reference
itself has no text ops — its scalar-function inventory stops at geo math,
SURVEY.md §2.8). Four operators: token counting, quality scoring,
language-ID, and document fingerprinting. All pure Column expressions —
JVM-side, whole-stage-codegen, no Python workers — and each has an exact
DuckDB oracle.

Scale notes: every query here is embarrassingly parallel (per-row map +
one final agg at most) — no shuffle except the aggregations' partial/final
exchange, so the shape survives 100 TB unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hdfs_with_pyspark_spark import state
from hdfs_with_pyspark_spark.llm.textops import (
    BPE_REGEX,
    MERSENNE31,
    SPLIT_TRAIN,
    SPLIT_VAL,
    bpe_token_count,
    fold_hash,
    hash31,
    hash64,
    shingles,
    spread,
    tokens,
)
from hdfs_with_pyspark_spark.plans.registry import ORACLES, register
from hdfs_with_pyspark_spark.sources.io import local_frame, read_table

# Function-word markers per language, weighed by plain membership count.
# Deterministic argmax with a fixed priority order on ties. On the synthetic
# corpus (shared English-ish vocab for every lang label) accuracy is chance
# by construction — the operator contract is determinism + plumbing.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "los", "que", "y"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": [],
}

STOPWORDS = ["a", "the", "and", "of", "to", "is"]


def _marker_score(toks, words: list[str]):
    if not words:
        return F.lit(0)
    lit = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(lit, x)))


def _sql_tokens(expr: str = "text") -> str:
    return f"list_filter(string_split({expr}, ' '), x -> x <> '')"


# --------------------------------------------------------------------------
# text_token_stats — whitespace + BPE-ish-regex token counting. The two
# counts diverge exactly on punctuation/digit splits, which is the point.
# --------------------------------------------------------------------------
@register("text_token_stats", oracle=f"""
SELECT doc_id,
       CAST(len({_sql_tokens()}) AS BIGINT)                          AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_REGEX}')) AS BIGINT)  AS n_bpe_tokens,
       ROUND(length(replace(text, ' ', '')) * 1.0
             / GREATEST(len({_sql_tokens()}), 1), 4)                 AS avg_token_len
FROM documents
""")
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_ws_tokens"),
        bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
        F.round(F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
                / F.greatest(F.size(toks), F.lit(1)), 4).alias("avg_token_len"),
    )


# --------------------------------------------------------------------------
# text_quality_score — length / stopword / repetition heuristics composed
# into one score, the standard pretraining-corpus filter shape.
# --------------------------------------------------------------------------
_SQL_STOP = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

@register("text_quality_score", oracle=f"""
WITH t AS (
  SELECT doc_id, lang, {_sql_tokens()} AS toks FROM documents
)
SELECT doc_id, lang,
       ROUND(len(list_filter(toks, x -> list_contains({_SQL_STOP}, x)))
             * 1.0 / GREATEST(len(toks), 1), 4)                      AS stopword_ratio,
       ROUND(len(list_distinct(toks)) * 1.0
             / GREATEST(len(toks), 1), 4)                            AS distinct_ratio,
       ROUND(LEAST(len(toks) / 100.0, 1.0) * 0.5
             + len(list_distinct(toks)) * 1.0
               / GREATEST(len(toks), 1) * 0.5, 4)                    AS quality_score
FROM t
""")
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.greatest(F.size(toks), F.lit(1))
    stop_lit = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_lit, x)))
    n_distinct = F.size(F.array_distinct(toks))
    return docs.select(
        "doc_id", "lang",
        F.round(n_stop / n, 4).alias("stopword_ratio"),
        F.round(n_distinct / n, 4).alias("distinct_ratio"),
        F.round(F.least(F.size(toks) / F.lit(100.0), F.lit(1.0)) * 0.5
                + n_distinct / n * 0.5, 4).alias("quality_score"),
    )


# --------------------------------------------------------------------------
# text_lang_id — marker-token frequency heuristic with a fixed-priority
# deterministic argmax (en > de > es > fr > zh on ties).
# --------------------------------------------------------------------------
_LANG_ORDER = ["en", "de", "es", "fr", "zh"]

def _sql_lang_score(lang: str) -> str:
    words = LANG_MARKERS[lang]
    if not words:
        return "0"
    lit = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter(toks, x -> list_contains({lit}, x)))"

_SQL_SCORES = ",\n       ".join(
    f"{_sql_lang_score(lg)} AS s_{lg}" for lg in _LANG_ORDER)
_SQL_PRED = ("CASE " + " ".join(
    f"WHEN s_{lg} = m THEN '{lg}'" for lg in _LANG_ORDER) + " END")

@register("text_lang_id", oracle=f"""
WITH t AS (SELECT doc_id, lang, {_sql_tokens()} AS toks FROM documents),
s AS (SELECT doc_id, lang,
       {_SQL_SCORES}
      FROM t),
m AS (SELECT *, GREATEST(s_en, s_de, s_es, s_fr, s_zh) AS m FROM s)
SELECT doc_id, {_SQL_PRED} AS pred_lang,
       CAST(({_SQL_PRED}) = lang AS BOOLEAN) AS is_correct
FROM m
""")
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = docs.select(
        "doc_id", "lang",
        *[_marker_score(toks, LANG_MARKERS[lg]).alias(f"s_{lg}")
          for lg in _LANG_ORDER])
    m = F.greatest(*[F.col(f"s_{lg}") for lg in _LANG_ORDER])
    pred = F
    for lg in _LANG_ORDER:
        pred = pred.when(F.col(f"s_{lg}") == m, F.lit(lg))
    return scored.select(
        "doc_id",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("is_correct"),
    )


# --------------------------------------------------------------------------
# text_lang_id_ngram — character-bigram profile scoring, the classic
# n-gram language-ID heuristic: explode the text into overlapping char
# bigrams, join a (bigram, lang, weight) profile table, argmax the summed
# weight per doc. Profiles are compile-time literals (standard
# high-frequency bigrams per language), embedded identically in the
# oracle's VALUES table. Deterministic fixed-priority tiebreak;
# 'und' (undetermined) when nothing matches.
# Scale shape: explode + broadcast-join a ~dozens-row profile dim +
# one groupBy(doc) — linear in corpus bytes, one shuffle on doc_id.
# --------------------------------------------------------------------------
NGRAM_PROFILES: dict[str, dict[str, int]] = {
    "en": {"th": 3, "he": 2, "in": 1, "er": 1, "an": 1, "re": 1, "ng": 2},
    "de": {"en": 2, "er": 2, "ch": 3, "de": 2, "ei": 2, "sc": 2, "un": 1},
    "es": {"de": 2, "en": 1, "qu": 2, "la": 2, "os": 2, "ar": 1, "ci": 2},
    "fr": {"le": 2, "es": 2, "ou": 2, "ai": 2, "on": 2, "eu": 2, "qu": 1},
    "zh": {},
}

_PROFILE_ROWS = [(bg, lg, w)
                 for lg, prof in NGRAM_PROFILES.items()
                 for bg, w in prof.items()]
_SQL_PROFILE = ", ".join(f"('{bg}', '{lg}', {w})" for bg, lg, w in _PROFILE_ROWS)
_SQL_NGRAM_PRED = ("CASE " + " ".join(
    f"WHEN COALESCE(s_{lg}, 0) = m AND m > 0 THEN '{lg}'" for lg in _LANG_ORDER)
    + " ELSE 'und' END")
_SQL_NGRAM_SCORES = ",\n       ".join(
    f"SUM(CASE WHEN p.lang = '{lg}' THEN p.w ELSE 0 END) AS s_{lg}"
    for lg in _LANG_ORDER)

@register("text_lang_id_ngram", oracle=f"""
WITH bigrams AS (
  SELECT doc_id, lang,
         unnest(list_transform(generate_series(1, GREATEST(length(text) - 1, 0)),
                               i -> substr(text, i::INT, 2))) AS bg
  FROM documents),
profile(bg, lang, w) AS (VALUES {_SQL_PROFILE}),
scores AS (
  SELECT b.doc_id, b.lang,
       {_SQL_NGRAM_SCORES}
  FROM bigrams b LEFT JOIN profile p ON p.bg = b.bg
  GROUP BY b.doc_id, b.lang),
m AS (SELECT *, GREATEST(COALESCE(s_en,0), COALESCE(s_de,0), COALESCE(s_es,0),
                         COALESCE(s_fr,0), COALESCE(s_zh,0)) AS m FROM scores)
SELECT doc_id, {_SQL_NGRAM_PRED} AS pred_lang,
       CAST(({_SQL_NGRAM_PRED}) = lang AS BOOLEAN) AS is_correct
FROM m
""")
def text_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    bigrams = docs.select(
        "doc_id", "lang",
        F.explode(F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("text") - 1, F.lit(0))),
            lambda i: F.substring(F.col("text"), i, 2))).alias("bg"))
    profile = local_frame(
        docs.sparkSession, _PROFILE_ROWS, "bg string, plang string, w long")
    scored = (bigrams
              .join(F.broadcast(profile), bigrams["bg"] == profile["bg"], "left")
              .groupBy("doc_id", "lang")
              .agg(*[F.sum(F.when(F.col("plang") == lg, F.col("w")).otherwise(0))
                     .alias(f"s_{lg}") for lg in _LANG_ORDER]))
    m = F.greatest(*[F.coalesce(F.col(f"s_{lg}"), F.lit(0)) for lg in _LANG_ORDER])
    pred = F
    for lg in _LANG_ORDER:
        pred = pred.when((F.coalesce(F.col(f"s_{lg}"), F.lit(0)) == m) & (m > 0),
                         F.lit(lg))
    pred = pred.otherwise(F.lit("und"))
    return scored.select("doc_id", pred.alias("pred_lang"),
                         (pred == F.col("lang")).alias("is_correct"))


# --------------------------------------------------------------------------
# doc_fingerprint — order-sensitive polynomial rolling hash over the token
# stream (token reorder => different fingerprint; the exact-dup primitive
# that, unlike md5(text), survives whitespace normalization).
# --------------------------------------------------------------------------
@register("doc_fingerprint", oracle=f"""
WITH t AS (SELECT doc_id, {_sql_tokens()} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(toks,
             x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {MERSENNE31})),
         (acc, x) -> (acc * 31 + x) % {MERSENNE31})  AS fingerprint
FROM t
""")
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        fold_hash(F.transform(toks, hash31)).alias("fingerprint"),
    )


# --------------------------------------------------------------------------
# term_doc_frequencies — corpus vocabulary statistics: per-token collection
# frequency + document frequency, top-N by df (the vocab-building pass of
# a training-data pipeline). explode -> two-level agg; top-N via a single
# ORDER-BY-LIMIT on the (tiny) aggregated result, with a total order so
# the cut is deterministic.
# --------------------------------------------------------------------------
TOP_TERMS = 20

@register("term_doc_frequencies", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_sql_tokens()}) AS token FROM documents)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS term_freq,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM tok
GROUP BY token
ORDER BY doc_freq DESC, term_freq DESC, token ASC
LIMIT {TOP_TERMS}
""")
def term_doc_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    return (tok.groupBy("token")
               .agg(F.count("*").alias("term_freq"),
                    F.countDistinct("doc_id").alias("doc_freq"))
               .orderBy(F.col("doc_freq").desc(), F.col("term_freq").desc(),
                        F.col("token").asc())
               .limit(TOP_TERMS))


# --------------------------------------------------------------------------
# tfidf_top_terms — per-document top-3 terms by TF-IDF (the keyword /
# topic-signal pass of a training-data pipeline). Three shuffles total at
# any scale: (doc, token) counts; token -> doc_freq (re-aggregation of the
# first — map-side partial); top-k per doc (window over doc_id). The
# corpus size N joins in as a broadcast single-row frame, and doc_freq is
# broadcast onto the per-doc counts (vocabulary << corpus). Score is
# computed identically in both engines: tf * ln(N / df), rounded.
# --------------------------------------------------------------------------
TFIDF_TOP_K = 3

@register("tfidf_top_terms", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_sql_tokens()}) AS term FROM documents),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term),
df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         ROUND(tf.tf * LN(n.n_docs * 1.0 / df.df), 6) AS tfidf,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf * LN(n.n_docs * 1.0 / df.df) DESC,
                                     tf.term ASC) AS rank
  FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, term, tf, tfidf, CAST(rank AS BIGINT) AS rank
FROM scored WHERE rank <= {TFIDF_TOP_K}
""")
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    score = F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("term").asc())
    return (tf.join(F.broadcast(df), "term")
              .join(F.broadcast(n))
              .withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= TFIDF_TOP_K)
              .select("doc_id", "term", "tf",
                      F.round(score, 6).alias("tfidf"),
                      F.col("rank").cast("long").alias("rank")))


# --------------------------------------------------------------------------
# corpus_sample_stratified — reproducible sampling, the curation primitive
# df.sample cannot provide: Spark's sample() draws per-partition, so the
# selected set changes with partitioning/parallelism. Hashing the KEY
# instead (md5 -> bucket in [0,100)) makes the sample a pure function of
# the data — stable across cluster sizes, re-runs, and engines — and
# stratification is just a per-group rate map. Oracle replicates the
# identical hash arithmetic, so the sampled sets match row for row.
# --------------------------------------------------------------------------
SAMPLE_RATES = {"en": 20, "de": 50, "fr": 50}   # percent, by lang
SAMPLE_DEFAULT_RATE = 10

_SQL_RATE = ("CASE lang " +
             " ".join(f"WHEN '{k}' THEN {v}" for k, v in SAMPLE_RATES.items()) +
             f" ELSE {SAMPLE_DEFAULT_RATE} END")


@register("corpus_sample_stratified", oracle=f"""
SELECT doc_id, lang
FROM (SELECT doc_id, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100
               AS bucket
      FROM documents)
WHERE bucket < {_SQL_RATE}
""")
def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
         .cast("long"), F.lit(100))
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for lang, pct in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, pct).otherwise(rate)
    return (docs.withColumn("__bucket", bucket)
                .where(F.col("__bucket") < rate)
                .select("doc_id", "lang"))


# --------------------------------------------------------------------------
# corpus_source_stats — per-(source, lang) corpus health: volume, exact-dup
# rate, and metadata-consistency audit (stored n_chars vs actual text
# length — the standard "trust but verify" check on crawler-provided
# metadata). One hash aggregate; count distinct of the text hash is the
# only extra exchange.
# --------------------------------------------------------------------------
@register("corpus_source_stats", oracle="""
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_chars_mismatches,
       ROUND(AVG(length(text)), 2) AS avg_chars,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups
FROM documents
GROUP BY source, lang
""")
def corpus_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (docs.groupBy("source", "lang")
                .agg(F.count("*").alias("n_docs"),
                     F.sum((F.col("n_chars") != F.length("text")).cast("long"))
                      .alias("n_chars_mismatches"),
                     F.round(F.avg(F.length("text")), 2).alias("avg_chars"),
                     (F.count("*") - F.count_distinct(F.md5("text")))
                      .alias("n_exact_dups")))


# --------------------------------------------------------------------------
# text_normalize — the standard pre-tokenization cleanup stage: lowercase,
# strip non-alphanumerics, collapse runs of whitespace, trim. Pure
# map-side regex work; at 100 TB this fuses into the same scan stage as
# whatever consumes it (zero extra passes).
# --------------------------------------------------------------------------
@register("text_normalize", oracle="""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                           ' +', ' ', 'g')) AS text_clean
FROM documents
""")
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    clean = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " "))
    return docs.select("doc_id", clean.alias("text_clean"))


# --------------------------------------------------------------------------
# doc_chunks — context-window chunking, the step that turns a raw corpus
# into training sequences: each document becomes overlapping windows of
# CHUNK_SIZE whitespace tokens, stepping CHUNK_STRIDE tokens (so
# consecutive chunks share CHUNK_SIZE - CHUNK_STRIDE tokens of context).
# The 1->N fan-out is explode(sequence(...)) + slice + array_join — all
# codegen'd built-ins, zero Python, no shuffle: at 100 TB this is one
# map-side pass that fuses into the scan, and the output is already
# the right grain for a downstream tokenizer/packer. Empty documents
# produce no chunks (start < n_tokens filters them).
# --------------------------------------------------------------------------
CHUNK_SIZE = 64
CHUNK_STRIDE = 48   # overlap = CHUNK_SIZE - CHUNK_STRIDE = 16 tokens


@register("doc_chunks", oracle=f"""
WITH t AS (SELECT doc_id, {_sql_tokens()} AS toks FROM documents),
s AS (SELECT doc_id, toks, unnest(generate_series(
            0, GREATEST(len(toks) - 1, 0), {CHUNK_STRIDE})) AS start
      FROM t)
SELECT doc_id,
       CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(len(list_slice(toks, start + 1, start + {CHUNK_SIZE})) AS BIGINT)
         AS n_tokens,
       array_to_string(list_slice(toks, start + 1, start + {CHUNK_SIZE}), ' ')
         AS chunk_text
FROM s WHERE start < len(toks)
""")
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    starts = F.sequence(F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)),
                        F.lit(CHUNK_STRIDE))
    s = (t.select("doc_id", "toks", F.explode(starts).alias("start"))
          .where(F.col("start") < F.size("toks")))
    chunk = F.slice(F.col("toks"), F.col("start") + 1, CHUNK_SIZE)
    return s.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"))


# --------------------------------------------------------------------------
# corpus_token_bins — sequence packing: assign documents to fixed
# token-budget bins for batch assembly. True first-fit packing is
# inherently sequential, so the DISTRIBUTED shape shards the corpus
# first (independent streams) and packs contiguously within each shard
# by running token count: a doc's bin is how many full budgets precede
# its start offset. Each shard's cumulative-sum window is independent —
# the plan never sees a global sort. Bin boundaries may split a
# straddling doc's budget across two bins — the downstream chunker
# (doc_chunks) already handles intra-doc splitting, so packing only
# needs offsets, not exact fits.
#
# Round 9 scale fix (the customer_value_ranks class, caught by hand —
# the lowcard sweep is blind to DERIVED partition keys): the shard key
# was doc_id % 8, a CONSTANT 8-value domain, so the packing window's
# parallelism was capped at 8 tasks forever — at 100 TB that is 8 tasks
# each sorting N/8 doc rows, exactly the serialization the sweep exists
# to catch on base columns. The shard is now a contiguous doc-id RANGE
# (doc_id // PACK_SHARD_DOCS): cardinality grows linearly with the
# corpus, each window partition holds a bounded ~PACK_SHARD_DOCS rows
# at ANY scale, and contiguous ranges preserve reading order within a
# shard (hash-sharding interleaved them). Oracle updated in lockstep;
# parity re-proven at sf0.001/0.01/0.1.
# --------------------------------------------------------------------------
PACK_BUDGET = 256       # tokens per bin
PACK_SHARD_DOCS = 100   # docs per packing shard (bounded window input)


@register("corpus_token_bins", oracle=f"""
WITH t AS (SELECT doc_id, doc_id // {PACK_SHARD_DOCS} AS shard,
                  len({_sql_tokens()}) AS n_tokens
           FROM documents),
c AS (SELECT *, COALESCE(SUM(n_tokens) OVER (
            PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM t)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(cum_before // {PACK_BUDGET} AS BIGINT) AS bin_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_before AS BIGINT) AS start_offset
FROM c
""")
def corpus_token_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.floor(F.col("doc_id") / PACK_SHARD_DOCS).alias("shard"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"))
    w = (Window.partitionBy("shard").orderBy("doc_id")
               .rowsBetween(Window.unboundedPreceding, -1))
    c = t.withColumn("cum_before",
                     F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return c.select(
        "doc_id", F.col("shard").cast("long").alias("shard"),
        F.floor(F.col("cum_before") / PACK_BUDGET).alias("bin_id"),
        "n_tokens",
        F.col("cum_before").alias("start_offset"))


# --------------------------------------------------------------------------
# text_repetition_signals — Gopher-style repetition quality signals
# (Rae et al. 2021, "Scaling Language Models", Table A1): fraction of
# tokens in repeated unigrams, most-frequent-token share, duplicate
# bigram fraction. Heavily repetitive documents are the classic
# low-quality pretraining pattern these signals exist to filter.
#
# Pure Column expressions: per-doc token counts come from a
# transform-over-distinct HOF (O(n * distinct) per row, JVM-side) rather
# than an explode + groupBy — the per-row arrays are bounded (documents
# measured in KB), so keeping the whole signal map-side avoids any
# shuffle: the plan is scan -> project, fusing into whole-stage codegen,
# and survives 100 TB as an embarrassingly parallel pass.
# --------------------------------------------------------------------------
@register("text_repetition_signals", oracle=f"""
WITH t AS (SELECT doc_id, {_sql_tokens()} AS toks FROM documents),
c AS (SELECT doc_id, toks,
             list_transform(list_distinct(toks),
                            t -> len(list_filter(toks, x -> x = t))) AS cnts,
             list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
               AS trigrams,
             list_transform(range(1, len(toks)),
                            i -> toks[i] || ' ' || toks[i+1]) AS bigrams
      FROM t)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       ROUND(COALESCE(list_max(cnts), 0) * 1.0
             / GREATEST(len(toks), 1), 4)                    AS top_token_frac,
       ROUND(COALESCE(list_sum(list_filter(cnts, c -> c > 1)), 0) * 1.0
             / GREATEST(len(toks), 1), 4)                    AS dup_token_frac,
       ROUND((len(bigrams) - len(list_distinct(bigrams))) * 1.0
             / GREATEST(len(bigrams), 1), 4)                 AS dup_bigram_frac,
       ROUND((len(trigrams) - len(list_distinct(trigrams))) * 1.0
             / GREATEST(len(trigrams), 1), 4)                AS dup_trigram_frac
FROM c
""")
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    t = docs.select("doc_id", toks.alias("toks"))
    cnts = F.transform(
        F.array_distinct(F.col("toks")),
        lambda tk: F.size(F.filter(F.col("toks"), lambda x: x == tk)))
    big, tri = shingles(F.col("toks"), 2), shingles(F.col("toks"), 3)
    n = F.greatest(F.size("toks"), F.lit(1))

    def dup_frac(arr):
        return F.round((F.size(arr) - F.size(F.array_distinct(arr)))
                       / F.greatest(F.size(arr), F.lit(1)), 4)

    return t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.round(F.coalesce(F.array_max(cnts), F.lit(0)) / n, 4)
         .alias("top_token_frac"),
        F.round(F.coalesce(
            F.aggregate(F.filter(cnts, lambda c: c > 1),
                        F.lit(0), lambda acc, x: acc + x), F.lit(0)) / n, 4)
         .alias("dup_token_frac"),
        dup_frac(big).alias("dup_bigram_frac"),
        dup_frac(tri).alias("dup_trigram_frac"))


# --------------------------------------------------------------------------
# corpus_unigram_logprob — perplexity-proxy scoring: train a unigram LM
# on the corpus itself (one agg over exploded tokens), then score every
# document by its mean per-token log10-probability. The CCNet/Wikipedia-LM
# filtering shape with the LM reduced to unigrams so the oracle stays
# exact.
#
# Determinism across engines: per-token logprobs are snapped to integer
# MICRO-log units (round(log10(p) * 1e6) as BIGINT) before summing —
# integer sums are associative, so Spark's partial-agg order vs DuckDB's
# serial order can't flip a bit. The final mean divides two exact
# integers.
#
# Scale: vocab after the first agg is tiny (distinct tokens), so the
# probability table broadcast-joins onto the exploded token stream —
# corpus-side data never shuffles; the only exchange is the per-doc
# re-aggregation, partial-combined map-side.
# --------------------------------------------------------------------------
@register("corpus_unigram_logprob", oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({_sql_tokens()}) AS token FROM documents),
vocab AS (
  SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
probs AS (
  SELECT token,
         CAST(ROUND(log10(cnt * 1.0 / SUM(cnt) OVER ()) * 1000000) AS BIGINT)
           AS logp_u
  FROM vocab)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(p.logp_u) * 1.0 / (COUNT(*) * 1000000), 4) AS avg_logprob
FROM tok t JOIN probs p USING (token)
GROUP BY t.doc_id
""")
def corpus_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    # Corpus total via a broadcast one-row cross join, NOT a window over
    # an empty partitioning: the empty-partition window funnels the whole
    # vocab through one task, which stops scaling once |vocab| is large
    # (open-vocab corpora); the cross join keeps the vocab distributed.
    total = vocab.agg(F.sum("cnt").alias("__total"))
    probs = (vocab.crossJoin(F.broadcast(total))
             .select("token",
                     F.round(F.log10(F.col("cnt") / F.col("__total")) * 1e6)
                      .cast("long").alias("logp_u")))
    return (tok.join(F.broadcast(probs), "token")
               .groupBy("doc_id")
               .agg(F.count("*").cast("long").alias("n_tokens"),
                    F.round(F.sum("logp_u") / (F.count("*") * F.lit(1e6)), 4)
                     .alias("avg_logprob")))


# --------------------------------------------------------------------------
# corpus_boilerplate_ngrams — cross-document boilerplate detection
# (RefinedWeb/C4-style line dedup, re-grained to word trigrams because
# the synthetic corpus has no newlines): a trigram appearing in
# >= BOILER_MIN_DOCS distinct documents is "boilerplate"; every document
# reports what fraction of its distinct trigrams are boilerplate.
#
# Scale shape: distinct (doc, trigram) pairs -> one groupBy for document
# frequency -> the boilerplate set (df >= K) is a small fraction of the
# n-gram space (~1% here), so it broadcast-joins back onto the per-doc
# stream; the big side shuffles once (the df agg) and never again.
# --------------------------------------------------------------------------
BOILER_MIN_DOCS = 5


@register("corpus_boilerplate_ngrams", oracle=f"""
WITH t AS (SELECT doc_id, {_sql_tokens()} AS toks FROM documents),
s AS (SELECT doc_id, unnest(list_distinct(
            list_transform(range(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
        AS sh FROM t),
d AS (SELECT sh, COUNT(*) AS df FROM s GROUP BY sh),
b AS (SELECT sh FROM d WHERE df >= {BOILER_MIN_DOCS})
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       CAST(COUNT(b.sh) AS BIGINT) AS n_boiler,
       ROUND(COUNT(b.sh) * 1.0 / COUNT(*), 4) AS boiler_frac
FROM s LEFT JOIN b USING (sh)
GROUP BY s.doc_id
""")
def corpus_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    s = (docs.select("doc_id",
                     F.explode(F.array_distinct(
                         shingles(tokens(F.col("text")), 3))).alias("sh")))
    dfreq = s.groupBy("sh").agg(F.count("*").alias("df"))
    boiler = dfreq.where(F.col("df") >= BOILER_MIN_DOCS).select(
        "sh", F.lit(1).alias("is_boiler"))
    return (s.join(F.broadcast(boiler), "sh", "left")
             .groupBy("doc_id")
             .agg(F.count("*").cast("long").alias("n_ngrams"),
                  F.count("is_boiler").cast("long").alias("n_boiler"),
                  F.round(F.count("is_boiler") / F.count("*"), 4)
                   .alias("boiler_frac")))


# --------------------------------------------------------------------------
# corpus_mixture_weights — domain-mixing weights: per-source document/
# char counts plus the per-document sampling weight that would rebalance
# the corpus to a uniform source mixture (weight = target_frac /
# actual_frac). The planning step before weighted sampling in a
# multi-source pretraining mix. One agg + two scalar windows over the
# (tiny, one-row-per-source) aggregate — ratios computed from exact
# integer counts so both engines round identically.
# --------------------------------------------------------------------------
@register("corpus_mixture_weights", oracle="""
WITH s AS (
  SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS n_chars
  FROM documents GROUP BY source)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_chars AS BIGINT) AS n_chars,
       ROUND(n_docs * 1.0 / SUM(n_docs) OVER (), 6) AS actual_frac,
       ROUND(SUM(n_docs) OVER () * 1.0
             / (COUNT(*) OVER () * n_docs), 6)      AS uniform_weight
FROM s
""")
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"))
    w = Window.partitionBy()   # post-agg frame: one row per source
    return agg.select(
        "source", "n_docs", "n_chars",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6)
         .alias("actual_frac"),
        F.round(F.sum("n_docs").over(w)
                / (F.count("*").over(w) * F.col("n_docs")), 6)
         .alias("uniform_weight"))


# --------------------------------------------------------------------------
# corpus_mixture_sample — the EXECUTION of the mixing plan: materialize
# the uniform-source rebalance deterministically. Per-doc copy count =
# floor(weight) + one extra copy for the hash-fraction of docs covering
# the fractional part — over-represented sources (weight < 1)
# downsample by content-stable hash, under-represented ones epoch-
# multiply (the standard pretraining-mix trick), so the output mixture
# matches the target in expectation with ZERO randomness: the kept set
# is a pure function of (doc_id, per-source counts), stable across
# partitioning, re-runs, and engines.
#
# All arithmetic is integer (weights as micro-units via integer div/mod
# of exact counts), so both engines compute identical copy counts; the
# fan-out is explode(sequence(1, copies)) after a copies >= 1 filter
# (sequence() would run DESCENDING for copies = 0).
#
# Scale: one tiny per-source aggregate broadcast back onto the corpus,
# then a map-side filter/fan-out — the corpus is never shuffled.
# --------------------------------------------------------------------------
MIX_UNIT = 1_000_000


@register("corpus_mixture_sample", oracle=f"""
WITH s AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
tot AS (SELECT SUM(n) AS total, COUNT(*) AS k FROM s),
w AS (SELECT source,
             total // (k * n) AS wfloor,
             (total * {MIX_UNIT}) // (k * n) - (total // (k * n)) * {MIX_UNIT}
               AS fscaled
      FROM s, tot),
c AS (SELECT doc_id, d.source,
             wfloor + CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                               1, 12))::BIGINT % {MIX_UNIT}
                                < fscaled
                           THEN 1 ELSE 0 END AS copies
      FROM documents d JOIN w USING (source))
SELECT doc_id, source, CAST(j AS BIGINT) AS copy_idx
FROM c, LATERAL unnest(generate_series(1, copies::INT)) t(j)
WHERE copies >= 1
""")
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count("*").alias("n"))
    w = Window.partitionBy()
    weights = s.select(
        "source",
        F.expr(f"sum(n) over () div (count(*) over () * n)")
         .alias("wfloor"),
        (F.expr(f"(sum(n) over () * {MIX_UNIT}) div (count(*) over () * n)")
         - F.expr(f"(sum(n) over () div (count(*) over () * n)) * {MIX_UNIT}"))
        .alias("fscaled"))
    h = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
         .cast("long"), F.lit(MIX_UNIT))
    return (docs.select("doc_id", "source")
                .join(F.broadcast(weights), "source")
                .withColumn("copies",
                            F.col("wfloor")
                            + F.when(h < F.col("fscaled"), 1).otherwise(0))
                .where(F.col("copies") >= 1)
                .select("doc_id", "source",
                        F.explode(F.sequence(F.lit(1).cast("long"),
                                             F.col("copies").cast("long")))
                         .alias("copy_idx")))


# --------------------------------------------------------------------------
# text_pii_scrub — PII detection + redaction: emails, IPv4 addresses,
# and long digit runs found by RE2-and-Java-compatible regexes (no
# lookaround, no backreferences), counted and replaced with typed
# placeholder tags. The synthetic corpus contains no PII, so the driver
# row proves schema/determinism; tests/test_llm.py exercises the
# regexes on fixture text with real-shaped PII.
#
# Scale: pure per-row regex projection — map-only, codegen'd, fuses
# into the scan; the scrubbed text is returned as an md5 so wide text
# never re-shuffles for the comparator.
# --------------------------------------------------------------------------
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_LONGNUM = r"\b[0-9]{9,}\b"


def scrub_pii(col) -> "F.Column":
    """Redact emails, IPv4s, then long digit runs with typed tags."""
    out = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    return F.regexp_replace(out, PII_LONGNUM, "<NUM>")


@register("text_pii_scrub", oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '{PII_IPV4}')) AS BIGINT)  AS n_ipv4,
       CAST(len(regexp_extract_all(text, '{PII_LONGNUM}')) AS BIGINT)
         AS n_longnum,
       md5(regexp_replace(regexp_replace(regexp_replace(
             text, '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_IPV4}', '<IP>', 'g'),
             '{PII_LONGNUM}', '<NUM>', 'g'))                        AS scrub_md5
FROM documents
""")
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), 0))
         .cast("long").alias("n_email"),
        F.size(F.regexp_extract_all("text", F.lit(PII_IPV4), 0))
         .cast("long").alias("n_ipv4"),
        F.size(F.regexp_extract_all("text", F.lit(PII_LONGNUM), 0))
         .cast("long").alias("n_longnum"),
        F.md5(scrub_pii(F.col("text"))).alias("scrub_md5"))


# --------------------------------------------------------------------------
# corpus_shard_plan — deterministic global shuffle + shard assignment
# for training-data export: every document lands in
# hash64(doc_id) % N_SHARDS, a content-independent, seed-free
# permutation (md5-based, so Spark and any other engine agree bit for
# bit — Spark's murmur3 hash() has no DuckDB twin). The query reports
# per-shard balance; sources.io.export_shards materializes the same
# assignment as a partitioned parquet write.
#
# Scale: the shard expression is map-side; the balance agg is one
# exchange over N_SHARDS groups. The export writes with
# repartition(shard) so each output file is one shard — the layout a
# training loader wants.
# --------------------------------------------------------------------------
N_SHARDS = 16


def shard_of(doc_id) -> "F.Column":
    """Deterministic shard id: md5-based 60-bit hash of the key, mod
    N_SHARDS. hash64 output is nonnegative, so % == pmod."""
    return (hash64(F.col(doc_id).cast("string")) % N_SHARDS).alias("shard")


@register("corpus_shard_plan", oracle=f"""
WITH s AS (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % {N_SHARDS} AS shard,
         n_chars, source
  FROM documents)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM s GROUP BY shard
""")
def corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (docs.select(shard_of("doc_id"), "n_chars", "source")
                .groupBy("shard")
                .agg(F.count("*").cast("long").alias("n_docs"),
                     F.sum("n_chars").cast("long").alias("total_chars"),
                     F.countDistinct("source").cast("long")
                      .alias("n_sources")))


# --------------------------------------------------------------------------
# corpus_splits — deterministic train/validation/test assignment: split
# by md5-hash bucket of doc_id (80/10/10), reported per (split, source).
# Hash-based splits are the production standard because they are stable
# under re-runs, re-partitioning, and corpus growth (a doc never
# migrates between splits when new data arrives — unlike randomSplit,
# whose assignment depends on partitioning and seed plumbing).
# Map-side expression + one agg exchange.
# --------------------------------------------------------------------------

@register("corpus_splits", oracle=f"""
WITH b AS (
  SELECT source, n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
           AS bucket
  FROM documents)
SELECT CASE WHEN bucket < {SPLIT_TRAIN} THEN 'train'
            WHEN bucket < {SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split,
       source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY 1, 2
""")
def corpus_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    bucket = hash64(F.col("doc_id").cast("string")) % 100
    split = (F.when(bucket < SPLIT_TRAIN, "train")
              .when(bucket < SPLIT_VAL, "val")
              .otherwise("test"))
    return (docs.select(split.alias("split"), "source", "n_chars")
                .groupBy("split", "source")
                .agg(F.count("*").cast("long").alias("n_docs"),
                     F.sum("n_chars").cast("long").alias("total_chars")))


# --------------------------------------------------------------------------
# corpus_bigram_logprob — conditional-probability scoring against a
# corpus-trained BIGRAM LM: P(t | prev) = c(prev t) / c(prev ·), mean
# log10 per document. The step up from corpus_unigram_logprob — word
# order now matters, so scrambled/templated text scores visibly worse
# than natural n-gram flow, which is exactly what the perplexity filter
# is for. Same determinism treatment: per-bigram logprobs snapped to
# integer micro-log units before the per-doc sum.
#
# Scale: two vocab-sized aggregates (bigram counts, context counts),
# both tiny after aggregation -> broadcast back onto the exploded
# bigram stream; the corpus shuffles once (per-doc re-agg).
# --------------------------------------------------------------------------
@register("corpus_bigram_logprob", oracle=f"""
WITH t AS (SELECT doc_id, {_sql_tokens()} AS toks FROM documents),
big AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM t),
c2 AS (SELECT bg, COUNT(*) AS n2 FROM big GROUP BY bg),
c1 AS (SELECT string_split(bg, ' ')[1] AS ctx, COUNT(*) AS n1
       FROM big GROUP BY 1),
probs AS (
  SELECT bg, CAST(ROUND(log10(n2 * 1.0 / n1) * 1000000) AS BIGINT) AS logp_u
  FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.ctx)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(SUM(p.logp_u) * 1.0 / (COUNT(*) * 1000000), 4) AS avg_logprob
FROM big b JOIN probs p USING (bg)
GROUP BY b.doc_id
""")
def corpus_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    big = docs.select(
        "doc_id",
        F.explode(shingles(tokens(F.col("text")), 2)).alias("bg"))
    c2 = big.groupBy("bg").agg(F.count("*").alias("n2"))
    # Context counts DERIVE from the (vocab-sized) bigram counts —
    # c(prev ·) = sum of c(prev t) — so the corpus-sized explode runs
    # for the c2 aggregate and the final scoring join only, never a
    # third time for c1.
    c2x = c2.withColumn("ctx", F.split("bg", " ").getItem(0))
    c1 = c2x.groupBy("ctx").agg(F.sum("n2").alias("n1"))
    probs = (c2x.join(F.broadcast(c1), "ctx")
               .select("bg",
                       F.round(F.log10(F.col("n2") / F.col("n1")) * 1e6)
                        .cast("long").alias("logp_u")))
    return (big.join(F.broadcast(probs), "bg")
               .groupBy("doc_id")
               .agg(F.count("*").cast("long").alias("n_bigrams"),
                    F.round(F.sum("logp_u") / (F.count("*") * F.lit(1e6)), 4)
                     .alias("avg_logprob")))


# --------------------------------------------------------------------------
# corpus_quality_filter — the composed pretraining-corpus filter
# (C4/Gopher shape): hard length floor, most-frequent-token share cap,
# duplicate-trigram cap, evaluated in a fixed precedence so every doc
# gets ONE drop reason (or keep). This is the decision layer the
# individual signal queries (text_quality_score,
# text_repetition_signals) feed in a real pipeline — here composed into
# a single map-side pass: one scan, no joins, no shuffle (the verdict
# needs only per-row expressions).
# Thresholds were set from the corpus distribution (p95s) so the filter
# flags a real minority rather than being vacuously green.
# --------------------------------------------------------------------------
QF_MIN_TOKENS = 20
QF_MAX_TOP_TOKEN_FRAC = 0.15
QF_MAX_DUP_TRIGRAM_FRAC = 0.02


@register("corpus_quality_filter", oracle=f"""
WITH t AS (SELECT doc_id, {_sql_tokens()} AS toks FROM documents),
s AS (SELECT doc_id, len(toks) AS n,
        COALESCE(list_max(list_transform(list_distinct(toks),
                   t -> len(list_filter(toks, x -> x = t)))), 0) * 1.0
          / GREATEST(len(toks), 1) AS topf,
        (len(list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         - len(list_distinct(list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))))
          * 1.0 / GREATEST(len(toks) - 2, 1) AS dup3
      FROM t)
SELECT doc_id,
       CASE WHEN n < {QF_MIN_TOKENS} THEN 'too_short'
            WHEN topf >= {QF_MAX_TOP_TOKEN_FRAC} THEN 'too_repetitive'
            WHEN dup3 >= {QF_MAX_DUP_TRIGRAM_FRAC} THEN 'dup_ngrams'
            END AS drop_reason,
       (CASE WHEN n < {QF_MIN_TOKENS} THEN 'too_short'
             WHEN topf >= {QF_MAX_TOP_TOKEN_FRAC} THEN 'too_repetitive'
             WHEN dup3 >= {QF_MAX_DUP_TRIGRAM_FRAC} THEN 'dup_ngrams'
             END) IS NULL AS keep
FROM s
""")
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    t = docs.select("doc_id", toks.alias("toks"))
    n = F.size("toks")
    cnts = F.transform(
        F.array_distinct(F.col("toks")),
        lambda tk: F.size(F.filter(F.col("toks"), lambda x: x == tk)))
    topf = (F.coalesce(F.array_max(cnts), F.lit(0))
            / F.greatest(n, F.lit(1)))
    tri = shingles(F.col("toks"), 3)
    dup3 = ((F.size(tri) - F.size(F.array_distinct(tri)))
            / F.greatest(n - 2, F.lit(1)))
    reason = (F.when(n < QF_MIN_TOKENS, "too_short")
               .when(topf >= QF_MAX_TOP_TOKEN_FRAC, "too_repetitive")
               .when(dup3 >= QF_MAX_DUP_TRIGRAM_FRAC, "dup_ngrams"))
    return t.select("doc_id", reason.alias("drop_reason"),
                    reason.isNull().alias("keep"))


# --------------------------------------------------------------------------
# lang_id_confusion — classifier-eval-as-a-query: the confusion matrix
# of the n-gram language identifier against the labeled lang column,
# with per-cell share of the true class (row-normalized). The model-eval
# computation an LLM-data pipeline runs after any heuristic classifier;
# composes the registered text_lang_id_ngram query so the evaluation
# itself is oracle-checked.
# --------------------------------------------------------------------------
def _confusion_oracle() -> str:
    return f"""
WITH pred AS (
  SELECT p.doc_id, d.lang AS true_lang, p.pred_lang
  FROM ({ORACLES["text_lang_id_ngram"]}) p
  JOIN documents d ON d.doc_id = p.doc_id)
SELECT true_lang, pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY true_lang), 4)
         AS class_share
FROM pred GROUP BY true_lang, pred_lang
"""


@register("lang_id_confusion", oracle=_confusion_oracle)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hdfs_with_pyspark_spark.plans.registry import QUERIES
    pred = (QUERIES["text_lang_id_ngram"](spark, sf_dir)
            .select("doc_id", "pred_lang"))
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("true_lang"))
    cells = (docs.join(pred, "doc_id")
                 .groupBy("true_lang", "pred_lang")
                 .agg(F.count("*").cast("long").alias("n_docs")))
    w = Window.partitionBy("true_lang")
    return cells.select(
        "true_lang", "pred_lang", "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4)
         .alias("class_share"))


# --------------------------------------------------------------------------
# doc_sentences_udtf — the Spark 4 PYTHON UDTF surface (one row in, N
# typed rows out, usable in SQL LATERAL joins — the table-function
# counterpart of the custom DataSource in sources/pyds.py). Splits each
# doc into '. '-delimited sentences, emitting (index, md5, token count);
# both engines split with plain non-regex semantics (empties kept), so
# the fan-out matches row for row and the oracle is exact.
#
# When to reach for a UDTF instead of explode(): when the fan-out logic
# is genuinely imperative Python (stateful parsers, tokenizers,
# third-party libs). This one is deliberately explode-expressible so it
# can carry an exact oracle; the mechanism under test is the UDTF
# plumbing itself — registration, lateral join, typed multi-row yield.
# Scale: row-at-a-time Python, so the SLOW path by design (10-100x off
# codegen) — the hot-path splitter remains doc_chunks' explode form.
# --------------------------------------------------------------------------
@register("doc_sentences_udtf", oracle="""
SELECT doc_id,
       CAST(i AS BIGINT) AS sent_idx,
       md5(parts[i]) AS sent_hash,
       CAST(len(list_filter(string_split(parts[i], ' '), x -> x <> ''))
            AS BIGINT) AS n_tokens
FROM (SELECT doc_id, string_split(text, '. ') AS parts FROM documents),
     LATERAL unnest(generate_series(1, len(parts))) t(i)
""")
def doc_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from pyspark.sql.functions import udtf

    class SentenceSplit:
        def eval(self, doc_id, text):
            if text is None:
                return
            for i, s in enumerate(text.split(". ")):
                toks = [t for t in s.split(" ") if t]
                yield (doc_id, i + 1,
                       hashlib.md5(s.encode("utf-8")).hexdigest(), len(toks))

    sent = udtf(SentenceSplit,
                returnType="doc_id: bigint, sent_idx: bigint, "
                           "sent_hash: string, n_tokens: bigint")
    spark.udtf.register("sentence_split", sent)
    read_table(spark, sf_dir, "documents") \
        .createOrReplaceTempView("__docs_for_udtf")
    return spark.sql(
        "SELECT s.* FROM __docs_for_udtf d, "
        "LATERAL sentence_split(d.doc_id, d.text) s")


# --------------------------------------------------------------------------
# corpus_weighted_sample — deterministic WEIGHTED sampling without RNG:
# the A-ES / A-ExpJ scheme (Efraimidis & Spirakis 2006) with the uniform
# drawn from the corpus's own content hash. Each doc gets
# u = (hash64(salt || doc_id) + 1) / 2^60 in (0, 1] and priority
# -ln(u) / weight; the k smallest priorities ARE a weighted sample
# without replacement (longer docs proportionally more likely) — the
# mixture-construction primitive when sources should be sampled by
# token mass rather than uniformly (complements corpus_mixture_sample's
# exact per-source epoch weighting).
#
# Determinism: the hash is the engine-shared 60-bit md5 prefix, the
# division and negation are exactly-specified IEEE ops, and ln differs
# across libms by <= 1 ulp — ROUND(priority, 9) absorbs that (a flip
# would need a value within 5e-10 of a rounding boundary), with doc_id
# as the total-order tie-break. Scale shape: pure map + global top-k =
# per-partition heaps + k-row driver merge (TakeOrderedAndProject), the
# same no-global-sort plan the ranking queries pin in tests.
# --------------------------------------------------------------------------
WS_SALT = "ws1:"
WS_K = 100
_WS_POW60 = float(1 << 60)


@register("corpus_weighted_sample", oracle=f"""
SELECT doc_id, n_chars,
       ROUND(-ln((CAST(('0x' || substr(md5('{WS_SALT}' ||
                                       CAST(doc_id AS VARCHAR)), 1, 15))
                       AS BIGINT) + 1) / {_WS_POW60!r})
             / n_chars, 9) AS priority
FROM documents
WHERE n_chars > 0
ORDER BY priority ASC, doc_id ASC
LIMIT {WS_K}
""")
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    u = ((hash64(F.concat(F.lit(WS_SALT),
                          F.col("doc_id").cast("string"))) + 1)
         / F.lit(_WS_POW60))
    priority = F.round(-F.log(u) / F.col("n_chars"), 9)
    return (docs.where(F.col("n_chars") > 0)
                .select("doc_id", "n_chars", priority.alias("priority"))
                .orderBy(F.col("priority").asc(), F.col("doc_id").asc())
                .limit(WS_K))


# --------------------------------------------------------------------------
# text_repeated_spans — EXACT-SUBSTRING dedup signal (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better"): find
# character spans of length >= SPAN_L repeated across documents and
# report each doc's repeated-span coverage — the signal that drives
# span-level (not doc-level) dedup of boilerplate, licenses, and
# templated content that whole-doc near-dup misses.
#
# Shape (the paper's suffix-automaton pass re-expressed relationally):
# every doc explodes into its |text| overlapping SPAN_L-char grams
# (map-side), the inverted index groups on the engine-shared 60-bit
# gram hash (THE corpus shuffle — identical in both engines, so any
# hash collision merges identically and the oracle stays exact), and
# positions whose gram occurs in >= 2 docs are repeated. Per-doc
# coverage needs the UNION of fixed-length intervals [p, p+L-1]: sorted
# by p, that is exactly L for the first interval plus
# min(p_i - p_{i-1}, L) for each subsequent one — a lag window per
# doc, no sweep state needed.
#
# At 100 TB the gram explode is |corpus chars| rows of (hash, doc, pos)
# — big but narrow and map-generated. Round-4 shape (VERDICT r3 item
# 3): the positional stream shuffles ON h EXACTLY ONCE — the
# doc-frequency test is "min(doc_id) != max(doc_id) over the h
# partition" (>= 2 distinct docs iff min != max), a window over the
# same exchange the stream already needs, replacing the previous
# groupBy(h) + join-back which shuffled the stream twice AND
# regenerated every md5 for the second pass. After the filter only the
# repeated tail reaches the per-doc lag window. Coverage ppm is exact
# integer division, guarded for zero-length docs (ANSI-safe).
# --------------------------------------------------------------------------
SPAN_L = 40

_SQL_GRAM_HASH = ("CAST(('0x' || substr(md5(substr(text, p, "
                  f"{SPAN_L})), 1, 15)) AS BIGINT)")


@register("text_repeated_spans", oracle=f"""
WITH g AS (
  SELECT doc_id, p, {_SQL_GRAM_HASH} AS h
  FROM documents
  CROSS JOIN LATERAL (SELECT UNNEST(GENERATE_SERIES(1,
                        n_chars - {SPAN_L - 1})) AS p) t
  WHERE n_chars >= {SPAN_L}),
rep AS (
  SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
pos AS (
  SELECT g.doc_id, g.p,
         LAG(g.p) OVER (PARTITION BY g.doc_id ORDER BY g.p) AS prev_p
  FROM g JOIN rep USING (h)),
cov AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_repeated_positions,
         CAST(SUM(CASE WHEN prev_p IS NULL THEN {SPAN_L}
                       ELSE LEAST(p - prev_p, {SPAN_L}) END) AS BIGINT)
           AS covered_chars
  FROM pos GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(c.n_repeated_positions, 0) AS n_repeated_positions,
       COALESCE(c.covered_chars, 0) AS covered_chars,
       CAST(CASE WHEN d.n_chars > 0
                 THEN (1000000 * COALESCE(c.covered_chars, 0)) // d.n_chars
                 ELSE 0 END AS BIGINT) AS coverage_ppm
FROM documents d LEFT JOIN cov c ON c.doc_id = d.doc_id
""")
def text_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars")
    grams = (spread(docs.where(F.col("n_chars") >= SPAN_L))
                 .select("doc_id",
                         F.explode(F.sequence(
                             F.lit(1),
                             F.col("n_chars") - (SPAN_L - 1))).alias("p"),
                         "text")
                 .select("doc_id", "p",
                         hash64(F.expr(f"substring(text, p, {SPAN_L})"))
                         .alias("h")))
    # >= 2 distinct owning docs iff min(doc_id) != max(doc_id) within
    # the h partition — one shuffle of the positional stream, no
    # groupBy + join-back (which would shuffle it twice and regenerate
    # every gram hash for the second consumer).
    wh = Window.partitionBy("h")
    pos = (grams.withColumn("__mn", F.min("doc_id").over(wh))
                .withColumn("__mx", F.max("doc_id").over(wh))
                .where(F.col("__mn") != F.col("__mx"))
                .drop("__mn", "__mx"))
    w = Window.partitionBy("doc_id").orderBy("p")
    pos = pos.withColumn("prev_p", F.lag("p").over(w))
    contrib = (F.when(F.col("prev_p").isNull(), F.lit(SPAN_L))
                .otherwise(F.least(F.col("p") - F.col("prev_p"),
                                   F.lit(SPAN_L))))
    cov = (pos.groupBy("doc_id")
              .agg(F.count("*").alias("n_repeated_positions"),
                   F.sum(contrib).cast("long").alias("covered_chars")))
    return (docs.select("doc_id", "n_chars")
                .join(cov, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("n_repeated_positions", F.lit(0))
                         .cast("long").alias("n_repeated_positions"),
                        F.coalesce("covered_chars", F.lit(0)).cast("long")
                         .alias("covered_chars"),
                        F.expr("CASE WHEN n_chars > 0 THEN "
                               "(1000000 * coalesce(covered_chars, 0)) "
                               "div n_chars ELSE 0L END").cast("long")
                         .alias("coverage_ppm")))


# --------------------------------------------------------------------------
# corpus_span_dedup — the EXECUTION companion of text_repeated_spans:
# span-level dedup with keep-first-occurrence semantics (Lee et al.
# 2022). A position in doc d is removable when its SPAN_L-gram also
# occurs in some EARLIER doc (min owning doc_id < d) — the first
# occurrence stays, later copies of the span go. Per doc: chars
# removed (union of removable fixed-length intervals, same lag-window
# identity as the signal query) and the kept remainder.
#
# Shape: identical gram explode; the first-owner test is
# "min(doc_id) over the h partition < doc_id" — like the signal query,
# ONE shuffle of the positional stream on h (window, not
# groupBy + join-back), then the per-doc window touches only removable
# positions. The doc_id total order IS the dedup policy, deterministic
# by construction (content-stable priorities — e.g. the
# weighted-sample hash — drop in by swapping the ordering key).
# --------------------------------------------------------------------------
@register("corpus_span_dedup", oracle=f"""
WITH g AS (
  SELECT doc_id, p, {_SQL_GRAM_HASH} AS h
  FROM documents
  CROSS JOIN LATERAL (SELECT UNNEST(GENERATE_SERIES(1,
                        n_chars - {SPAN_L - 1})) AS p) t
  WHERE n_chars >= {SPAN_L}),
owner AS (
  SELECT h, MIN(doc_id) AS first_doc FROM g GROUP BY h),
removable AS (
  SELECT g.doc_id, g.p,
         LAG(g.p) OVER (PARTITION BY g.doc_id ORDER BY g.p) AS prev_p
  FROM g JOIN owner USING (h)
  WHERE owner.first_doc < g.doc_id),
cov AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN prev_p IS NULL THEN {SPAN_L}
                       ELSE LEAST(p - prev_p, {SPAN_L}) END) AS BIGINT)
           AS removed_chars
  FROM removable GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(c.removed_chars, 0) AS removed_chars,
       d.n_chars - COALESCE(c.removed_chars, 0) AS kept_chars,
       CAST(CASE WHEN d.n_chars > 0
                 THEN (1000000 * COALESCE(c.removed_chars, 0)) // d.n_chars
                 ELSE 0 END AS BIGINT) AS removed_ppm
FROM documents d LEFT JOIN cov c ON c.doc_id = d.doc_id
""")
def corpus_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars")
    grams = (spread(docs.where(F.col("n_chars") >= SPAN_L))
                 .select("doc_id",
                         F.explode(F.sequence(
                             F.lit(1),
                             F.col("n_chars") - (SPAN_L - 1))).alias("p"),
                         "text")
                 .select("doc_id", "p",
                         hash64(F.expr(f"substring(text, p, {SPAN_L})"))
                         .alias("h")))
    # first_doc as a window over the h partition: one shuffle of the
    # positional stream, no groupBy + join-back (see
    # text_repeated_spans).
    wh = Window.partitionBy("h")
    w = Window.partitionBy("doc_id").orderBy("p")
    removable = (grams.withColumn("first_doc", F.min("doc_id").over(wh))
                      .where(F.col("first_doc") < F.col("doc_id"))
                      .withColumn("prev_p", F.lag("p").over(w)))
    contrib = (F.when(F.col("prev_p").isNull(), F.lit(SPAN_L))
                .otherwise(F.least(F.col("p") - F.col("prev_p"),
                                   F.lit(SPAN_L))))
    cov = (removable.groupBy("doc_id")
                    .agg(F.sum(contrib).cast("long").alias("removed_chars")))
    return (docs.select("doc_id", "n_chars")
                .join(cov, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("removed_chars", F.lit(0)).cast("long")
                         .alias("removed_chars"),
                        (F.col("n_chars")
                         - F.coalesce("removed_chars", F.lit(0)))
                        .cast("long").alias("kept_chars"),
                        F.expr("CASE WHEN n_chars > 0 THEN "
                               "(1000000 * coalesce(removed_chars, 0)) "
                               "div n_chars ELSE 0L END").cast("long")
                         .alias("removed_ppm")))


# --------------------------------------------------------------------------
# text_dsir_weights — hashed-n-gram importance weights (the DSIR shape:
# Xie et al. 2023, "Data Selection for Language Models via Importance
# Resampling"): score every document by how much its hashed-bigram
# feature mass looks like a TARGET distribution (here: the lang='en'
# slice) relative to the RAW corpus. log w(x) = sum over feature
# occurrences of log p_target(b)/p_raw(b), with add-one smoothing over
# {DSIR_BUCKETS} hash buckets. Downstream, importance resampling keeps
# documents proportionally to exp(log-weight) — the
# corpus_weighted_sample machinery consumes exactly this column.
#
# Determinism: per-bucket log-ratios snap to integer micro-log units
# (the corpus_bigram_logprob treatment) so the per-doc sum is an exact
# integer in any partition order; the bucket table is vocabulary-sized
# (<= DSIR_BUCKETS rows) and broadcasts. The display column rounds the
# micro sum to SIX decimals — exactly the quotient's decimal width —
# so the round never sits on a tie (a 4dp round would: any micro sum
# ending in 50 is a .5 boundary, where Spark's decimal-string HALF_UP
# and DuckDB's binary half-away disagree — observed on this corpus).
#
# Scale: the corpus-sized feature explode runs exactly TWICE — once
# into a single conditional aggregate producing BOTH profiles (raw
# count + target count per bucket; the totals then derive from the
# 1024-row bucket table, never from a third corpus pass), and once for
# the per-doc scoring join against the broadcast log-ratio table. The
# bucket table is O(1) regardless of corpus size, which is DSIR's
# whole point: the target/raw models are hashed profiles, never
# vocabularies.
# --------------------------------------------------------------------------
DSIR_BUCKETS = 1024
DSIR_TARGET_LANG = "en"

_SQL_BG_HASH = "CAST(('0x' || substr(md5(bg), 1, 15)) AS BIGINT)"


@register("text_dsir_weights", oracle=f"""
WITH t AS (SELECT doc_id, lang, {_sql_tokens()} AS toks FROM documents),
big AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM t),
feat AS (SELECT doc_id, lang, {_SQL_BG_HASH} % {DSIR_BUCKETS} AS b FROM big),
src AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ns FROM feat GROUP BY b),
tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nt
        FROM feat WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY b),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS s_tot,
               CAST(COUNT(*) FILTER (lang = '{DSIR_TARGET_LANG}') AS DOUBLE)
                 AS t_tot
        FROM feat),
lr AS (
  SELECT s.b,
         CAST(ROUND((log10(COALESCE(t.nt, 0) + 1.0) - log10(s.ns + 1.0)
                     + log10(s_tot + {DSIR_BUCKETS}.0)
                     - log10(t_tot + {DSIR_BUCKETS}.0)) * 1000000) AS BIGINT)
           AS lr_u
  FROM src s LEFT JOIN tgt t USING (b) CROSS JOIN tot)
SELECT f.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       ROUND(SUM(lr.lr_u) * 1.0 / 1000000, 6) AS dsir_logweight
FROM feat f JOIN lr USING (b)
GROUP BY f.doc_id
""")
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    big = spread(docs).select("doc_id", "lang",
                              F.explode(shingles(tokens(F.col("text")), 2))
                               .alias("bg"))
    feat = big.select("doc_id", "lang",
                      (hash64(F.col("bg")) % DSIR_BUCKETS).alias("b"))
    # ONE conditional aggregate yields both profiles; the totals fold
    # from the <=1024-row bucket table instead of a second corpus pass.
    buckets = feat.groupBy("b").agg(
        F.count("*").alias("ns"),
        F.count(F.when(F.col("lang") == DSIR_TARGET_LANG, F.lit(1)))
         .alias("nt"))
    tot = buckets.agg(F.sum("ns").cast("double").alias("s_tot"),
                      F.sum("nt").cast("double").alias("t_tot"))
    lr_u = F.round((F.log10(F.coalesce(F.col("nt"), F.lit(0)) + 1.0)
                    - F.log10(F.col("ns") + 1.0)
                    + F.log10(F.col("s_tot") + float(DSIR_BUCKETS))
                    - F.log10(F.col("t_tot") + float(DSIR_BUCKETS)))
                   * 1e6).cast("long")
    lr = (buckets.crossJoin(F.broadcast(tot))
                 .select("b", lr_u.alias("lr_u")))
    return (feat.join(F.broadcast(lr), "b")
                .groupBy("doc_id")
                .agg(F.count("*").cast("long").alias("n_features"),
                     F.round(F.sum("lr_u") * 1.0 / 1000000, 6)
                      .alias("dsir_logweight")))


# --------------------------------------------------------------------------
# corpus_perplexity_buckets — CCNet-style quality bucketing (Wenzek et
# al. 2020, "CCNet: Extracting High Quality Monolingual Datasets from
# Web Crawl Data"): rank every document by its LM score and cut the
# corpus into head / middle / tail terciles — the standard coarse
# quality partition a pretraining mix samples from at different rates.
# Scoring composes the registered corpus_unigram_logprob (the
# perplexity proxy with integer micro-log determinism); the tercile
# cutpoints are exact PERCENTILE_DISC values (discrete — real data
# values, engine-identical on the 4-dp scores), applied via one
# broadcast 1-row cutpoint frame. Higher avg logprob = lower
# perplexity = head.
#
# Scale: the score frame is |docs| rows; two discrete percentiles over
# it (one pass) and a broadcast join — nothing corpus-sized shuffles
# beyond what the score query already does.
# --------------------------------------------------------------------------
def _perplexity_buckets_oracle() -> str:
    return f"""
WITH score AS ({ORACLES["corpus_unigram_logprob"]}),
cuts AS (
  SELECT PERCENTILE_DISC(1.0/3) WITHIN GROUP (ORDER BY avg_logprob) AS c33,
         PERCENTILE_DISC(2.0/3) WITHIN GROUP (ORDER BY avg_logprob) AS c67
  FROM score)
SELECT s.doc_id, s.avg_logprob,
       CASE WHEN s.avg_logprob >= c.c67 THEN 'head'
            WHEN s.avg_logprob >= c.c33 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM score s CROSS JOIN cuts c
"""


@register("corpus_perplexity_buckets", oracle=_perplexity_buckets_oracle)
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    score = corpus_unigram_logprob(spark, sf_dir)
    cuts = score.agg(
        F.expr("percentile_disc(1.0/3) WITHIN GROUP (ORDER BY avg_logprob)")
         .alias("c33"),
        F.expr("percentile_disc(2.0/3) WITHIN GROUP (ORDER BY avg_logprob)")
         .alias("c67"))
    bucket = (F.when(F.col("avg_logprob") >= F.col("c67"), "head")
               .when(F.col("avg_logprob") >= F.col("c33"), "middle")
               .otherwise("tail"))
    return (score.crossJoin(F.broadcast(cuts))
                 .select("doc_id", "avg_logprob", bucket.alias("bucket")))


# --------------------------------------------------------------------------
# doc_chunk_dedup — chunk-level exact dedup over the context-window
# chunking (the RAG/embedding-ingest signal): a chunk is a duplicate
# when its text already appeared as an EARLIER chunk anywhere in the
# corpus (keep-first by (doc_id, chunk_id) order — the same
# deterministic policy as corpus_span_dedup). Per doc: chunk counts,
# duplicate-chunk count, and dup ppm — the number that decides whether
# a vector store ingests 30% redundant chunks. Composes the registered
# doc_chunks, so the chunking itself stays oracle-proven.
#
# Scale: one window over the chunk-hash partition (the span-dedup
# shuffle shape — no groupBy + join-back) then a per-doc re-agg.
# --------------------------------------------------------------------------
def _doc_chunk_dedup_oracle() -> str:
    return f"""
WITH ch AS ({ORACLES["doc_chunks"]}),
flagged AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
                            ORDER BY doc_id, chunk_id) > 1 AS is_dup
  FROM ch)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST((1000000 * SUM(CASE WHEN is_dup THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS dup_ppm
FROM flagged GROUP BY doc_id
"""


@register("doc_chunk_dedup", oracle=_doc_chunk_dedup_oracle)
def doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = doc_chunks(spark, sf_dir).select(
        "doc_id", "chunk_id", F.md5("chunk_text").alias("h"))
    wh = Window.partitionBy("h").orderBy("doc_id", "chunk_id")
    flagged = ch.select(
        "doc_id", (F.row_number().over(wh) > 1).alias("is_dup"))
    return (flagged.groupBy("doc_id")
                   .agg(F.count("*").cast("long").alias("n_chunks"),
                        F.sum(F.col("is_dup").cast("long")).cast("long")
                         .alias("n_dup_chunks"))
                   .select("doc_id", "n_chunks", "n_dup_chunks",
                           F.expr("(1000000 * n_dup_chunks) div n_chunks")
                            .cast("long").alias("dup_ppm")))


# --------------------------------------------------------------------------
# bm25_topk — ranked retrieval over the corpus: BM25 (Robertson/Okapi,
# k1 = 1.2, b = 0.75) for a fixed query-term set, top-K documents. The
# IR capability a curation stack uses to pull topic slices out of a web
# corpus (and the lexical half of hybrid search next to ann_topk_*).
#
# Determinism across engines (the corpus_unigram_logprob discipline):
# idf is snapped to integer MICRO-units (round(ln(.)*1e6) as BIGINT)
# and each (doc, term) contribution likewise rounds to an integer
# BEFORE the per-doc sum, so Spark's partial-agg order vs DuckDB's
# serial order cannot flip a bit; ranking compares the exact integer
# score. avgdl enters as the exact integer pair (sum_dl, n_docs) —
# b*dl*N/sum_dl in identical op order — rather than a pre-divided
# float.
#
# Scale: tf is a map-side projection (terms are a tiny literal array);
# df is a 3-row aggregate that broadcasts back; the only corpus shuffle
# is the per-doc score re-aggregation, partial-combined map-side. The
# top-K is ORDER BY ... LIMIT K — TakeOrderedAndProject, a per-partition
# top-K with one K-row merge (the corpus_zipf_fit pattern); the rank
# window then runs over the already-limited K-row frame only (VERDICT
# r5 item 2 — the earlier global row_number window shuffled every
# matching doc into one partition).
# --------------------------------------------------------------------------
BM25_TERMS = ("spark", "hash", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20

_SQL_BM25_TERMS = "[" + ", ".join(f"'{t}'" for t in BM25_TERMS) + "]"


@register("bm25_topk", oracle=f"""
WITH d AS (
  SELECT doc_id, {_sql_tokens()} AS toks,
         len({_sql_tokens()}) AS dl
  FROM documents),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM d),
tf AS (
  SELECT doc_id, dl, term,
         len(list_filter(toks, x -> x = term)) AS tf
  FROM d, (SELECT UNNEST({_SQL_BM25_TERMS}) AS term) q),
tf2 AS (SELECT * FROM tf WHERE tf > 0),
df AS (SELECT term, COUNT(*) AS df FROM tf2 GROUP BY term),
idf AS (
  SELECT term,
         CAST(ROUND(ln((s.n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE)
                       + 1.0::DOUBLE) * 1000000) AS BIGINT) AS idf_u
  FROM df, stats s),
contrib AS (
  SELECT f.doc_id,
         CAST(ROUND(i.idf_u * (f.tf /
              (f.tf + {BM25_K1}::DOUBLE * (1.0::DOUBLE - {BM25_B}::DOUBLE
               + {BM25_B}::DOUBLE * f.dl * s.n_docs / s.sum_dl))))
              AS BIGINT) AS c_u
  FROM tf2 f JOIN idf i USING (term), stats s),
scores AS (SELECT doc_id, SUM(c_u) AS score_u FROM contrib GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score_u,
         ROW_NUMBER() OVER (ORDER BY score_u DESC, doc_id ASC) AS rank
  FROM scores)
SELECT doc_id, CAST(rank AS BIGINT) AS rank,
       ROUND(score_u / 1000000.0::DOUBLE, 4) AS bm25
FROM ranked WHERE rank <= {BM25_TOPK}
""")
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    d = docs.select("doc_id", toks.alias("toks"),
                    F.size(toks).cast("long").alias("dl"))
    # stats broadcasts into BOTH idf and the contribution scorer — each
    # reference would re-run the full tokenize + aggregate pass (with
    # tf2's own pass, three corpus tokenizations). One row.
    stats = state.pinned(spark, ("bm25_topk:stats", sf_dir),
                         lambda: d.agg(F.count("*").alias("n_docs"),
                                       F.sum("dl").alias("sum_dl")))
    def _tf(t: str):
        # closure, not a default-arg lambda: a 2-parameter lambda would
        # be read by Spark as the (element, index) signature
        return F.size(F.filter(F.col("toks"), lambda x: x == F.lit(t)))

    term_structs = [
        F.struct(F.lit(t).alias("term"),
                 _tf(t).cast("long").alias("tf"))
        for t in BM25_TERMS]
    tf2 = (d.select("doc_id", "dl",
                    F.explode(F.array(*term_structs)).alias("s"))
            .select("doc_id", "dl", "s.term", "s.tf")
            .where(F.col("tf") > 0))
    df_tbl = tf2.groupBy("term").agg(F.count("*").alias("df"))
    idf = (df_tbl.crossJoin(F.broadcast(stats))
                 .select("term",
                         F.round(F.log((F.col("n_docs") - F.col("df") + F.lit(0.5))
                                       / (F.col("df") + F.lit(0.5))
                                       + F.lit(1.0)) * 1e6)
                          .cast("long").alias("idf_u")))
    denom = (F.col("tf")
             + F.lit(BM25_K1) * (F.lit(1.0) - F.lit(BM25_B)
                                 + F.lit(BM25_B) * F.col("dl")
                                   * F.col("n_docs") / F.col("sum_dl")))
    contrib = (tf2.join(F.broadcast(idf), "term")
                  .crossJoin(F.broadcast(stats))
                  .select("doc_id",
                          F.round(F.col("idf_u") * (F.col("tf") / denom))
                           .cast("long").alias("c_u")))
    scores = contrib.groupBy("doc_id").agg(F.sum("c_u").alias("score_u"))
    # TakeOrderedAndProject: per-partition top-K, one K-row merge —
    # no single-partition exchange of the full score frame. The rank
    # window re-sorts only the K surviving rows (bounded frame; the
    # identical total-order keys keep the oracle unchanged).
    top = scores.orderBy(F.col("score_u").desc(),
                         F.col("doc_id").asc()).limit(BM25_TOPK)
    w = Window.orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
    return (top.withColumn("rank", F.row_number().over(w).cast("long"))
               .select("doc_id", "rank",
                       F.round(F.col("score_u") / F.lit(1e6), 4)
                        .alias("bm25")))


# --------------------------------------------------------------------------
# quality_score_calibrated — per-SOURCE percentile calibration of the
# quality score: a raw threshold applied corpus-wide systematically
# over-drops whole domains whose score distribution sits lower (the
# known C4-blocklist failure mode); calibrating to the within-source
# percent_rank makes the keep decision source-fair. The keep flag uses
# the calibrated value, so each source retains its own top
# (1 - QUALITY_CAL_DROP) fraction.
#
# Determinism: percent_rank is (rank-1)/(n-1) over integer counts with
# ties sharing a rank — identical in both engines, no float-order
# hazard.
#
# Scale (the customer_value_ranks class, r8 lowcard-sweep finding): the
# oracle's window form partitions doc-level rows by source — a constant
# ~19-value key, so one task sorts ~N/19 docs at any scale. But
# percent_rank with tie-shared ranks is CONSTANT within a
# (source, quality_score) value group: rank = rows-strictly-below + 1,
# so calibrated = n_below / (n - 1) computes entirely on the per-source
# score HISTOGRAM (bounded by the score grid, not by |docs|) and
# broadcast-joins back. No fact-scale window; values bit-identical.
# --------------------------------------------------------------------------
QUALITY_CAL_DROP = 0.2


def _quality_calibrated_oracle() -> str:
    return f"""
WITH q AS ({ORACLES["text_quality_score"]}),
j AS (
  SELECT q.doc_id, d.source, q.quality_score
  FROM q JOIN documents d ON d.doc_id = q.doc_id),
r AS (
  SELECT doc_id, source, quality_score,
         ROUND(percent_rank() OVER (PARTITION BY source
                                    ORDER BY quality_score), 4)
           AS calibrated
  FROM j)
SELECT doc_id, source, quality_score, calibrated,
       CAST(calibrated >= {QUALITY_CAL_DROP} AS INT) AS keep
FROM r
"""


@register("quality_score_calibrated", oracle=_quality_calibrated_oracle)
def quality_score_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    src = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = q.join(src, "doc_id")
    hist = (j.groupBy("source", "quality_score")
             .agg(F.count("*").alias("g_n")))
    wv = Window.partitionBy("source").orderBy("quality_score")
    seg = (hist.select("source", "quality_score",
                       (F.sum("g_n").over(wv) - F.col("g_n"))
                        .alias("n_below"),
                       F.sum("g_n").over(
                           wv.rangeBetween(Window.unboundedPreceding,
                                           Window.unboundedFollowing))
                        .alias("n"))
               .withColumn("calibrated",
                           F.round(F.when(F.col("n") > 1,
                                          F.col("n_below")
                                          / (F.col("n") - 1))
                                    .otherwise(F.lit(0.0)), 4)))
    return (j.join(F.broadcast(seg.select(
                       "source", "quality_score", "calibrated")),
                   ["source", "quality_score"])
             .select("doc_id", "source", "quality_score", "calibrated",
                     (F.col("calibrated") >= F.lit(QUALITY_CAL_DROP))
                      .cast("int").alias("keep")))


# --------------------------------------------------------------------------
# corpus_zipf_fit — distributed OLS fit of Zipf's law over the corpus's
# token-frequency distribution: ln(count) regressed on ln(rank) for the
# top-K ranks, reporting slope (the Zipf exponent, ~ -1 for natural
# language), intercept, and r^2. The slope is the single most-quoted
# corpus health statistic — a synthetic / template-generated corpus
# shows up immediately as a flat or kinked rank-frequency curve
# (slope far from -1, low r^2). No reference counterpart (the reference
# has no text surface); the regression itself is new capability: the
# repo's first closed-form distributed OLS.
#
# Scale shape: one shuffle builds the vocabulary (token -> count);
# the top-K ranks come from orderBy(...).limit(K), which Spark plans as
# TakeOrderedAndProject — per-partition top-K then a single K-row merge,
# never a global sort of the vocabulary. Everything after operates on a
# K-row frame (K = ZIPF_TOP_RANKS), so the window rank and the
# sufficient-statistic aggregate are bounded regardless of corpus size.
# At 100 TB only the vocab agg grows, and it's a plain partial-combined
# groupBy.
#
# Determinism across engines: ln(rank) and ln(count) are snapped to
# integer MICRO-log units (round(ln * 1e6) as BIGINT) per rank; the
# sufficient statistics (sum x, sum y, sum xy, sum x^2, sum y^2) are
# integer sums — associative, so aggregation order can't flip a bit.
# The final slope/intercept/r^2 combine those exact integers with one
# fixed-order scalar expression per engine. Cross products like
# n * sum(xy) reach ~2e20, past int64: Spark computes them in
# decimal(38,0) (exact), DuckDB's SUM already yields HUGEINT (exact);
# r^2's squared covariance would overflow even int128, so covariance and
# the two variances convert to double first (identical exact-integer
# inputs on both engines -> identical doubles). Ties in count rank
# deterministically by token text. Degenerate inputs (a single rank, or
# every top-K count identical) have zero x- or y-variance: slope,
# intercept and r^2 are NULL then, guarded on both engines so ANSI mode
# can't raise DIVIDE_BY_ZERO.
# --------------------------------------------------------------------------
ZIPF_TOP_RANKS = 1000


@register("corpus_zipf_fit", oracle=f"""
WITH tok AS (
  SELECT unnest({_sql_tokens()}) AS token FROM documents),
vocab AS (
  SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
top AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rank
  FROM vocab ORDER BY cnt DESC, token ASC LIMIT {ZIPF_TOP_RANKS}),
u AS (
  SELECT CAST(ROUND(ln(rank) * 1000000) AS BIGINT) AS xu,
         CAST(ROUND(ln(cnt)  * 1000000) AS BIGINT) AS yu
  FROM top),
s AS (
  SELECT COUNT(*) AS n, SUM(xu) AS sx, SUM(yu) AS sy,
         SUM(xu * yu) AS sxy, SUM(xu * xu) AS sxx, SUM(yu * yu) AS syy
  FROM u)
SELECT CAST(n AS BIGINT) AS n_ranks,
       CASE WHEN n * sxx - sx * sx > 0 THEN
         ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE), 4) END AS zipf_slope,
       CASE WHEN n * sxx - sx * sx > 0 THEN
         ROUND((CAST(sy AS DOUBLE)
                - CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) / 1000000, 4) END AS zipf_intercept,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
               * CAST(n * sxy - sx * sy AS DOUBLE)
               / (CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)), 4) END AS r2
FROM s
""")
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    # TakeOrderedAndProject: per-partition top-K, single K-row merge.
    top = vocab.orderBy(F.desc("cnt"), F.asc("token")).limit(ZIPF_TOP_RANKS)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    u = (top.withColumn("rank", F.row_number().over(w))
            .select(F.round(F.log("rank") * 1e6).cast("long").alias("xu"),
                    F.round(F.log("cnt") * 1e6).cast("long").alias("yu")))
    dec = "decimal(38,0)"
    s = u.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("xu").cast(dec).alias("sx"),
        F.sum("yu").cast(dec).alias("sy"),
        F.sum(F.col("xu") * F.col("yu")).cast(dec).alias("sxy"),
        F.sum(F.col("xu") * F.col("xu")).cast(dec).alias("sxx"),
        F.sum(F.col("yu") * F.col("yu")).cast(dec).alias("syy"))
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = cov / varx
    return s.select(
        F.col("n").cast("long").alias("n_ranks"),
        F.when(varx > 0, F.round(slope, 4)).alias("zipf_slope"),
        F.when(varx > 0,
               F.round((F.col("sy").cast("double")
                        - slope * F.col("sx").cast("double"))
                       / F.col("n").cast("double") / 1e6, 4))
         .alias("zipf_intercept"),
        F.when((varx > 0) & (vary > 0), F.round(cov * cov / (varx * vary), 4))
         .alias("r2"))


# --------------------------------------------------------------------------
# feature_hash_collision_audit — the hashing-trick integrity audit: a
# large-scale feature pipeline maps an unbounded vocabulary into D
# hash buckets (Weinberger et al.'s feature hashing); before committing
# to a D, you measure how much of the vocabulary actually collides at
# each candidate width. For each D in FH_DIMS: distinct-token count,
# buckets used, tokens sharing a bucket, and the collision rate in ppm
# — the table that picks the embedding-matrix width for a 100 TB run.
#
# Determinism: bucket = 60-bit md5 bigint ('fh:' salt) mod D —
# engine-identical by the textops.hash64 contract; every output is an
# exact integer count or ppm floor division.
#
# 100 TB shape: ONE distinct-vocab aggregate over the corpus (the only
# corpus-sized shuffle), then a 3x map-side fan-out of the VOCAB (not
# the corpus) and two narrow groupBys on (dim, bucket) / (dim). The
# audit never touches document rows after the vocab agg.
# --------------------------------------------------------------------------
FH_DIMS = (1024, 4096, 16384)

_SQL_FH_DIMS = ", ".join(str(d) for d in FH_DIMS)


@register("feature_hash_collision_audit", oracle=f"""
WITH vocab AS (
  SELECT DISTINCT UNNEST({_sql_tokens()}) AS token FROM documents),
hashed AS (
  SELECT d.dim,
         ('0x' || substr(md5('fh:' || token), 1, 15))::BIGINT % d.dim
           AS bucket
  FROM vocab, (SELECT UNNEST([{_SQL_FH_DIMS}]) AS dim) d),
per_bucket AS (
  SELECT dim, bucket, COUNT(*) AS n FROM hashed GROUP BY dim, bucket)
SELECT CAST(dim AS BIGINT) AS hash_dim,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS buckets_used,
       CAST(SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT)
         AS collided_tokens,
       CAST((1000000 * SUM(CASE WHEN n >= 2 THEN n ELSE 0 END)) // SUM(n)
            AS BIGINT) AS collision_ppm
FROM per_bucket GROUP BY dim
""")
def feature_hash_collision_audit(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    vocab = (docs.select(F.explode(tokens(F.col("text"))).alias("token"))
                 .distinct())
    dims = F.array(*[F.lit(d) for d in FH_DIMS])
    hashed = (vocab.select(hash64(F.concat(F.lit("fh:"), F.col("token")))
                            .alias("h"),
                           F.explode(dims).alias("dim"))
                   .select("dim", (F.col("h") % F.col("dim")).alias("bucket")))
    per_bucket = hashed.groupBy("dim", "bucket").agg(F.count("*").alias("n"))
    return (per_bucket.groupBy("dim")
            .agg(F.sum("n").cast("long").alias("n_tokens"),
                 F.count("*").cast("long").alias("buckets_used"),
                 F.sum(F.when(F.col("n") >= 2, F.col("n")).otherwise(0))
                  .cast("long").alias("collided_tokens"),
                 F.expr("(1000000 * sum(CASE WHEN n >= 2 THEN n ELSE 0 END))"
                        " div sum(n)").cast("long").alias("collision_ppm"))
            .select(F.col("dim").cast("long").alias("hash_dim"),
                    "n_tokens", "buckets_used", "collided_tokens",
                    "collision_ppm"))


# --------------------------------------------------------------------------
# tokenizer_fertility_by_lang — per-language tokenizer fertility: the
# ratio of subword (BPE-ish) tokens to whitespace words, plus bytes per
# subword token — the numbers that decide a multilingual mixture's
# effective token budget (high-fertility languages consume dispropor-
# tionate context window; the standard argument for tokenizer retraining).
#
# Determinism: counts are exact integers from the shared BPE_REGEX /
# whitespace tokenizers; ratios are integer-ppm floor divisions of
# corpus-level sums. 100 TB shape: all three signals are map-side
# column expressions; the only shuffle is ONE groupBy on the tiny
# language key (AQE handles the skewed-language case).
# --------------------------------------------------------------------------
@register("tokenizer_fertility_by_lang", oracle=f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len({_sql_tokens()})) AS BIGINT) AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(text,
            '{BPE_REGEX}'))) AS BIGINT) AS bpe_tokens,
       CAST((1000000 * SUM(len(regexp_extract_all(text,
            '{BPE_REGEX}'))))
            // GREATEST(SUM(len({_sql_tokens()})), 1) AS BIGINT)
         AS fertility_ppm,
       CAST((1000000 * SUM(n_chars))
            // GREATEST(SUM(len(regexp_extract_all(text,
               '{BPE_REGEX}'))), 1) AS BIGINT)
         AS chars_per_bpe_ppm
FROM documents GROUP BY lang
""")
def tokenizer_fertility_by_lang(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    sig = docs.select(
        "lang", "n_chars",
        F.size(tokens(F.col("text"))).cast("long").alias("ws"),
        bpe_token_count(F.col("text")).cast("long").alias("bpe"))
    return (sig.groupBy("lang")
               .agg(F.count("*").cast("long").alias("n_docs"),
                    F.sum("ws").cast("long").alias("ws_tokens"),
                    F.sum("bpe").cast("long").alias("bpe_tokens"),
                    F.expr("(1000000 * sum(bpe)) div greatest(sum(ws), 1)")
                     .cast("long").alias("fertility_ppm"),
                    F.expr("(1000000 * sum(n_chars))"
                           " div greatest(sum(bpe), 1)")
                     .cast("long").alias("chars_per_bpe_ppm")))


# --------------------------------------------------------------------------
# corpus_manifest_fingerprint — the dataset card + content hash a
# reproducible training run records per source: row/unique counts,
# char/token budgets, and an ORDER-INSENSITIVE content fingerprint
# (sum of per-doc 60-bit md5 hashes mod the Mersenne prime 2^61-1) —
# equal corpora produce equal fingerprints regardless of partitioning,
# file order, or engine, so two pipeline runs can prove they trained on
# the same bytes without comparing the bytes.
#
# Determinism: the per-doc hash is the shared hash64 contract; the sum
# runs in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so it cannot
# overflow before the mod; everything else is exact integer counts.
#
# 100 TB shape: all signals are map-side column expressions; ONE
# groupBy on the tiny source key (plus the distinct-text subcount,
# which shuffles (source, md5) pairs — narrow, and the only part that
# scales beyond the aggregate).
# --------------------------------------------------------------------------
MANIFEST_MOD = 2_305_843_009_213_693_951  # 2^61 - 1


@register("corpus_manifest_fingerprint", oracle=f"""
WITH sig AS (
  SELECT source,
         ('0x' || substr(md5(text), 1, 15))::BIGINT AS h,
         md5(text) AS full_md5,
         n_chars,
         len({_sql_tokens()}) AS ws
  FROM documents)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT full_md5) AS BIGINT) AS n_unique_texts,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(ws) AS BIGINT) AS ws_tokens,
       CAST(SUM(CAST(h AS HUGEINT)) % {MANIFEST_MOD} AS BIGINT)
         AS content_fingerprint
FROM sig GROUP BY source
""")
def corpus_manifest_fingerprint(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    sig = docs.select(
        "source",
        hash64(F.col("text")).alias("h"),
        F.md5(F.col("text")).alias("full_md5"),
        "n_chars",
        F.size(tokens(F.col("text"))).cast("long").alias("ws"))
    return (sig.groupBy("source")
               .agg(F.count("*").cast("long").alias("n_docs"),
                    F.countDistinct("full_md5").cast("long")
                     .alias("n_unique_texts"),
                    F.sum("n_chars").cast("long").alias("n_chars"),
                    F.sum("ws").cast("long").alias("ws_tokens"),
                    (F.sum(F.col("h").cast("decimal(38,0)"))
                      % F.lit(MANIFEST_MOD).cast("decimal(38,0)"))
                     .cast("long").alias("content_fingerprint")))


# --------------------------------------------------------------------------
# quality_disparate_impact — the four-fifths-rule fairness audit over
# the quality filter: per SOURCE, the keep rate at the DI_KEEP
# threshold and its ratio to the best-kept source; a ratio below
# 800000 ppm (the EEOC 80% rule, applied here to data curation) flags
# a source the raw threshold would systematically suppress — the
# quantified version of the C4-blocklist failure mode that
# quality_score_calibrated fixes. Completes the governance family
# (privacy triad, leakage-safe splits, manifest fingerprint).
#
# Determinism: keep counts are exact integers; rates and the DI ratio
# are ppm floor divisions; the best-source rate comes from a max over
# the |sources|-row aggregate (bounded frame). 100 TB shape: one doc
# scan -> groupBy(source); the window runs over the source aggregate.
# --------------------------------------------------------------------------
DI_KEEP = 0.5


def _disparate_impact_oracle() -> str:
    return f"""
WITH q AS ({ORACLES["text_quality_score"]}),
j AS (
  SELECT d.source,
         CASE WHEN q.quality_score >= {DI_KEEP} THEN 1 ELSE 0 END AS keep
  FROM q JOIN documents d USING (doc_id)),
s AS (
  SELECT source, COUNT(*) AS n_docs, SUM(keep) AS n_keep,
         (1000000 * SUM(keep)) // COUNT(*) AS keep_rate_ppm
  FROM j GROUP BY source),
m AS (SELECT MAX(keep_rate_ppm) AS best FROM s)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_keep AS BIGINT) AS n_keep,
       CAST(keep_rate_ppm AS BIGINT) AS keep_rate_ppm,
       CAST((1000000 * keep_rate_ppm) // GREATEST(m.best, 1) AS BIGINT)
         AS di_ratio_ppm,
       (1000000 * keep_rate_ppm) // GREATEST(m.best, 1) < 800000
         AS below_four_fifths
FROM s, m
"""


@register("quality_disparate_impact", oracle=_disparate_impact_oracle)
def quality_disparate_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = (q.join(docs, "doc_id")
          .select("source",
                  F.when(F.col("quality_score") >= DI_KEEP, 1)
                   .otherwise(0).alias("keep")))
    # s feeds BOTH the max aggregate and the output join; unpinned, the
    # full doc scan + quality scoring runs twice per invocation. The
    # frame is |sources| rows — tiny.
    s = state.pinned(
        spark, ("quality_disparate_impact:src_agg", sf_dir),
        lambda: (j.groupBy("source")
                  .agg(F.count("*").alias("n_docs"),
                       F.sum("keep").alias("n_keep"),
                       F.expr("(1000000 * sum(keep)) div count(*)")
                        .alias("keep_rate_ppm"))))
    m = s.agg(F.max("keep_rate_ppm").alias("best"))
    return (s.crossJoin(F.broadcast(m))
             .select("source",
                     F.col("n_docs").cast("long").alias("n_docs"),
                     F.col("n_keep").cast("long").alias("n_keep"),
                     F.col("keep_rate_ppm").cast("long")
                      .alias("keep_rate_ppm"),
                     F.expr("(1000000 * keep_rate_ppm) div greatest(best, 1)")
                      .cast("long").alias("di_ratio_ppm"),
                     (F.expr("(1000000 * keep_rate_ppm)"
                             " div greatest(best, 1)") < 800000)
                      .alias("below_four_fifths")))


# --------------------------------------------------------------------------
# corpus_token_gini — document-length inequality per source, as an
# EXACT Gini coefficient computed from the token-count HISTOGRAM: a
# run of f docs sharing value v occupying ranks r0+1..r0+f contributes
# v * (f*r0 + f*(f+1)/2) to the rank-weighted sum, so the classic
# rank-sum formula G = (2T - (n+1)S) / (nS) needs only a cumulative
# window over DISTINCT LENGTH VALUES — never a row-scale global sort.
# The batch-planning statistic (token inequality decides how much
# packing/bucketing effort pays off) that naive Gini implementations
# compute with an O(N log N) total order.
#
# Determinism: token counts are exact integers; T and S accumulate in
# DECIMAL(38,0)/HUGEINT; the output is a ppm floor division.
# --------------------------------------------------------------------------
@register("corpus_token_gini", oracle=f"""
WITH d AS (
  SELECT source, CAST(len({_sql_tokens()}) AS BIGINT) AS v FROM documents),
h AS (SELECT source, v, COUNT(*) AS f FROM d GROUP BY source, v),
c AS (
  SELECT source, v, f,
         COALESCE(SUM(f) OVER (PARTITION BY source ORDER BY v ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS r0
  FROM h),
s AS (
  SELECT source,
         SUM(CAST(f AS HUGEINT)) AS n,
         SUM(CAST(v AS HUGEINT) * f) AS total,
         SUM(CAST(v AS HUGEINT) * (f * r0 + f * (f + 1) // 2)) AS t
  FROM c GROUP BY source)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       CAST(total AS BIGINT) AS total_tokens,
       CAST(CASE WHEN n > 0 AND total > 0 THEN
              (1000000 * (2 * t - (n + 1) * total)) // (n * total)
            ELSE 0 END AS BIGINT) AS gini_ppm
FROM s
""")
def corpus_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    d = docs.select("source",
                    F.size(tokens(F.col("text"))).cast("long").alias("v"))
    h = d.groupBy("source", "v").agg(F.count("*").alias("f"))
    w = (Window.partitionBy("source").orderBy(F.col("v").asc())
               .rowsBetween(Window.unboundedPreceding, -1))
    c = h.withColumn("r0", F.coalesce(F.sum("f").over(w), F.lit(0)))
    dec = "decimal(38,0)"
    s = (c.groupBy("source")
          .agg(F.sum(F.col("f").cast(dec)).alias("n"),
               F.sum(F.col("v").cast(dec) * F.col("f")).alias("total"),
               F.sum(F.col("v").cast(dec)
                     * (F.col("f") * F.col("r0")
                        + F.expr("f * (f + 1) div 2"))).alias("t")))
    # `div` (integral division), not `/` + cast: Spark's decimal `/`
    # ROUNDS at the result scale before any cast, which can disagree
    # with DuckDB's exact integer floor on values near an integer.
    withnd = s.select(
        "source", "n", "total",
        (F.lit(1000000).cast(dec)
         * (2 * F.col("t") - (F.col("n") + 1) * F.col("total")))
        .alias("num"),
        (F.col("n") * F.col("total")).alias("den"))
    gini = F.when((F.col("n") > 0) & (F.col("total") > 0),
                  F.expr("num div den").cast("long")) \
            .otherwise(F.lit(0).cast("long"))
    return withnd.select("source",
                         F.col("n").cast("long").alias("n_docs"),
                         F.col("total").cast("long").alias("total_tokens"),
                         gini.alias("gini_ppm"))


# --------------------------------------------------------------------------
# rlhf_preference_pairs — DPO/RLHF preference-pair assembly from a
# scored corpus: within each (source, lang) stratum, zip the top-P
# quality documents against the bottom-P (rank i chosen vs rank i
# rejected) and keep pairs whose quality gap clears RLHF_MIN_GAP — the
# deterministic, quadratic-free way to mine (chosen, rejected) training
# pairs from quality signals (pairing by rank instead of all-pairs
# keeps each stratum's pair count at P, not P^2).
#
# Determinism: ranks tie-break on doc_id; quality scores are the shared
# 4-decimal text_quality_score values; the gap is a ppm integer.
#
# 100 TB shape: two rank windows per stratum (partitioned on the
# stratum key) + one (stratum, rank) equi-join of two P-row-per-stratum
# frames. Nothing quadratic, nothing single-partition.
# --------------------------------------------------------------------------
RLHF_POOL = 10
RLHF_MIN_GAP_PPM = 100_000  # chosen must beat rejected by >= 0.1


def _pref_pairs_oracle() -> str:
    return f"""
WITH q AS ({ORACLES["text_quality_score"]}),
j AS (
  SELECT d.source, d.lang, q.doc_id, q.quality_score
  FROM q JOIN documents d USING (doc_id)),
ranked AS (
  SELECT source, lang, doc_id, quality_score,
         ROW_NUMBER() OVER (PARTITION BY source, lang
                            ORDER BY quality_score DESC, doc_id ASC)
           AS top_rank,
         ROW_NUMBER() OVER (PARTITION BY source, lang
                            ORDER BY quality_score ASC, doc_id ASC)
           AS bot_rank
  FROM j),
chosen AS (SELECT source, lang, top_rank AS rank, doc_id AS chosen_doc_id,
                  quality_score AS chosen_q
           FROM ranked WHERE top_rank <= {RLHF_POOL}),
rejected AS (SELECT source, lang, bot_rank AS rank,
                    doc_id AS rejected_doc_id, quality_score AS rejected_q
             FROM ranked WHERE bot_rank <= {RLHF_POOL})
SELECT c.source, c.lang, CAST(c.rank AS BIGINT) AS rank,
       c.chosen_doc_id, r.rejected_doc_id,
       CAST(ROUND((c.chosen_q - r.rejected_q) * 1000000) AS BIGINT)
         AS gap_ppm
FROM chosen c JOIN rejected r
  ON r.source = c.source AND r.lang = c.lang AND r.rank = c.rank
WHERE c.chosen_doc_id <> r.rejected_doc_id
  AND ROUND((c.chosen_q - r.rejected_q) * 1000000) >= {RLHF_MIN_GAP_PPM}
"""


@register("rlhf_preference_pairs", oracle=_pref_pairs_oracle)
def rlhf_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang")
    j = q.join(docs, "doc_id")
    w_top = Window.partitionBy("source", "lang").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc())
    w_bot = Window.partitionBy("source", "lang").orderBy(
        F.col("quality_score").asc(), F.col("doc_id").asc())
    ranked = (j.withColumn("top_rank", F.row_number().over(w_top))
               .withColumn("bot_rank", F.row_number().over(w_bot)))
    chosen = (ranked.where(F.col("top_rank") <= RLHF_POOL)
                    .select("source", "lang",
                            F.col("top_rank").alias("rank"),
                            F.col("doc_id").alias("chosen_doc_id"),
                            F.col("quality_score").alias("chosen_q")))
    rejected = (ranked.where(F.col("bot_rank") <= RLHF_POOL)
                      .select("source", "lang",
                              F.col("bot_rank").alias("rank"),
                              F.col("doc_id").alias("rejected_doc_id"),
                              F.col("quality_score").alias("rejected_q")))
    gap = F.round((F.col("chosen_q") - F.col("rejected_q")) * 1e6)
    return (chosen.join(rejected, ["source", "lang", "rank"])
                  .where(F.col("chosen_doc_id") != F.col("rejected_doc_id"))
                  .where(gap >= RLHF_MIN_GAP_PPM)
                  .select("source", "lang",
                          F.col("rank").cast("long").alias("rank"),
                          "chosen_doc_id", "rejected_doc_id",
                          gap.cast("long").alias("gap_ppm")))


# --------------------------------------------------------------------------
# corpus_prefix_cache_stats — KV-cache prefix-sharing estimate: for
# each prefix length K, how many documents share their first K tokens
# with another document — the hit-rate a paged-KV inference server
# (vLLM-style prefix caching) would get serving this corpus, and the
# dedup-adjacent signal that surfaces boilerplate openings.
#
# Determinism: the prefix key is the shared hash64 of the joined first
# K tokens; counts and rates are exact integers / ppm floor divisions.
# 100 TB shape: per K, one map-side prefix hash + one groupBy on the
# hash — the 3 K-values fan out the corpus 3x map-side, nothing else.
# --------------------------------------------------------------------------
PREFIX_CACHE_LENS = (4, 8, 16)

_SQL_PREFIX_LENS = ", ".join(str(k) for k in PREFIX_CACHE_LENS)


@register("corpus_prefix_cache_stats", oracle=f"""
WITH d AS (SELECT {_sql_tokens()} AS toks FROM documents),
pref AS (
  SELECT k.k,
         ('0x' || substr(md5(array_to_string(toks[1:k.k], ' ')), 1, 15))
           ::BIGINT AS ph
  FROM d, (SELECT UNNEST([{_SQL_PREFIX_LENS}]) AS k) k
  WHERE len(toks) >= k.k),
g AS (SELECT k, ph, COUNT(*) AS n FROM pref GROUP BY k, ph)
SELECT CAST(k AS BIGINT) AS prefix_len,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_prefixes,
       CAST(SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT)
         AS shared_docs,
       CAST((1000000 * (SUM(n) - COUNT(*))) // GREATEST(SUM(n), 1)
            AS BIGINT) AS hit_rate_ppm
FROM g GROUP BY k
""")
def corpus_prefix_cache_stats(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    d = docs.select(toks.alias("toks"))
    arms = F.array(*[F.lit(k) for k in PREFIX_CACHE_LENS])
    pref = (d.select("toks", F.explode(arms).alias("k"))
             .where(F.size("toks") >= F.col("k"))
             .select("k", hash64(F.array_join(
                 F.slice("toks", 1, F.col("k")), " ")).alias("ph")))
    g = pref.groupBy("k", "ph").agg(F.count("*").alias("n"))
    return (g.groupBy("k")
             .agg(F.sum("n").cast("long").alias("n_docs"),
                  F.count("*").cast("long").alias("n_prefixes"),
                  F.sum(F.when(F.col("n") >= 2, F.col("n")).otherwise(0))
                   .cast("long").alias("shared_docs"),
                  F.expr("(1000000 * (sum(n) - count(*)))"
                         " div greatest(sum(n), 1)").cast("long")
                   .alias("hit_rate_ppm"))
             .select(F.col("k").cast("long").alias("prefix_len"),
                     "n_docs", "n_prefixes", "shared_docs",
                     "hit_rate_ppm"))


# --------------------------------------------------------------------------
# corpus_sampling_temperature — temperature-scaled source sampling
# weights (the XLM-R / mC4 alpha-sampling table): for each alpha, the
# per-source sampling probability p_i^alpha / sum_j p_j^alpha, where
# p_i is the source's share of corpus tokens. Low alpha flattens the
# distribution (up-samples small sources); alpha = 1 is proportional —
# the ONE knob every multilingual/multi-source mixture schedule tunes,
# published as an auditable table.
#
# Determinism: token counts are exact integers; p_i^alpha computes as
# exp(alpha * ln(tokens) - alpha * ln(total)) — a fixed-order double
# chain over exact integers — and weights snap to ppm only after the
# normalizing sum of per-source SNAPPED numerators (so partial-agg
# order cannot flip a bit).
#
# 100 TB shape: one groupBy(source) token aggregate; everything after
# runs on the |sources| x |alphas| frame.
# --------------------------------------------------------------------------
SAMPLING_ALPHAS = (0.3, 0.7, 1.0)

_SQL_ALPHAS = ", ".join(f"{a}::DOUBLE" for a in SAMPLING_ALPHAS)


@register("corpus_sampling_temperature", oracle=f"""
WITH s AS (
  SELECT source, SUM(len({_sql_tokens()})) AS toks
  FROM documents GROUP BY source),
t AS (SELECT SUM(toks) AS total FROM s),
num AS (
  SELECT a.alpha, s.source, s.toks,
         CAST(ROUND(exp(a.alpha * ln(CAST(s.toks AS DOUBLE))
                        - a.alpha * ln(CAST(t.total AS DOUBLE)))
                    * 1000000000) AS BIGINT) AS nu
  FROM s, t, (SELECT UNNEST([{_SQL_ALPHAS}]) AS alpha) a
  WHERE s.toks > 0),
den AS (SELECT alpha, SUM(nu) AS d FROM num GROUP BY alpha)
SELECT CAST(ROUND(n.alpha * 10) AS BIGINT) AS alpha_x10,
       n.source,
       CAST(n.toks AS BIGINT) AS tokens,
       CAST((1000000 * n.nu) // GREATEST(d.d, 1) AS BIGINT) AS weight_ppm
FROM num n JOIN den d USING (alpha)
""")
def corpus_sampling_temperature(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    s = (docs.select("source",
                     F.size(tokens(F.col("text"))).cast("long").alias("tk"))
             .groupBy("source").agg(F.sum("tk").alias("toks")))
    t = s.agg(F.sum("toks").alias("total"))
    alphas = F.array(*[F.lit(a) for a in SAMPLING_ALPHAS])
    num = (s.crossJoin(F.broadcast(t))
            .select("source", "toks", "total",
                    F.explode(alphas).alias("alpha"))
            .where(F.col("toks") > 0)
            .withColumn("nu", F.round(
                F.exp(F.col("alpha") * F.log(F.col("toks").cast("double"))
                      - F.col("alpha") * F.log(F.col("total").cast("double")))
                * F.lit(1e9)).cast("long")))
    den = num.groupBy("alpha").agg(F.sum("nu").alias("d"))
    return (num.join(F.broadcast(den), "alpha")
               .select(F.round(F.col("alpha") * 10).cast("long")
                        .alias("alpha_x10"),
                       "source",
                       F.col("toks").cast("long").alias("tokens"),
                       F.expr("(1000000 * nu) div greatest(d, 1)")
                        .cast("long").alias("weight_ppm")))


# --------------------------------------------------------------------------
# text_code_detection — code-vs-prose routing signals per document: the
# corpus router a mixed web+code training mix needs before tokenizer
# and mixture decisions (code inflates structural-symbol density and
# depresses stopword share; prose is the reverse). Three map-side
# signals plus a composite verdict at fixed thresholds — the C4/Gopher
# rule form, aimed at the code axis.
#
# Determinism: all counts are exact integers over the shared
# tokenizers; ratios are ppm floor divisions; the verdict is a boolean
# over those integers. 100 TB shape: pure map-side projection (the
# corpus_quality_filter discipline) — zero shuffles.
# --------------------------------------------------------------------------
CODE_SYMBOL_RE = r"[{}();=<>\[\]]"
CODE_SYMBOL_MIN_PPM = 20_000     # >= 2% structural-symbol chars
CODE_STOPWORD_MAX_PPM = 40_000   # <= 4% stopword share


@register("text_code_detection", oracle=f"""
WITH sig AS (
  SELECT doc_id,
         (1000000 * len(regexp_extract_all(text, '{CODE_SYMBOL_RE}')))
           // GREATEST(n_chars, 1) AS symbol_ppm,
         (1000000 * len(list_filter({_sql_tokens()},
                          x -> list_contains({_SQL_STOP}, x))))
           // GREATEST(len({_sql_tokens()}), 1) AS stopword_ppm,
         (1000000 * len(regexp_extract_all(text, '[0-9]')))
           // GREATEST(n_chars, 1) AS digit_ppm
  FROM documents)
SELECT doc_id,
       CAST(symbol_ppm AS BIGINT) AS symbol_ppm,
       CAST(stopword_ppm AS BIGINT) AS stopword_ppm,
       CAST(digit_ppm AS BIGINT) AS digit_ppm,
       (symbol_ppm >= {CODE_SYMBOL_MIN_PPM}
        AND stopword_ppm <= {CODE_STOPWORD_MAX_PPM}) AS looks_like_code
FROM sig
""")
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop_lit = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_lit, x)))
    sig = docs.select(
        "doc_id",
        (F.size(F.regexp_extract_all("text", F.lit(CODE_SYMBOL_RE), 0))
          .cast("long") * 1000000).alias("sym_n"),
        (n_stop.cast("long") * 1000000).alias("stop_n"),
        (F.size(F.regexp_extract_all("text", F.lit("[0-9]"), 0))
          .cast("long") * 1000000).alias("dig_n"),
        F.greatest(F.col("n_chars"), F.lit(1)).alias("chars"),
        F.greatest(F.size(toks), F.lit(1)).cast("long").alias("ntok"))
    out = sig.select(
        "doc_id",
        F.expr("sym_n div chars").cast("long").alias("symbol_ppm"),
        F.expr("stop_n div ntok").cast("long").alias("stopword_ppm"),
        F.expr("dig_n div chars").cast("long").alias("digit_ppm"))
    return out.withColumn(
        "looks_like_code",
        (F.col("symbol_ppm") >= CODE_SYMBOL_MIN_PPM)
        & (F.col("stopword_ppm") <= CODE_STOPWORD_MAX_PPM))


# --------------------------------------------------------------------------
# tokenizer_vocab_oov_audit — fixed-vocabulary coverage per source: the
# vocab is the corpus's top VOCAB_TOP_N whitespace tokens by total
# frequency (tie-break token ASC), and the audit reports each source's
# out-of-vocabulary token rate. The readout that predicts tokenizer
# fertility blowup on a new source BEFORE a training run — a source
# whose OOV ppm spikes (code, non-Latin scripts, boilerplate markup)
# will fragment into many subword pieces per word.
#
# Determinism: counts are exact integers; the vocab boundary is a total
# order (count DESC, token ASC); the rate is a ppm floor division.
#
# 100 TB shape: ONE corpus shuffle builds the (source, token) partial
# counts; the global token counts REUSE that frame (re-aggregate of the
# already-reduced counts, not a second corpus pass); the vocab is a
# TakeOrderedAndProject top-N (never a global-window rank) broadcast
# back against the counts frame.
# --------------------------------------------------------------------------
VOCAB_TOP_N = 256


@register("tokenizer_vocab_oov_audit", oracle=f"""
WITH d AS (SELECT source, unnest({_sql_tokens()}) AS tok FROM documents),
st AS (SELECT source, tok, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
tc AS (SELECT tok, SUM(cnt) AS c FROM st GROUP BY tok),
vocab AS (SELECT tok FROM tc ORDER BY c DESC, tok ASC LIMIT {VOCAB_TOP_N})
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN cnt ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov_types,
       CAST((1000000 * SUM(CASE WHEN v.tok IS NULL THEN cnt ELSE 0 END))
            // SUM(cnt) AS BIGINT) AS oov_ppm
FROM st LEFT JOIN vocab v USING (tok)
GROUP BY source
""")
def tokenizer_vocab_oov_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(read_table(spark, sf_dir, "documents")
                  .select("source", "text"))
    # st feeds BOTH the vocab derivation and the OOV join — pin the
    # already-reduced (source, token) counts, never the token explode.
    st = state.pinned(
        spark, ("tokenizer_vocab_oov_audit:st", sf_dir),
        lambda: (docs.select("source", F.explode(tokens(F.col("text")))
                                         .alias("tok"))
                     .groupBy("source", "tok")
                     .agg(F.count("*").alias("cnt"))))
    vocab = (st.groupBy("tok").agg(F.sum("cnt").alias("c"))
               .orderBy(F.col("c").desc(), F.col("tok").asc())
               .limit(VOCAB_TOP_N)
               .select("tok", F.lit(1).alias("in_vocab")))
    oov_cnt = F.when(F.col("in_vocab").isNull(), F.col("cnt")).otherwise(0)
    oov_type = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (st.join(F.broadcast(vocab), "tok", "left")
              .groupBy("source")
              .agg(F.sum("cnt").cast("long").alias("n_tokens"),
                   F.sum(oov_cnt).cast("long").alias("n_oov"),
                   F.sum(oov_type).cast("long").alias("n_oov_types"),
                   F.expr("(1000000 * sum(CASE WHEN in_vocab IS NULL"
                          " THEN cnt ELSE 0 END)) div sum(cnt)")
                    .cast("long").alias("oov_ppm")))


# --------------------------------------------------------------------------
# corpus_training_order_audit — interleave quality of the deterministic
# training order: docs are ordered by md5('order:'||doc_id) within
# hash shards (exactly the layout a multi-rank data loader consumes —
# each rank streams its own shard sequentially), and the audit reports,
# per source, the run-length statistics of consecutive same-source
# docs. Long same-source runs are the gradient-correlation failure mode
# a global shuffle is supposed to prevent; this query PROVES the
# shuffle mixed the sources instead of assuming the hash did its job.
#
# Determinism: the order key is the 60-bit md5 bigint (ties broken by
# doc_id); runs come from the gaps-and-islands double row_number.
#
# 100 TB shape (round 9 scale fix — the FIRST query the extended
# derived-key lowcard sweep caught mechanically): the shard count was
# a constant 8, capping the run-length windows at 8 tasks forever —
# the corpus_token_bins defect in audit clothing. It now DERIVES from
# the corpus size (>= ORDER_MIN_SHARDS, ~ORDER_DOCS_PER_SHARD docs
# per shard), which is also production-faithful: loader rank counts
# grow with the training scale, and every shard count yields a valid
# audit of "the hash order mixes sources within each rank's stream"
# (shards are hash-assigned streams, so runs never cross shards at
# any count). Per-shard window input stays bounded at any data size;
# the 1-row COUNT that sizes it is bounded driver state (the
# dedup_ivf_k corpus-scaled-k precedent).
# --------------------------------------------------------------------------
ORDER_MIN_SHARDS = 32
ORDER_DOCS_PER_SHARD = 4096

_SQL_ORDER_SHARDS = (f"(SELECT GREATEST({ORDER_MIN_SHARDS}, "
                     f"(COUNT(*) + {ORDER_DOCS_PER_SHARD - 1}) "
                     f"// {ORDER_DOCS_PER_SHARD}) FROM documents)")


@register("corpus_training_order_audit", oracle=f"""
WITH o AS (
  SELECT doc_id, source,
         ('0x' || substr(md5('order:' || CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT AS k
  FROM documents),
s AS (SELECT doc_id, source, k % {_SQL_ORDER_SHARDS} AS shard, k FROM o),
r AS (SELECT *,
         ROW_NUMBER() OVER (PARTITION BY shard
                            ORDER BY k, doc_id) AS pos,
         ROW_NUMBER() OVER (PARTITION BY shard, source
                            ORDER BY k, doc_id) AS spos
      FROM s),
runs AS (SELECT shard, source, pos - spos AS island, COUNT(*) AS run_len
         FROM r GROUP BY 1, 2, 3)
SELECT source,
       CAST(SUM(run_len) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(run_len) AS BIGINT) AS max_run_len,
       CAST((1000000 * SUM(run_len)) // COUNT(*) AS BIGINT)
         AS mean_run_len_ppm
FROM runs GROUP BY source
""")
def corpus_training_order_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    n_docs = docs.count()   # 1-row driver state sizing the shard count
    shards = max(ORDER_MIN_SHARDS,
                 (n_docs + ORDER_DOCS_PER_SHARD - 1) // ORDER_DOCS_PER_SHARD)
    k = hash64(F.concat(F.lit("order:"), F.col("doc_id").cast("string")))
    s = docs.select("doc_id", "source", k.alias("k"),
                    (k % F.lit(shards)).alias("shard"))
    w_pos = Window.partitionBy("shard").orderBy("k", "doc_id")
    w_spos = Window.partitionBy("shard", "source").orderBy("k", "doc_id")
    r = s.select("shard", "source",
                 F.row_number().over(w_pos).alias("pos"),
                 F.row_number().over(w_spos).alias("spos"))
    runs = (r.groupBy("shard", "source",
                      (F.col("pos") - F.col("spos")).alias("island"))
             .agg(F.count("*").alias("run_len")))
    return (runs.groupBy("source")
                .agg(F.sum("run_len").cast("long").alias("n_docs"),
                     F.count("*").cast("long").alias("n_runs"),
                     F.max("run_len").cast("long").alias("max_run_len"),
                     F.expr("(1000000 * sum(run_len)) div count(*)")
                      .cast("long").alias("mean_run_len_ppm")))


# --------------------------------------------------------------------------
# quality_outlier_mad — robust per-source outlier detection on the
# quality score: median and MAD (median absolute deviation) per source,
# flagging docs whose deviation exceeds 3 x MAD — the scoring-pipeline
# sanity monitor that catches a broken scorer (or a poisoned feed)
# without the mean/stddev fragility that the outliers themselves
# destroy.
#
# Exact-at-scale trick (same as corpus_token_gini): the score rounds to
# 4 dp, so qu = round(score*10000) takes at most 10001 distinct values
# — both medians come from cumulative windows over the per-source VALUE
# HISTOGRAM (<= 10001 rows per source), never a row-scale sort. The
# median rule is "smallest value whose cumulative frequency reaches
# ceil(n/2)" (the lower median) — rank-free, tie-free, exact.
#
# Determinism: histogram counts are exact integers; both medians are
# integer-valued by the rule above; the outlier test is an integer
# comparison (when MAD = 0 any nonzero deviation flags, by convention).
# --------------------------------------------------------------------------
def _quality_outlier_mad_oracle() -> str:
    return f"""
WITH q AS ({ORACLES["text_quality_score"]}),
j AS (SELECT d.source, CAST(ROUND(q.quality_score * 10000) AS BIGINT) AS qu
      FROM q JOIN documents d USING (doc_id)),
h AS (SELECT source, qu, COUNT(*) AS f FROM j GROUP BY 1, 2),
st AS (SELECT source, SUM(f) AS n FROM h GROUP BY source),
c AS (SELECT source, qu, f,
             SUM(f) OVER (PARTITION BY source ORDER BY qu) AS cum
      FROM h),
med AS (SELECT c.source, MIN(c.qu) AS med_qu
        FROM c JOIN st USING (source)
        WHERE c.cum >= (st.n + 1) // 2 GROUP BY c.source),
a AS (SELECT h.source, ABS(h.qu - m.med_qu) AS ad, SUM(h.f) AS f
      FROM h JOIN med m USING (source) GROUP BY 1, 2),
ca AS (SELECT source, ad, f,
              SUM(f) OVER (PARTITION BY source ORDER BY ad) AS cum
       FROM a),
mad AS (SELECT ca.source, MIN(ca.ad) AS mad_qu
        FROM ca JOIN st USING (source)
        WHERE ca.cum >= (st.n + 1) // 2 GROUP BY ca.source)
SELECT h.source,
       CAST(MAX(st.n) AS BIGINT) AS n_docs,
       CAST(MAX(m.med_qu) AS BIGINT) AS median_qu,
       CAST(MAX(d.mad_qu) AS BIGINT) AS mad_qu,
       CAST(SUM(CASE WHEN ABS(h.qu - m.med_qu) > 3 * d.mad_qu
                     THEN h.f ELSE 0 END) AS BIGINT) AS n_outliers
FROM h JOIN med m USING (source) JOIN mad d USING (source)
       JOIN st USING (source)
GROUP BY h.source
"""


@register("quality_outlier_mad", oracle=_quality_outlier_mad_oracle)
def quality_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = (q.join(docs, "doc_id")
          .select("source", F.round(F.col("quality_score") * 10000)
                             .cast("long").alias("qu")))
    # h is the whole downstream working set (median, MAD, outlier scan
    # all read it) — pin the <= |sources| x 10001-row histogram, never
    # the doc-level frame.
    h = state.pinned(
        spark, ("quality_outlier_mad:hist", sf_dir),
        lambda: j.groupBy("source", "qu").agg(F.count("*").alias("f")))
    st = h.groupBy("source").agg(F.sum("f").alias("n"))
    w_c = (Window.partitionBy("source").orderBy("qu")
                 .rangeBetween(Window.unboundedPreceding, Window.currentRow))
    c = h.withColumn("cum", F.sum("f").over(w_c))
    med = (c.join(F.broadcast(st), "source")
            .where(F.col("cum") >= F.expr("(n + 1) div 2"))
            .groupBy("source").agg(F.min("qu").alias("med_qu")))
    a = (h.join(F.broadcast(med), "source")
          .groupBy("source", F.abs(F.col("qu") - F.col("med_qu"))
                              .alias("ad"))
          .agg(F.sum("f").alias("f")))
    w_ca = (Window.partitionBy("source").orderBy("ad")
                  .rangeBetween(Window.unboundedPreceding,
                                Window.currentRow))
    ca = a.withColumn("cum", F.sum("f").over(w_ca))
    mad = (ca.join(F.broadcast(st), "source")
             .where(F.col("cum") >= F.expr("(n + 1) div 2"))
             .groupBy("source").agg(F.min("ad").alias("mad_qu")))
    return (h.join(F.broadcast(med), "source")
             .join(F.broadcast(mad), "source")
             .join(F.broadcast(st), "source")
             .groupBy("source")
             .agg(F.max("n").cast("long").alias("n_docs"),
                  F.max("med_qu").cast("long").alias("median_qu"),
                  F.max("mad_qu").cast("long").alias("mad_qu"),
                  F.sum(F.when(F.abs(F.col("qu") - F.col("med_qu"))
                               > 3 * F.col("mad_qu"), F.col("f"))
                         .otherwise(0)).cast("long").alias("n_outliers")))


# --------------------------------------------------------------------------
# quality_logreg_train — DISTRIBUTED SUPERVISED TRAINING as a query:
# batch-gradient-descent logistic regression predicting lang == 'en'
# from the quality signals (intercept, stopword_ratio, distinct_ratio),
# LOGREG_ITERS full-batch iterations at a fixed learning rate. The
# capability family the engine lacked: gradient-based model fitting
# executed as Catalyst aggregates (ivf_kmeans_centroids covers
# unsupervised Lloyd's; this is the supervised GD loop), the shape of
# every "train a small router/scorer on corpus signals" job a data
# pipeline runs without reaching for an ML framework.
#
# Determinism (the power-iteration discipline, applied to GD): weights
# live on an exact integer NANO grid between iterations; z is a
# fixed-order double chain over exact literals and 4-dp features; the
# sigmoid SNAPS to 6 dp BEFORE the per-row gradient contribution snaps
# to integer nano-units (a 1-ulp libm exp() divergence between JVM and
# DuckDB moves p by ~1e-16 — far inside the 5e-7 snap guard band — so
# both engines sum IDENTICAL integers); the update rounds back to the
# nano grid. Training accuracy thresholds on z >= 0 — pure arithmetic,
# no exp in the readout.
#
# 100 TB shape: the feature frame persists once; each iteration is ONE
# map-side-partial aggregate producing 3 longs to the driver (the
# bounded-driver-state contract ivf_kmeans follows); the corpus never
# shuffles. Iterations scale O(ITERS x scan), exactly the distributed
# full-batch GD a 1000-executor cluster runs.
# --------------------------------------------------------------------------
LOGREG_ITERS = 5
LOGREG_LR = 1.0


def _logreg_cte_chain() -> tuple[str, str, str]:
    """(comma-joined CTE chain, final-weights CTE name, final z expr) —
    shared by the train oracle and the batch-inference oracle below so
    the two queries compose the IDENTICAL GD chain (one source of truth
    for the trained weights, oracle-side as well as Spark-side)."""
    lr = LOGREG_LR

    def z(a: str, b: str, c: str) -> str:
        return (f"(CAST({a} AS DOUBLE) / 1000000000"
                f" + (CAST({b} AS DOUBLE) / 1000000000 * f.x1))"
                f" + (CAST({c} AS DOUBLE) / 1000000000 * f.x2)")

    ctes = [f"""q AS ({ORACLES["text_quality_score"]}),
f AS (SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             stopword_ratio AS x1, distinct_ratio AS x2
      FROM q),
w0 AS (SELECT CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b,
              CAST(0 AS BIGINT) AS c)"""]
    for t in range(LOGREG_ITERS):
        zz = z(f"w{t}.a", f"w{t}.b", f"w{t}.c")
        p = f"ROUND(1.0 / (1.0 + exp(-({zz}))), 6)"
        ctes.append(f"""w{t + 1} AS (
  SELECT w{t}.a + CAST(ROUND({lr} * (SUM(CAST(ROUND((f.y - {p})
               * 1000000000) AS BIGINT))::DOUBLE / COUNT(*))) AS BIGINT)
           AS a,
         w{t}.b + CAST(ROUND({lr} * (SUM(CAST(ROUND(((f.y - {p}) * f.x1)
               * 1000000000) AS BIGINT))::DOUBLE / COUNT(*))) AS BIGINT)
           AS b,
         w{t}.c + CAST(ROUND({lr} * (SUM(CAST(ROUND(((f.y - {p}) * f.x2)
               * 1000000000) AS BIGINT))::DOUBLE / COUNT(*))) AS BIGINT)
           AS c
  FROM f, w{t}
  GROUP BY w{t}.a, w{t}.b, w{t}.c)""")
    wf = f"w{LOGREG_ITERS}"
    return ",".join(ctes), wf, z(f"{wf}.a", f"{wf}.b", f"{wf}.c")


def _logreg_oracle() -> str:
    chain, wf, zz = _logreg_cte_chain()
    return f"""
WITH {chain}
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX({wf}.a) AS BIGINT) AS w0_nano,
       CAST(MAX({wf}.b) AS BIGINT) AS w1_nano,
       CAST(MAX({wf}.c) AS BIGINT) AS w2_nano,
       CAST((1000000 * SUM(CASE WHEN ({zz} >= 0) = (f.y = 1.0)
                                THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
         AS train_acc_ppm
FROM f, {wf}
"""


def _logreg_fit(spark: SparkSession, sf_dir: str):
    """Run the full-batch GD loop; returns (persisted feature frame,
    nano-grid weights). Shared by the train query and the batch
    inference below — the loop is the scale-critical part (one map-side
    partial aggregate -> 3 longs on the driver per iteration)."""
    def _build() -> DataFrame:
        return text_quality_score(spark, sf_dir).select(
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
            F.col("stopword_ratio").alias("x1"),
            F.col("distinct_ratio").alias("x2"))

    # ONE shared pinned frame for train AND infer: per-query keys would
    # pin two frames with the same plan, and releasing either evicts
    # the cache entry both share.
    f = state.pinned(spark, ("quality_logreg:features", sf_dir), _build)

    wu = [0, 0, 0]  # nano-grid weights (driver state: 3 longs)
    n = None
    for _ in range(LOGREG_ITERS):
        w = [v / 1e9 for v in wu]
        zz = ((F.lit(w[0]) + (F.lit(w[1]) * F.col("x1")))
              + (F.lit(w[2]) * F.col("x2")))
        p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-zz)), 6)
        row = f.agg(
            F.count("*").alias("n"),
            F.sum(F.round((F.col("y") - p) * F.lit(1e9)).cast("long"))
             .alias("g0"),
            F.sum(F.round(((F.col("y") - p) * F.col("x1")) * F.lit(1e9))
                   .cast("long")).alias("g1"),
            F.sum(F.round(((F.col("y") - p) * F.col("x2")) * F.lit(1e9))
                   .cast("long")).alias("g2")).first()
        n = row["n"]
        import math

        def round_half_away(x: float) -> int:
            # SQL ROUND semantics (half away from zero), NOT Python's
            # banker's rounding — the update must match the oracle.
            return int(math.floor(x + 0.5) if x >= 0
                       else math.ceil(x - 0.5))

        for j, g in enumerate((row["g0"], row["g1"], row["g2"])):
            wu[j] += round_half_away(LOGREG_LR * (float(g) / n))
    return f, wu


@register("quality_logreg_train", oracle=_logreg_oracle)
def quality_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    f, wu = _logreg_fit(spark, sf_dir)
    w = [v / 1e9 for v in wu]
    return f.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.lit(wu[0]).cast("long").alias("w0_nano"),
        F.lit(wu[1]).cast("long").alias("w1_nano"),
        F.lit(wu[2]).cast("long").alias("w2_nano"),
        F.expr(f"(1000000 * sum(CASE WHEN (({w[0]!r} + ({w[1]!r} * x1))"
               f" + ({w[2]!r} * x2) >= 0) = (y = 1.0D)"
               " THEN 1 ELSE 0 END)) div count(*)")
         .cast("long").alias("train_acc_ppm"))


# --------------------------------------------------------------------------
# quality_logreg_infer — the OTHER half of the supervised family: batch
# inference with the trained model, reported as an equal-frequency
# CALIBRATION (reliability-diagram) table. quality_logreg_train fits
# the scorer; this query applies the final nano-grid weights to every
# doc, snaps the predicted probability to 6 dp, splits the corpus into
# 10 equal-frequency score deciles, and reports per-decile doc count,
# positive count, observed positive rate, and mean predicted
# probability — the numbers a pipeline reads to decide whether the
# scorer's probabilities can gate ingestion thresholds directly or need
# recalibration first. Equal-FREQUENCY bins (not fixed-width) are the
# standard reliability-diagram choice when scores concentrate — and
# this model's p mass sits in a ~0.01-wide band, so fixed-width deciles
# would collapse to one row and show nothing.
#
# Determinism: the bin assignment runs on the HISTOGRAM of the integer
# p_e6 (6-dp-snapped probability x 1e6, identical in both engines by
# the train query's snap argument): every doc with the same p_e6 lands
# in the same decile, decile = (docs-strictly-before x 10) // n — pure
# integer arithmetic, no ntile tie ambiguity. Every reported metric is
# an exact integer.
#
# 100 TB shape: training is the shared GD loop (3 longs of driver state
# per iteration); inference is ONE map-side projection + a groupBy on
# p_e6 whose output is bounded by the score grid (<= 1e6 + 1 rows, in
# practice ~distinct scores), NOT by the corpus. The single unkeyed
# window runs over that bounded histogram — the quality_score_calibrated
# pattern — so nothing doc-scale ever serializes through one task.
# --------------------------------------------------------------------------
LOGREG_INFER_BINS = 10


def _logreg_infer_oracle() -> str:
    chain, wf, zz = _logreg_cte_chain()
    p_e6 = (f"CAST(ROUND(ROUND(1.0 / (1.0 + exp(-({zz}))), 6) * 1000000)"
            " AS BIGINT)")
    return f"""
WITH {chain},
scored AS (SELECT {p_e6} AS p_e6, f.y FROM f, {wf}),
hist AS (SELECT p_e6, COUNT(*) AS c,
                SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS pos
         FROM scored GROUP BY p_e6),
tot AS (SELECT SUM(c) AS n FROM hist),
cum AS (SELECT p_e6, c, pos,
               SUM(c) OVER (ORDER BY p_e6
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - c AS cb
        FROM hist)
SELECT CAST((cb * {LOGREG_INFER_BINS}) // n AS BIGINT) AS p_bin,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST((1000000 * SUM(pos)) // SUM(c) AS BIGINT) AS pos_rate_ppm,
       CAST(SUM(p_e6 * c) // SUM(c) AS BIGINT) AS mean_p_ppm
FROM cum, tot
GROUP BY 1
"""


@register("quality_logreg_infer", oracle=_logreg_infer_oracle)
def quality_logreg_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    f, wu = _logreg_fit(spark, sf_dir)
    w = [v / 1e9 for v in wu]
    zz = ((F.lit(w[0]) + (F.lit(w[1]) * F.col("x1")))
          + (F.lit(w[2]) * F.col("x2")))
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-zz)), 6)
    hist = (f.select(F.round(p * F.lit(1e6)).cast("long").alias("p_e6"),
                     "y")
             .groupBy("p_e6")
             .agg(F.count("*").alias("c"),
                  F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0))
                   .alias("pos")))
    n = hist.agg(F.sum("c").alias("n"))
    w_cum = (Window.orderBy("p_e6")
                   .rowsBetween(Window.unboundedPreceding,
                                Window.currentRow))
    cum = hist.withColumn("cb", F.sum("c").over(w_cum) - F.col("c"))
    return (cum.crossJoin(F.broadcast(n))  # 1-row total
               .groupBy(F.expr(f"(cb * {LOGREG_INFER_BINS}) div n")
                         .cast("long").alias("p_bin"))
               .agg(F.sum("c").cast("long").alias("n_docs"),
                    F.sum("pos").cast("long").alias("n_pos"),
                    F.expr("(1000000 * sum(pos)) div sum(c)")
                     .cast("long").alias("pos_rate_ppm"),
                    F.expr("sum(p_e6 * c) div sum(c)")
                     .cast("long").alias("mean_p_ppm")))


# --------------------------------------------------------------------------
# quality_psi_drift — Population Stability Index of the quality-score
# distribution between two corpus snapshots (md5 parity of the doc id
# stands in for "last ingest vs this ingest" — NOT raw doc_id % 2,
# which on this testdata is collinear with source and would leave each
# source a single half), per source: PSI = sum over 10 fixed-width
# score bins of
# (pA - pB) * ln(pA / pB), Laplace-smoothed so empty bins are defined.
# PSI is THE production scorecard drift metric (0.1 = investigate,
# 0.25 = act); this completes the drift family — centroid drift watches
# the embedding space, PSI watches the scoring pipeline.
#
# Determinism: bin counts are exact integers over the 4-dp score;
# every bin is explicitly enumerated (a bin empty in both halves still
# contributes its smoothed term, identically in both engines); the
# smoothed proportions are single IEEE divisions of exact integers; the
# per-bin contribution snaps to integer NANO before the sum, so the
# ~1-ulp libm ln() divergence (relative 1e-16) sits ~7 orders inside
# the snap guard band and no accumulation order exists to diverge.
#
# 100 TB shape: one doc scan -> groupBy(source, half, bin) map-side
# partial; everything after runs on the |sources| x 10 x 2 spine.
# --------------------------------------------------------------------------
PSI_BINS = 10
PSI_INVESTIGATE_NANO = 100_000_000  # PSI 0.1


def _quality_psi_oracle() -> str:
    return f"""
WITH q AS ({ORACLES["text_quality_score"]}),
j AS (SELECT d.source,
             ('0x' || substr(md5('snap:' || CAST(d.doc_id AS VARCHAR)),
                             1, 15))::BIGINT % 2 AS half,
             LEAST(CAST(ROUND(q.quality_score * 10000) AS BIGINT) // 1000,
                   {PSI_BINS - 1}) AS bin
      FROM q JOIN documents d USING (doc_id)),
cnt AS (SELECT source, half, bin, COUNT(*) AS c FROM j GROUP BY 1, 2, 3),
n AS (SELECT source, half, SUM(c) AS n FROM cnt GROUP BY 1, 2),
spine AS (SELECT DISTINCT source FROM j),
bins AS (SELECT UNNEST(generate_series(0, {PSI_BINS - 1})) AS bin),
g AS (
  SELECT s.source, b.bin,
         COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb,
         na.n AS n_a, nb.n AS n_b
  FROM spine s CROSS JOIN bins b
  JOIN n na ON na.source = s.source AND na.half = 0
  JOIN n nb ON nb.source = s.source AND nb.half = 1
  LEFT JOIN cnt ca ON ca.source = s.source AND ca.half = 0
                  AND ca.bin = b.bin
  LEFT JOIN cnt cb ON cb.source = s.source AND cb.half = 1
                  AND cb.bin = b.bin),
t AS (
  SELECT source, n_a, n_b,
         CAST(ROUND((CAST(ca + 1 AS DOUBLE) / (n_a + {PSI_BINS})
                     - CAST(cb + 1 AS DOUBLE) / (n_b + {PSI_BINS}))
                    * ln((CAST(ca + 1 AS DOUBLE) / (n_a + {PSI_BINS}))
                         / (CAST(cb + 1 AS DOUBLE) / (n_b + {PSI_BINS})))
                    * 1000000000) AS BIGINT) AS contrib_nano
  FROM g)
SELECT source,
       CAST(MAX(n_a) AS BIGINT) AS n_a,
       CAST(MAX(n_b) AS BIGINT) AS n_b,
       CAST(SUM(contrib_nano) AS BIGINT) AS psi_nano,
       SUM(contrib_nano) > {PSI_INVESTIGATE_NANO} AS drifted
FROM t GROUP BY source
"""


@register("quality_psi_drift", oracle=_quality_psi_oracle)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    half = hash64(F.concat(F.lit("snap:"),
                           F.col("doc_id").cast("string"))) % 2
    j = (q.join(docs, "doc_id")
          .select("source", half.alias("half"),
                  F.least(F.expr(
                      "CAST(ROUND(quality_score * 10000) AS BIGINT)"
                      " div 1000"), F.lit(PSI_BINS - 1)).alias("bin")))
    cnt = state.pinned(
        spark, ("quality_psi_drift:cnt", sf_dir),
        lambda: j.groupBy("source", "half", "bin").agg(F.count("*").alias("c")))
    n = cnt.groupBy("source", "half").agg(F.sum("c").alias("n"))
    spine = (cnt.select("source").distinct()
                .crossJoin(F.broadcast(spark.range(PSI_BINS)
                                        .select(F.col("id").alias("bin")))))
    na = n.where(F.col("half") == 0).select("source",
                                            F.col("n").alias("n_a"))
    nb = n.where(F.col("half") == 1).select("source",
                                            F.col("n").alias("n_b"))
    ca = cnt.where(F.col("half") == 0).select("source", "bin",
                                              F.col("c").alias("ca"))
    cb = cnt.where(F.col("half") == 1).select("source", "bin",
                                              F.col("c").alias("cb"))
    g = (spine.join(F.broadcast(na), "source")
              .join(F.broadcast(nb), "source")
              .join(F.broadcast(ca), ["source", "bin"], "left")
              .join(F.broadcast(cb), ["source", "bin"], "left")
              .select("source", "n_a", "n_b",
                      F.coalesce("ca", F.lit(0)).alias("ca"),
                      F.coalesce("cb", F.lit(0)).alias("cb")))
    pa = (F.col("ca") + 1).cast("double") / (F.col("n_a") + PSI_BINS)
    pb = (F.col("cb") + 1).cast("double") / (F.col("n_b") + PSI_BINS)
    contrib = F.round((pa - pb) * F.log(pa / pb) * F.lit(1e9)).cast("long")
    return (g.select("source", "n_a", "n_b",
                     contrib.alias("contrib_nano"))
             .groupBy("source")
             .agg(F.max("n_a").cast("long").alias("n_a"),
                  F.max("n_b").cast("long").alias("n_b"),
                  F.sum("contrib_nano").cast("long").alias("psi_nano"),
                  (F.sum("contrib_nano") > PSI_INVESTIGATE_NANO)
                   .alias("drifted")))


# --------------------------------------------------------------------------
# dsir_reweighting_eval — did the importance weighting WORK? Selects the
# DSIR_EVAL_K highest-dsir_logweight docs (rank selection, the greedy
# variant of importance resampling) and measures KL(target || profile)
# of the hashed-bigram bucket distribution for (a) the full raw corpus
# and (b) the selected subset. The selection is proven useful exactly
# when kl_selected < kl_corpus — the measure-don't-guess companion of
# text_dsir_weights, same contract as the ANN/dedup recall evals: every
# approximate/selective path carries a query that measures it.
#
# Determinism: selection ranks on the already-deterministic integer-
# derived logweight (doc_id tie-break, TakeOrderedAndProject); all
# three profiles come from ONE conditional aggregate over the feature
# stream; every KL term uses Laplace-smoothed proportions of exact
# integers with the per-bucket contribution snapped to integer NANO
# before the sum (the PSI ln() guard-band discipline), and all
# DSIR_BUCKETS buckets are explicitly enumerated so empty buckets
# contribute identically in both engines.
#
# 100 TB shape: the corpus-sized feature explode runs twice (once
# inside text_dsir_weights, once for the profile aggregate); everything
# after runs on the 1024-row bucket spine.
#
# Measured finding on this synthetic corpus: improved = FALSE — every
# lang shares one English-ish vocabulary by construction, so the
# target-vs-corpus gap (KL ~0.022) is smaller than the sampling noise a
# 100-doc subset introduces (KL ~0.048). That is the eval doing its
# job: on data where the target is not distributionally distinct, DSIR
# selection cannot help, and this query says so with a number instead
# of letting the pipeline assume otherwise.
# --------------------------------------------------------------------------
DSIR_EVAL_K = 100


def _dsir_eval_oracle() -> str:
    nb = DSIR_BUCKETS
    return f"""
WITH w AS ({ORACLES["text_dsir_weights"]}),
sel AS (SELECT doc_id FROM w
        ORDER BY dsir_logweight DESC, doc_id ASC LIMIT {DSIR_EVAL_K}),
t AS (SELECT doc_id, lang, {_sql_tokens()} AS toks FROM documents),
big AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM t),
feat AS (SELECT doc_id, lang, {_SQL_BG_HASH} % {nb} AS b FROM big),
cnt AS (
  SELECT b,
         COUNT(*) AS n_all,
         SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
           AS n_t,
         SUM(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS n_sel
  FROM feat f LEFT JOIN sel s USING (doc_id)
  GROUP BY b),
spine AS (SELECT UNNEST(generate_series(0, {nb - 1})) AS b),
g AS (
  SELECT sp.b,
         COALESCE(c.n_all, 0) AS n_all,
         COALESCE(c.n_t, 0) AS n_t,
         COALESCE(c.n_sel, 0) AS n_sel
  FROM spine sp LEFT JOIN cnt c ON c.b = sp.b),
tot AS (SELECT SUM(n_all) AS s_all, SUM(n_t) AS s_t, SUM(n_sel) AS s_sel
        FROM g),
term AS (
  SELECT CAST(ROUND((CAST(g.n_t + 1 AS DOUBLE) / (tot.s_t + {nb}))
                    * ln((CAST(g.n_t + 1 AS DOUBLE) / (tot.s_t + {nb}))
                         / (CAST(g.n_all + 1 AS DOUBLE)
                            / (tot.s_all + {nb})))
                    * 1000000000) AS BIGINT) AS kc,
         CAST(ROUND((CAST(g.n_t + 1 AS DOUBLE) / (tot.s_t + {nb}))
                    * ln((CAST(g.n_t + 1 AS DOUBLE) / (tot.s_t + {nb}))
                         / (CAST(g.n_sel + 1 AS DOUBLE)
                            / (tot.s_sel + {nb})))
                    * 1000000000) AS BIGINT) AS ks
  FROM g, tot)
SELECT CAST({DSIR_EVAL_K} AS BIGINT) AS k_selected,
       CAST(SUM(kc) AS BIGINT) AS kl_corpus_nano,
       CAST(SUM(ks) AS BIGINT) AS kl_selected_nano,
       SUM(ks) < SUM(kc) AS improved
FROM term
"""


@register("dsir_reweighting_eval", oracle=_dsir_eval_oracle)
def dsir_reweighting_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    nb = DSIR_BUCKETS
    sel = (text_dsir_weights(spark, sf_dir)
           .orderBy(F.col("dsir_logweight").desc(), F.col("doc_id").asc())
           .limit(DSIR_EVAL_K)
           .select("doc_id", F.lit(1).alias("in_sel")))
    docs = read_table(spark, sf_dir, "documents")
    big = spread(docs).select("doc_id", "lang",
                              F.explode(shingles(tokens(F.col("text")), 2))
                               .alias("bg"))
    feat = (big.select("doc_id", "lang",
                       (hash64(F.col("bg")) % nb).alias("b"))
               .join(F.broadcast(sel), "doc_id", "left"))
    cnt = feat.groupBy("b").agg(
        F.count("*").alias("n_all"),
        F.sum(F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0))
         .alias("n_t"),
        F.sum(F.when(F.col("in_sel").isNotNull(), 1).otherwise(0))
         .alias("n_sel"))
    spine = spark.range(nb).select(F.col("id").alias("b"))
    g = state.pinned(
        spark, ("dsir_reweighting_eval:buckets", sf_dir),
        lambda: (spine.join(F.broadcast(cnt), "b", "left")
                      .select("b",
                              F.coalesce("n_all", F.lit(0)).alias("n_all"),
                              F.coalesce("n_t", F.lit(0)).alias("n_t"),
                              F.coalesce("n_sel", F.lit(0)).alias("n_sel"))))
    tot = g.agg(F.sum("n_all").alias("s_all"), F.sum("n_t").alias("s_t"),
                F.sum("n_sel").alias("s_sel"))
    pt = (F.col("n_t") + 1).cast("double") / (F.col("s_t") + nb)
    pc = (F.col("n_all") + 1).cast("double") / (F.col("s_all") + nb)
    ps = (F.col("n_sel") + 1).cast("double") / (F.col("s_sel") + nb)
    kc = F.round(pt * F.log(pt / pc) * F.lit(1e9)).cast("long")
    ks = F.round(pt * F.log(pt / ps) * F.lit(1e9)).cast("long")
    return (g.crossJoin(F.broadcast(tot))
             .select(kc.alias("kc"), ks.alias("ks"))
             .agg(F.lit(DSIR_EVAL_K).cast("long").alias("k_selected"),
                  F.sum("kc").cast("long").alias("kl_corpus_nano"),
                  F.sum("ks").cast("long").alias("kl_selected_nano"),
                  (F.sum("ks") < F.sum("kc")).alias("improved")))


# --------------------------------------------------------------------------
# score_lift_table — the decile gains/lift table for the quality score
# as a ranker of the lang == 'en' target: corpus ranked by score into
# ten equal-population bands (boundaries from the VALUE HISTOGRAM, the
# quality_outlier_mad discipline — never a global NTILE sort), each
# decile reporting its positive count, rate, cumulative capture, and
# lift vs the base rate. The model-eval artifact a ranking-based
# curation pipeline reads next to AUC (threshold-free) and the
# calibration bins (probability quality): "how much of the target do
# the top-k% of docs capture".
#
# Determinism: decile boundaries are "smallest score value whose
# cumulative frequency reaches ceil(d*n/10)" over the <= 10001-value
# histogram — integer-exact, tie-free; rows with equal scores land in
# the SAME decile (bands are half-open value ranges, so the table is
# invariant to row order, unlike NTILE); all rates are ppm floor
# divisions.
#
# 100 TB shape: one doc scan -> (qu, y) histogram groupBy; boundaries,
# bands, and the final table all run on <= 10001-row frames; cumulative
# windows order distinct score values only.
# --------------------------------------------------------------------------
LIFT_DECILES = 10


def _score_lift_oracle() -> str:
    nd = LIFT_DECILES
    return f"""
WITH q AS ({ORACLES["text_quality_score"]}),
j AS (SELECT CAST(ROUND(quality_score * 10000) AS BIGINT) AS qu,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM q),
h AS (SELECT qu, COUNT(*) AS f, SUM(y) AS pos FROM j GROUP BY qu),
n AS (SELECT SUM(f) AS n_total, SUM(pos) AS pos_total FROM h),
c AS (SELECT qu, f, pos,
             SUM(f) OVER (ORDER BY qu DESC) AS cum
      FROM h),
d AS (SELECT ds.d, MAX(c.qu) AS lo
      FROM (SELECT UNNEST(generate_series(1, {nd})) AS d) ds
      CROSS JOIN n CROSS JOIN c
      WHERE c.cum >= (ds.d * n.n_total + {nd - 1}) // {nd}
      GROUP BY ds.d),
band AS (
  SELECT c.qu, c.f, c.pos,
         MIN(d.d) AS decile
  FROM c JOIN d ON c.qu >= d.lo
  GROUP BY c.qu, c.f, c.pos),
agg AS (
  SELECT decile, SUM(f) AS n_docs, SUM(pos) AS n_pos
  FROM band GROUP BY decile),
cumagg AS (
  SELECT decile, n_docs, n_pos,
         SUM(n_pos) OVER (ORDER BY decile) AS cum_pos
  FROM agg)
SELECT CAST(a.decile AS BIGINT) AS decile,
       CAST(a.n_docs AS BIGINT) AS n_docs,
       CAST(a.n_pos AS BIGINT) AS n_pos,
       CAST((1000000 * a.n_pos) // a.n_docs AS BIGINT) AS pos_rate_ppm,
       CAST((1000000 * a.cum_pos) // GREATEST(n.pos_total, 1) AS BIGINT)
         AS cum_capture_ppm,
       CAST(((1000000 * a.n_pos) // a.n_docs) * n.n_total
            // GREATEST(n.pos_total, 1) AS BIGINT) AS lift_ppm
FROM cumagg a CROSS JOIN n
"""


@register("score_lift_table", oracle=_score_lift_oracle)
def score_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    nd = LIFT_DECILES
    q = text_quality_score(spark, sf_dir)
    j = q.select(F.expr("CAST(ROUND(quality_score * 10000) AS BIGINT)")
                  .alias("qu"),
                 F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"))
    h = state.pinned(spark, ("score_lift_table:hist", sf_dir),
                     lambda: j.groupBy("qu").agg(F.count("*").alias("f"),
                                                 F.sum("y").alias("pos")))
    n = h.agg(F.sum("f").alias("n_total"),
              F.sum("pos").alias("pos_total"))
    w_c = (Window.orderBy(F.col("qu").desc())
                 .rangeBetween(Window.unboundedPreceding,
                               Window.currentRow))
    c = h.withColumn("cum", F.sum("f").over(w_c))
    ds = spark.range(1, nd + 1).select(F.col("id").alias("d"))
    # lo(d) = the LOWEST score value whose descending-cumulative count
    # reaches ceil(d*n/10): docs with qu >= lo(d) are "the top d/10".
    d = (F.broadcast(ds).crossJoin(F.broadcast(n)).crossJoin(c)
         .where(F.col("cum")
                >= F.expr(f"(d * n_total + {nd - 1}) div {nd}"))
         .groupBy("d").agg(F.max("qu").alias("lo")))
    band = (c.join(F.broadcast(d), F.col("qu") >= F.col("lo"))
             .groupBy("qu", "f", "pos")
             .agg(F.min("d").alias("decile")))
    agg = (band.groupBy("decile")
               .agg(F.sum("f").alias("n_docs"),
                    F.sum("pos").alias("n_pos")))
    w_cum = (Window.orderBy("decile")
                   .rangeBetween(Window.unboundedPreceding,
                                 Window.currentRow))
    cumagg = agg.withColumn("cum_pos", F.sum("n_pos").over(w_cum))
    return (cumagg.crossJoin(F.broadcast(n))
            .select(F.col("decile").cast("long").alias("decile"),
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("n_pos").cast("long").alias("n_pos"),
                    F.expr("(1000000 * n_pos) div n_docs").cast("long")
                     .alias("pos_rate_ppm"),
                    F.expr("(1000000 * cum_pos)"
                           " div greatest(pos_total, 1)")
                     .cast("long").alias("cum_capture_ppm"),
                    F.expr("((1000000 * n_pos) div n_docs) * n_total"
                           " div greatest(pos_total, 1)").cast("long")
                     .alias("lift_ppm")))


# --------------------------------------------------------------------------
# corpus_heldout_bigram_eval — the TRAIN/EVAL discipline applied to the
# corpus LM: a bigram model with add-one smoothing trains on one
# md5-parity half of the corpus and is scored on the OTHER half —
# per-source held-out mean logprob plus out-of-vocabulary-context
# coverage. This is the generalization twin of corpus_bigram_logprob
# (which scores the corpus against itself and cannot see overfitting):
# the number a curation pipeline tracks per source to catch templated
# or machine-generated feeds whose self-scores look fine but whose
# held-out scores collapse.
#
# Split: md5('heldout:' || doc_id) parity, never doc_id % 2 — the
# testdata doc_id is collinear with source/lang, so a modulus split
# would train on systematically different sources than it evaluates
# (the documented snapshot-split trap).
#
# Smoothing (both engines, identical op order): P(t | prev) =
# (c_train(prev t) + 1) / (c_train(prev .) + V), V = |train unigram
# vocabulary|; unseen contexts get c = 0 on both sides of the ratio.
# Per-DISTINCT-eval-bigram logprob snaps to integer micro-log10 units
# BEFORE multiplying by the eval count and summing — partial-agg order
# cannot flip a bit.
#
# 100 TB shape: two vocab-sized aggregates from the train half
# (bigram, context) broadcast onto the eval half's distinct-bigram
# frame; the eval half shuffles once (per-(source, bg) re-agg); V is a
# 1-row aggregate. Everything after runs on vocab-sized frames.
# --------------------------------------------------------------------------
def _heldout_half(prefix: str = "heldout"):
    return (F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{prefix}:"),
                       F.col("doc_id").cast("string"))), 1, 15),
        16, 10).cast("long") % 2)


_SQL_HELDOUT_HALF = ("('0x' || substr(md5('heldout:' || "
                     "CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 2")


@register("corpus_heldout_bigram_eval", oracle=f"""
WITH d AS (SELECT doc_id, source, {_sql_tokens()} AS toks,
                  {_SQL_HELDOUT_HALF} AS half
           FROM documents),
tr_uni AS (SELECT DISTINCT unnest(toks) AS tok FROM d WHERE half = 0),
vsz AS (SELECT COUNT(*) AS vocab FROM tr_uni),
tr_big AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM d WHERE half = 0),
c2 AS (SELECT bg, COUNT(*) AS n2 FROM tr_big GROUP BY bg),
c1 AS (SELECT string_split(bg, ' ')[1] AS ctx, SUM(n2) AS n1
       FROM c2 GROUP BY 1),
ev AS (
  SELECT source,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM d WHERE half = 1),
evg AS (SELECT source, bg, COUNT(*) AS n_ev FROM ev GROUP BY 1, 2),
scored AS (
  SELECT e.source, e.n_ev,
         CASE WHEN c1.n1 IS NULL THEN 1 ELSE 0 END AS oov_ctx,
         -- GREATEST(vocab, 1): an EMPTY train half would otherwise
         -- make the smoothed ratio (0+1)/(0+0) and the two engines'
         -- infinity-to-BIGINT casts diverge; with the floor the
         -- degenerate model scores every bigram log10(1) = 0.
         CAST(ROUND(log10((COALESCE(c2.n2, 0) + 1)
                          / (COALESCE(c1.n1, 0)
                             + GREATEST(v.vocab, 1))::DOUBLE)
                    * 1000000) AS BIGINT) AS logp_u
  FROM evg e
  LEFT JOIN c2 ON c2.bg = e.bg
  LEFT JOIN c1 ON c1.ctx = string_split(e.bg, ' ')[1]
  CROSS JOIN vsz v)
SELECT source,
       CAST(SUM(n_ev) AS BIGINT) AS n_eval_bigrams,
       CAST(SUM(oov_ctx * n_ev) AS BIGINT) AS n_oov_ctx,
       ROUND(SUM(logp_u * n_ev) * 1.0 / (SUM(n_ev) * 1000000), 4)
         AS avg_logprob
FROM scored GROUP BY source
""")
def corpus_heldout_bigram_eval(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", tokens(F.col("text")).alias("toks"),
        _heldout_half().alias("half"))
    train = docs.where(F.col("half") == 0)
    vsz = (train.select(F.explode("toks").alias("tok")).distinct()
                .agg(F.count("*").alias("vocab")))
    # c2 feeds the context rollup c1 AND the scored join — two
    # references, each of which would re-run the bigram explode + count
    # shuffle. |distinct train bigrams| rows.
    c2 = state.pinned(
        spark, ("corpus_heldout_bigram_eval:c2", sf_dir),
        lambda: (train.select(F.explode(shingles(F.col("toks"), 2))
                               .alias("bg"))
                      .groupBy("bg").agg(F.count("*").alias("n2"))))
    c1 = (c2.withColumn("ctx", F.split("bg", " ").getItem(0))
            .groupBy("ctx").agg(F.sum("n2").alias("n1")))
    evg = (docs.where(F.col("half") == 1)
               .select("source",
                       F.explode(shingles(F.col("toks"), 2)).alias("bg"))
               .groupBy("source", "bg").agg(F.count("*").alias("n_ev")))
    logp_u = F.round(
        F.log10((F.coalesce(F.col("n2"), F.lit(0)) + F.lit(1))
                / (F.coalesce(F.col("n1"), F.lit(0))
                   + F.greatest(F.col("vocab"), F.lit(1)))
                .cast("double")) * 1e6).cast("long")
    scored = (evg.join(F.broadcast(c2), "bg", "left")
                 .join(F.broadcast(
                     c1.withColumnRenamed("ctx", "__ctx")),
                     F.split(F.col("bg"), " ").getItem(0)
                     == F.col("__ctx"), "left")
                 .crossJoin(F.broadcast(vsz))
                 .select("source", "n_ev",
                         F.when(F.col("n1").isNull(), 1).otherwise(0)
                          .alias("oov_ctx"),
                         logp_u.alias("logp_u")))
    return (scored.groupBy("source")
                  .agg(F.sum("n_ev").cast("long").alias("n_eval_bigrams"),
                       F.sum(F.col("oov_ctx") * F.col("n_ev")).cast("long")
                        .alias("n_oov_ctx"),
                       F.round(F.sum(F.col("logp_u") * F.col("n_ev"))
                               / (F.sum("n_ev") * F.lit(1e6)), 4)
                        .alias("avg_logprob")))
