"""Distributed BPE tokenizer training (byte-pair encoding, Sennrich et
al. 2016 "Neural Machine Translation of Rare Words with Subword Units").

The missing member of the training-data-prep family: the pipeline that
LEARNS the subword vocabulary from the corpus, not just applies one.
Classic word-level BPE: whitespace words are reduced to their distinct
forms with corpus frequencies (the standard trick — merge decisions
depend only on the word-frequency table, never the raw corpus), every
word starts as a character sequence, and each round merges the globally
most frequent adjacent symbol pair.

Determinism and the oracle: a symbol sequence is represented as a
MARKER STRING — every symbol wrapped as ``<sym>`` (safe: words are
filtered to ``^[a-z]+$``, so ``<``/``>`` can't occur inside a symbol) —
and applying a merge is ONE plain ``replace('<l><r>' -> '<lr>')``.
Non-regex replace scans left-to-right and continues AFTER each
replacement in both engines, which is exactly BPE's greedy
non-overlapping merge semantics (``aaaa`` + merge(a,a) -> ``aa aa``,
the second ``a`` of a fresh merge never re-merges in the same round).
Pair counts are integer sums; the per-round argmax tie-breaks
(count DESC, left ASC, right ASC); the oracle unrolls the same rounds
as CTE stages, like the k-means and PageRank trainers.

Scale shape (the reason BPE belongs in a distributed engine at all):
the corpus is touched ONCE (word histogram — one shuffle on word);
every round after that runs on the DISTINCT-WORD table, orders of
magnitude smaller than the corpus. Per round: one map-side pair
explode + one (l, r) aggregate, with only the single winning pair
collected to the driver (like the k-means centroid collect). Rounds
are sequential by nature — the classic BSP schedule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdfs_with_pyspark_spark.plans.registry import register
from hdfs_with_pyspark_spark.sources.io import local_frame, read_table

BPE_MERGES = 6
_WORD_RE = "^[a-z]+$"


def word_histogram(docs: DataFrame) -> DataFrame:
    """Corpus -> (word, n) distinct-word frequency table. The ONLY
    corpus-sized pass in BPE training."""
    # (measured: re-spreading the corpus HURTS here — the histogram is
    # already a groupBy with map-side combine, so a repartition just
    # inserts a shuffle ahead of a shuffle; 2.7s vs 2.1s at sf0.1)
    return (docs.select(F.explode(F.split(F.lower("text"), r"\s+"))
                         .alias("word"))
                .where(F.col("word").rlike(_WORD_RE))
                .groupBy("word")
                .agg(F.count("*").cast("long").alias("n")))


def _syms():
    """Marker string -> symbol array (built lazily: Column construction
    needs an active SparkContext)."""
    return F.split(F.regexp_replace("rep", "^<|>$", ""), "><")


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the marker-string reps, weighted
    by word frequency. Map-side explode + one (l, r) aggregate."""
    pairs = F.expr(
        "transform(sequence(1, size(__syms) - 1), "
        "  i -> struct(element_at(__syms, i) AS l, "
        "              element_at(__syms, i + 1) AS r))")
    return (words.withColumn("__syms", _syms())
                 .where(F.size("__syms") >= 2)
                 .select("n", F.explode(pairs).alias("p"))
                 .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                 .agg(F.sum("n").cast("long").alias("cnt")))


def train_bpe(docs: DataFrame,
              n_merges: int = BPE_MERGES) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merge rules -> [(round, left, right, count)].

    Each round aggregates the distinct-word table and collects exactly
    ONE row (the winning pair) — the same bounded driver traffic as the
    k-means trainer's centroid collect.
    """
    words = (word_histogram(docs)
             .withColumn("rep", F.regexp_replace("word", "(.)", "<$1>"))
             .persist())
    rules: list[tuple[int, str, str, int]] = []
    for t in range(1, n_merges + 1):
        top = (_pair_counts(words)
               .orderBy(F.col("cnt").desc(), F.col("l").asc(),
                        F.col("r").asc())
               .limit(1).collect())
        if not top:
            break               # corpus exhausted below n_merges rules
        l, r, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        rules.append((t, l, r, cnt))
        nxt = (words.withColumn(
                   "rep", F.expr(f"replace(rep, '<{l}><{r}>', '<{l}{r}>')"))
                    .persist())
        nxt.count()             # cut lineage before dropping the old rep
        words.unpersist()
        words = nxt
    words.unpersist()
    return rules


def _sql_bpe_ctes(n_merges: int = BPE_MERGES) -> str:
    """Unrolled training rounds as DuckDB CTE stages (one p/b/r triple
    per round, mirroring the Spark loop exactly)."""
    parts = [f"""words AS (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents, LATERAL unnest(string_split_regex(lower(text), '\\s+')) t(w)
  WHERE regexp_matches(w, '{_WORD_RE}')
  GROUP BY w),
r0 AS (SELECT word, n, regexp_replace(word, '(.)', '<\\1>', 'g') AS rep
       FROM words)"""]
    for t in range(1, n_merges + 1):
        p = t - 1
        parts.append(f"""
p{t} AS (
  SELECT l, r, CAST(SUM(n) AS BIGINT) AS cnt FROM (
    SELECT n, syms[i] AS l, syms[i + 1] AS r
    FROM (SELECT n, string_split(regexp_replace(rep, '^<|>$', '', 'g'), '><')
                 AS syms
          FROM r{p}) s,
         LATERAL unnest(generate_series(1, len(syms) - 1)) t(i)
    WHERE len(syms) >= 2)
  GROUP BY l, r),
b{t} AS (SELECT l, r, cnt FROM p{t}
         ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
r{t} AS (SELECT word, n,
                replace(rep, '<' || b.l || '><' || b.r || '>',
                        '<' || b.l || b.r || '>') AS rep
         FROM r{p}, b{t} b)""")
    return ",\n".join(parts)


@register("bpe_merges", oracle=f"""
WITH {_sql_bpe_ctes()}
{" UNION ALL ".join(
    f"SELECT CAST({t} AS BIGINT) AS round, l AS left_sym, r AS right_sym, "
    f"cnt AS pair_count FROM b{t}"
    for t in range(1, BPE_MERGES + 1))}
""")
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table itself — proves the iterative training
    job end to end (like ivf_kmeans_centroids for the quantizer)."""
    docs = read_table(spark, sf_dir, "documents")
    rules = train_bpe(docs)
    return local_frame(
        spark, rules,
        "round long, left_sym string, right_sym string, pair_count long")


# --------------------------------------------------------------------------
# bpe_encode_stats — APPLY the learned merges to the corpus: per-doc
# subword token count before/after, i.e. the compression the vocabulary
# buys. The merge table is tiny and becomes a chain of plain replaces —
# pure map-side string work fused into the scan; the corpus is read
# once and never shuffled (the word histogram inside train_bpe is
# memoized per session by Spark's cache only within the call — the
# rules themselves are recomputed via the registered query's own
# train_bpe call, cheap at BPE_MERGES rounds over distinct words).
# --------------------------------------------------------------------------
@register("bpe_encode_stats", oracle=f"""
WITH {_sql_bpe_ctes()},
enc AS (
  SELECT doc_id,
         {"".join("replace(" for _ in range(BPE_MERGES))}
           regexp_replace(w, '(.)', '<\\1>', 'g')
           {"".join(
               f", '<' || (SELECT l FROM b{t}) || '><' || (SELECT r FROM b{t}) || '>', "
               f"'<' || (SELECT l FROM b{t}) || (SELECT r FROM b{t}) || '>')"
               for t in range(1, BPE_MERGES + 1))}
         AS rep,
         w
  FROM (SELECT doc_id, w
        FROM documents, LATERAL unnest(
            string_split_regex(lower(text), '\\s+')) t(w)
        WHERE regexp_matches(w, '{_WORD_RE}')))
SELECT doc_id,
       CAST(SUM(length(w)) AS BIGINT) AS n_chars,
       CAST(SUM(len(string_split(regexp_replace(rep, '^<|>$', '', 'g'),
                                 '><'))) AS BIGINT) AS n_subwords
FROM enc
GROUP BY doc_id
""")
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    rules = train_bpe(docs)
    rep = F.regexp_replace("w", "(.)", "<$1>")
    expr = "rep0"
    for _, l, r, _cnt in rules:
        expr = f"replace({expr}, '<{l}><{r}>', '<{l}{r}>')"
    words = (docs.select("doc_id",
                         F.explode(F.split(F.lower("text"), r"\s+"))
                          .alias("w"))
                 .where(F.col("w").rlike(_WORD_RE))
                 .withColumn("rep0", rep)
                 .withColumn("rep", F.expr(expr)))
    n_sub = F.size(F.split(F.regexp_replace("rep", "^<|>$", ""), "><"))
    return (words.groupBy("doc_id")
                 .agg(F.sum(F.length("w")).cast("long").alias("n_chars"),
                      F.sum(n_sub).cast("long").alias("n_subwords")))
