"""Shared Column-expression builders for the LLM data-pipeline operators.

Follows the reference's one extension idiom — plain Python functions that
compose Catalyst Column expressions, never ``F.udf`` (reference:
src/scripts/common_func.py:4-13 builds haversine the same way). Everything
here stays inside whole-stage codegen.

Cross-engine determinism: every hash used for dedup/fingerprints is the
first 15 hex digits of md5, as a 60-bit non-negative bigint. Both Spark
(``conv(substring(md5(x),1,15),16,10)``) and DuckDB
(``('0x' || substr(md5(x),1,15))::BIGINT``) compute the identical value,
so every MinHash / SimHash / fingerprint query has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: (a*h+b) with a,h,b < 2^31 stays under 2^62 — no
# int64 overflow in either engine.
MERSENNE31 = 2_147_483_647

# Deterministic MinHash parameters: K pairs (a, b) from a fixed LCG so the
# Spark plan and the generated oracle SQL embed identical constants.
MINHASH_K = 32
MINHASH_BANDS = 8
MINHASH_ROWS = 4  # K = BANDS * ROWS


def _lcg_params(k: int = MINHASH_K, seed: int = 0x5EED) -> list[tuple[int, int]]:
    x = seed
    out = []
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = x % (MERSENNE31 - 1) + 1          # a in [1, P-1]
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % MERSENNE31                    # b in [0, P-1]
        out.append((a, b))
    return out


MINHASH_PARAMS = _lcg_params()

# Hash-bucket train/val/test split (corpus_splits, leakage_safe_splits):
# bucket < 80 train, < 90 val, else test.
SPLIT_TRAIN, SPLIT_VAL = 80, 90


def tokens(text: Column | str) -> Column:
    """Whitespace tokens with empties dropped (array<string>)."""
    return F.filter(F.split(text, " "), lambda x: x != "")


def hash64(col: Column | str) -> Column:
    """60-bit deterministic string hash: first 15 hex digits of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash31(col: Column | str) -> Column:
    """hash64 reduced mod 2^31-1 — safe operand for (a*h+b) % P chains."""
    return hash64(col) % MERSENNE31


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a token array (array<string>).

    Empty when the document has fewer than ``n`` tokens.
    """
    make = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(F.size(toks) >= n, make).otherwise(F.array().cast("array<string>"))


def fold_hash(hashes: Column, mult: int = 31) -> Column:
    """Order-sensitive polynomial rolling hash of an array<long> of
    31-bit hashes: acc = (acc * mult + h) % P, acc0 = 0.

    The document-fingerprint primitive: two docs get equal fingerprints
    iff their token streams are identical (mod collisions).
    """
    return F.aggregate(
        hashes, F.lit(0).cast("long"),
        lambda acc, x: (acc * mult + x) % MERSENNE31)


# A regex both Java (Spark) and RE2 (DuckDB) interpret identically: letter
# runs, single digits, or single non-alnum marks — a BPE-ish pre-tokenizer
# without lookahead (RE2 has none).
BPE_REGEX = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column | str) -> Column:
    """Count of BPE-ish pre-tokenizer matches."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_REGEX), 0))


def spread(df, min_factor: int = 1):
    """Re-spread a scan-thin frame across the cluster BEFORE a
    CPU-heavy per-row map (gram explodes, shingling, hashing).

    Spark sizes scan tasks by INPUT bytes (maxPartitionBytes), so a
    small-on-disk corpus that fans out 50-500x per row (per-char grams,
    bigram shingles) under-parallelizes: one ~2 MB parquet file becomes
    ONE task doing all the downstream CPU (measured: the sf0.1
    documents scan runs every gram explode single-threaded, ~2.4 s per
    pass on 1 of 32 cores). Conditional: only repartitions when the
    frame has fewer partitions than the session's parallelism, so at
    real scale — where the scan already yields thousands of splits —
    this is a NO-OP and never adds a corpus shuffle.
    """
    # NOTE: the partition probe (.rdd.getNumPartitions) plans the frame
    # once — call spread() on scan-level inputs (all current call
    # sites), not on frames with expensive lineage.
    par = df.sparkSession.sparkContext.defaultParallelism * min_factor
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
