#!/usr/bin/env python3
"""Engine-only scale probe for the LLM-pipeline workhorses: dedup and
ANN at 100-500x the sf0.1 testdata.

The registered queries are correctness-gated at sf<=0.1 (5000 docs /
2000 vectors); the 100 TB design claims — banded LSH dedup never goes
quadratic, the incremental band-store probe is O(batch), IVF
assignment is O(n x k) with bounded driver state — are plan-shape
arguments until measured. This script builds a synthetic corpus with
Spark expressions (no driver-side rows), PLANTS near-duplicates at a
known rate, and times the library operators themselves on it:

  1. band-store build over the corpus (the nightly dedup state write)
  2. banded candidate generation + exact-Jaccard verify (the
     dedup_minhash_lsh core) — with the found-pair count asserted
     against the planted rate, so the timing is of a RUN THAT WORKED
  3. incremental probe of a fresh batch against the persisted store
     (the dedup_incremental shape)
  4. IVF k-means training (k scaled per dedup_ivf_k) + batch
     assignment to the trained quantizer — BOTH kernels (exact NLJ
     and arrow GEMM), so the gap is a recorded number
  5. the incremental-ingest path end to end through assign_nearest's
     GEMM kernel (kernel="arrow"), through the
     parquet-persisted quantizer/lists (the ann_ivf_incremental /
     stream_ann_ingest shape at production speed)
  6. the IVF+PQ composition: index build persisted (coarse lists +
     PQ codes), query-batch latency over the PERSISTED index, and
     planted-neighbor recall (vec_id < PQ_QUERIES are near-copies of
     vectors half the id space away)

Prints one JSON line. Sized by --docs / --vecs; --stages selects a
subset (e.g. --stages dedup for a 25M-doc dedup ladder point).
Defaults finish in minutes on local[32].

Usage: SPARK_DRIVER_MEMORY=32g python scripts/scale_probe_llm.py \
           [--docs 1000000] [--vecs 1000000] [--batch 10000]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DUP_EVERY = 100          # doc_id % 100 == 1 near-duplicates doc_id - 1
DOC_TOKENS = 40
VOCAB = 50_000


def gen_docs(spark, n_docs: int, batch: int):
    """Synthetic corpus, pure Spark expressions: ~DOC_TOKENS-token docs
    drawn from a VOCAB-token vocabulary, deterministic per doc. Every
    DUP_EVERY-th doc re-generates another doc's text with the LAST
    token changed (a >=0.9-Jaccard planted near-dup): corpus-side dups
    copy their predecessor (in-corpus pairs for the LSH probe);
    batch-side dups (doc_id < batch) copy a corpus doc half the id
    space away (cross-split pairs, so the incremental probe has real
    matches to find). The +1 on the cross offset keeps the copied seed
    off the dup-id lattice. Everything else is seed-unique, so random
    band collisions are negligible."""
    from pyspark.sql import functions as F

    is_dup = (F.col("id") % DUP_EVERY) == 1
    cross = F.col("id") + F.lit(n_docs // 2 + 1)
    seed = (F.when(is_dup & (F.col("id") < batch), cross)
             .when(is_dup, F.col("id") - 1)
             .otherwise(F.col("id")))
    body = F.transform(
        F.sequence(F.lit(1), F.lit(DOC_TOKENS - 1)),
        lambda i: F.concat(F.lit("t"),
                           F.pmod(F.xxhash64(seed, i), F.lit(VOCAB))
                            .cast("string")))
    tail = F.when(is_dup, F.lit("dupmark")).otherwise(
        F.concat(F.lit("t"), F.pmod(F.xxhash64(seed, F.lit(DOC_TOKENS)),
                                    F.lit(VOCAB)).cast("string")))
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.concat(body, F.array(tail))).alias("text"))


PQ_QUERIES = 64          # planted ANN queries: vec_id < PQ_QUERIES


def gen_vecs(spark, n_vecs: int, dim: int, plant: bool = False):
    """Hash-random unit-cube vectors; with ``plant``, the first
    PQ_QUERIES ids are near-copies of the vector half the id space
    away (base seed + a 1%-amplitude deterministic perturbation), so
    an ANN probe has known TRUE near-neighbors to measure recall
    against — the vector twin of gen_docs's planted near-dup pairs."""
    from pyspark.sql import functions as F

    is_q = F.col("id") < PQ_QUERIES
    seed = (F.when(is_q, F.col("id") + n_vecs // 2).otherwise(F.col("id"))
            if plant else F.col("id"))

    def coord(i):
        base = (F.pmod(F.xxhash64(seed, i), F.lit(2001))
                - F.lit(1000)).cast("double") / F.lit(1000.0)
        if not plant:
            return base
        jitter = (F.pmod(F.xxhash64(F.col("id"), i, F.lit(7)), F.lit(2001))
                  - F.lit(1000)).cast("double") / F.lit(100_000.0)
        return F.when(is_q, base + jitter).otherwise(base)

    v = F.transform(F.sequence(F.lit(1), F.lit(dim)), coord)
    return spark.range(n_vecs).select(F.col("id").alias("vec_id"),
                                      v.alias("v"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--vecs", type=int, default=200_000)
    ap.add_argument("--batch", type=int, default=10_000)
    ap.add_argument("--iters", type=int, default=2,
                    help="Lloyd's iterations (0 = init-only quantizer, "
                         "enough for pure assignment-kernel timing)")
    ap.add_argument("--recall-floor", type=float, default=0.8,
                    help="abort threshold for the ivfpq ADC planted "
                         "recall; lower it for diagnostic runs probing "
                         "the ADC-saturation regime (deep nprobe at a "
                         "small code budget), where the refine stage's "
                         "buy-back is the number under study")
    ap.add_argument("--refine-floor", type=float, default=0.5,
                    help="abort threshold for the REFINE stage's "
                         "planted recall — the number that must stay "
                         "high when the ADC floor is deliberately "
                         "lowered to probe the saturation regime "
                         "(measured decay at the 4x16 code budget: "
                         "ADC 0.844 at 5M -> 0.578 at 25M -> 0.359 at "
                         "100M, while refine holds >=0.95)")
    ap.add_argument("--refine-shortlist", type=int, default=30,
                    help="ADC shortlist width R the refine stage "
                         "exactly re-ranks (cost linear in R at "
                         "|queries| x R rows). The 100M rung measured "
                         "refine recall decaying at FIXED R=30 (0.953 "
                         "at 25M -> 0.719 at 100M): the ADC pool's "
                         "quantization-tie noise grows with corpus "
                         "density, pushing true neighbors past a "
                         "fixed-width shortlist — R is the knob that "
                         "must scale, and its cost is the cheapest in "
                         "the whole pipeline")
    ap.add_argument("--nprobe", type=int, default=8,
                    help="IVF cells probed per query in the ivfpq "
                         "stage (recall at fixed nprobe decays as "
                         "per-cell occupancy grows with the corpus)")
    ap.add_argument("--k", type=int, default=None,
                    help="IVF coarse-quantizer size for the probe; "
                         "default (None) derives it via ivf_auto_k — "
                         "the corpus-scaled rule the public index-build "
                         "path now defaults to (~IVF_TARGET_CELL "
                         "vectors/cell, floor 256; NOT dedup_ivf_k's "
                         "SemDedup ~64-vector clusters, which would put "
                         "k in the tens of thousands at 1M vectors)")
    ap.add_argument("--no-store", action="store_true",
                    help="skip the 6c cell-partitioned store stage: its "
                         "local[32] behavior is already measured (the "
                         "small-file regression below ~100 MB/cell, "
                         "SCALING.md round 9 wave 6) and at 100M x "
                         "k=4000 the partitionBy write only re-pays "
                         "that known local cost")
    ap.add_argument("--workdir", default="/tmp/scale_probe_llm")
    ap.add_argument("--stages", default="dedup,ivf,ingest,ivfpq",
                    help="comma subset of dedup,ivf,ingest,ivfpq — a "
                         "25M-doc dedup ladder point need not pay the "
                         "vector stages (and vice versa)")
    args = ap.parse_args()
    stages = set(args.stages.split(","))

    from pyspark.sql import functions as F

    from hdfs_with_pyspark_spark.llm.dedup import (
        JACCARD_THRESHOLD, _band_candidates, _shingle_hashes,
        _verified_jaccard, dedup_incremental, minhash_band_store)
    from hdfs_with_pyspark_spark.llm.similarity import (
        PQ_K, PQ_SUB, PQ_SUB_DIM, _train_kmeans, assign_nearest,
        ivf_auto_k, ivfpq_search, pq_encode)
    from hdfs_with_pyspark_spark.session import get_spark

    spark = get_spark("scale-probe-llm")
    shutil.rmtree(args.workdir, ignore_errors=True)
    result = {"n_docs": args.docs, "n_vecs": args.vecs,
              "batch": args.batch}

    if "dedup" in stages:
        # Corpus lands on disk first so every probe times the
        # operator, not the generator.
        docs_path = os.path.join(args.workdir, "docs")
        gen_docs(spark, args.docs, args.batch).write.mode("overwrite") \
            .parquet(docs_path)
        docs = spark.read.parquet(docs_path)
        corpus = docs.where(F.col("doc_id") >= args.batch)
        batch = docs.where(F.col("doc_id") < args.batch)

        # 1. band-store build (corpus only — the standing state).
        # The shingle spine's one shuffle (docs x tokens narrow rows)
        # is pinned to the row-derived count: AQE's byte target
        # under-partitions the CPU-dense token-hash rows (25M build
        # 420 s pure-AQE vs ~296 s row-derived). The operator derives
        # that pin ITSELF from a memoized corpus token count
        # (num_partitions="auto", the default) — the probe passes NO
        # partitioning arguments, exercising exactly what a production
        # caller gets, and records the derived value via the same
        # helper over the same frame (_spine_token_rows counts the
        # actual corpus, where an args.docs * DOC_TOKENS estimate would
        # overstate the shuffle by the batch fraction).
        # The band self-join below is deliberately LEFT to AQE: pinning
        # it to the derived count was tried and measured SLOWER
        # (SCALING.md) — its real failure mode was the unpersisted
        # candidate subtree, fixed below.
        from hdfs_with_pyspark_spark.llm.dedup import (
            _auto_spine_partitions)
        store_path = os.path.join(args.workdir, "band_store")
        # Pre-warming the memoized count here keeps band_store_build_sec
        # comparable with the earlier ladder rows (which computed the pin
        # arithmetically outside the timed window); a cold caller pays
        # one extra corpus scan, once per session.
        spine_par = _auto_spine_partitions(corpus)
        result["spine_partitions"] = spine_par
        t0 = time.time()
        minhash_band_store(corpus) \
            .write.mode("overwrite").parquet(store_path)
        result["band_store_build_sec"] = round(time.time() - t0, 1)
        store = spark.read.parquet(store_path)

        # 2. full banded self-join + exact verify over the whole corpus.
        # The candidate set is PERSISTED between its two consumers
        # (touched-doc reduction and the verify join) — same discipline
        # as the registered dedup_minhash_lsh (SCALING.md: the pair
        # frame feeds three subtrees; unpinned, the banded self-join —
        # the dominant cost here — can be recomputed per consumer).
        # lsh_verify_sec stays the END-TO-END number comparable to
        # earlier ladder rows; the two sub-timings split it.
        t0 = time.time()
        cand = _band_candidates(store)
        cand.persist()
        result["candidate_pairs"] = cand.count()
        result["candidate_join_sec"] = round(time.time() - t0, 1)
        t1 = time.time()
        touched = (cand.select(F.col("doc_a").alias("doc_id"))
                   .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
                   .distinct())
        shh = _shingle_hashes(corpus.join(touched, "doc_id", "left_semi"))
        n_pairs = (_verified_jaccard(cand, shh)
                   .where(F.col("jaccard_raw") >= JACCARD_THRESHOLD).count())
        result["exact_verify_sec"] = round(time.time() - t1, 1)
        result["lsh_verify_sec"] = round(time.time() - t0, 1)
        cand.unpersist()
        result["near_dup_pairs"] = n_pairs
        # planted pairs living entirely inside the corpus split: one per
        # DUP_EVERY ids, minus any whose base doc fell into the batch
        planted = sum(1 for s in range(0, args.docs - 1, DUP_EVERY)
                      if s >= args.batch)
        result["planted_pairs"] = planted
        if not planted * 0.95 <= n_pairs <= planted * 1.10:
            result["aborted"] = "dedup_recall_window"
            print(json.dumps(result))
            raise SystemExit(f"recall sanity failed: {n_pairs} found vs "
                             f"{planted} planted")

        # 3. incremental probe: fresh batch vs the persisted store
        t0 = time.time()
        n_incr = dedup_incremental(batch, store, spread_input=False).count()
        result["incremental_probe_sec"] = round(time.time() - t0, 1)
        result["incremental_candidates"] = n_incr
        planted_cross = sum(1 for i in range(1, args.batch, DUP_EVERY))
        result["planted_cross_pairs"] = planted_cross
        # banding is probabilistic: at ~0.86 planted Jaccard a pair
        # misses all bands with p ~ 1e-4 — allow a short tail each side
        if not planted_cross * 0.95 <= n_incr <= planted_cross * 1.10 + 10:
            raise SystemExit(f"incremental sanity failed: {n_incr} "
                             f"candidates vs {planted_cross} planted "
                             "cross-split dups")

    if not stages & {"ivf", "ingest", "ivfpq"}:
        shutil.rmtree(args.workdir, ignore_errors=True)
        print(json.dumps(result))
        return

    # 4. IVF: train scaled-k quantizer on the vectors, assign a batch
    vecs_path = os.path.join(args.workdir, "vecs")
    gen_vecs(spark, args.vecs, 64, plant=True).write.mode("overwrite") \
        .parquet(vecs_path)
    vecs = spark.read.parquet(vecs_path)
    # no --k flag -> the public path's corpus-scaled default; the 25M
    # point measured why (fixed k=256 collapses planted recall to 0.06)
    k = args.k if args.k is not None else ivf_auto_k(args.vecs)
    # the vector-side batch is independent of the doc batch (a tiny
    # --vecs run must still leave a real corpus behind the split)
    vbatch = min(args.batch, args.vecs // 2)
    result["vec_batch"] = vbatch
    result["ivf_k"] = k
    if "ivf" in stages:
        t0 = time.time()
        cents = _train_kmeans(vecs.where(F.col("vec_id") >= vbatch),
                              k, iters=args.iters)
        result["ivf_train_sec"] = round(time.time() - t0, 1)
        cent_df = spark.createDataFrame(cents, "cid long, cv array<double>")
        t0 = time.time()
        n_assigned = assign_nearest(
            vecs.where(F.col("vec_id") < vbatch), cent_df,
            kernel="exact").count()
        result["ivf_batch_assign_sec"] = round(time.time() - t0, 1)
        assert n_assigned == vbatch
        # the vectorized GEMM kernel over the SAME batch + quantizer —
        # and over the whole corpus, the size the NLJ kernel can't afford
        t0 = time.time()
        n_fast = assign_nearest(
            vecs.where(F.col("vec_id") < vbatch), cents,
            kernel="arrow").count()
        result["ivf_batch_assign_arrow_sec"] = round(time.time() - t0, 2)
        assert n_fast == vbatch
        t0 = time.time()
        n_full = assign_nearest(vecs, cents, kernel="arrow").count()
        result["ivf_full_assign_arrow_sec"] = round(time.time() - t0, 1)
        assert n_full == args.vecs
        # GEMM-kernel training at the same (n, k, iters)
        if args.iters:
            t0 = time.time()
            _train_kmeans(vecs.where(F.col("vec_id") >= vbatch),
                          k, iters=args.iters, kernel="arrow")
            result["ivf_train_arrow_sec"] = round(time.time() - t0, 1)
    else:
        # prerequisite for the ingest/ivfpq stages: GEMM-kernel
        # training only (the exact-NLJ train is the measured-once
        # ~265x-slower twin — at 1M vectors it alone would cost ~an
        # hour, so the bigger ladder points time just the scale path)
        t0 = time.time()
        cents = _train_kmeans(vecs.where(F.col("vec_id") >= vbatch),
                              k, iters=args.iters, kernel="arrow")
        result["ivf_train_arrow_sec"] = round(time.time() - t0, 1)

    if "ingest" not in stages and "ivfpq" not in stages:
        shutil.rmtree(args.workdir, ignore_errors=True)
        print(json.dumps(result))
        return

    # 5. the incremental-ingest path end to end on the GEMM kernel:
    # persist the quantizer, build the corpus inverted lists through
    # the parquet sink, then probe a fresh batch against the re-read
    # store — the ann_ivf_incremental / stream_ann_ingest shape at the
    # speed production ingest actually runs. The quantizer hydrates
    # from parquet exactly as a deployment broadcast would (k x dim
    # doubles).
    cent_path = os.path.join(args.workdir, "ivf_cent")
    lists_path = os.path.join(args.workdir, "ivf_lists")
    if "ingest" in stages:
        t0 = time.time()
        spark.createDataFrame(cents, "cid long, cv array<double>") \
            .write.mode("overwrite").parquet(cent_path)
        assign_nearest(vecs.where(F.col("vec_id") >= vbatch), cents,
                       kernel="arrow") \
            .select("vec_id", "cid").write.mode("overwrite") \
            .parquet(lists_path)
        result["ivf_ingest_build_sec"] = round(time.time() - t0, 1)
        cents_re = [(int(r["cid"]), list(r["cv"]))
                    for r in spark.read.parquet(cent_path).collect()]
        t0 = time.time()
        n_ing = assign_nearest(
            vecs.where(F.col("vec_id") < vbatch), cents_re,
            kernel="arrow").count()
        result["ivf_ingest_batch_sec"] = round(time.time() - t0, 2)
        assert n_ing == vbatch

    if "ivfpq" not in stages:
        shutil.rmtree(args.workdir, ignore_errors=True)
        print(json.dumps(result))
        return

    # 6. IVF+PQ composition: index build (subspace
    # codebooks + full-corpus coarse lists + PQ codes, persisted), then
    # query-batch latency over the PERSISTED index — only the pruned
    # candidate slice of the codes table moves at query time — with
    # planted-neighbor recall so the latency is of a run that WORKED.
    books = [_train_kmeans(
        vecs.select("vec_id",
                    F.slice("v", s * PQ_SUB_DIM + 1, PQ_SUB_DIM)
                     .alias("v")),
        PQ_K, iters=max(args.iters, 1), kernel="arrow")
        for s in range(PQ_SUB)]
    codes_path = os.path.join(args.workdir, "pq_codes")
    t0 = time.time()
    assign_nearest(vecs, cents, kernel="arrow").select("vec_id", "cid") \
        .write.mode("overwrite").parquet(lists_path)
    # the GEMM encode — the exact window-encode measured superlinear at
    # the 5M point (99 s at 1M -> 871 s; a 320M-row window sort), so
    # ingest-scale indexing runs the equivalence-tested arrow kernel
    # like every other batch kernel here
    pq_encode(spark, vecs, books, kernel="arrow") \
        .write.mode("overwrite").parquet(codes_path)
    result["ivfpq_index_build_sec"] = round(time.time() - t0, 1)
    nprobe = args.nprobe
    t0 = time.time()
    topk = ivfpq_search(
        spark, vecs, cents, books,
        n_queries=PQ_QUERIES, nprobe=nprobe, top_k=10, kernel="arrow",
        codes=spark.read.parquet(codes_path),
        assign=spark.read.parquet(lists_path)).collect()
    result["ivfpq_query_batch_sec"] = round(time.time() - t0, 2)
    result["ivfpq_nprobe"] = nprobe
    result["ivfpq_n_queries"] = PQ_QUERIES
    planted_hits = sum(
        1 for r in topk
        if r["neighbor_id"] == r["query_id"] + args.vecs // 2)
    result["ivfpq_planted_recall"] = round(planted_hits / PQ_QUERIES, 3)
    # the planted base is the overwhelming true NN (1%-amplitude
    # jitter); IVF routes both to the same cell and ADC ranks the base
    # at/near the top — a floor well below the expected ~1.0 still
    # catches a broken index or scoring path loudly
    if planted_hits < PQ_QUERIES * args.recall_floor:
        # Emit the result-so-far before aborting: the 100M rung's first
        # attempt hit this floor AFTER ~1h of gen/train/
        # encode work and discarded every timing with it — an aborted
        # rung must still be diagnosable from its artifact.
        result["aborted"] = "ivfpq_recall_floor"
        print(json.dumps(result))
        raise SystemExit(f"ivfpq recall sanity failed: {planted_hits}"
                         f"/{PQ_QUERIES} planted neighbors found")

    # 6b. the refine stage on top (ann_topk_ivfpq_refine's shape):
    # shortlist = the same persisted-index search at top_k = 3K, then
    # the exact float re-rank of |queries| x R rows — quantifies what
    # the triple composition's extra stage costs at query time and how
    # much planted recall it buys back at the same nprobe.
    t0 = time.time()
    shortlist = ivfpq_search(
        spark, vecs, cents, books,
        n_queries=PQ_QUERIES, nprobe=nprobe,
        top_k=args.refine_shortlist, kernel="arrow",
        codes=spark.read.parquet(codes_path),
        assign=spark.read.parquet(lists_path)) \
        .select("query_id", F.col("neighbor_id").alias("vec_id"))
    v2 = vecs.withColumn("nv", F.expr(
        "sqrt(aggregate(zip_with(v, v, (a, b) -> a * b), 0D,"
        " (acc, x) -> acc + x))"))
    q = (v2.where(F.col("vec_id") < PQ_QUERIES)
           .select(F.col("vec_id").alias("query_id"),
                   F.col("v").alias("qv"), F.col("nv").alias("qnv")))
    from pyspark.sql import Window as W
    refined = (F.broadcast(shortlist)
               .join(F.broadcast(q), "query_id")
               .join(v2, "vec_id")
               .select("query_id", F.col("vec_id").alias("neighbor_id"),
                       (F.expr("aggregate(zip_with(qv, v, (a, b) -> a * b),"
                               " 0D, (acc, x) -> acc + x)")
                        / (F.col("qnv") * F.col("nv"))).alias("cos_sim")))
    wr = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                           F.col("neighbor_id").asc())
    rtopk = (refined.withColumn("rank", F.row_number().over(wr))
                    .where(F.col("rank") <= 10).collect())
    result["ivfpqr_query_batch_sec"] = round(time.time() - t0, 2)
    result["ivfpqr_shortlist"] = args.refine_shortlist
    r_hits = sum(1 for r in rtopk
                 if r["neighbor_id"] == r["query_id"] + args.vecs // 2)
    result["ivfpqr_planted_recall"] = round(r_hits / PQ_QUERIES, 3)
    if r_hits < PQ_QUERIES * args.refine_floor:
        result["aborted"] = "refine_recall_floor"
        print(json.dumps(result))
        raise SystemExit(f"refine recall sanity failed: {r_hits}"
                         f"/{PQ_QUERIES} planted neighbors found")

    # 6c. the cell-partitioned store layout: one merged
    # (cid, vec_id, code*) table PARTITIONED BY the coarse cell, so a
    # query batch's probed cells prune at SCAN level (prune_cells pushes
    # the bounded probed-cid set as a literal partition filter). This is
    # the 100 TB layout — nprobe/k of the store's FILES read, not
    # nprobe/k of its rows filtered post-scan.
    if args.no_store:
        shutil.rmtree(args.workdir, ignore_errors=True)
        print(json.dumps(result))
        return
    store_path = os.path.join(args.workdir, "ivfpq_store")
    t0 = time.time()
    spark.read.parquet(lists_path) \
        .join(spark.read.parquet(codes_path), "vec_id") \
        .write.mode("overwrite").partitionBy("cid").parquet(store_path)
    result["ivfpq_store_build_sec"] = round(time.time() - t0, 1)
    store = spark.read.parquet(store_path)
    t0 = time.time()
    stopk = ivfpq_search(
        spark, vecs, cents, books,
        n_queries=PQ_QUERIES, nprobe=nprobe, top_k=10, kernel="arrow",
        codes=store, assign=store.select("vec_id", "cid"),
        prune_cells=True).collect()
    result["ivfpq_store_query_batch_sec"] = round(time.time() - t0, 2)
    s_hits = sum(1 for r in stopk
                 if r["neighbor_id"] == r["query_id"] + args.vecs // 2)
    result["ivfpq_store_planted_recall"] = round(s_hits / PQ_QUERIES, 3)
    if {(r["query_id"], r["neighbor_id"]) for r in stopk} != \
            {(r["query_id"], r["neighbor_id"]) for r in topk}:
        raise SystemExit("cell-pruned store query diverged from the "
                         "unpruned path")

    shutil.rmtree(args.workdir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
