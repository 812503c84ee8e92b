#!/usr/bin/env python3
"""Benchmark harness (driver contract, BASELINE.md).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Results are collect()ed — every headline query returns an aggregated,
small result set, so collect is an honest full-pipeline measurement
without driver-memory risk.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pricing_summary",
    "top_order_per_customer",
    "revenue_by_nation",
    "small_quantity_part_revenue",
    "top_revenue_orders",
    "geo_city_event_counts",
    "user_mart",
    "zone_mart",
    "friend_recommendations",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_incremental",
    "dedup_embedding_lsh",
    "corpus_curation",
    "corpus_decontaminate",
    "channel_pagerank",
    "forecast_revenue_change",
    "nation_trade_flows",
    "supplier_sole_late_blame",
    "dedup_embedding_ivf",
    "knn_graph_lsh",
    "stream_enriched_segment_value",
    "events_time_proximity",
    "corpus_sample_stratified",
    "ann_topk_lsh",
    "ann_topk_lsh_multiprobe",
    "ann_topk_ivf",
    "ann_topk_pq",
    "channel_triangles",
    "corpus_mixture_sample",
    "bpe_merges",
    "doc_fingerprint",
    "doc_chunks",
    "asof_last_order_before_event",
    "user_sessions",
    "rolling_daily_revenue",
    "multimodal_features",
    "stream_windowed_counts",
    "stream_session_stats",
    # late round 3: the new capability families
    "part_name_fuzzy_pairs",
    "basket_part_affinity",
    "nation_year_profit",
    "rolling_distinct_users_audit",
    "daily_peak_concurrency",
    "text_repeated_spans",
    "channel_kcore",
    "order_value_drift",
    "ann_topk_mmr",
    "seasonal_naive_eval",
    # round 4: new training-data operators
    "text_dsir_weights",
    "corpus_cluster_balanced_sample",
    "eval_contamination_embedding",
    "corpus_perplexity_buckets",
    "doc_chunk_dedup",
    "revenue_by_nation_ivm",
    # round 5: retrieval, spectral, calibrated-curation, rand-LSH
    "bm25_topk",
    "embedding_top_pc",
    "dedup_canonical_docs",
    "quality_score_calibrated",
    "dedup_embedding_lsh_rand",
    "emb_lsh_rand_recall",
    "corpus_ngram_novelty",
    "leakage_safe_splits",
    "events_user_retention",
    "corpus_zipf_fit",
    "events_funnel_conversion",
    "hybrid_retrieval_rrf",
    "orders_pit_features",
    "graph_random_walks",
    "ego_subgraph_sample",
    "score_label_auc",
    "source_target_encoding",
    "score_label_pr_auc",
    "score_calibration_bins",
    "walk_skipgram_pairs",
    "events_t_closeness",
    # round 6: survival analysis, experimentation, link prediction,
    # ranking eval, feature hashing
    "orders_survival_km",
    "events_ab_test_eval",
    "channel_link_prediction",
    "retrieval_eval_mrr",
    "feature_hash_collision_audit",
    "orders_cohort_ltv",
    "tokenizer_fertility_by_lang",
    "embedding_debias_topc",
    "maxsim_retrieval_topk",
    "stream_late_data_audit",
    "embedding_matryoshka_recall",
    "join_cardinality_audit",
    "bloom_join_audit",
    "corpus_manifest_fingerprint",
    "quality_disparate_impact",
    "privacy_delete_cascade_audit",
    "embedding_knn_label_eval",
    "embedding_centroid_drift",
    "corpus_token_gini",
    "rlhf_preference_pairs",
    "corpus_prefix_cache_stats",
    "events_cep_pattern_match",
    "corpus_sampling_temperature",
    "text_code_detection",
    "referential_integrity_audit",
    # round 7: sketch-accuracy, provenance, vocab/ordering/robustness
    # audits, embedding-space health
    "minhash_estimate_error_audit",
    "dedup_cross_source_matrix",
    "tokenizer_vocab_oov_audit",
    "corpus_training_order_audit",
    "quality_outlier_mad",
    "embedding_anisotropy_audit",
    "dedup_threshold_sweep",
    "supplier_concentration_hhi",
    "events_power_analysis",
    "channel_modularity_audit",
    "stream_ivm_revenue",
    "quality_logreg_train",
    "ann_ivf_nprobe_curve",
    "quality_psi_drift",
    "orders_schema_evolution_read",
    "dsir_reweighting_eval",
    "dedup_containment",
    "score_lift_table",
    "channel_conductance_audit",
    # round 8: incremental ANN maintenance, hybrid retrieval, held-out
    # LM eval, streaming vector ingest
    "ann_ivf_incremental",
    "ann_ivf_incr_recall_eval",
    "corpus_heldout_bigram_eval",
    "stream_ann_ingest",
    "ann_kernel_agreement_audit",
    "ann_topk_ivfpq",
    "ann_ivfpq_recall_eval",
    # round 9: metadata-filtered vector search (predicate composed
    # inside the IVF prune) + its filtered-truth recall eval; the PQ
    # exact-re-rank stage + its gain eval
    "ann_topk_ivf_filtered",
    "ann_filtered_recall_eval",
    "ann_topk_pq_refine",
    "ann_pq_refine_recall_eval",
    # round 9 wave 3+: cross-modality dedup governance, supervised batch
    # inference + calibration, LSH banding planner, and the full
    # IVF+PQ+refine triple with its gain eval
    "dedup_method_agreement",
    "quality_logreg_infer",
    "dedup_lsh_param_planner",
    "ann_topk_ivfpq_refine",
    "ann_ivfpq_refine_recall_eval",
]


MOVER_RATIO = 1.5   # BASELINE.md drift protocol: movers past this line
                    # need the paired-worktree A/B if their code changed

# VERDICT r10 item 5: round 10's final bench regeneration produced a new
# >=1.5x changed-file mover that nobody A/B'd, because the mover check
# lived in the builder's eyes, not the artifact. Now every full run
# re-derives `movers_undispositioned` against its own output: an upward
# mover whose implementing file changed since the base snapshot's commit
# and that has no matching entry (same query, same base_round) in
# BENCH_MOVER_DISPOSITIONS.json. The round-close artifact must show [].
DISPOSITIONS_FILE = "BENCH_MOVER_DISPOSITIONS.json"


def _files_changed_since_base(repo: str, base_file: str) -> set[str] | None:
    """Repo-relative paths changed (committed or working-tree) since the
    commit that last touched the base snapshot; None if git is unusable
    (then every mover is conservatively treated as changed-file)."""
    import subprocess

    def _git(*a):
        return subprocess.run(["git", "-C", repo, *a], capture_output=True,
                              text=True, timeout=60)
    try:
        head = _git("log", "-1", "--format=%H", "--", base_file)
        base_commit = head.stdout.strip()
        if head.returncode != 0 or not base_commit:
            return None
        diff = _git("diff", "--name-only", base_commit, "HEAD")
        status = _git("status", "--porcelain")
        if diff.returncode != 0 or status.returncode != 0:
            return None
        changed = set(diff.stdout.split())
        for line in status.stdout.splitlines():
            if len(line) > 3:
                changed.add(line[3:].strip().strip('"'))
        return changed
    except Exception:
        return None


def _undispositioned_movers(repo: str, base_file: str, base_round: int,
                            movers: dict, queries) -> list[str]:
    """Upward movers whose implementing file changed since the base
    snapshot and that lack a current-base disposition entry."""
    import inspect

    try:
        with open(os.path.join(repo, DISPOSITIONS_FILE)) as f:
            dispositions = json.load(f)
    except (OSError, ValueError):
        dispositions = {}
    changed = _files_changed_since_base(repo, base_file)
    out = []
    for q, rec in movers.items():
        if rec["ratio"] < MOVER_RATIO:
            continue  # downward movers are improvements, not drift
        try:
            # unwrap: register's wrapper lives in plans/registry.py
            src = os.path.relpath(
                inspect.getfile(inspect.unwrap(queries[q])), repo)
        except Exception:
            src = None
        d = dispositions.get(q)
        if d and d.get("base_round") == base_round:
            # A disposition is pinned to the implementing file's content
            # at disposition time: further edits to that file invalidate
            # it (the mover would be a NEW, unreviewed one).
            sha = d.get("file_sha")
            if not sha or (src and _git_blob_sha(repo, src) == sha):
                continue
        if changed is None or src is None or src in changed:
            out.append(q)
    return sorted(out)


def _git_blob_sha(repo: str, relpath: str) -> str | None:
    import subprocess
    try:
        r = subprocess.run(["git", "-C", repo, "hash-object", relpath],
                           capture_output=True, text=True, timeout=60)
        return r.stdout.strip() if r.returncode == 0 else None
    except Exception:
        return None


def _compare_vs_previous_round(repo: str, timings: dict[str, float],
                               sf, queries=None) -> dict:
    """Shared-set totals/median/movers vs the newest committed
    BENCH_DETAIL_r{N}.json snapshot — the structural fix for the
    stale-prose defect (VERDICT r7 item 2, r8 item 1): computed by the
    same run that produced the timings, from the artifact it names."""
    import glob
    import statistics

    snaps = {}
    for p in glob.glob(os.path.join(repo, "BENCH_DETAIL_r*.json")):
        m = re.search(r"BENCH_DETAIL_r(\d+)\.json$", p)
        if m:
            snaps[int(m.group(1))] = p
    if not snaps:
        return {"base": None, "note": "no BENCH_DETAIL_r{N}.json snapshot"}
    base_round = max(snaps)
    with open(snaps[base_round]) as f:
        base = json.load(f)
    prev = base.get("queries", {})
    shared = sorted(set(prev) & set(timings))
    ratios = {q: round(timings[q] / prev[q], 3)
              for q in shared if prev[q] > 0}
    cur_total = round(sum(timings[q] for q in shared), 3)
    prev_total = round(sum(prev[q] for q in shared), 3)
    movers = {q: {"prev_sec": prev[q], "cur_sec": timings[q], "ratio": r}
              for q, r in sorted(ratios.items(), key=lambda kv: -kv[1])
              if r >= MOVER_RATIO or r <= 1.0 / MOVER_RATIO}
    base_file = os.path.basename(snaps[base_round])
    undisp = (_undispositioned_movers(repo, base_file, base_round,
                                      movers, queries)
              if queries is not None else [])
    return {
        "base_file": base_file,
        "base_round": base_round,
        "sf": sf,
        "n_shared": len(shared),
        "n_new": len([q for q in timings if q not in prev]),
        "n_dropped": len([q for q in prev if q not in timings]),
        "shared_total_prev_sec": prev_total,
        "shared_total_cur_sec": cur_total,
        "shared_sum_ratio": (round(cur_total / prev_total, 3)
                             if prev_total else None),
        "shared_median_ratio": (round(statistics.median(ratios.values()), 3)
                                if ratios else None),
        "mover_threshold": MOVER_RATIO,
        "movers": movers,
        # Upward changed-file movers lacking a current-base entry in
        # BENCH_MOVER_DISPOSITIONS.json. The round cannot close over a
        # non-empty list (VERDICT r10 item 5).
        "movers_undispositioned": undisp,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from hdfs_with_pyspark_spark import state
    from hdfs_with_pyspark_spark.session import get_spark
    from hdfs_with_pyspark_spark.plans.registry import QUERIES

    spark = get_spark("bench")
    # Warm the JVM/session so query 1 doesn't absorb startup cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    # VERDICT r11 item 2: the scaling contract must be verifiable FROM
    # THE ARTIFACT — record the effective master / parallelism (and the
    # env var the contract says we honor) in every JSON line, so a
    # c8-vs-c32 driver pair is interpretable without trusting the code.
    env_rec = {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
    }

    # Default raised 2 -> 3 (VERDICT r3 item 4): every round has burned
    # judge time on co-tenant CPU noise in best-of-2 numbers; a third
    # run makes the per-query best materially more stable.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # Optional subset (comma-separated names): A/B drift runs and quick
    # local iteration without timing the whole headline list.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    only_set = set(only.split(",")) if only else None
    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name not in QUERIES:
            continue
        if only_set is not None and name not in only_set:
            continue
        best = None
        for _ in range(runs):
            t0 = time.time()
            QUERIES[name](spark, sf_dir).collect()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            # Each reference mart runs as its own spark-submit; mirror that
            # by not letting one query's persisted frames crowd the next,
            # and drop the session's memos too, so every run times the
            # query rather than a memo hit.
            spark.catalog.clearCache()
            state.clear(spark)
        timings[name] = round(best, 3)

    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # Best of N: reports steady-state engine throughput — first runs
        # absorb one-time JVM codegen compilation, which at 100 TB is
        # amortized to nothing but at sf0.1 can dominate a 2-second query.
        "runs_per_query": runs,
        "env": env_rec,
    }
    if only_set is not None:
        # Subset run (A/B drift, local iteration): mark the filter in the
        # stdout record and do NOT overwrite the durable full-run detail
        # file — a partial total silently replacing BENCH_DETAIL.json would
        # corrupt the per-query record the automated perf signal reads.
        out["bench_only_filter"] = sorted(only_set)
    # Full per-query detail: one line + a durable file for the judge.
    print(json.dumps(out))
    repo = os.path.dirname(os.path.abspath(__file__))
    if only_set is None:
        try:
            with open(os.path.join(repo, "BENCH_DETAIL.json"), "w") as f:
                json.dump(out, f, indent=1)
        except OSError:
            pass
        # VERDICT r8 item 1 (same defect two rounds running): the
        # cross-round shared-set comparison is now a GENERATED artifact
        # written in the same run as BENCH_DETAIL.json, so BASELINE.md
        # prose can never go stale against the file it cites — it
        # copies (or just points at) BENCH_COMPARE.json. The base is
        # the newest committed BENCH_DETAIL_r{N}.json snapshot; the
        # round-close ritual copies the final BENCH_DETAIL.json to
        # BENCH_DETAIL_r{thisround}.json for the next round.
        try:
            cmp_rec = _compare_vs_previous_round(repo, timings, sf,
                                                 queries=QUERIES)
            with open(os.path.join(repo, "BENCH_COMPARE.json"), "w") as f:
                json.dump(cmp_rec, f, indent=1)
            if cmp_rec.get("movers_undispositioned"):
                # Loud on stderr (stdout stays the driver's JSON lines):
                # a changed-file mover needs the paired-worktree A/B and
                # a BENCH_MOVER_DISPOSITIONS.json entry before close.
                print("BENCH: undispositioned changed-file movers: "
                      + ", ".join(cmp_rec["movers_undispositioned"]),
                      file=sys.stderr)
        except OSError:
            pass
    # VERDICT r5 item 1: the 76-query detail line overflowed the
    # driver's fixed tail-capture window, so BENCH_r05.json recorded
    # "parsed": null and the automated perf signal was lost. The LAST
    # line printed is therefore a compact summary that fits any tail
    # window; the per-query dict lives in the line above and in
    # BENCH_DETAIL.json.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:8])
    summary = {
        "metric": "headline_queries_total",
        "value": out["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "runs_per_query": runs,
        "queries": slowest,
        "detail_file": "BENCH_DETAIL.json",
        "env": env_rec,
    }
    if only_set is None:
        try:
            with open(os.path.join(repo, "BENCH_COMPARE.json")) as f:
                summary["movers_undispositioned"] = (
                    json.load(f).get("movers_undispositioned", []))
        except (OSError, ValueError):
            pass
    if only_set is not None:
        summary["bench_only_filter"] = sorted(only_set)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
