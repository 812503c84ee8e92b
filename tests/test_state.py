"""Session state (hdfs_with_pyspark_spark.state).

The bookkeeping stays bounded under concurrent writers, and every
registered query that pins a frame can be re-invoked in one session —
with ``spark.catalog.clearCache()`` in between, as the bench does —
returning the same rows and leaving each pinned frame actually cached.
"""

from __future__ import annotations

import sys
import threading

import pytest

from hdfs_with_pyspark_spark import state
from hdfs_with_pyspark_spark.plans.registry import QUERIES

SF_SMALL = "/root/testdata/sf0.001"
SF_LARGER = "/root/testdata/sf0.01"


class _Context:
    """Stands in for a running SparkContext: memo-only bookkeeping never
    calls into the JVM."""
    _jsc = "running"


class _Session:
    def __init__(self):
        self.sparkContext = _Context()


def test_memo_bounded_under_concurrent_writers():
    # Ten rounds of 8 threads x 200 keys: one round rarely interleaves
    # two evictions of the same oldest key.
    n_threads, n_keys, rounds = 8, 200, 10
    assert n_keys > state.MAX_ENTRIES
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)     # switch threads inside the bookkeeping
    try:
        for _ in range(rounds):
            spark = _Session()
            start = threading.Barrier(n_threads)
            errors, peaks = [], [0] * n_threads

            def writer(t: int) -> None:
                try:
                    start.wait()
                    for i in range(n_keys):
                        assert state.memo(spark, ("w", t, i),
                                          lambda: (t, i)) == (t, i)
                        peaks[t] = max(peaks[t], len(state.inventory(spark)))
                except Exception as e:  # noqa: BLE001 -- reported below
                    errors.append(e)

            threads = [threading.Thread(target=writer, args=(t,))
                       for t in range(n_threads)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=60)
            assert not any(th.is_alive() for th in threads)
            assert not errors, errors
            assert max(peaks) <= state.MAX_ENTRIES
            assert len(state.inventory(spark)) == state.MAX_ENTRIES
            state.clear(spark)
            assert state.inventory(spark) == []
    finally:
        sys.setswitchinterval(interval)


def _live_pins(spark) -> set:
    return {e["key"] for e in state.inventory(spark)
            if e["kind"] == state.PINNED and e["live"]}


def _rows(df) -> list[str]:
    # repr, not the Row values: NaN != NaN would fail an identical rerun
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.fixture(scope="module")
def pinning_queries(spark):
    """{query: (pinned keys, rows, keys dead after that first run)} for
    every registered query that pins, found by running each query once
    at SF_SMALL.

    clearCache() before each query leaves no pinned frame live, so the
    query rebuilds every frame it pins: those entries are the ones
    registered after the query started. The stream_* family is not
    run: each drives a stream to completion while being built (over a
    fifth of the whole pass) and keeps its state in checkpoints, not
    here."""
    state.clear(spark)
    found, last = {}, -1
    for name, query in QUERIES.items():
        if name.startswith("stream_"):
            continue
        spark.catalog.clearCache()
        df = query(spark, SF_SMALL)
        entries = state.inventory(spark)
        keys = {e["key"] for e in entries
                if e["kind"] == state.PINNED and e["seq"] > last}
        last = max([last] + [e["seq"] for e in entries])
        if keys:
            rows = _rows(df)
            found[name] = (keys, rows, keys - _live_pins(spark))
    return found


def test_pinning_queries_reinvoke_with_same_rows_and_live_pins(
        spark, pinning_queries):
    assert {"channel_pagerank", "dedup_embedding_lsh",
            "events_user_retention"} <= set(pinning_queries)
    failures = {}
    for name, (keys, first, dead) in pinning_queries.items():
        for run in (1, 2, 3):
            if run > 1:
                spark.catalog.clearCache()
                rows = _rows(QUERIES[name](spark, SF_SMALL))
                dead = keys - _live_pins(spark)
            else:
                rows = first
            if rows != first or dead:
                failures[name] = {"run": run, "rows_differ": rows != first,
                                  "dead_pins": sorted(map(repr, dead))}
                break
    assert not failures, failures


def test_pins_at_one_sf_survive_another_sf(spark, pinning_queries):
    # Keys carry sf_dir, so building the query over a second corpus
    # leaves the first corpus's frames pinned.
    name = "dedup_method_agreement"
    keys, first, _ = pinning_queries[name]
    assert all(SF_SMALL in key for key in keys)
    spark.catalog.clearCache()
    assert _rows(QUERIES[name](spark, SF_SMALL)) == first
    QUERIES[name](spark, SF_LARGER).collect()
    assert keys <= _live_pins(spark)


def test_dedup_queries_share_one_pinned_spine(spark):
    # The dedup queries that read the documents shingle spine more than
    # once all reuse one pinned entry, built once and still live after
    # each query, instead of each persisting (and never releasing) its
    # own copy of the same plan.
    state.clear(spark)
    built = set()
    for name in ("dedup_minhash_lsh", "dedup_components",
                 "corpus_ngram_novelty"):
        QUERIES[name](spark, SF_SMALL).collect()
        spines = [e for e in state.inventory(spark)
                  if e["key"][0] == "documents:shingle_hashes"]
        assert [e["key"] for e in spines] == [
            ("documents:shingle_hashes", SF_SMALL)], name
        assert spines[0]["live"], name
        built.add(spines[0]["seq"])
    assert len(built) == 1


# The graph queries in registry order: the eight over the channel
# co-membership graph plus walk_skipgram_pairs, which re-reads the
# pinned walks.
GRAPH_QUERIES = [name for name in QUERIES if name in {
    "channel_pagerank", "channel_triangles", "channel_kcore",
    "graph_random_walks", "ego_subgraph_sample", "walk_skipgram_pairs",
    "channel_link_prediction", "channel_modularity_audit",
    "channel_conductance_audit"}]


def _assert_pins_stay_live(spark, names) -> None:
    """Run ``names`` twice in one session: after each query every pin
    is still live, and the second pass returns the first pass's rows.
    The second pass runs each query after all the others have pinned."""
    state.clear(spark)
    passes = []
    for _ in range(2):
        rows = {}
        for name in names:
            rows[name] = _rows(QUERIES[name](spark, SF_SMALL))
            dead = [e["key"] for e in state.inventory(spark)
                    if e["kind"] == state.PINNED and not e["live"]]
            assert not dead, (name, dead)
        passes.append(rows)
    assert passes[0] == passes[1]


def test_graph_queries_keep_each_others_pins_live(spark):
    # The graph queries share one pinned edge list. Spark's cache
    # manager matches entries by plan, so a query that persisted and
    # then released its own copy of that plan would evict the pin every
    # other query reads.
    assert len(GRAPH_QUERIES) == 9
    _assert_pins_stay_live(spark, GRAPH_QUERIES)


def test_dedup_pair_queries_keep_each_others_pins_live(spark):
    # dedup_components (also under dedup_cluster_histogram) and
    # dedup_lsh_recall_eval read one pinned exact-Jaccard pair list; a
    # private persist-then-unpersist of that plan would evict the pin.
    _assert_pins_stay_live(spark, ["dedup_lsh_recall_eval",
                                   "dedup_components",
                                   "dedup_cluster_histogram"])


# The embedding queries that pin the normed corpus, a band table or a
# recall eval's shared frames, in registry order.
EMBEDDING_QUERIES = [name for name in QUERIES if name in {
    "dedup_embedding_lsh", "dedup_embedding_lsh_rand", "emb_lsh_rand_recall",
    "dedup_method_agreement", "ann_pq_refine_recall_eval",
    "ann_ivfpq_refine_recall_eval"}]


def test_embedding_queries_keep_each_others_pins_live(spark):
    # The LSH queries share the pinned normed corpus, and
    # dedup_method_agreement composes dedup_embedding_lsh over it; the
    # refine recall evals share the pinned brute-force pairs. None may
    # release its own copy of a plan another query has pinned.
    assert len(EMBEDDING_QUERIES) == 6
    _assert_pins_stay_live(spark, EMBEDDING_QUERIES)


MINHASH_QUERIES = ["dedup_minhash_lsh", "minhash_estimate_error_audit",
                   "dedup_threshold_sweep", "dedup_lsh_recall_eval",
                   "dedup_method_agreement"]


def test_minhash_queries_share_signatures_and_candidates(spark):
    # The MinHash queries build the corpus signatures and band
    # candidates once between them, and cache nothing that state does
    # not track: every RDD persisted while they run belongs to a live
    # pin. RDDs persisted before the test (local checkpoints of earlier
    # queries) are not counted.
    state.clear(spark)
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    seqs = {"documents:minhash_sig": set(), "documents:minhash_cand": set()}
    for name in MINHASH_QUERIES:
        QUERIES[name](spark, SF_SMALL).collect()
        entries = state.inventory(spark)
        for kind, seen in seqs.items():
            found = [e for e in entries if e["key"][0] == kind]
            assert [e["key"] for e in found] == [(kind, SF_SMALL)], name
            assert found[0]["live"], name
            seen.add(found[0]["seq"])
        live = sum(1 for e in entries
                   if e["kind"] == state.PINNED and e["live"])
        persisted = set(jsc.getPersistentRDDs().keySet()) - before
        assert len(persisted) <= live, (name, len(persisted), live)
    assert all(len(seen) == 1 for seen in seqs.values()), seqs


def test_graph_queries_fire_no_jobs_while_built(spark):
    # Building a graph query's DataFrame fires no more Spark jobs than
    # building channel_modularity_audit, which runs no action of its
    # own (what it fires is the session's events footer sniff, redone
    # after state.clear). channel_kcore is the exception by design: its
    # per-round eager localCheckpoint and node count are the peeling
    # algorithm, so it is not measured here.
    sc, jobs = spark.sparkContext, {}
    try:
        for name in GRAPH_QUERIES:
            if name == "channel_kcore":
                continue
            state.clear(spark)
            group = f"graph-build-jobs-{name}"
            sc.setJobGroup(group, name)
            QUERIES[name](spark, SF_SMALL)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    budget = jobs.pop("channel_modularity_audit")
    assert all(n <= budget for n in jobs.values()), (budget, jobs)
