"""Physical-plan shape tests — the 100 TB design assertions.

Correctness is the oracle gate's job; these tests pin the *plan
properties* that make each query survive a 1000-executor scale-up:
filter pushdown reaching the parquet scan, column pruning, map-side
partial aggregation, broadcast of small sides, and the absence of
accidental cartesian products.
"""

from __future__ import annotations

import re

import pytest

from hdfs_with_pyspark_spark.plans.registry import QUERIES


def explain(spark, name, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(jvm_mode)


def n_nodes(plan: str, op: str) -> int:
    """Count physical-plan nodes of a type ('(5) Exchange' detail lines)."""
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, flags=re.M))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = explain(spark, "pricing_summary", sf_dir)
    assert "LessThanOrEqual(l_shipdate" in plan  # PushedFilters on the scan


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    # partial (map-side) + final HashAggregate around exactly one Exchange:
    # only |groups| rows cross the wire, the scale-safe agg shape.
    plan = explain(spark, "pricing_summary", sf_dir)
    assert "partial_sum" in plan
    assert n_nodes(plan, "HashAggregate") == 2
    assert n_nodes(plan, "Exchange") == 1


def test_column_pruning_on_documents(spark, sf_dir):
    # doc_fingerprint touches doc_id + text only; the scan must not read
    # lang/source/n_chars (blob-adjacent metadata pattern).
    plan = explain(spark, "doc_fingerprint", sf_dir)
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "text" in scan and "doc_id" in scan
    assert "lang" not in scan and "n_chars" not in scan


def test_text_stats_is_pure_map(spark, sf_dir):
    # Per-row text analytics must induce no shuffle at all.
    plan = explain(spark, "text_token_stats", sf_dir)
    assert "Exchange" not in plan


def test_nearest_city_avoids_cartesian(spark, sf_dir):
    # The crossJoin-argmin of the reference (common_func.py:19) is
    # re-expressed map-side; no CartesianProduct / shuffled NLJ allowed.
    plan = explain(spark, "geo_city_event_counts", sf_dir)
    assert "CartesianProduct" not in plan


def test_ann_bruteforce_broadcasts_queries(spark, sf_dir):
    plan = explain(spark, "ann_topk_bruteforce", sf_dir)
    assert "Broadcast" in plan          # query side broadcast
    assert "CartesianProduct" not in plan


def test_no_accidental_cartesian_anywhere(spark, sf_dir):
    # Deliberate half-matrix/self-pair shapes are allowlisted; everything
    # else must plan without a cartesian product. The same sweep asserts
    # NO query ever plans a row-at-a-time Python UDF (BatchEvalPython) —
    # Python boundaries must be Arrow-batched (ArrowEvalPython /
    # FlatMapGroupsInPandas / MapInPandas / MapInArrow only).
    allow = {"dedup_embedding_cosine"}
    streaming = {n for n in QUERIES if n.startswith("stream_")}
    for name in QUERIES:
        if name in streaming:
            continue
        plan = explain(spark, name, sf_dir)
        if name not in allow:
            assert "CartesianProduct" not in plan, f"cartesian in {name}"
        assert "BatchEvalPython" not in plan, \
            f"row-at-a-time Python UDF in {name}"


@pytest.mark.parametrize("name", ["revenue_by_nation", "user_mart"])
def test_dim_joins_broadcast(spark, sf_dir, name):
    # Small dimension sides (nation, cities) must broadcast, not shuffle.
    plan = explain(spark, name, sf_dir)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan or \
           "Exchange" not in plan


def test_asof_join_is_union_window(spark, sf_dir):
    # The as-of join must be the union + last(ignorenulls) rewrite: one
    # Window pass, zero join nodes (an inequality join would fan out
    # per-key and die at scale).
    plan = explain(spark, "asof_last_order_before_event", sf_dir)
    assert n_nodes(plan, "Window") == 1
    assert not re.search(r"^\(\d+\) \w*Join", plan, flags=re.M)


def test_sessionization_single_shuffle(spark, sf_dir):
    # lag-window, cumsum-window, per-session agg, and per-user agg must
    # ALL reuse the one hash(user_id) Exchange (subset-clustering reuse).
    plan = explain(spark, "user_sessions", sf_dir)
    assert n_nodes(plan, "Exchange") == 1
    assert n_nodes(plan, "Window") == 2


def test_price_bands_broadcast_theta_join(spark, sf_dir):
    # Range-band (theta) join must broadcast the 3-row bands dim: the
    # fact table never shuffles; only the 3-row aggregate does.
    plan = explain(spark, "order_price_bands", sf_dir)
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 1
    assert n_nodes(plan, "Exchange") == 1


def test_rolling_window_runs_over_preaggregate(spark, sf_dir):
    # The 7-day frame must scan (priority, day) pre-agg rows, not raw
    # orders: the window's sum argument is the aggregated `revenue`.
    plan = explain(spark, "rolling_daily_revenue", sf_dir)
    assert n_nodes(plan, "Window") == 1
    assert re.search(r"sum\(revenue#\d+", plan)


def test_top_k_never_global_sorts(spark, sf_dir):
    # orderBy + limit must plan as TakeOrderedAndProject (per-partition
    # heaps + k-row driver merge), NOT a global Sort over all rows — the
    # difference between O(k) driver memory and a single-partition sort
    # at 100 TB.
    plan = explain(spark, "top_revenue_orders", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert n_nodes(plan, "Sort") == 0


def test_not_in_is_broadcast_anti_join(spark, sf_dir):
    # The NOT IN subquery (dimension-sized) must run as a broadcast anti
    # join against the fact — no shuffle of lineitem for the exclusion.
    plan = explain(spark, "parts_supplier_counts", sf_dir)
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan)


def test_exists_is_semi_join(spark, sf_dir):
    # EXISTS must stay a semi join (each order emitted at most once,
    # join output never wider than the probe side).
    plan = explain(spark, "late_shipment_priority_counts", sf_dir)
    assert "LeftSemi" in plan


def test_having_aggregates_before_join_back(spark, sf_dir):
    # Q18 shape: the HAVING aggregate must run on lineitem BEFORE the
    # join-back — i.e. appear as a join INPUT. The tree prints
    # parent-first, so the join node must precede the aggregate in the
    # text, and the aggregate must be partial (map-side) + final.
    plan = explain(spark, "big_ticket_orders", sf_dir)
    agg_pos = plan.index("HashAggregate")
    join_pos = min(plan.index("SortMergeJoin") if "SortMergeJoin" in plan else 1 << 30,
                   plan.index("BroadcastHashJoin") if "BroadcastHashJoin" in plan else 1 << 30)
    assert join_pos < agg_pos
    assert "partial_sum" in plan


def test_gridded_spatial_join_is_equi_join(spark, sf_dir):
    # The grid variant's whole point: the O(N x C) cross product becomes
    # a hash/sort-merge EQUI-join on the packed cell id. No nested-loop
    # join may appear on the matched path (the broadcast fallback for
    # boundary rows is a BroadcastNestedLoopJoin by design, so assert the
    # cell join specifically).
    plan = explain(spark, "geo_city_event_counts_gridded", sf_dir)
    # formatted explain prints join keys on their own detail line
    assert re.search(r"Left keys \[1\]: \[__cell", plan)
    assert n_nodes(plan, "BroadcastHashJoin") + n_nodes(plan, "SortMergeJoin") \
           + n_nodes(plan, "ShuffledHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_zone_mart_assigns_zones_per_group_not_per_row(spark, sf_dir):
    # Reference O4 (pre-aggregate before the expensive nearest-city
    # assignment — Catalyst will not invent agg-through-join pushdown):
    # the argmin expression must be evaluated in the AGGREGATE's result
    # projection, i.e. once per (week, month, type, coords) group, never
    # per event row. The fused plan shows least(named_struct...) on the
    # same node line as the aggregate's count(1) result.
    plan = explain(spark, "zone_mart", sf_dir)
    assert any("least(named_struct" in ln and "count(1)" in ln
               for ln in plan.splitlines())


def test_doc_chunks_is_map_only(spark, sf_dir):
    # Chunking must fuse into the scan: 1->N token-window fan-out with no
    # exchange anywhere — the property that makes it a single pass at 100 TB.
    plan = explain(spark, "doc_chunks", sf_dir)
    assert "Exchange" not in plan
    assert "ReadSchema" in plan and "chunk" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_corpus_token_bins_single_shard_exchange(spark, sf_dir):
    # Packing shuffles ONCE on the shard key for the per-shard cumsum
    # window; no global sort may appear (that would serialize the corpus
    # through one task at scale).
    plan = explain(spark, "corpus_token_bins", sf_dir)
    assert n_nodes(plan, "Exchange") == 1
    assert "rangepartitioning" not in plan.lower()


def test_multiprobe_broadcasts_query_side_only(spark, sf_dir):
    # The 9-probe query fan-out broadcasts; the corpus side must be a
    # plain scan feeding the bucket hash-join — never re-shuffled, never
    # nested-loop-joined.
    plan = explain(spark, "ann_topk_lsh_multiprobe", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_broadcasts_eval_ngrams(spark, sf_dir):
    # The eval n-gram set (tiny at any scale) must broadcast; the corpus
    # probe is then a map-side hash join — the corpus never shuffles on
    # content for the contamination check.
    plan = explain(spark, "corpus_decontaminate", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_repetition_signals_map_only(spark, sf_dir):
    # All repetition signals are per-row HOF expressions: the plan must
    # be scan -> project with NO exchange — the shape that fuses into
    # whole-stage codegen and scales embarrassingly.
    plan = explain(spark, "text_repetition_signals", sf_dir)
    assert "Exchange" not in plan


def test_unigram_logprob_broadcasts_vocab(spark, sf_dir):
    # The unigram probability table (post-agg vocab, tiny) broadcasts
    # onto the exploded token stream; the corpus side must not shuffle
    # for the join.
    plan = explain(spark, "corpus_unigram_logprob", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_boilerplate_broadcasts_hot_ngrams(spark, sf_dir):
    # The boilerplate set (df >= K, ~1% of n-grams) broadcasts back onto
    # the per-doc shingle stream — one shuffle total (the df agg).
    plan = explain(spark, "corpus_boilerplate_ngrams", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_pii_scrub_map_only(spark, sf_dir):
    plan = explain(spark, "text_pii_scrub", sf_dir)
    assert "Exchange" not in plan


def test_shard_plan_bounded_exchanges(spark, sf_dir):
    # Shard balance agg: COUNT(DISTINCT source) expands to the standard
    # two-level aggregate — (shard, source) partials then shard — so two
    # exchanges, the second over already-aggregated (tiny) data. The
    # shard expression itself must stay map-side against the scan.
    plan = explain(spark, "corpus_shard_plan", sf_dir)
    assert n_nodes(plan, "Exchange") == 2
    assert "CartesianProduct" not in plan


def test_pagerank_hand_graph(spark, monkeypatch):
    # Channel 1 = {10, 20}: a 2-cycle. Channel 2 = {30}: isolated.
    # deg(10)=deg(20)=1; every round each cycle node receives the
    # other's full rank: r1 = 150000 + 85*1000000//100 = 1000000 —
    # the cycle is a fixpoint at the unit rank. Isolated 30 receives
    # nothing: 150000 from round 1 onward.
    from hdfs_with_pyspark_spark.plans import graph as g
    from pyspark.sql import functions as F
    rows = [(1, "signup", 10, '{"k": 1}'), (2, "signup", 20, '{"k": 1}'),
            (3, "signup", 30, '{"k": 2}')]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, props string")
    monkeypatch.setattr(g, "read_table", lambda s, d, n: ev)
    out = {r["user_id"]: r["rank_micro"]
           for r in g.channel_pagerank(spark, "x").collect()}
    assert out[10] == 1_000_000 and out[20] == 1_000_000
    assert out[30] == 150_000


def test_pagerank_cap_noop_on_small_channels(spark, monkeypatch):
    # With every channel under the cap, capped == uncapped.
    from hdfs_with_pyspark_spark.plans import graph as g
    rows = [(i, "signup", i % 7, '{"k": %d}' % (i % 3)) for i in range(40)]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, props string")
    monkeypatch.setattr(g, "read_table", lambda s, d, n: ev)
    a = sorted(g.channel_pagerank(spark, "x").collect())
    b = sorted(g.channel_pagerank(spark, "x", max_channel_members=100).collect())
    assert a == b


def test_pagerank_cap_bounds_edges(spark, monkeypatch):
    # Cap of 2 keeps only the 2 lowest user_ids per channel: the edge
    # set shrinks, and dropped members become isolated (base rank).
    from hdfs_with_pyspark_spark.plans import graph as g
    rows = [(i, "signup", i, '{"k": 1}') for i in range(5)]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, props string")
    monkeypatch.setattr(g, "read_table", lambda s, d, n: ev)
    out = {r["user_id"]: r["rank_micro"]
           for r in g.channel_pagerank(spark, "x", max_channel_members=2).collect()}
    assert out[0] == 1_000_000 and out[1] == 1_000_000
    assert all(out[u] == 150_000 for u in (2, 3, 4))


def test_triangles_counts_and_isolates(spark, monkeypatch):
    # channel 1 = {0,1,2} -> one triangle; channel 2 = {2,3} -> edge
    # only; user 4 alone on channel 3 -> isolated. Per-node counts hit
    # each triangle corner once; non-corner nodes report 0.
    from hdfs_with_pyspark_spark.plans import graph as g
    rows = ([(i, "signup", u, '{"k": 1}') for i, u in enumerate((0, 1, 2))]
            + [(10, "signup", 2, '{"k": 2}'), (11, "signup", 3, '{"k": 2}'),
               (12, "signup", 4, '{"k": 3}')])
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, props string")
    monkeypatch.setattr(g, "read_table", lambda s, d, n: ev)
    out = {r["user_id"]: r["n_triangles"]
           for r in g.channel_triangles(spark, "x").collect()}
    assert out == {0: 1, 1: 1, 2: 1, 3: 0, 4: 0}


def test_triangles_cap_bounds_wedges(spark, monkeypatch):
    # One 5-member channel capped at 3: only {0,1,2} form edges -> one
    # triangle; the capped-out members stay in the result with 0.
    from hdfs_with_pyspark_spark.plans import graph as g
    rows = [(i, "signup", i, '{"k": 1}') for i in range(5)]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, props string")
    monkeypatch.setattr(g, "read_table", lambda s, d, n: ev)
    out = {r["user_id"]: r["n_triangles"]
           for r in g.channel_triangles(spark, "x",
                                        max_channel_members=3).collect()}
    assert out == {0: 1, 1: 1, 2: 1, 3: 0, 4: 0}
    full = {r["user_id"]: r["n_triangles"]
            for r in g.channel_triangles(spark, "x",
                                         max_channel_members=None).collect()}
    # K5 uncapped: every node sits in C(4,2) = 6 triangles
    assert full == {u: 6 for u in range(5)}


def test_merge_upsert_row_presence_beats_null(spark):
    # A source row with a legitimate NULL must WIN over the target value
    # (row presence decides, not per-column coalesce).
    from hdfs_with_pyspark_spark.operators.merge import merge_upsert
    t = spark.createDataFrame([(1, "old", 5.0), (2, "keep", 6.0)],
                              "k long, name string, bal double")
    s = spark.createDataFrame([(1, None, 9.0), (3, "new", 7.0)],
                              "k long, name string, bal double")
    out = {r["k"]: r for r in merge_upsert(t, s, "k").collect()}
    assert out[1]["name"] is None and out[1]["bal"] == 9.0 and out[1]["updated"]
    assert out[2]["name"] == "keep" and not out[2]["updated"]
    assert out[3]["name"] == "new" and out[3]["updated"]


def test_merge_validate_rejects_duplicate_key_batch(spark):
    # ANSI MERGE errors on multiple source matches; validate=True is that
    # belt — loud error naming offender keys instead of a silent fan-out.
    from hdfs_with_pyspark_spark.operators.merge import merge_upsert, scd2_apply
    t = spark.createDataFrame([(1, "a")], "k long, v string")
    dup = spark.createDataFrame([(1, "x"), (1, "y"), (2, "z")],
                                "k long, v string")
    with pytest.raises(ValueError, match="merge_upsert.*multiple rows"):
        merge_upsert(t, dup, "k", validate=True)
    dim = spark.createDataFrame([(1, "a", 1, True)],
                                "k long, v string, version long, is_current boolean")
    with pytest.raises(ValueError, match="scd2_apply.*multiple rows"):
        scd2_apply(dim, dup, "k", validate=True)
    # clean batches pass through the validated path unchanged
    clean = spark.createDataFrame([(1, "x"), (2, "z")], "k long, v string")
    assert merge_upsert(t, clean, "k", validate=True).count() == 2


def test_merge_upsert_roundtrip_write(spark, tmp_path):
    from hdfs_with_pyspark_spark.operators.merge import merge_upsert
    from hdfs_with_pyspark_spark.sources.io import write_parquet
    t = spark.createDataFrame([(i, float(i)) for i in range(100)],
                              "k long, v double")
    s = spark.createDataFrame([(i, -1.0) for i in range(0, 100, 10)],
                              "k long, v double")
    merged = merge_upsert(t, s, "k").drop("updated")
    path = str(tmp_path / "dim")
    write_parquet(merged, path)
    back = spark.read.parquet(path)
    assert back.count() == 100
    assert back.where("v = -1.0").count() == 10


def test_scd2_reapply_increments_version(spark):
    # Applying a second batch to an already-updated key yields version 3
    # with exactly one current row per key.
    from hdfs_with_pyspark_spark.operators.merge import scd2_apply
    from pyspark.sql import functions as F
    dim = spark.createDataFrame([(1, "a", 1, True)],
                                "k long, attr string, version long, is_current boolean")
    once = scd2_apply(dim, spark.createDataFrame([(1, "b")], "k long, attr string"), "k")
    twice = scd2_apply(once, spark.createDataFrame([(1, "c")], "k long, attr string"), "k")
    rows = sorted(twice.collect(), key=lambda r: r["version"])
    assert [r["attr"] for r in rows] == ["a", "b", "c"]
    assert [r["is_current"] for r in rows] == [False, False, True]
    assert twice.where(F.col("is_current")).count() == 1


def test_funnel_single_shuffle(spark, sf_dir):
    # Three conditional-min window passes + the distinct must all reuse
    # ONE hash(user_id) Exchange — the funnel costs the same shuffle as
    # any per-user aggregate.
    plan = explain(spark, "user_funnel", sf_dir)
    assert n_nodes(plan, "Exchange") == 1
    assert n_nodes(plan, "Window") == 3


def test_zorder_cells_map_plus_one_agg(spark, sf_dir):
    # The Morton cell id is a pure bit-arithmetic projection; the only
    # KEYED exchange is the per-cell count. (The conditional local
    # spread of the scan-thin events file adds a round-robin exchange
    # on local[n] — a no-op at real scale — so the assertion pins hash
    # exchanges, not total exchanges.)
    plan = explain(spark, "events_zorder_cells", sf_dir)
    assert plan.count("Arguments: hashpartitioning") == 1
    assert n_nodes(plan, "Exchange") <= 2
    assert "partial_count" in plan


def test_footer_stats_pushes_aggregates_to_scan(spark, sf_dir):
    # Under the v2 scan + aggregatePushdown confs, the whole aggregate
    # must reach the parquet reader (answered from footer statistics):
    # the scan's PushedAggregation list carries every agg expression.
    import os
    import re as _re

    from pyspark.sql import functions as F
    confs = {"spark.sql.parquet.aggregatePushdown": "true",
             "spark.sql.sources.useV1SourceList": ""}
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        agg = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
               .agg(F.count("*").alias("n"),
                    F.min("l_orderkey").alias("a"),
                    F.max("l_quantity").alias("b")))
        plan = agg._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    m = _re.search(r"PushedAggregation: \[([^\]]*)\]", plan)
    assert m and "COUNT(*)" in m.group(1) and "MIN(l_orderkey)" in m.group(1)


def test_footer_stats_restores_session_confs(spark, sf_dir):
    from hdfs_with_pyspark_spark.plans.registry import QUERIES
    before = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    QUERIES["lineitem_footer_stats"](spark, sf_dir).collect()
    after = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    assert before == after


def test_corpus_splits_single_agg_exchange(spark, sf_dir):
    plan = explain(spark, "corpus_splits", sf_dir)
    assert n_nodes(plan, "Exchange") == 1
    assert "partial_count" in plan or "partial_sum" in plan


def test_heatmap_pivot_two_level_agg(spark, sf_dir):
    # Explicit pivot values -> NO separate distinct-scan job for the
    # pivot column; the plan is the standard two-level pivot aggregate:
    # partial (dow, hour) counts, then the pivot agg on dow — the second
    # exchange moves only pre-aggregated rows (|dow x hour| = 168).
    plan = explain(spark, "events_weekhour_heatmap", sf_dir)
    assert n_nodes(plan, "Exchange") == 2
    assert n_nodes(plan, "Scan parquet") == 1   # one pass over events


def test_bigram_logprob_broadcasts_model(spark, sf_dir):
    # Both LM tables (bigram counts, context counts) are vocab-sized:
    # they broadcast onto the exploded bigram stream — the corpus side
    # shuffles only for the per-doc re-agg.
    plan = explain(spark, "corpus_bigram_logprob", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_embedding_outliers_broadcasts_centroids(spark, sf_dir):
    # The |labels|-row centroid table broadcasts; the corpus never
    # shuffles for the scoring pass.
    plan = explain(spark, "embedding_outliers", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_quality_filter_map_only(spark, sf_dir):
    # The composed verdict is pure per-row expressions: one scan, no
    # joins, no shuffle.
    plan = explain(spark, "corpus_quality_filter", sf_dir)
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_pagerank_broadcasts_rank_vector(spark, sf_dir):
    # Each BSP round must broadcast the node-sized rank/receive tables
    # so the persisted edge list is never re-shuffled: 3 rounds x 2
    # joins = at least 6 broadcast joins in the unrolled plan.
    plan = explain(spark, "channel_pagerank", sf_dir)
    assert n_nodes(plan, "BroadcastHashJoin") >= 6


def test_mixture_sample_no_corpus_shuffle(spark, sf_dir):
    # The per-source weight table is tiny and broadcasts back onto the
    # corpus; the corpus itself must never shuffle — the only Exchanges
    # belong to the one-row-per-source aggregate (and its window).
    plan = explain(spark, "corpus_mixture_sample", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # no shuffle keyed on the corpus side: every Exchange in the plan
    # sits under the source-aggregate subtree (hashpartitioning(source)
    # or the window's single partition), never on doc_id
    assert "hashpartitioning(doc_id" not in plan


def test_pq_scores_codes_via_broadcast_luts(spark, sf_dir):
    # ADC scoring joins the 2-code corpus relation against broadcast
    # query LUTs — both LUT joins must be broadcast hash joins and no
    # cartesian may appear. (The one corpus-keyed equi-join is the
    # vec_id assembly of the two subspace code columns — the ingest-time
    # ENCODE step; in production codes are stored pre-assembled and the
    # query-time scan is only the broadcast LUT joins.)
    # The codebooks are broadcast from LocalTableScans: a Python-RDD scan
    # (Scan ExistingRDD) would run a Python-worker stage per broadcast.
    plan = explain(spark, "ann_topk_pq", sf_dir)
    assert n_nodes(plan, "BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert n_nodes(plan, "LocalTableScan") >= 1
    assert "ExistingRDD" not in plan


def test_session_caps_whole_stage_methods_at_hotspot_limit(spark):
    # Generated methods over 8,000 bytes are never JIT-compiled by
    # HotSpot; at this limit whole-stage codegen steps back instead.
    assert spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000"


def test_triangles_no_cartesian(spark, sf_dir):
    # Wedge join + closure probe are keyed equi-joins (shuffle or
    # broadcast as AQE prefers) — a cartesian product would mean the
    # closure probe degenerated.
    plan = explain(spark, "channel_triangles", sf_dir)
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_bpe_encode_is_map_side_after_histogram(spark, sf_dir):
    # Applying the learned merge chain is chained replace() projections
    # fused into the scan: the word-explode + encode pipeline induces no
    # shuffle at all (the per-doc aggregate is the query's only Exchange).
    from pyspark.sql import functions as F
    docs = spark.createDataFrame([(0, "aa bb aa")], "doc_id long, text string")
    rep = F.regexp_replace("w", "(.)", "<$1>")
    words = (docs.select("doc_id",
                         F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
                 .where(F.col("w").rlike("^[a-z]+$"))
                 .withColumn("rep0", rep)
                 .withColumn("rep", F.expr("replace(rep0, '<a><a>', '<aa>')")))
    plan = words._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan          # pure projection pipeline


def test_q3_topk_pushes_filters_and_heaps(spark, sf_dir):
    # Q3 shape: segment/date filters must reach the scans (PushedFilters)
    # and the top-k over the aggregated revenue must be per-partition
    # heaps, not a global sort.
    plan = explain(spark, "shipping_priority_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert n_nodes(plan, "Sort") == 0
    assert "GreaterThan(l_shipdate" in plan      # pushed to lineitem scan
    assert "EqualTo(c_mktsegment" in plan        # pushed to customer scan


def test_q10_aggregates_before_dimension_joins(spark, sf_dir):
    # Q10 shape: the per-customer aggregate runs on (orderkey->custkey,
    # rev) BEFORE the customer/nation dimensions attach (broadcast), so
    # the wide name/nation columns never transit the big shuffle.
    plan = explain(spark, "returned_item_customers", sf_dir)
    assert n_nodes(plan, "BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan
    agg_pos = plan.index("HashAggregate")
    bcast_pos = plan.index("BroadcastHashJoin")
    assert bcast_pos < agg_pos   # tree prints parent-first: join above agg


def test_sketch_audit_flags_and_merge(spark, sf_dir):
    # The audit's contract: exact counts are the oracle-matched truth,
    # and BOTH sketch estimates (per-group HLL, unioned-global HLL,
    # HLL++ approx) sit inside the 5% acceptance bound — a drifting
    # estimate flips a flag and fails the value hash at the gate.
    rows = {r["grp"]: r for r in QUERIES["distinct_sketch_audit"](spark, sf_dir).collect()}
    assert "ALL" in rows and len(rows) >= 2
    assert all(r["hll_ok"] and r["approx_ok"] for r in rows.values())
    # the global row comes from MERGED per-group sketches, whose union
    # must cover exactly the global distinct set's estimate bound; the
    # exact global count is >= any single group's count
    per_group = [r["exact_orders"] for g, r in rows.items() if g != "ALL"]
    assert rows["ALL"]["exact_orders"] >= max(per_group)


def test_sketch_audit_partial_agg_shape(spark, sf_dir):
    # Sketch aggregation must be partial-before-exchange (map-side
    # sketch build, reducer merge): constant bytes per group cross the
    # wire regardless of input rows. ObjectHashAggregate carries the
    # HLL sketch buffers in Spark's plan.
    plan = explain(spark, "distinct_sketch_audit", sf_dir)
    assert n_nodes(plan, "ObjectHashAggregate") >= 2   # partial + final
    assert "CartesianProduct" not in plan or "rows: 1" not in plan  # 1x1 join only


def test_quantile_audit_flags_true_and_exactness(spark, sf_dir):
    # GK sketch (accuracy 10000) must sit inside the 1% bound on every
    # group/percentile — on groups smaller than the accuracy parameter
    # the sketch is lossless, so these flags additionally prove the
    # exact==approx degenerate case holds.
    rows = QUERIES["quantile_sketch_audit"](spark, sf_dir).collect()
    assert rows and all(r["approx_ok"] for r in rows)
    for r in rows:
        assert r["p50_cents"] <= r["p90_cents"] <= r["p99_cents"]


def test_q6_every_predicate_pushed_to_scan(spark, sf_dir):
    # forecast_revenue_change's whole cost model: shipdate range,
    # discount band, and quantity cap must all reach the parquet scan as
    # PushedFilters (row-group min/max skipping), and the plan must be a
    # scan -> partial agg -> 1-row exchange -> final agg with no join.
    plan = explain(spark, "forecast_revenue_change", sf_dir)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, "no PushedFilters line in plan"
    line = pushed[0]
    for frag in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
                 "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
                 "LessThan(l_quantity"):
        assert frag in line, f"{frag} not pushed: {line}"
    assert "Join" not in plan


def test_q7_nation_dims_broadcast_single_fact_shuffle(spark, sf_dir):
    # nation_trade_flows: every dimension side (nation-filtered supplier,
    # customer, orders chain) broadcasts; the only shuffle exchanges are
    # the aggregate's. No cartesian anywhere despite the disjunctive
    # nation-pair predicate.
    plan = explain(spark, "nation_trade_flows", sf_dir)
    assert n_nodes(plan, "BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q15_max_selection_avoids_global_sort(spark, sf_dir):
    # top_supplier_revenue: the scalar-subquery max must be a 1-row
    # broadcast joined back — never a global sort of the per-supplier
    # aggregate (rangepartitioning would serialize suppliers at scale).
    plan = explain(spark, "top_supplier_revenue", sf_dir)
    assert "rangepartitioning" not in plan.lower()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q21_single_lineitem_shuffle_not_self_joins(spark, sf_dir):
    # supplier_sole_late_blame's scale rewrite: the textbook form
    # self-joins lineitem twice (EXISTS + NOT EXISTS); this plan must
    # contain NO lineitem self-join — exactly one scan of lineitem, with
    # the per-order verdict computed in one aggregate.
    plan = explain(spark, "supplier_sole_late_blame", sf_dir)
    scans = [ln for ln in plan.splitlines()
             if "Location" in ln and "lineitem" in ln]
    assert len(scans) == 1, f"expected 1 lineitem scan, got {len(scans)}"


def test_q22_threshold_broadcasts_and_anti_joins(spark, sf_dir):
    # idle_customer_balances: the 1-row positive-average aggregate
    # broadcasts (the only sanctioned nested-loop: 1-row build side) and
    # the recency check is an anti join on the orders FK projection.
    plan = explain(spark, "idle_customer_balances", sf_dir)
    assert re.search(r"LeftAnti", plan)
    assert "BroadcastExchange" in plan


def test_fuzzy_pairs_length_band_blocking_no_cartesian(spark, sf_dir):
    # part_name_fuzzy_pairs must candidate-generate via the length-band
    # equi-join (broadcast hash join of the tiny name spine), never an
    # all-pairs product; the levenshtein verify runs on candidates only.
    plan = explain(spark, "part_name_fuzzy_pairs", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    assert "BroadcastHashJoin" in plan


def test_basket_affinity_apriori_broadcasts_frequent_set(spark, sf_dir):
    # basket_part_affinity: the frequent-item prune must come back as
    # BROADCAST hash joins onto the pair stream (the apriori guard), the
    # per-basket pairing is a keyed equi self-join, and the only
    # nested-loop is the sanctioned 1-row basket-count broadcast.
    plan = explain(spark, "basket_part_affinity", sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    # The frequent set derives from a full corpus aggregate; it must be
    # cached and REUSED by the a-side and b-side joins (two
    # InMemoryTableScans over one InMemoryRelation), not recomputed per
    # side. (The 1-row n_orders BroadcastNestedLoopJoin lives inside the
    # cached build and so executes once, however often explain text
    # renders the cached plan.)
    assert plan.count("InMemoryTableScan") >= 2


def test_fuzzy_chain_closure_uses_recursive_union_loop(spark, sf_dir):
    # fuzzy_chain_closure runs through Spark 4's recursive-CTE executor
    # (UnionLoop); a rewrite into a static union would silently cap the
    # recursion depth at whatever was unrolled.
    plan = explain(spark, "fuzzy_chain_closure", sf_dir)
    assert "UnionLoop" in plan


def test_fuzzy_chain_closure_no_view_leak(spark, sf_dir):
    # ADVICE r3: the recursive source view must be per-invocation and
    # dropped before return — a fixed name let interleaved runs clobber
    # each other's edge set and leaked into the caller's catalog. The
    # returned frame stays evaluable after the drop (view resolution is
    # analysis-time).
    from hdfs_with_pyspark_spark.plans.affinity import fuzzy_chain_closure
    df = fuzzy_chain_closure(spark, sf_dir)
    leftovers = [t.name for t in spark.catalog.listTables()
                 if "fuzzy_edges_recursive_src" in t.name]
    assert leftovers == []
    assert df.count() > 0


def test_q2_correlated_min_as_single_window(spark, sf_dir):
    # min_cost_part_supplier decorrelates the classic Q2 scalar
    # subquery into one window top-1: dims broadcast onto the distinct
    # (part, supplier) spine, no cartesian, exactly one window pass.
    plan = explain(spark, "min_cost_part_supplier", sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert n_nodes(plan, "Window") == 1


def test_q9_single_fact_exchange_dims_broadcast(spark, sf_dir):
    # nation_year_profit: part slice and supplier->nation broadcast;
    # the only data-sized join is lineitem-orders on orderkey; lineitem
    # is scanned exactly once.
    plan = explain(spark, "nation_year_profit", sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    scans = [ln for ln in plan.splitlines()
             if "Location" in ln and "lineitem" in ln]
    assert len(scans) == 1


def test_q11_threshold_reuses_cached_value_frame(spark, sf_dir):
    # important_part_value: the per-part value frame is cached and
    # reused by both the global-total aggregate and the threshold
    # filter (no second fact scan); the 1-row total broadcasts.
    plan = explain(spark, "important_part_value", sf_dir)
    assert plan.count("InMemoryTableScan") >= 2
    # The cached relation renders its ORIGIN plan (one lineitem scan
    # line); an uncached threshold path would print a second, live one.
    scans = [ln for ln in plan.splitlines()
             if "Location" in ln and "lineitem" in ln]
    assert len(scans) <= 1, "threshold path must not re-scan the fact table"


def test_q20_dominance_reaggregates_cached_ps_frame(spark, sf_dir):
    # dominant_part_suppliers: the per-part total derives from the
    # cached per-(part,supplier) aggregate, not a second lineitem scan.
    plan = explain(spark, "dominant_part_suppliers", sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 2
    # One lineitem scan line = the cached frame's origin rendering; a
    # second would mean the per-part total re-scanned the fact table.
    scans = [ln for ln in plan.splitlines()
             if "Location" in ln and "lineitem" in ln]
    assert len(scans) <= 1


def test_markov_transitions_no_cartesian_two_windows(spark, sf_dir):
    # event_transition_matrix: lag window over the fact exchange, then
    # everything downstream on the |types|^2 matrix — one lag window,
    # one row-normalization window, no join anywhere.
    plan = explain(spark, "event_transition_matrix", sf_dir)
    assert n_nodes(plan, "Window") == 2
    assert not re.search(r"^\(\d+\) \w*Join", plan, flags=re.M)


def test_attribution_is_joinless_asof(spark, sf_dir):
    # purchase_attribution composes the union + last-ignorenulls as-of
    # rewrite: the horizon test is a post-filter projection, so the
    # whole plan must contain NO join node (an ASOF expressed as an
    # inequality join would fan out per user).
    plan = explain(spark, "purchase_attribution", sf_dir)
    assert n_nodes(plan, "Window") == 1
    assert not re.search(r"^\(\d+\) \w*Join", plan, flags=re.M)


def test_rolling_distinct_sketch_path_broadcasts_day_spine(spark, sf_dir):
    # rolling_distinct_users_audit: the sketch fan-out joins the tiny
    # day spine via broadcast (never a shuffle of the sketch stream on
    # the spine), and the HLL aggregation is the object-hash partial
    # shape so constant sketch bytes cross the wire.
    plan = explain(spark, "rolling_distinct_users_audit", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "ObjectHashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_int8_scan_broadcasts_query_codes(spark, sf_dir):
    # ann_topk_int8: the N_QUERIES code vectors broadcast onto the
    # corpus scan; the integer dot never shuffles the corpus.
    plan = explain(spark, "ann_topk_int8", sf_dir)
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_snapshot_diff_is_one_full_outer_join(spark, sf_dir):
    # orders_snapshot_diff: exactly one join in the plan, and it is the
    # full-outer PK join — classification is a projection over its
    # null pattern, never a second pass.
    plan = explain(spark, "orders_snapshot_diff", sf_dir)
    joins = re.findall(r"^\(\d+\) (\w*Join\w*)", plan, flags=re.M)
    assert len(joins) == 1, joins
    assert "FullOuter" in plan


def test_eval_contamination_no_window_no_cartesian(spark, sf_dir):
    # round 4: the argmax must be a max(struct) hash aggregate (map-side
    # partial combine), NOT a row_number window — a window would shuffle
    # the full corpus x eval expansion; and the eval side must broadcast.
    plan = explain(spark, "eval_contamination_embedding", sf_dir)
    assert n_nodes(plan, "Window") == 0
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_max" in plan or "HashAggregate" in plan


def test_cluster_balanced_sample_single_window(spark, sf_dir):
    # one quota window over the pinned narrow assignment — nothing else.
    # (formatted explain prints the cached assignment's own plan inside
    # InMemoryRelation, argmin window included; count the query's own
    # section only.)
    plan = explain(spark, "corpus_cluster_balanced_sample", sf_dir)
    own = plan.split("InMemoryRelation")[0]
    assert own.count("Window (") + own.count("Window(") >= 1
    assert "InMemoryTableScan" in plan   # reuses the pinned assignment
    assert "Scan parquet" not in own     # corpus is not re-scanned


def test_dsir_weights_bucket_table_broadcasts(spark, sf_dir):
    # the <=1024-row log-ratio table must broadcast back onto the
    # feature stream — a sort-merge join would shuffle the corpus-sized
    # explode on the hash bucket
    plan = explain(spark, "text_dsir_weights", sf_dir)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_zipf_bounds_fit_frame_with_takeordered(spark, sf_dir):
    # The top-K rank selection must be per-partition heaps over the
    # vocabulary (TakeOrderedAndProject), never a global vocab Sort; the
    # only exchange is the vocabulary groupBy.
    plan = explain(spark, "corpus_zipf_fit", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_hybrid_rrf_broadcasts_query_vector(spark, sf_dir):
    # The semantic side scores against a broadcast 1-row query vector —
    # the corpus embedding scan must not shuffle for the scoring, and
    # the semantic top-N must be TakeOrderedAndProject.
    plan = explain(spark, "hybrid_retrieval_rrf", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_pit_join_covers_every_order_exactly_once(spark, sf_dir):
    # Point-in-time correctness: validity ranges partition the timeline
    # per key, so every order matches exactly ONE dimension version.
    from hdfs_with_pyspark_spark.plans.maintenance import orders_pit_features
    from hdfs_with_pyspark_spark.sources.io import read_table

    from pyspark.sql import functions as F

    out = orders_pit_features(spark, sf_dir)
    n_orders = read_table(spark, sf_dir, "orders").count()
    assert out.count() == n_orders
    assert out.select("o_orderkey").distinct().count() == n_orders
    # No order dated at/after the change may still see version 1 of a
    # changed key (the leakage the PIT join exists to prevent — in both
    # directions: stale features are version-1-after-change; future
    # leakage would be version-2-before-change).
    from hdfs_with_pyspark_spark.plans.maintenance import PIT_CHANGE_DATE
    bad = out.where((F.col("o_custkey") % 7 == 0)
                    & ((F.col("o_orderdate") >= F.lit(PIT_CHANGE_DATE))
                       != (F.col("feature_version") == 2))).count()
    assert bad == 0


def test_pit_join_broadcasts_dimension(spark, sf_dir):
    # The effective-dated dim must broadcast; the orders fact never
    # shuffles for the feature join.
    plan = explain(spark, "orders_pit_features", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert n_nodes(plan, "Exchange hashpartitioning") == 0


def test_random_walks_follow_real_edges(spark, sf_dir):
    # Every non-stalled transition must traverse an actual edge of the
    # capped co-membership graph, and each (node, walk_no) appears once.
    from pyspark.sql import functions as F

    from hdfs_with_pyspark_spark.plans.graph import (
        PR_CHANNEL_CAP, WALK_LEN, WALKS_PER_NODE, graph_random_walks)
    from hdfs_with_pyspark_spark.sources.io import read_table

    out = graph_random_walks(spark, sf_dir).persist()
    n_nodes_total = out.select("user_id").distinct().count()
    assert out.count() == n_nodes_total * WALKS_PER_NODE

    ev = read_table(spark, sf_dir, "events")
    channel = F.get_json_object("props", "$.k").cast("long")
    subs = (ev.where((F.col("event_type") == "signup") & channel.isNotNull())
              .select("user_id", channel.alias("channel")).distinct())
    from pyspark.sql import Window as W
    capped = (subs.withColumn(
                  "rn", F.row_number().over(
                      W.partitionBy("channel").orderBy("user_id")))
                  .where(F.col("rn") <= PR_CHANNEL_CAP).drop("rn"))
    edges = (capped.alias("a").join(capped.alias("b"), "channel")
             .where(F.col("a.user_id") != F.col("b.user_id"))
             .select(F.col("a.user_id").alias("u"),
                     F.col("b.user_id").alias("v")).distinct())
    hops = None
    prev = "user_id"
    for k in range(1, WALK_LEN + 1):
        hop = out.select(F.col(prev).alias("s"),
                         F.col(f"step_{k}").alias("t"))
        hops = hop if hops is None else hops.unionByName(hop)
        prev = f"step_{k}"
    moved = hops.where(F.col("s") != F.col("t"))
    bad = (moved.join(edges, (moved["s"] == edges["u"])
                      & (moved["t"] == edges["v"]), "left_anti").count())
    assert bad == 0
    out.unpersist()


def test_ego_sample_respects_fanout_and_edges(spark, sf_dir):
    # Per (seed, src, hop) at most EGO_FANOUT sampled neighbors; every
    # sampled edge is a real graph edge; hop-1 sources are the seeds.
    from pyspark.sql import functions as F

    from hdfs_with_pyspark_spark.plans.graph import (
        EGO_FANOUT, ego_subgraph_sample)

    out = ego_subgraph_sample(spark, sf_dir).persist()
    over = (out.groupBy("seed", "hop", "src").count()
               .where(F.col("count") > EGO_FANOUT).count())
    assert over == 0
    assert out.where((F.col("hop") == 1)
                     & (F.col("src") != F.col("seed"))).count() == 0
    assert out.where(F.col("src") == F.col("dst")).count() == 0
    out.unpersist()


def test_skipgram_pairs_are_symmetric_window_counts(spark, sf_dir):
    # Position windows are symmetric (|i-j| <= W both directions), so
    # the pair multiset must satisfy n(a,b) == n(b,a); self-pairs are
    # excluded; totals tie out against the walk count.
    from pyspark.sql import functions as F

    from hdfs_with_pyspark_spark.plans.graph import walk_skipgram_pairs

    out = walk_skipgram_pairs(spark, sf_dir).persist()
    sym = out.select(F.col("center").alias("c2"),
                     F.col("context").alias("x2"),
                     F.col("n_pairs").alias("n2"))
    mismatch = (out.join(sym, (out["center"] == sym["x2"])
                         & (out["context"] == sym["c2"]), "left")
                   .where(F.col("n2").isNull()
                          | (F.col("n2") != F.col("n_pairs"))).count())
    assert mismatch == 0
    assert out.where(F.col("center") == F.col("context")).count() == 0
    out.unpersist()


# ---------------------------------------------------------------------------
# Repo-wide single-partition-exchange sweep (VERDICT r5 item 7): the
# round-5 audit of unpartitioned windows was manual; this encodes it.
# Any `Exchange SinglePartition` in any registered query's physical
# plan must sit ABOVE a bounded frame — an aggregate or a limit in its
# input subtree — so the whole corpus can never be funneled through one
# partition (the bm25_topk r5 defect, fixed by TakeOrderedAndProject,
# and the customer_rfm_segments ntile defect, fixed by broadcast
# percentile_disc cutpoints). No allowlist: every query must pass.
# ---------------------------------------------------------------------------
_BOUNDED_NODE = re.compile(
    r"HashAggregate|SortAggregate|ObjectHashAggregate|TakeOrderedAndProject"
    r"|GlobalLimit|LocalLimit|CollectLimit")


def _tree_depth(line: str) -> int:
    return len(re.match(r"^[\s:+\-]*", line).group(0))


def _unbounded_single_partition_sites(plan: str) -> list[str]:
    lines = plan.splitlines()
    bad = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        d = _tree_depth(ln)
        subtree = []
        for nx in lines[i + 1:]:
            if _tree_depth(nx) <= d:
                break
            subtree.append(nx)
        if not any(_BOUNDED_NODE.search(s) for s in subtree):
            bad.append(ln.strip())
    return bad


def _simple_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple")
    return df._jdf.queryExecution().explainString(mode)


def test_sweep_detector_flags_known_bad_plan(spark):
    # Self-test: an unpartitioned row_number over a raw scan-shaped
    # frame MUST be flagged, or the sweep below is vacuous.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(1000).withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("id").desc())))
    assert _unbounded_single_partition_sites(_simple_plan(spark, df))


def test_sweep_no_unbounded_single_partition_exchange(spark, sf_dir):
    failures = {}
    for name in QUERIES:
        df = QUERIES[name](spark, sf_dir)
        sites = _unbounded_single_partition_sites(_simple_plan(spark, df))
        if sites:
            failures[name] = sites
    assert not failures, failures


# ---------------------------------------------------------------------------
# Low-cardinality-window sweep (VERDICT r7 item 2): the SinglePartition
# regex above cannot see a window partitioned by a CONSTANT-cardinality
# key — the plan shows an ordinary hash exchange, but at 100x the data
# every one of the ~k partitions sorts ~N/k rows through one task (the
# old customer_value_ranks shape: Window.partitionBy(c_mktsegment), a
# 5-value key, over the raw customer dim). Mechanically: walk each
# registered query's optimized logical plan; a Window node whose input
# is NOT bounded (some scan leaf reaches it without crossing an
# Aggregate / Limit / Deduplicate on that path) and whose partition
# expressions reference ONLY base columns with a combined distinct
# count below the core count is a scale defect. Column cardinalities
# are measured from the sf corpus itself AT TWO scale factors: a key
# is constant-domain only if its distinct count stays flat from the
# small sf to the 10x sf (c_mktsegment: 5 -> 5). A key whose count
# grows with the data (user_id: ~15 -> ~150) partitions finer as N
# grows and is never a bottleneck, so it must not flag even though
# the small-sf snapshot alone looks tiny. Derived/aliased partition
# columns default to unknown-cardinality (never flagged) with ONE
# round-9 exception: a partition attribute whose defining expression
# is a modulo-by-literal (pmod/% with a constant k — the hash-shard
# idiom) has domain <= k at ANY data size, so it is resolved through
# the plan's Alias definitions and flagged when k (times the other
# keys' cardinalities) sits below the core count. That is exactly the
# constant-8-shard corpus_token_bins defect round 9 caught by hand;
# the sweep now catches the class mechanically (self-tested below on
# the pre-fix shape).
# ---------------------------------------------------------------------------
_LOWCARD_THRESHOLD = 32  # local[32]: fewer partitions than cores
_BOUNDING_LOGICAL = {"Aggregate", "GlobalLimit", "LocalLimit", "Deduplicate"}


def _jseq(seq):
    return [seq.apply(i) for i in range(seq.size())]


def _subtree_bounded(node) -> bool:
    """True iff every leaf-to-here path crosses a row-bounding node."""
    if node.nodeName() in _BOUNDING_LOGICAL:
        return True
    kids = _jseq(node.children())
    if not kids:
        return False
    return all(_subtree_bounded(k) for k in kids)


def _alias_defs(plan) -> dict[int, object]:
    """exprId -> defining expression, collected from every Alias in the
    plan (Project/Aggregate output lists) — the lineage map that lets
    the sweep look THROUGH a named derived column like `shard`."""
    defs: dict[int, object] = {}

    def visit(node):
        try:
            exprs = _jseq(node.expressions())
        except Exception:
            exprs = []
        stack = list(exprs)
        while stack:
            e = stack.pop()
            if e.nodeName() == "Alias":
                defs[e.exprId().id()] = e.child()
            stack.extend(_jseq(e.children()))
        for k in _jseq(node.children()):
            visit(k)

    visit(plan)
    return defs


def _const_domain(e, defs: dict[int, object], depth: int = 0) -> int | None:
    """Upper bound on the expression's distinct-value count when one is
    provable at ANY data size, else None. Provable cases: literals (1),
    modulo-by-literal (the divisor — pmod(x, 8) has domain <= 8
    regardless of x), and attributes whose Alias definition resolves to
    one of those (chased through `defs` with a depth cap). Floor-div /
    hash / arithmetic keys return None: their domains grow with data."""
    if depth > 8:
        return None
    name = e.nodeName()
    if name == "Literal":
        return 1
    if name in ("Pmod", "Remainder"):
        for k in _jseq(e.children()):
            # the analyzer wraps the divisor literal in type-coercion
            # Casts (doc_id % cast(8 as bigint)) — unwrap them
            while k.nodeName() == "Cast" and _jseq(k.children()):
                k = _jseq(k.children())[0]
            if k.nodeName() == "Literal":
                try:
                    return max(1, abs(int(str(k.value()))))
                except (TypeError, ValueError):
                    return None
        return None
    if name == "AttributeReference":
        d = defs.get(e.exprId().id())
        return _const_domain(d, defs, depth + 1) if d is not None else None
    if name in ("Alias", "Cast"):
        kids = _jseq(e.children())
        return _const_domain(kids[0], defs, depth + 1) if kids else None
    return None


def _lowcard_window_sites(df, col_card: dict[str, int]) -> list[str]:
    """Walks the ANALYZED plan: after cache substitution a persisted
    post-aggregate frame becomes an InMemoryRelation LEAF that hides its
    Aggregate, so the optimized plan would false-flag every window over a
    pinned histogram (quality_outlier_mad, score_lift_table)."""
    bad = []
    plan = df._jdf.queryExecution().analyzed()
    defs = _alias_defs(plan)

    def visit(node):
        if node.nodeName() == "Window" and not all(
                _subtree_bounded(k) for k in _jseq(node.children())):
            card, keys = 1, []
            for e in _jseq(node.partitionSpec()):
                bound = _const_domain(e, defs)
                if bound is not None:
                    card *= bound
                    keys.append(f"<derived domain<={bound}>")
                    continue
                refs = sorted({r.name()
                               for r in _jseq(e.references().toSeq())})
                for a in refs:
                    card *= col_card.get(a, _LOWCARD_THRESHOLD)
                keys.extend(refs)
            if card < _LOWCARD_THRESHOLD:
                bad.append(f"Window partitionBy{keys} "
                           f"~{card} groups over unbounded input")
        for k in _jseq(node.children()):
            visit(k)

    visit(plan)
    return bad


_COL_CARD_CACHE: dict[str, dict[str, int]] = {}


def _column_cardinalities_one(spark, sf_dir: str) -> dict[str, int]:
    """name -> max approx distinct count across all corpus tables (max:
    a name is low-card only if EVERY table agrees, avoiding collisions)."""
    import os

    from pyspark.sql import functions as F
    out: dict[str, int] = {}
    for tbl in ("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"):
        path = os.path.join(sf_dir, f"{tbl}.parquet")
        df = spark.read.parquet(path)
        atomic = [f.name for f in df.schema.fields
                  if f.dataType.typeName() not in
                  ("array", "map", "struct", "binary")]
        if not atomic:
            continue
        row = df.agg(*[F.approx_count_distinct(c).alias(c)
                       for c in atomic]).collect()[0]
        for c in atomic:
            out[c] = max(out.get(c, 0), row[c])
    return out


def _bigger_sibling_sf(sf_dir: str) -> str | None:
    """/root/testdata/sf0.001 -> /root/testdata/sf0.01 if it exists."""
    import os
    import re

    m = re.search(r"sf([0-9.]+)$", sf_dir.rstrip("/"))
    if not m:
        return None
    bigger = sf_dir[: m.start(1)] + f"{float(m.group(1)) * 10:g}"
    return bigger if os.path.isdir(bigger) else None


def _column_cardinalities(spark, sf_dir: str) -> dict[str, int]:
    """Constant-domain cardinality per column: the 10x-sf count when the
    count stays flat (<2x growth) across scale factors, else "scales with
    data" (mapped to the threshold so it never flags)."""
    if sf_dir in _COL_CARD_CACHE:
        return _COL_CARD_CACHE[sf_dir]
    small = _column_cardinalities_one(spark, sf_dir)
    bigger = _bigger_sibling_sf(sf_dir)
    if bigger is None:
        out = small  # single-sf fallback: the raw snapshot counts
    else:
        big = _column_cardinalities_one(spark, bigger)
        # ADVICE r8: one lookup — a column present at this sf but absent
        # from the bigger snapshot can't prove a constant domain, so it
        # maps to the threshold (never flags) instead of KeyError-ing
        # the sweep on schema-skewed corpora.
        out = {}
        for c, n in small.items():
            b = big.get(c)
            out[c] = (b if b is not None and b < 2 * max(n, 1)
                      else _LOWCARD_THRESHOLD)
    _COL_CARD_CACHE[sf_dir] = out
    return out


def test_lowcard_detector_flags_known_bad_plan(spark, sf_dir):
    # Self-test on the pre-fix customer_value_ranks shape: ntile over
    # partitionBy(c_mktsegment) — 5 values — on the raw dim MUST flag.
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    w = (Window.partitionBy("c_mktsegment")
               .orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc()))
    df = cust.select("c_custkey",
                     F.ntile(4).over(w).alias("balance_quartile"))
    card = _column_cardinalities(spark, sf_dir)
    assert card["c_mktsegment"] < _LOWCARD_THRESHOLD <= card["c_custkey"]
    assert _lowcard_window_sites(df, card)
    # ...and the same window over a value-group aggregate must NOT flag.
    grp = cust.groupBy("c_mktsegment", "c_acctbal").count()
    wg = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    ok = grp.select("c_mktsegment", F.sum("count").over(wg).alias("running"))
    assert not _lowcard_window_sites(ok, card)


def test_lowcard_detector_flags_derived_modulo_shard(spark, sf_dir):
    # Self-test on the pre-fix corpus_token_bins shape (round 9): a
    # cumsum window partitioned by a NAMED modulo-by-literal column —
    # `shard = doc_id % 8`, a constant 8-value domain at any data size
    # — must flag even though `shard` is not a base table column (the
    # r8 sweep's documented blind spot, caught by hand first).
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    card = _column_cardinalities(spark, sf_dir)
    t = docs.select("doc_id", (F.col("doc_id") % 8).alias("shard"),
                    F.length("text").alias("n"))
    w = Window.partitionBy("shard").orderBy("doc_id") \
              .rowsBetween(Window.unboundedPreceding, -1)
    old_shape = t.withColumn("cum", F.coalesce(F.sum("n").over(w), F.lit(0)))
    sites = _lowcard_window_sites(old_shape, card)
    assert sites and "domain<=8" in sites[0], sites
    # ...and the FIXED shape (contiguous doc-id ranges: floor-div, a
    # domain that grows with the corpus) must NOT flag.
    t2 = docs.select("doc_id", F.floor(F.col("doc_id") / 100).alias("shard"),
                     F.length("text").alias("n"))
    new_shape = t2.withColumn("cum", F.coalesce(F.sum("n").over(
        Window.partitionBy("shard").orderBy("doc_id")
              .rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)))
    assert not _lowcard_window_sites(new_shape, card)


def test_sweep_no_lowcard_fact_scale_windows(spark, sf_dir):
    card = _column_cardinalities(spark, sf_dir)
    failures = {}
    for name in QUERIES:
        df = QUERIES[name](spark, sf_dir)
        sites = _lowcard_window_sites(df, card)
        if sites:
            failures[name] = sites
    assert not failures, failures


def test_link_prediction_hand_graph(spark, monkeypatch):
    # Channel 1 = {1, 2}; channel 2 = {2, 3}. Edges (1,2), (2,3);
    # the only non-adjacent common-neighbor pair is (1,3) through
    # middle node 2 with deg 2: aa = round(1e6 / ln 2) = 1442695.
    import math

    from hdfs_with_pyspark_spark.plans import graph as g
    rows = [(1, "signup", 1, '{"k": 1}'), (2, "signup", 2, '{"k": 1}'),
            (3, "signup", 2, '{"k": 2}'), (4, "signup", 3, '{"k": 2}')]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, props string")
    monkeypatch.setattr(g, "read_table", lambda s, d, n: ev)
    out = g.channel_link_prediction(spark, "x").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["u"], r["v"], r["n_common"]) == (1, 3, 1)
    assert r["aa_ppm"] == round(1_000_000 / math.log(2.0))


def test_link_prediction_candidates_are_nonedges(spark, sf_dir):
    # Every recommended pair must be canonical (u < v), absent from the
    # edge set, and sorted by (aa_ppm desc, u, v) with at most LP_TOPK.
    from pyspark.sql import functions as F

    from hdfs_with_pyspark_spark.plans import graph as g
    out = g.channel_link_prediction(spark, sf_dir).collect()
    assert 0 < len(out) <= g.LP_TOPK
    keys = [(-r["aa_ppm"], r["u"], r["v"]) for r in out]
    assert keys == sorted(keys)
    assert all(r["u"] < r["v"] and r["n_common"] >= 1 for r in out)


def test_join_cardinality_audit_against_real_join(spark, sf_dir):
    # The count-product identity must equal a genuinely materialized
    # join's count (oracle-independent cross-check); the FK arms are
    # exact for the uniform corpus, the sqrt-skew arm must diverge.
    from pyspark.sql import functions as F

    from hdfs_with_pyspark_spark.plans.relational import (
        join_cardinality_audit,
    )
    from hdfs_with_pyspark_spark.sources.io import read_table
    rows = {r["join_name"]: r
            for r in join_cardinality_audit(spark, sf_dir).collect()}
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    real = o.join(li, o["o_orderkey"] == li["l_orderkey"]).count()
    assert rows["orders_lineitem"]["actual_rows"] == real
    assert rows["customer_orders"]["err_ppm"] == 0
    assert rows["sqrtkey_skew"]["err_ppm"] > 0
    assert rows["sqrtkey_skew"]["est_rows"] \
        != rows["sqrtkey_skew"]["actual_rows"]


def test_bloom_join_audit_formula(spark, sf_dir):
    # fpp must match the closed form exactly (same double ops in the
    # test), fall as m grows, and never report savings beyond the
    # non-matching share.
    import math

    from hdfs_with_pyspark_spark.plans.relational import bloom_join_audit
    rows = sorted(bloom_join_audit(spark, sf_dir).collect(),
                  key=lambda r: r["m_bits"])
    prev_fpp = None
    for r in rows:
        k = max(1, round(math.log(2.0) * r["m_bits"] / max(r["n_build"], 1)))
        assert r["k_hashes"] == k
        p = (1.0 - math.exp(-k * r["n_build"] / r["m_bits"])) ** k
        assert r["fpp_ppm"] == round(p * 1_000_000)
        assert r["n_match"] <= r["n_probe"]
        assert 0 <= r["scan_savings_ppm"] <= 1_000_000
        if prev_fpp is not None:
            assert r["fpp_ppm"] <= prev_fpp
        prev_fpp = r["fpp_ppm"]


def test_delete_cascade_respects_fk(spark, sf_dir):
    # Lineitem deletions must equal the rows whose order parent is in
    # the cohort (recomputed with a real join), and the event/customer
    # cohorts are the md5-parity rule exactly.
    import hashlib

    from pyspark.sql import functions as F

    from hdfs_with_pyspark_spark.plans.relational import (
        DELETE_COHORT_MOD,
        privacy_delete_cascade_audit,
    )
    from hdfs_with_pyspark_spark.sources.io import read_table
    rows = {r["tbl"]: r
            for r in privacy_delete_cascade_audit(spark, sf_dir).collect()}
    assert set(rows) == {"customer", "orders", "lineitem", "events"}

    def in_cohort(key: int) -> bool:
        h = int(hashlib.md5(f"del:{key}".encode()).hexdigest()[:15], 16)
        return h % DELETE_COHORT_MOD == 0

    cust = [r["c_custkey"] for r in
            read_table(spark, sf_dir, "customer").select("c_custkey")
            .collect()]
    assert rows["customer"]["n_deleted"] == sum(map(in_cohort, cust))
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    del_orders = o.where(
        F.conv(F.substring(F.md5(F.concat(F.lit("del:"),
                                          F.col("o_custkey").cast("string"))),
                           1, 15), 16, 10).cast("long")
        % DELETE_COHORT_MOD == 0).select("o_orderkey")
    real = li.join(del_orders, li["l_orderkey"] == del_orders["o_orderkey"],
                   "left_semi").count()
    assert rows["lineitem"]["n_deleted"] == real


@pytest.mark.parametrize("name", [
    "retrieval_eval_mrr", "maxsim_retrieval_topk",
    "embedding_matryoshka_recall", "embedding_knn_label_eval"])
def test_eval_queries_broadcast_query_side(spark, sf_dir, name):
    # The bounded eval/query sample must BROADCAST against the corpus
    # scan — a shuffle join here would re-partition the whole corpus
    # for a ~100-row side.
    plan = explain(spark, name, sf_dir)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan \
        or "BroadcastHashJoin" in plan, name


def test_link_prediction_topk_is_take_ordered(spark, sf_dir):
    # The candidate ranking must plan as TakeOrderedAndProject, not a
    # global sort of the scored-pair set.
    plan = explain(spark, "channel_link_prediction", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_referential_integrity_planted_orphans(spark, monkeypatch):
    # Plant two orphans and a NULL key in a hand-built child table and
    # confirm exact orphan accounting per arm.
    from pyspark.sql import functions as F  # noqa: F401

    from hdfs_with_pyspark_spark.plans import maintenance as mt
    parent = spark.createDataFrame([(1, 1), (2, 1)],
                                   "o_orderkey long, o_custkey long")
    child = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 99), (4, 98), (5, None)],
        "rowid long, l_orderkey long")
    tables = {"orders": parent, "lineitem": child,
              "customer": spark.createDataFrame([(1, 1)],
                                                "c_custkey long, "
                                                "c_nationkey long"),
              "nation": spark.createDataFrame([(1,)], "n_nationkey long"),
              "supplier": spark.createDataFrame([(1, 1)],
                                                "s_suppkey long, "
                                                "s_nationkey long")}
    monkeypatch.setattr(mt, "read_table", lambda s, d, n: tables[n])
    rows = {r["fk"]: r
            for r in mt.referential_integrity_audit(spark, "x").collect()}
    li = rows["lineitem->orders"]
    assert (li["n_child"], li["n_orphans"], li["n_orphan_keys"]) == (5, 3, 2)
    assert li["orphan_ppm"] == (1_000_000 * 3) // 5
    assert rows["customer->nation"]["n_orphans"] == 0


def test_modularity_hand_graph(spark, monkeypatch):
    # Channels: 1 = {1, 2}, 2 = {2, 3}. Primary communities:
    # user1 -> 1, user2 -> min(1,2) = 1, user3 -> 2.
    # Edges (1,2), (2,3); m = 2; deg 1:1, 2:2, 3:1.
    # c1: m_c=1, d_c=3 -> Q = 500000 - (750000^2 div 1e6) = -62500
    # c2: m_c=0, d_c=1 -> Q = 0 - (250000^2 div 1e6)      = -62500
    from hdfs_with_pyspark_spark.plans import graph as g
    rows = [(1, "signup", 1, '{"k": 1}'), (2, "signup", 2, '{"k": 1}'),
            (3, "signup", 2, '{"k": 2}'), (4, "signup", 3, '{"k": 2}')]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, props string")
    monkeypatch.setattr(g, "read_table", lambda s, d, n: ev)
    out = {r.community: r for r in
           g.channel_modularity_audit(spark, "x").collect()}
    assert set(out) == {1, 2}
    assert (out[1].n_nodes, out[1].m_intra, out[1].degree_total,
            out[1].q_contrib_ppm) == (2, 1, 3, -62500)
    assert (out[2].n_nodes, out[2].m_intra, out[2].degree_total,
            out[2].q_contrib_ppm) == (1, 0, 1, -62500)


def test_threshold_sweep_monotone_and_consistent(spark, sf_dir):
    # Counts must be non-increasing in the threshold, and the row at
    # the production threshold must agree with dedup_minhash_lsh's
    # verified pair count.
    from hdfs_with_pyspark_spark.llm import dedup as dd
    rows = sorted(dd.dedup_threshold_sweep(spark, sf_dir).collect(),
                  key=lambda r: r.threshold_ppm)
    assert [r.threshold_ppm for r in rows] == sorted(
        dd.SWEEP_THRESHOLDS_PPM)
    for a, b in zip(rows, rows[1:]):
        assert a.n_pairs >= b.n_pairs
        assert a.n_dup_docs >= b.n_dup_docs
    at_prod = next(r for r in rows if r.threshold_ppm == 800000)
    lsh_pairs = dd.dedup_minhash_lsh(spark, sf_dir).count()
    assert at_prod.n_pairs == lsh_pairs


def test_threshold_sweep_empty_candidates_keep_rows(spark, monkeypatch):
    # Documented contract (r8 ADVICE fix): a corpus whose bands never
    # collide still emits one 0/0 row PER THRESHOLD — the aggregate
    # left-joins back onto the threshold spine instead of vanishing
    # with the empty candidate set.
    from hdfs_with_pyspark_spark.llm import dedup as dd
    docs = spark.createDataFrame(
        [(1, "s1", "en", "alpha beta gamma delta epsilon zeta"),
         (2, "s1", "en", "one two three four five six seven")],
        "doc_id long, source string, lang string, text string")
    monkeypatch.setattr(dd, "read_table", lambda s, d, n: docs)
    rows = sorted(dd.dedup_threshold_sweep(spark, "x").collect(),
                  key=lambda r: r.threshold_ppm)
    assert [r.threshold_ppm for r in rows] == sorted(
        dd.SWEEP_THRESHOLDS_PPM)
    assert all(r.n_pairs == 0 and r.n_dup_docs == 0 for r in rows)


def test_hhi_bounds(spark, sf_dir):
    # HHI lives in (0, 1e6]; the top supplier's squared share is a
    # lower bound; a single-supplier nation (if any) maxes out.
    from hdfs_with_pyspark_spark.plans import relational as rel
    rows = rel.supplier_concentration_hhi(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.hhi_ppm <= 1_000_000
        assert r.hhi_ppm >= (r.top_share_ppm * r.top_share_ppm) // 1_000_000
        if r.n_suppliers == 1:
            assert r.hhi_ppm == 1_000_000


def test_conductance_hand_graph_and_volume_identity(spark, monkeypatch):
    # Same hand graph as the modularity test: communities 1 = {1, 2},
    # 2 = {3}; edges (1,2) intra, (2,3) cut. vol(c) must equal
    # 2*m_intra + cut, and the single cut edge is maximally leaky for
    # both sides (phi = 1e6 against the min-side volume).
    from hdfs_with_pyspark_spark.plans import graph as g
    rows = [(1, "signup", 1, '{"k": 1}'), (2, "signup", 2, '{"k": 1}'),
            (3, "signup", 2, '{"k": 2}'), (4, "signup", 3, '{"k": 2}')]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, props string")
    monkeypatch.setattr(g, "read_table", lambda s, d, n: ev)
    out = {r.community: r for r in
           g.channel_conductance_audit(spark, "x").collect()}
    assert set(out) == {1, 2}
    for r in out.values():
        assert r.volume == 2 * r.m_intra + r.cut_edges
    assert (out[1].m_intra, out[1].cut_edges, out[1].volume) == (1, 1, 3)
    assert (out[2].m_intra, out[2].cut_edges, out[2].volume) == (0, 1, 1)
    assert out[1].conductance_ppm == 1_000_000
    assert out[2].conductance_ppm == 1_000_000


def test_lift_table_accounting(spark, sf_dir):
    # Deciles partition the corpus (doc counts sum to n), positives sum
    # to the corpus positive count, cumulative capture is monotone and
    # ends at 1e6, and each decile holds >= 1/20 of the corpus (equal
    # bands up to value-tie spill).
    from hdfs_with_pyspark_spark.llm import text as tx
    from hdfs_with_pyspark_spark.sources.io import read_table
    from pyspark.sql import functions as F

    rows = sorted(tx.score_lift_table(spark, sf_dir).collect(),
                  key=lambda r: r.decile)
    docs = read_table(spark, sf_dir, "documents")
    n = docs.count()
    n_pos = docs.where(F.col("lang") == "en").count()
    assert sum(r.n_docs for r in rows) == n
    assert sum(r.n_pos for r in rows) == n_pos
    caps = [r.cum_capture_ppm for r in rows]
    assert caps == sorted(caps)
    assert caps[-1] == 1_000_000
