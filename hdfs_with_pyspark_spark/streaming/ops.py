"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.9: no streams anywhere); its
closest analogs are daily-partition incremental runs and week/month
event-time bucketing. This module is the §7 upgrade path: the same event
tables consumed as streams with real event-time semantics —

  * ``read_events_stream``     — file-source readStream with the explicit
    events schema (same nanos-ts conversion as the batch scan),
  * ``windowed_event_counts``  — tumbling event-time windows + watermark,
  * ``session_stats``          — per-user session windows (gap-based),
  * ``running_user_state``     — custom stateful operator via
    ``applyInPandasWithState`` (running per-user counters emitted on
    every micro-batch).

Each registered query executes the stream with ``trigger(availableNow)``
into a memory sink and returns the sink table — the full streaming
machinery (source -> watermark -> stateful op -> sink) runs inside the
driver's correctness gate. Aggregations use ``complete`` output mode so
the final state is emitted irrespective of the closing watermark, which
makes the batch SQL oracle exact.

Scale notes: file-source streams at 100 TB rely on maxFilesPerTrigger for
backpressure; state stores scale with |keys| (users / open windows), not
event volume; watermarks bound state growth. None of that changes the
query shapes below.
"""

from __future__ import annotations

import itertools
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from hdfs_with_pyspark_spark import schemas
from hdfs_with_pyspark_spark.plans.registry import register, ensure_session
from hdfs_with_pyspark_spark.sources.io import local_frame, nanos_ts_to_micros

SESSION_GAP = "8 hours"      # ~3x the median inter-event gap in testdata
COUNT_WINDOW = "1 day"
WATERMARK = "1 day"

# One draw per sink: next() on a count is atomic, so streams started
# from concurrent threads (pipeline.DAG) never share a sink name.
_SINK_SEQ = itertools.count(1)


def _stage_arrival_files(df: DataFrame, batch_expr, n_batches: int,
                         in_dir: str, keep: list[str] | None = None,
                         base_t: int = 1_700_000_000) -> None:
    """Stage the simulated per-batch arrival files for a file-source
    stream: ``in_dir/batch_k.parquet`` with strictly increasing mtimes
    (the order maxFilesPerTrigger=1 drains them in).

    ONE partitioned write instead of one filtered scan + coalesce(1)
    write per batch (r11, guide §1.2: the four streaming queries each
    scanned their input B times to stage B files — B scans + B write
    jobs collapse to one of each; at ingest scale, staging cost becomes
    O(input), not O(B x input)). ``repartition(n, __b)`` puts each
    batch value in exactly one task, so every batch directory holds
    exactly one part file; a batch with no rows (possible only for
    degenerate inputs, plus stream_late_data_audit's deliberate
    heartbeat batch) falls back to a 0-row single-part write so the
    arrival sequence — and therefore the micro-batch choreography —
    is unchanged.
    """
    import glob
    import os
    import shutil

    os.makedirs(in_dir, exist_ok=True)
    stage = in_dir + "__stage"
    cols = keep or df.columns
    (df.withColumn("__b", batch_expr.cast("int"))
       .select("__b", *cols)
       .repartition(n_batches, "__b")
       .write.mode("overwrite").partitionBy("__b").parquet(stage))
    for k in range(n_batches):
        dst = os.path.join(in_dir, f"batch_{k}.parquet")
        parts = glob.glob(os.path.join(stage, f"__b={k}", "part-*.parquet"))
        if len(parts) > 1:
            # Invariant guard (ADVICE r11): hash repartition by __b +
            # partitionBy must yield exactly one part per batch dir. If
            # a config such as spark.sql.files.maxRecordsPerFile ever
            # splits a batch into several files, moving parts[0] would
            # silently drop rows from the staged stream input (and the
            # rmtree below would destroy the evidence) — fail loudly
            # instead.
            raise RuntimeError(
                f"_stage_arrival_files: batch {k} produced {len(parts)} "
                f"part files in {stage}; expected exactly 1 — a session "
                "config (e.g. spark.sql.files.maxRecordsPerFile) broke "
                "the one-file-per-batch staging invariant")
        if parts:
            shutil.move(parts[0], dst)
        else:
            empty_stage = os.path.join(stage, f"__empty{k}")
            df.select(*cols).limit(0).coalesce(1).write.mode("overwrite") \
              .parquet(empty_stage)
            shutil.move(
                glob.glob(os.path.join(empty_stage, "part-*.parquet"))[0],
                dst)
        os.utime(dst, (base_t + 60 * k, base_t + 60 * k))
    shutil.rmtree(stage)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (schema-enforced).

    Same physical-to-logical ts handling as sources.io.read_table: a
    TIMESTAMP(NANOS) column is read as long then converted; a plain
    TIMESTAMP(MICROS) column streams through unchanged. The sniff uses a
    static footer read (readStream itself requires the schema upfront).
    """
    import os
    from hdfs_with_pyspark_spark.sources.io import events_ts_is_nanos
    nanos = events_ts_is_nanos(spark, os.path.join(sf_dir, "events.parquet"))
    # The file stream source wants a directory; select the single events
    # file out of sf_dir with a glob (a real deployment points this at a
    # growing directory of event files).
    df = (spark.readStream
               .schema(schemas.EVENTS_PHYSICAL if nanos else schemas.EVENTS)
               .option("pathGlobFilter", "events.parquet")
               .parquet(sf_dir))
    return df.select(*nanos_ts_to_micros(df.columns)) if nanos else df


def windowed_event_counts(stream: DataFrame) -> DataFrame:
    """Tumbling event-time windows per event_type, watermarked."""
    return (stream
            .withWatermark("ts", WATERMARK)
            .groupBy(F.window("ts", COUNT_WINDOW).alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.date_format("w.start", "yyyy-MM-dd").alias("day"),
                    "event_type", "n_events", "sum_value"))


def session_stats(stream: DataFrame) -> DataFrame:
    """Gap-based session windows per user (F.session_window)."""
    return (stream
            .withWatermark("ts", WATERMARK)
            .groupBy(F.session_window("ts", SESSION_GAP).alias("s"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select("user_id",
                    F.date_format("s.start", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                     .alias("session_start"),
                    "n_events"))


_STATE_SCHEMA = T.StructType([
    T.StructField("n_events", T.LongType()),
    T.StructField("total_cents", T.LongType()),
])
_STATE_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("avg_value", T.DoubleType()),
])


def _update_user_state(key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
                       state: GroupState) -> Iterator[pd.DataFrame]:
    # State accumulates INTEGER cents (values are 2-decimal money): the
    # running sum is exact and ORDER-INDEPENDENT, so the emitted state
    # can't depend on micro-batch boundaries or arrival order — the right
    # design for any distributed running money aggregate, and what makes
    # the batch SQL oracle bit-exact. The single float op (cents/100/n)
    # happens once on identical operands in both engines.
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(pdf["value"].fillna(0.0).mul(100).round().sum())
    state.update((n, cents))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                        "avg_value": [(cents / 100.0) / n if n else None]})


def running_user_state(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running count + mean value.

    The applyInPandasWithState surface — arbitrary Python state per key,
    Arrow-batched input, no watermark-bounded windows needed.
    """
    return (stream
            .select("user_id", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                _update_user_state,
                outputStructType=_STATE_OUT,
                stateStructType=_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


# Memory-sink tables pin their rows in the driver for the session's
# lifetime; a long-lived service (or the 39-query bench) re-running
# streaming queries would accumulate them without bound. Keep a short
# tail so recently-returned frames stay collectable, drop the rest.
_SINK_KEEP = 8


def run_to_table(result: DataFrame, mode: str) -> DataFrame:
    """Execute a streaming frame with availableNow into a memory sink."""
    spark = result.sparkSession
    seq = next(_SINK_SEQ)
    name = f"stream_sink_{seq}"
    q = (result.writeStream
               .format("memory")
               .queryName(name)
               .outputMode(mode)
               .trigger(availableNow=True)
               .start())
    q.awaitTermination()
    stale = seq - _SINK_KEEP
    if stale > 0:
        try:
            spark.catalog.dropTempView(f"stream_sink_{stale}")
        except Exception:
            pass  # another session may own it; eviction is best-effort
    return spark.table(name)


# --------------------------------------------------------------------------
# Registered streaming queries. The callables genuinely stream (file
# source, watermark, state) and return the materialized sink.
# --------------------------------------------------------------------------
@register("stream_windowed_counts", oracle="""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
""")
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_session(spark)
    return run_to_table(
        windowed_event_counts(read_events_stream(spark, sf_dir)), "complete")


@register("stream_sliding_counts", oracle="""
WITH buckets AS (
  SELECT event_type, value,
         date_trunc('day', ts) - (k * INTERVAL 1 DAY) AS w_start
  FROM events, LATERAL unnest([0, 1]) AS t(k))
SELECT strftime(w_start, '%Y-%m-%d') AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM buckets
GROUP BY 1, 2
""")
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (2-day window, 1-day slide): every event
    lands in exactly two windows; the oracle replicates the bucket fan-out
    relationally."""
    ensure_session(spark)
    stream = read_events_stream(spark, sf_dir)
    agg = (stream
           .withWatermark("ts", WATERMARK)
           .groupBy(F.window("ts", "2 days", "1 day").alias("w"), "event_type")
           .agg(F.count("*").alias("n_events"))
           .select(F.date_format("w.start", "yyyy-MM-dd").alias("window_start"),
                   "event_type", "n_events"))
    return run_to_table(agg, "complete")


@register("stream_session_stats", oracle="""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 8 HOUR OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events),
s AS (SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_id
""")
def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_session(spark)
    return run_to_table(
        session_stats(read_events_stream(spark, sf_dir)), "complete")


@register("stream_user_state", oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT))
             / 100.0 / COUNT(*), 6) AS avg_value
FROM events GROUP BY user_id
""")
def stream_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator with a deterministic batch twin: the
    file source drains in ONE availableNow micro-batch (single input
    file, no maxFilesPerTrigger), so the update-mode sink holds exactly
    the final per-user state — a plain grouped aggregate in SQL. The
    state sums integer cents (see _update_user_state), so both engines
    divide identical integers and the 6-decimal F.round (HALF_UP, like
    the oracle's ROUND) sees the same double."""
    ensure_session(spark)
    out = run_to_table(
        running_user_state(read_events_stream(spark, sf_dir)), "update")
    return out.select("user_id", "n_events",
                      F.round("avg_value", 6).alias("avg_value"))


@register("stream_dedup", oracle="""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""")
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: watermarked ``dropDuplicates`` on
    (user_id, event_type) chained into a downstream aggregation — two
    stateful operators in one query (dedup state + agg state). At scale
    the dedup state holds one entry per distinct key inside the
    watermark horizon, not per event."""
    ensure_session(spark)
    stream = read_events_stream(spark, sf_dir)
    deduped = (stream
               .withWatermark("ts", WATERMARK)
               .dropDuplicates(["user_id", "event_type"]))
    agg = (deduped.groupBy("event_type")
                  .agg(F.count("*").alias("n_users")))
    return run_to_table(agg, "complete")


@register("stream_click_after_signup", oracle="""
SELECT s.user_id,
       strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS signup_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
FROM events s JOIN events c
  ON c.user_id = s.user_id
 AND s.event_type = 'signup' AND c.event_type = 'click'
 AND c.ts >= s.ts AND c.ts <= s.ts + INTERVAL 1 DAY
""")
def stream_click_after_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: two independent watermarked streams
    (signups, clicks) inner-joined on user with an event-time range —
    clicks within 1 day after a signup. The range condition is what lets
    the state store evict: each side buffers only rows younger than
    watermark + interval, so state is bounded by arrival skew, never by
    stream length. Inner-join matches emit as they arrive (append mode);
    the watermark exists for cleanup, not emission."""
    ensure_session(spark)
    signups = (read_events_stream(spark, sf_dir)
               .where(F.col("event_type") == "signup")
               .select("user_id", F.col("ts").alias("signup_ts"))
               .withWatermark("signup_ts", WATERMARK))
    clicks = (read_events_stream(spark, sf_dir)
              .where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("click_user"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", WATERMARK))
    joined = signups.join(
        clicks,
        F.expr("user_id = click_user AND "
               "click_ts >= signup_ts AND "
               "click_ts <= signup_ts + INTERVAL 1 DAY"))
    out = joined.select(
        "user_id",
        F.date_format("signup_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("signup_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"))
    return run_to_table(out, "append")


@register("stream_enriched_segment_value", oracle="""
SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS day,
       c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(COALESCE(e.value, 0) * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""")
def stream_enriched_segment_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join — the production enrichment shape the other
    streaming queries don't cover: each micro-batch of the event stream
    joins a bounded dimension (customer segments) read as a plain batch
    frame. Spark re-plans the static side per micro-batch, so a
    dimension refreshed in place is picked up without restarting the
    stream; with the dim under the broadcast threshold the join is
    map-side and the only streaming state is the downstream window agg.
    Value sums in exact integer cents (order-independent), windowed per
    day x segment with a watermark bounding the agg state."""
    ensure_session(spark)
    from hdfs_with_pyspark_spark.sources.io import read_table
    dim = read_table(spark, sf_dir, "customer") \
        .select("c_custkey", F.col("c_mktsegment").alias("segment"))
    stream = read_events_stream(spark, sf_dir)
    cents = F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast("long")
    enriched = (stream.select("ts", "user_id", cents.alias("cents"))
                      .join(F.broadcast(dim),
                            F.col("user_id") == F.col("c_custkey")))
    agg = (enriched
           .withWatermark("ts", WATERMARK)
           .groupBy(F.window("ts", COUNT_WINDOW).alias("w"), "segment")
           .agg(F.count("*").alias("n_events"),
                F.sum("cents").cast("long").alias("value_cents"))
           .select(F.date_format("w.start", "yyyy-MM-dd").alias("day"),
                   "segment", "n_events", "value_cents"))
    return run_to_table(agg, "complete")


def stream_upsert_sink(spark: SparkSession, sf_dir: str, dim_path: str,
                       n_rounds_col: str = "n_events") -> None:
    """Continuous mart maintenance: foreachBatch + MERGE upsert.

    Each micro-batch aggregates per-user activity and upserts it into a
    parquet dimension via operators.merge.merge_upsert — the streaming
    half of the SCD1 path (batch half: plans/maintenance.py). The sink
    is idempotent per (user, batch) because the merge is keyed: a
    replayed batch overwrites the same keys with the same values, which
    is the standard exactly-once recipe over an at-least-once sink.
    The commit is stage-and-swap with a retire-then-swap rename pair —
    not atomic on a generic filesystem, but every crash window leaves
    either the live dim or a ``__old`` copy the next batch rolls
    forward from. All exists/rename/delete steps go through the HADOOP
    FileSystem API resolved from ``dim_path``'s scheme (ADVICE r2), so
    the swap works wherever Spark can write — HDFS, local file://, or
    any object store with a Hadoop connector (note object-store renames
    are copies: prefer a table format there).

    Scale: each micro-batch shuffles only its own (small) aggregate;
    the dimension side stays parquet and would be bucketed on user_id
    in production so only the batch side moves.
    """
    from hdfs_with_pyspark_spark.operators.merge import merge_upsert
    from hdfs_with_pyspark_spark.sources.io import write_parquet

    stream = read_events_stream(spark, sf_dir)
    per_user = (stream.groupBy("user_id")
                      .agg(F.count("*").alias(n_rounds_col),
                           F.round(F.sum("value"), 2).alias("sum_value")))

    def upsert_batch(batch_df, batch_id: int) -> None:
        spark_l = batch_df.sparkSession
        jvm = spark_l._jvm
        hconf = spark_l._jsc.hadoopConfiguration()

        def hpath(p: str):
            return jvm.org.apache.hadoop.fs.Path(p)

        fs = hpath(dim_path).getFileSystem(hconf)

        def exists(p: str) -> bool:
            return fs.exists(hpath(p))

        def rename(src: str, dst: str) -> None:
            if not fs.rename(hpath(src), hpath(dst)):
                raise IOError(f"rename {src!r} -> {dst!r} failed")

        def rmtree(p: str) -> None:
            fs.delete(hpath(p), True)

        retired = dim_path + "__old"
        # Recover from a crash between the two renames below: the data
        # survives under __old; restore it before merging.
        if not exists(dim_path) and exists(retired):
            rename(retired, dim_path)
        if exists(dim_path):
            target = spark_l.read.parquet(dim_path)
            merged = (merge_upsert(target, batch_df, key="user_id")
                      .drop("updated"))
        else:
            merged = batch_df
        # Stage-and-swap: parquet has no transactional MERGE. Write to a
        # staging path, retire the old dim by RENAME (not delete), swap
        # staging in, then drop the retired copy — every crash window
        # leaves either the old dim or a recoverable __old to roll
        # forward from (handled above). A table format (Delta/Iceberg)
        # replaces this dance with an atomic commit; the merge shape is
        # identical.
        staging = dim_path + "__staging"
        if exists(staging):
            rmtree(staging)           # leftover from a crashed write
        write_parquet(merged, staging)
        if exists(retired):
            rmtree(retired)
        if exists(dim_path):
            rename(dim_path, retired)
        rename(staging, dim_path)
        if exists(retired):
            rmtree(retired)

    (per_user.writeStream
             .outputMode("update")
             .foreachBatch(upsert_batch)
             .trigger(availableNow=True)
             .start()
             .awaitTermination())


@register("stream_synthetic_counts", oracle="""
WITH g AS (
  SELECT i % 97 AS user_id, ((i * 37) % 1000) / 10.0 AS value
  FROM range(10000) t(i))
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 1) AS total_value
FROM g GROUP BY user_id
""")
def stream_synthetic_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read through the CUSTOM PYTHON DATASOURCE
    (sources/pyds.py SimpleDataSourceStreamReader): position-based
    offsets, exact replay via readBetweenOffsets, drained with
    availableNow into the usual memory-sink gate. The custom streaming
    format is oracle-checked the same way the batch half is — rows
    regenerate from range().
    """
    ensure_session(spark)
    from hdfs_with_pyspark_spark.sources.pyds import (
        register_synthetic_stream_source,
    )
    register_synthetic_stream_source(spark)
    stream = (spark.readStream.format("synthetic_events_stream")
              .option("n", 10_000).load())
    agg = (stream.groupBy("user_id")
           .agg(F.count("*").alias("n_events"),
                F.round(F.sum("value"), 1).alias("total_value")))
    return run_to_table(agg, "complete")


# --------------------------------------------------------------------------
# stream_incremental_dedup — the STREAMING ingest path for near-dup
# detection: documents arrive in micro-batches; each batch probes the
# persisted MinHash band store built from every EARLIER batch, emits
# verified (new_doc, corpus_doc, jaccard) matches, then appends its own
# bands to the store — the llm.dedup.dedup_incremental contract driven
# by foreachBatch instead of a nightly job. State per doc is 8 bands
# (32 longs); per-batch cost is O(|batch| + candidates); the corpus is
# never re-shingled.
#
# Determinism: the corpus splits into STREAM_DEDUP_BATCHES files by
# doc_id modulo, each file's mtime forced so the file source replays
# them in batch order on every run. A pair is emitted exactly when its
# two docs land in DIFFERENT batches (same-batch dups are the ingest
# job's intra-batch pass, exercised by dedup_minhash_lsh); the oracle
# composes dedup_minhash_lsh's SQL restricted to cross-batch pairs,
# oriented so the later-arriving doc is the new side — so the
# micro-batch order, the store round-trips, and the probe joins are
# all proven against the batch truth.
# --------------------------------------------------------------------------
STREAM_DEDUP_BATCHES = 4


def _stream_incremental_dedup_oracle() -> str:
    from hdfs_with_pyspark_spark.plans.registry import ORACLES
    k = STREAM_DEDUP_BATCHES
    return f"""
WITH mh AS ({ORACLES["dedup_minhash_lsh"]})
SELECT CASE WHEN doc_b % {k} > doc_a % {k} THEN doc_b ELSE doc_a END
         AS new_doc_id,
       CASE WHEN doc_b % {k} > doc_a % {k} THEN doc_a ELSE doc_b END
         AS corpus_doc_id,
       jaccard
FROM mh WHERE doc_a % {k} <> doc_b % {k}
"""


def _read_parquet_if_absent(sp, path):
    """FS-agnostic existence probe: attempt the read and treat the
    analyzer's PATH_NOT_FOUND as absence — works identically on local
    paths and DFS scratch dirs (os.path.exists would not), and stays
    inside the public API (no py4j Hadoop FS bridge).

    ONLY path-not-found reads as "store absent" (VERDICT r4 item 5): a
    corrupted or permission-broken store must surface loudly — the old
    blanket ``except Exception`` silently reset all accumulated dedup
    state to "first batch", under-reporting duplicates."""
    from pyspark.errors import AnalysisException
    try:
        df = sp.read.parquet(path)
        df.schema  # force analysis
        return df
    except AnalysisException as e:
        cond = None
        for probe in ("getCondition", "getErrorClass"):  # 4.x / 3.x names
            fn = getattr(e, probe, None)
            if fn is not None:
                try:
                    cond = fn()
                except Exception:
                    cond = None
                if cond:
                    break
        if cond == "PATH_NOT_FOUND" or "Path does not exist" in str(e):
            return None
        raise


@register("stream_incremental_dedup", oracle=None)  # composed below
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from hdfs_with_pyspark_spark.llm.dedup import (
        _incremental_matches,
        minhash_band_store,
    )
    from hdfs_with_pyspark_spark.session import scratch_dir
    from hdfs_with_pyspark_spark.sources.io import read_table

    ensure_session(spark)
    import hashlib
    sf_key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    # Durable dedup STATE (band store + emitted matches) lives under
    # scratch_dir — the piece a real deployment would point at a DFS.
    root = scratch_dir(spark, f"stream_incr_dedup_{sf_key}")
    store, out = (os.path.join(root, d) for d in ("store", "matches"))
    shutil.rmtree(root, ignore_errors=True)
    # The SIMULATED file arrivals (and the stream checkpoint for this
    # single-shot drain) are inherently local — the glob/move/utime
    # choreography below is os-level, so staging them under scratch_dir
    # would break whenever $SPARK_GRAFT_SCRATCH_DIR resolves to a URI
    # scheme. tempfile is guaranteed-local by construction.
    sim = tempfile.mkdtemp(prefix="stream_incr_dedup_sim_")
    in_dir, ckpt = os.path.join(sim, "in"), os.path.join(sim, "ckpt")
    os.makedirs(in_dir)

    docs = read_table(spark, sf_dir, "documents")
    _stage_arrival_files(docs, F.col("doc_id") % STREAM_DEDUP_BATCHES,
                         STREAM_DEDUP_BATCHES, in_dir)

    def ingest(batch_df, batch_id: int) -> None:
        # IDEMPOTENT per-batch writes: both sinks key on
        # batch_id via hive-style subdirs and OVERWRITE, so a replayed/
        # retried micro-batch rewrites its own slice instead of
        # double-appending bands and match rows. The `batch` partition
        # column is dropped on every read — it is replay bookkeeping,
        # not state.
        sp = batch_df.sparkSession
        batch_local = batch_df.persist()
        # The store root was cleared and the checkpoint is fresh, so
        # the first batch of a call has no store to probe (and probing
        # the missing path makes Spark log a stack trace).
        store_df = (None if batch_id == 0
                    else _read_parquet_if_absent(sp, store))
        if store_df is not None:
            (_incremental_matches(batch_local, store_df.drop("batch"),
                                  read_table(sp, sf_dir, "documents"),
                                  spread_input=False)
                .write.mode("overwrite")
                .parquet(os.path.join(out, f"batch={batch_id}")))
        (minhash_band_store(batch_local, spread_input=False)
            .write.mode("overwrite")
            .parquet(os.path.join(store, f"batch={batch_id}")))
        batch_local.unpersist()

    try:
        (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(in_dir)
              .writeStream
              .option("checkpointLocation", ckpt)
              .foreachBatch(ingest)
              .trigger(availableNow=True)
              .start()
              .awaitTermination())
    finally:
        shutil.rmtree(sim, ignore_errors=True)

    result = _read_parquet_if_absent(spark, out)
    if result is None:
        return local_frame(
            spark, [], "new_doc_id long, corpus_doc_id long, jaccard double")
    return result.select("new_doc_id", "corpus_doc_id", "jaccard")


from hdfs_with_pyspark_spark.plans.registry import (  # noqa: E402
    register_deferred_oracle,
)

register_deferred_oracle("stream_incremental_dedup",
                         _stream_incremental_dedup_oracle)


# --------------------------------------------------------------------------
# stream_late_data_audit — watermark late-data ACCOUNTING: how many
# events the streaming pipeline's watermark actually discarded, per
# (day, event_type) — the production dashboard a streaming deployment
# runs next to every watermarked aggregation (silent late-drop is the
# classic source of batch/stream count divergence).
#
# Mechanics: the events table is staged as THREE simulated arrivals
# (the stream_incremental_dedup choreography): batch 0 = every on-time
# event (including the corpus max, which SETS the watermark), batch 1 =
# empty (a heartbeat micro-batch — Spark applies a newly-advanced
# watermark to filtering only from the SECOND batch after the data that
# advanced it, measured in-repo, see tests), batch 2 = the late tail.
# The streamed side is a watermarked tumbling daily count in update
# mode via foreachBatch with idempotent per-batch-id overwrite slices;
# the audit joins its final state against the batch ground truth.
#
# The oracle mirrors Spark's measured drop rule exactly: a row is
# dropped iff its WINDOW END <= watermark, where watermark =
# millisecond-floored max event time of earlier batches minus the
# delay (Spark tracks event-time stats in ms). Boundary semantics
# (<=, window-end-based, not raw-ts) were pinned empirically; the
# streamed run in the callable is the same engine the gate compares,
# so the oracle encodes the contract, not a guess.
#
# 100 TB shape: watermark state is |open windows| x |event types|; the
# audit join runs on (day, type) aggregates. Nothing here scales with
# row count beyond the one streaming aggregation itself.
# --------------------------------------------------------------------------
@register("stream_late_data_audit", oracle="""
WITH e AS (SELECT ts, event_type FROM events),
wm AS (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 DAY AS w
       FROM e),
flagged AS (
  SELECT date_trunc('day', ts) AS d, event_type,
         CASE WHEN date_trunc('day', ts) + INTERVAL 1 DAY <= (SELECT w FROM wm)
              THEN 1 ELSE 0 END AS late
  FROM e)
SELECT strftime(d, '%Y-%m-%d') AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_batch,
       CAST(SUM(1 - late) AS BIGINT) AS n_stream,
       CAST(SUM(late) AS BIGINT) AS n_late_dropped
FROM flagged GROUP BY d, event_type
""")
def stream_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from hdfs_with_pyspark_spark.sources.io import read_table

    ensure_session(spark)
    ev = read_table(spark, sf_dir, "events").select("ts", "event_type")
    # The late tail: window end (day + 1) at or below the final
    # watermark (ms-floored corpus max minus the delay).
    wm = ev.agg((F.date_trunc("millisecond", F.max("ts"))
                 - F.expr(f"INTERVAL {WATERMARK}")).alias("w"))
    flagged = (ev.crossJoin(F.broadcast(wm))
                 .withColumn("late",
                             (F.date_trunc("day", F.col("ts"))
                              + F.expr("INTERVAL 1 DAY"))
                             <= F.col("w")))

    sim = tempfile.mkdtemp(prefix="stream_late_audit_")
    in_dir, ckpt = os.path.join(sim, "in"), os.path.join(sim, "ckpt")
    out = os.path.join(sim, "out")
    # batch 0 = every on-time event (including the corpus max, which
    # SETS the watermark), batch 1 = heartbeat (deliberately empty —
    # _stage_arrival_files writes the 0-row file), batch 2 = late tail.
    _stage_arrival_files(
        flagged.select("ts", "event_type",
                       F.when(F.col("late"), 2).otherwise(0).alias("__k")),
        F.col("__k"), 3, in_dir, keep=["ts", "event_type"])

    def ingest(batch_df, batch_id: int) -> None:
        # Idempotent per-batch-id overwrite slices (the
        # stream_incremental_dedup discipline): a replayed micro-batch
        # rewrites its own slice instead of double-appending.
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out, f"batch={batch_id}"))

    try:
        (spark.readStream.schema("ts timestamp, event_type string")
              .option("maxFilesPerTrigger", 1)
              .parquet(in_dir)
              .withWatermark("ts", WATERMARK)
              .groupBy(F.window("ts", COUNT_WINDOW).alias("w"), "event_type")
              .agg(F.count("*").alias("n_stream"))
              .select(F.date_format("w.start", "yyyy-MM-dd").alias("day"),
                      "event_type", "n_stream")
              .writeStream
              .option("checkpointLocation", ckpt)
              .foreachBatch(ingest)
              .outputMode("update")
              .trigger(availableNow=True)
              .start()
              .awaitTermination())
        streamed = spark.read.parquet(out)
        # Update mode re-emits a key on every change: the final count per
        # (day, type) is the row from the LATEST batch that touched it.
        w_last = Window.partitionBy("day", "event_type").orderBy(
            F.col("batch").desc())
        final = (streamed.withColumn("__rn", F.row_number().over(w_last))
                         .where(F.col("__rn") == 1)
                         .select("day", "event_type", "n_stream")
                         # sever the lineage from the tempdir parquet
                         # before the finally-block removes it
                         .localCheckpoint(eager=True))
        truth = (ev.groupBy(F.date_format(F.date_trunc("day", "ts"),
                                          "yyyy-MM-dd").alias("day"),
                            "event_type")
                   .agg(F.count("*").alias("n_batch")))
        return (truth.join(final, ["day", "event_type"], "left")
                     .select("day", "event_type",
                             F.col("n_batch").cast("long").alias("n_batch"),
                             F.coalesce("n_stream", F.lit(0)).cast("long")
                              .alias("n_stream"),
                             (F.col("n_batch")
                              - F.coalesce("n_stream", F.lit(0)))
                             .cast("long").alias("n_late_dropped")))
    finally:
        shutil.rmtree(sim, ignore_errors=True)


# --------------------------------------------------------------------------
# stream_ivm_revenue — STREAMING incremental view maintenance: the
# per-nation revenue aggregate maintained across micro-batches. Orders
# arrive in STREAM_IVM_BATCHES simulated file arrivals (the
# stream_incremental_dedup choreography); each foreachBatch computes
# the batch's partial aggregate and merges it onto the PREVIOUS
# snapshot (full-outer coalesce-sum on the group key, exact integer
# cents so base ⊕ delta is associative bit-for-bit), writing snapshot
# {batch_id}. The final snapshot must equal the batch recompute — the
# oracle IS revenue_by_nation_ivm's full-recompute SQL, so the gate
# proves the streaming maintenance identity end to end. This is the
# streaming twin of revenue_by_nation_ivm: the same merge, driven by
# arrival instead of a cutoff date.
#
# Replay idempotence: snapshot k derives ONLY from snapshot k-1 plus
# batch k's rows and OVERWRITES its own directory — a retried
# micro-batch rewrites the same snapshot from the same inputs. Batch 0
# merges onto the empty view (absence probed PATH_NOT_FOUND-only, same
# discipline as the dedup band store).
#
# 100 TB shape: per refresh only the batch scans; the snapshot side is
# |nations| rows. State never grows with event volume — this is the
# pattern that turns a daily full re-aggregation into an O(new data)
# job, now with streaming-native triggering.
# --------------------------------------------------------------------------
STREAM_IVM_BATCHES = 4


def _stream_ivm_revenue_oracle() -> str:
    from hdfs_with_pyspark_spark.plans.registry import ORACLES
    return ORACLES["revenue_by_nation_ivm"]


@register("stream_ivm_revenue", oracle=None)  # composed below
def stream_ivm_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    from hdfs_with_pyspark_spark.session import scratch_dir
    from hdfs_with_pyspark_spark.sources.io import read_table

    ensure_session(spark)
    sf_key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    root = scratch_dir(spark, f"stream_ivm_revenue_{sf_key}")
    shutil.rmtree(root, ignore_errors=True)
    sim = tempfile.mkdtemp(prefix="stream_ivm_sim_")
    in_dir, ckpt = os.path.join(sim, "in"), os.path.join(sim, "ckpt")
    os.makedirs(in_dir)

    orders = read_table(spark, sf_dir, "orders")
    _stage_arrival_files(orders, F.col("o_orderkey") % STREAM_IVM_BATCHES,
                         STREAM_IVM_BATCHES, in_dir)

    def snap(k: int) -> str:
        return os.path.join(root, f"snapshot_{k}")

    def ingest(batch_df, batch_id: int) -> None:
        sp = batch_df.sparkSession
        customer = (read_table(sp, sf_dir, "customer")
                    .select("c_custkey", "c_nationkey"))
        nation = read_table(sp, sf_dir, "nation").select("n_nationkey",
                                                         "n_name")
        cents = F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
        delta = (batch_df
                 .join(F.broadcast(customer),
                       F.col("o_custkey") == F.col("c_custkey"))
                 .join(F.broadcast(nation),
                       F.col("c_nationkey") == F.col("n_nationkey"))
                 .groupBy(F.col("n_name").alias("nation"))
                 .agg(F.sum(cents).alias("d_rev"),
                      F.count("*").alias("d_n")))
        prev = (None if batch_id == 0
                else _read_parquet_if_absent(sp, snap(batch_id - 1)))
        if prev is None:
            merged = delta.select(
                "nation", F.col("d_rev").cast("long").alias("revenue_cents"),
                F.col("d_n").cast("long").alias("n_orders"))
        else:
            b = prev.select("nation",
                            F.col("revenue_cents").alias("b_rev"),
                            F.col("n_orders").alias("b_n"))
            merged = (b.join(delta, "nation", "full_outer")
                       .select("nation",
                               (F.coalesce("b_rev", F.lit(0))
                                + F.coalesce("d_rev", F.lit(0)))
                               .cast("long").alias("revenue_cents"),
                               (F.coalesce("b_n", F.lit(0))
                                + F.coalesce("d_n", F.lit(0)))
                               .cast("long").alias("n_orders")))
        merged.write.mode("overwrite").parquet(snap(batch_id))

    try:
        (spark.readStream.schema(orders.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(in_dir)
              .writeStream
              .option("checkpointLocation", ckpt)
              .foreachBatch(ingest)
              .trigger(availableNow=True)
              .start()
              .awaitTermination())
    finally:
        shutil.rmtree(sim, ignore_errors=True)

    # The availableNow run NORMALLY produces exactly STREAM_IVM_BATCHES
    # micro-batches (one file each under maxFilesPerTrigger=1), but a
    # runtime is free to coalesce files into fewer triggers; every batch
    # is folded into its snapshot either way, so the FINAL state is the
    # highest-numbered snapshot present — resolve it instead of assuming
    # the count, and fail loudly if the stream produced nothing (an
    # environment fault, not an empty result).
    last = max((int(os.path.basename(p).rsplit("_", 1)[1])
                for p in glob.glob(os.path.join(root, "snapshot_*"))),
               default=None)
    if last is None:
        raise RuntimeError(
            f"stream_ivm_revenue: no snapshot written under {root} — the "
            "availableNow stream ran zero micro-batches")
    return (_read_parquet_if_absent(spark, snap(last))
            .select("nation", "revenue_cents", "n_orders"))


register_deferred_oracle("stream_ivm_revenue", _stream_ivm_revenue_oracle)


# --------------------------------------------------------------------------
# stream_ann_ingest — streaming vector-store ingest: micro-batches of
# new embeddings arrive as files and each batch is assigned to the
# PERSISTED corpus-trained IVF quantizer inside foreachBatch, appending
# (vec_id, cid) rows to the inverted-list store — the streaming twin of
# ann_ivf_incremental exactly as stream_incremental_dedup is the
# streaming twin of the band-store probe. The quantizer trains ONCE
# before the stream starts (the nightly-build artifact) and every
# micro-batch pays O(|batch| x k): one broadcast-NLJ + argmax window
# over the batch only; the corpus lists are never read at ingest.
#
# Idempotency: per-batch-id hive-style overwrite slices (the r4
# discipline) — a replayed micro-batch rewrites its own slice. The
# `batch` partition column is replay bookkeeping and is dropped on
# read.
#
# Oracle: assignment is per-vector independent, so the streamed ingest
# must equal the batch assignment of every streamed vector to the same
# corpus-trained centroids — the exact kmeans-CTE oracle of
# ann_ivf_incremental, projected to (vec_id, cid). Any divergence
# (lost batch, double-append, wrong quantizer snapshot) breaks parity.
# --------------------------------------------------------------------------
STREAM_ANN_BATCHES = 4


def _stream_ann_ingest_oracle() -> str:
    from hdfs_with_pyspark_spark.llm.similarity import (
        _SQL_COS_BC, _SQL_INCR_CENT, _SQL_VECTORS, INCR_VEC_SPLIT)
    return f"""
WITH v AS ({_SQL_VECTORS}),
{_SQL_INCR_CENT},
ibatch AS (SELECT vec_id, v FROM v WHERE vec_id < {INCR_VEC_SPLIT}),
iassign AS (
  SELECT vec_id, cid FROM (
    SELECT b.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                              ORDER BY {_SQL_COS_BC} DESC, c.cid ASC) AS rn
    FROM ibatch b CROSS JOIN icent c) WHERE rn = 1)
SELECT vec_id, CAST(cid AS BIGINT) AS cid FROM iassign
"""


@register("stream_ann_ingest", oracle=None)  # composed below
def stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from hdfs_with_pyspark_spark.llm.similarity import (
        INCR_VEC_SPLIT, assign_nearest, train_incr_corpus_centroids)
    from hdfs_with_pyspark_spark.session import scratch_dir
    from hdfs_with_pyspark_spark.sources.io import read_table

    ensure_session(spark)
    sf_key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    root = scratch_dir(spark, f"stream_ann_ingest_{sf_key}")
    cent_store = os.path.join(root, "quantizer")
    lists_store = os.path.join(root, "lists")
    shutil.rmtree(root, ignore_errors=True)
    sim = tempfile.mkdtemp(prefix="stream_ann_sim_")
    in_dir, ckpt = os.path.join(sim, "in"), os.path.join(sim, "ckpt")
    os.makedirs(in_dir)

    # The nightly-build artifact: corpus-trained quantizer, persisted
    # BEFORE any batch arrives (what a deployment reads from the DFS).
    local_frame(
        spark, train_incr_corpus_centroids(spark, sf_dir),
        "cid long, cv array<double>") \
        .write.mode("overwrite").parquet(cent_store)

    emb = read_table(spark, sf_dir, "embeddings")
    new = emb.where(F.col("vec_id") < INCR_VEC_SPLIT)
    _stage_arrival_files(new, F.col("vec_id") % STREAM_ANN_BATCHES,
                         STREAM_ANN_BATCHES, in_dir)

    def ingest(batch_df, batch_id: int) -> None:
        sp = batch_df.sparkSession
        cent = sp.read.parquet(cent_store)
        vecs = batch_df.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v"))
        # Gated query: exact kernel (oracle bit-match). A production
        # stream ingests with kernel="arrow", the GEMM kernel.
        (assign_nearest(vecs, cent, kernel="exact")
            .select("vec_id", F.col("cid").cast("long").alias("cid"))
            .write.mode("overwrite")
            .parquet(os.path.join(lists_store, f"batch={batch_id}")))

    try:
        (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(in_dir)
              .writeStream
              .option("checkpointLocation", ckpt)
              .foreachBatch(ingest)
              .trigger(availableNow=True)
              .start()
              .awaitTermination())
    finally:
        shutil.rmtree(sim, ignore_errors=True)

    result = _read_parquet_if_absent(spark, lists_store)
    if result is None:
        raise RuntimeError(
            f"stream_ann_ingest: no list slice written under {lists_store}"
            " — the availableNow stream ran zero micro-batches")
    return result.select("vec_id", "cid")


register_deferred_oracle("stream_ann_ingest", _stream_ann_ingest_oracle)
