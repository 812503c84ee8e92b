"""Sources and sinks (SURVEY.md §2.1, S1-S3).

The reference's I/O surface is schema-inferred parquet scans plus one manual
partition-path trick (reference: src/scripts/project_step_3.py:13-16,
``spark.read.parquet(f"{path}/date={date}")``). Here:

  * every scan carries an explicit schema (column pruning + no footer pass),
  * a single-partition read lists only that partition's directory, keeps
    the partition column in the schema and still carries a ``where`` on
    it, so the scan shows a partition filter,
  * sinks support Hive-style partitioned writes for incremental marts.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hdfs_with_pyspark_spark import schemas, state


def local_frame(spark: SparkSession, rows: list,
                schema: T.StructType | str) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples or ``Row``s in
    ``schema`` order): the same schema and values as
    ``spark.createDataFrame(rows, schema)``, planned as a LocalRelation.

    ``createDataFrame(<list>)`` pickles the rows into a Python RDD, so
    every scan or broadcast of the frame runs a Python-worker stage.
    Handed an Arrow table instead, Spark keeps the rows inside
    the plan: the frame scans as a LocalTableScan, starts no Python
    worker, and the optimizer folds projections and filters over it
    into the rows. Every constant table the library builds goes through
    here. Naive datetimes are read as UTC, the session time zone.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    table = pa.table([pa.array([r[i] for r in rows], type=f.type)
                      for i, f in enumerate(arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)


def nanos_ts_to_micros(columns: list[str], ts_col: str = "ts") -> list:
    """Projection converting an epoch-nanos long column to TimestampType.

    MUST be integer division: ``ts / 1000`` is double division in Spark,
    and epoch-nanos (~1.7e18) exceed double's 53-bit mantissa — the
    rounded quotient lands 1 us high for a fraction of values, which
    breaks exact parity with engines that truncate (DuckDB).
    """
    return [F.timestamp_micros(F.expr(f"`{c}` DIV 1000")).alias(c)
            if c == ts_col else F.col(c)
            for c in columns]


def events_ts_is_nanos(spark: SparkSession, path: str) -> bool:
    """Detect the physical type of the events ``ts`` column.

    The testdata generator has emitted both parquet TIMESTAMP(NANOS)
    (which Spark only reads as epoch-nanos long, via
    spark.sql.legacy.parquet.nanosAsLong) and plain TIMESTAMP(MICROS).
    With nanosAsLong set, an inferred-schema read surfaces NANOS as
    LongType and MICROS as TimestampType — that one footer pass tells us
    which conversion (if any) the scan needs. Memoized per session and
    path: testdata files are immutable within a run.
    """
    return state.memo(
        spark, ("ts_is_nanos", path),
        lambda: isinstance(spark.read.parquet(path).schema["ts"].dataType,
                           T.LongType))


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Schema-enforced parquet scan of one driver testdata table (S1).

    Reference reads the same way minus the schema
    (src/scripts/project_step_1.py:8-11).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        if events_ts_is_nanos(spark, path):
            # ts is parquet TIMESTAMP(NANOS): read as epoch-nanos long,
            # convert to TimestampType. Lossless — whole-micro values.
            df = spark.read.schema(schemas.EVENTS_PHYSICAL).parquet(path)
            return df.select(*nanos_ts_to_micros(df.columns))
        return spark.read.schema(schemas.EVENTS).parquet(path)
    schema = schemas.TESTDATA_SCHEMAS.get(name)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_geo_events(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """Scan a reference-shaped, date-partitioned event log (S1)."""
    return spark.read.schema(schema or schemas.GEO_EVENTS).parquet(path)


def read_events_partition(spark: SparkSession, path: str, date: str,
                          schema: T.StructType | None = None) -> DataFrame:
    """Scan of one ``date=`` partition that keeps the partition column (S2).

    The reference reads ``{path}/date={date}`` alone
    (src/scripts/project_step_3.py:14), which drops the partition column.
    Here the same directory is read with ``basePath`` set to the table
    root, so ``date`` stays in the schema, and the ``where`` on it stays
    so the scan carries a partition filter. Only that one directory is
    listed: a predicate over the whole table would list every partition
    first (a parallel listing job once there are more than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold``).

    A date with no directory falls back to the predicate over the whole
    table: an empty frame with the full schema, and still an error when
    the table root itself is missing.
    """
    try:
        df = (spark.read.schema(schema or schemas.GEO_EVENTS)
              .option("basePath", path)
              .parquet(os.path.join(path, f"date={date}")))
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        df = read_geo_events(spark, path, schema)
    return df.where(F.col("date") == F.lit(date))


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None,
                  mode: str = "overwrite") -> None:
    """Parquet sink (S3; reference src/scripts/project_step_1.py:140).

    ``partition_by`` enables Hive-style layout so downstream partition
    pruning works; the reference always writes unpartitioned.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def export_shards(df: DataFrame, path: str, key: str,
                  n_shards: int = 16, mode: str = "overwrite",
                  sort_within: list[str] | None = None) -> None:
    """Deterministic sharded export for training-data loaders.

    Every row lands in shard ``hash64(key) % n_shards`` — md5-based, so
    the assignment is content-stable across engines, runs, and cluster
    sizes (Spark's builtin hash() is murmur3 with no cross-engine twin).
    ``repartition(n_shards, shard)`` co-locates each shard into one task
    before a Hive-partitioned write, so the layout on disk is one
    directory per shard with one file inside — the contract a sharded
    training loader expects. The shard column round-trips (partition
    columns re-materialize on read), so loaders can predicate-prune to a
    shard subset.

    ``sort_within`` orders rows INSIDE each shard file (secondary sort,
    no global sort) — the layout sequential training loaders expect.

    Scale: one exchange (the repartition), map-side shard expression,
    no driver collection; at 100 TB pick n_shards so a shard fits a
    task's output budget (shards ≫ executors parallelizes the write).
    """
    from hdfs_with_pyspark_spark.llm.textops import hash64
    sharded = df.withColumn(
        "shard", (hash64(F.col(key).cast("string")) % n_shards))
    sharded = sharded.repartition(n_shards, F.col("shard"))
    if sort_within:
        # Secondary sort: order INSIDE each shard file (what sequential
        # training loaders expect) without any global sort. 'shard'
        # leads the sort keys: partitionBy requires shard-ordered
        # output, so sorting (shard, *keys) satisfies the writer
        # directly — one sort, and the within-file order is guaranteed
        # rather than riding on sort-stability of a second writer sort.
        sharded = sharded.sortWithinPartitions("shard", *sort_within)
    sharded.write.mode(mode).partitionBy("shard").parquet(path)


def overwrite_partitions(df: DataFrame, path: str,
                         partition_by: list[str]) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present in
    ``df``, leaving sibling partitions untouched.

    The incremental-mart write primitive: a daily job recomputes one
    ``date=`` partition and overwrites it in place; static overwrite mode
    (the default) would instead truncate the WHOLE table — the classic
    production data-loss foot-gun this wrapper exists to prevent. The
    conf is set per-write and restored, so batch jobs sharing the session
    keep static semantics.
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "DYNAMIC")
    try:
        (df.write.mode("overwrite")
           .partitionBy(*partition_by)
           .parquet(path))
    finally:
        spark.conf.set(key, prev)


# --------------------------------------------------------------------------
# CSV / JSON(L) connectors — beyond the reference (it is parquet-only,
# SURVEY.md §2.1 "no other formats/connectors exist"). Both readers demand
# an explicit schema: schema inference on text formats is a FULL extra
# pass over the data — a non-starter at 100 TB — and silently widens
# types. Both formats split by line, so a 100 TB directory still
# parallelizes into per-block tasks.
# --------------------------------------------------------------------------

def read_csv(spark: SparkSession, path: str, schema: T.StructType,
             header: bool = True, **options) -> DataFrame:
    """Schema-enforced CSV scan. PERMISSIVE corrupt-row handling by
    default; pass mode='FAILFAST' for strict ingestion gates."""
    return (spark.read.schema(schema)
            .options(header=str(header).lower(), **options)
            .csv(path))


def write_csv(df: DataFrame, path: str, header: bool = True,
              mode: str = "overwrite", **options) -> None:
    """CSV sink. Arrays/structs must be serialized by the caller
    (``to_json``) — CSV is flat; Spark rejects complex types here."""
    df.write.mode(mode).options(header=str(header).lower(), **options).csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType,
              **options) -> DataFrame:
    """Schema-enforced JSON-lines scan (nested structs/arrays allowed)."""
    return spark.read.schema(schema).options(**options).json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite",
               **options) -> None:
    """JSON-lines sink — round-trips nested columns losslessly."""
    df.write.mode(mode).options(**options).json(path)


def read_orc(spark: SparkSession, path: str,
             schema: T.StructType | None = None, **options) -> DataFrame:
    """ORC scan. Columnar like parquet — vectorized reader, predicate
    pushdown and column pruning all apply; schema optional because ORC
    carries one in its footer (still pass it for drift protection)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.options(**options).orc(path)


def write_orc(df: DataFrame, path: str,
              partition_by: list[str] | None = None,
              mode: str = "overwrite", **options) -> None:
    """ORC sink, optionally Hive-partitioned like :func:`write_parquet`."""
    w = df.write.mode(mode).options(**options)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def compact_parquet(spark: SparkSession, path: str, out: str,
                    target_file_mb: int = 128) -> int:
    """Rewrite a parquet directory into ~target_file_mb files.

    The small-files problem is the classic operational failure of
    incremental pipelines (every micro-batch appends a sliver; a year
    later the table has 10^6 files and planning time dwarfs I/O).
    Compaction = read -> repartition to ceil(bytes/target) -> rewrite.
    Sizes come from ONE Hadoop FileSystem getContentSummary call on the
    source directory — the same API on every FS Spark can read (HDFS
    answers it from namenode metadata; local/S3A list client-side), so
    the estimate is real bytes on the 100 TB targets too, not a local-FS
    special case. Returns the number of output partitions chosen.

    At real scale run this per Hive partition (compact the cold ones,
    leave the hot one growing) — composable with write_parquet's
    partition_by.
    """
    import math
    import warnings

    df = spark.read.parquet(path)
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        total = int(fs.getContentSummary(jpath).getLength())
    except Exception as e:  # filesystem without the API: estimate loudly
        total = 0
        warnings.warn(
            f"compact_parquet: getContentSummary failed on {path!r} ({e}); "
            f"falling back to maxPartitionBytes * n_files — the output "
            f"file count is a guess, not a size-based plan",
            RuntimeWarning, stacklevel=2)
    if total <= 0:
        total = (int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
                 * len(df.inputFiles()))
    n = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df.repartition(n).write.mode("overwrite").parquet(out)
    return n
