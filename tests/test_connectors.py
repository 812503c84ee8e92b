"""CSV / JSON connector round-trips (engine extension; the reference is
parquet-only — SURVEY.md §2.1)."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import hdfs_with_pyspark_spark
from hdfs_with_pyspark_spark import schemas
from hdfs_with_pyspark_spark.sources import demo
from hdfs_with_pyspark_spark.sources.io import (
    local_frame,
    read_csv,
    read_json,
    read_table,
    write_csv,
    write_json,
)

NATION_SCHEMA = T.StructType([
    T.StructField("n_nationkey", T.LongType()),
    T.StructField("n_name", T.StringType()),
    T.StructField("n_regionkey", T.LongType()),
])


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_csv_round_trip(spark, sf_dir, tmp_path):
    nation = read_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    write_csv(nation, out)
    back = read_csv(spark, out, NATION_SCHEMA)
    assert rows(back) == rows(nation)


def test_csv_reader_does_not_infer(spark, sf_dir, tmp_path):
    # Declared schema wins: a long column read as string stays string —
    # proof there is no silent inference pass.
    nation = read_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv2")
    write_csv(nation, out)
    as_str = T.StructType([T.StructField(f.name, T.StringType())
                           for f in NATION_SCHEMA.fields])
    back = read_csv(spark, out, as_str)
    assert [f.dataType for f in back.schema.fields] == [T.StringType()] * 3


def test_json_round_trip_nested(spark, tmp_path):
    # JSON must round-trip nested struct + array columns losslessly.
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("meta", T.StructType([
            T.StructField("tag", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ])),
        T.StructField("xs", T.ArrayType(T.LongType())),
    ])
    df = spark.createDataFrame(
        [(1, ("a", 0.5), [1, 2, 3]), (2, ("b", -1.25), []), (3, None, None)],
        schema)
    out = str(tmp_path / "nested_json")
    write_json(df, out)
    back = read_json(spark, out, schema)
    assert rows(back.select("id", "meta.tag", "meta.score",
                            F.col("xs"))) == \
           rows(df.select("id", "meta.tag", "meta.score", F.col("xs")))


def test_csv_permissive_corrupt_rows(spark, tmp_path):
    # PERMISSIVE default: a malformed line nulls out, doesn't kill the job
    # (ingestion-gate semantics are opt-in via mode='FAILFAST').
    p = tmp_path / "dirty"
    p.mkdir()
    (p / "part.csv").write_text("id,score\n1,2.5\nnot_a_number,oops\n3,4.0\n")
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("score", T.DoubleType())])
    back = read_csv(spark, str(p), schema)
    got = {tuple(r) for r in back.collect()}
    assert {(1, 2.5), (3, 4.0), (None, None)} <= got


def test_sql_frontend_views(spark, sf_dir):
    # The SQL frontend must see the same schema-enforced scans (pushdown
    # included) as the DataFrame path.
    from hdfs_with_pyspark_spark.frontend import sql

    df = sql(spark, sf_dir, """
        SELECT n.n_name AS nation, COUNT(*) AS n_customers
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name ORDER BY nation
    """)
    rows = df.collect()
    assert len(rows) == 25 and all(r["n_customers"] > 0 for r in rows)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan  # views are plan aliases, not caches


def test_orc_round_trip_with_partitioning(spark, sf_dir, tmp_path):
    # ORC is the second columnar format: round-trip with a Hive-style
    # partition column, read back through a partition-pruning filter.
    from hdfs_with_pyspark_spark.sources.io import read_orc, write_orc
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate"))
    out = str(tmp_path / "orders_orc")
    write_orc(orders, out, partition_by=["o_year"])
    back = read_orc(spark, out)
    assert rows(back.select(*orders.columns)) == rows(orders)
    pruned = back.where(F.col("o_year") == 1996)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_year" in plan or "o_year#" in plan
    assert pruned.count() == orders.where(F.year("o_orderdate") == 1996).count()


def test_json_corrupt_record_capture(spark, tmp_path):
    # PERMISSIVE mode routes malformed lines into the declared
    # _corrupt_record column instead of failing the 100 TB job at file
    # 3 of 800k; FAILFAST is the strict-ingestion-gate variant.
    from hdfs_with_pyspark_spark.sources.io import read_json
    p = tmp_path / "rows.json"
    p.write_text('{"a": 1, "b": "x"}\n{"a": oops}\n{"a": 3, "b": "y"}\n')
    schema = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
        T.StructField("_corrupt_record", T.StringType()),
    ])
    df = read_json(spark, str(p), schema).cache()
    good = df.where(F.col("_corrupt_record").isNull())
    bad = df.where(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2 and bad.count() == 1
    assert "oops" in bad.first()["_corrupt_record"]


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    import glob
    from hdfs_with_pyspark_spark.sources.io import compact_parquet
    # Simulate micro-batch sliver accumulation: 40 tiny files.
    src = str(tmp_path / "slivers")
    read_table(spark, sf_dir, "orders").repartition(40).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*")) == 40
    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, out, target_file_mb=128)
    assert n == 1  # a few MB of data -> one file at a 128 MB target
    assert len(glob.glob(f"{out}/part-*")) == 1
    assert rows(spark.read.parquet(out)) == rows(spark.read.parquet(src))


def test_observe_quality_metrics_in_one_pass(spark, sf_dir, tmp_path):
    # Quality counters ride the job's own pass (df.observe): after the
    # write action the Observation holds row/null/domain counts — no
    # second scan. The standard ingestion-gate instrumentation at scale.
    from hdfs_with_pyspark_spark.functions.quality import observe_quality
    from hdfs_with_pyspark_spark.functions.geo import with_synth_event_coords
    ev = with_synth_event_coords(read_table(spark, sf_dir, "events"))
    inst, obs = observe_quality(ev, null_cols=["lat"],
                                domain={"value": (0.0, 1e9)})
    inst.write.mode("overwrite").parquet(str(tmp_path / "out"))
    stats = obs.get
    assert stats["n_rows"] == ev.count()
    assert stats["n_null_lat"] == ev.where(F.col("lat").isNull()).count()
    assert stats["n_out_of_range_value"] >= 0


def test_overwrite_partitions_leaves_siblings_intact(spark, sf_dir, tmp_path):
    # Dynamic partition overwrite replaces only the partitions present in
    # the incoming frame; static overwrite (the default) would truncate
    # the whole table — the incremental-mart data-loss foot-gun.
    from hdfs_with_pyspark_spark.sources.io import overwrite_partitions, write_parquet
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate"))
    out = str(tmp_path / "marts_dyn")
    write_parquet(orders, out, partition_by=["o_year"])
    before = spark.read.parquet(out)
    n_1996 = before.where(F.col("o_year") == 1996).count()
    n_other = before.where(F.col("o_year") != 1996).count()
    # "recompute" 1996 with a marker change and overwrite just that slice
    patch = (orders.where(F.col("o_year") == 1996)
                   .withColumn("o_orderpriority", F.lit("RECOMPUTED")))
    overwrite_partitions(patch, out, ["o_year"])
    after = spark.read.parquet(out)
    assert after.where(F.col("o_year") != 1996).count() == n_other
    got_1996 = after.where(F.col("o_year") == 1996)
    assert got_1996.count() == n_1996
    assert got_1996.select("o_orderpriority").distinct().collect()[0][0] == "RECOMPUTED"
    # session conf restored
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper() == "STATIC"


def test_events_ts_physical_type_autodetect(spark, tmp_path):
    """read_table must handle BOTH events.ts physical encodings the
    testdata generator has produced across rounds: TIMESTAMP(NANOS)
    (read as long + converted) and TIMESTAMP(MICROS) (read directly).
    Same logical rows either way."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hdfs_with_pyspark_spark.sources.io import read_table

    ts = [dt.datetime(2024, 1, 1, 12, 0, 0, 123456),
          dt.datetime(2024, 2, 2, 3, 4, 5, 654321)]
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([7, 8], pa.int64()),
        "event_type": pa.array(["click", "error"]),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(['{"k": 1}', None]),
    }
    for unit, sub in (("ns", "nanos"), ("us", "micros")):
        d = tmp_path / sub
        d.mkdir()
        tbl = pa.table({"event_id": cols["event_id"],
                        "ts": pa.array(ts, pa.timestamp(unit)),
                        "user_id": cols["user_id"],
                        "event_type": cols["event_type"],
                        "value": cols["value"],
                        "props": cols["props"]})
        pq.write_table(tbl, d / "events.parquet")
        got = (read_table(spark, str(d), "events")
               .select("event_id", "ts").collect())
        by_id = {r["event_id"]: r["ts"] for r in got}
        assert by_id[1] == ts[0], f"{sub}: {by_id[1]!r}"
        assert by_id[2] == ts[1], f"{sub}: {by_id[2]!r}"


def test_synthetic_datasource_partitions_and_determinism(spark):
    """The custom Python DataSource must parallelize via its declared
    partitions and produce identical rows on every read (pure function
    of the row id)."""
    from hdfs_with_pyspark_spark.sources.pyds import (
        register_synthetic_source,
        synth_row,
    )
    register_synthetic_source(spark)
    df = (spark.read.format("synthetic_events")
          .option("n", 500).option("parts", 5).load())
    assert df.rdd.getNumPartitions() == 5
    rows = {r["event_id"]: (r["event_id"], r["user_id"], r["event_type"],
                            r["value"]) for r in df.collect()}
    assert len(rows) == 500
    for i in (0, 96, 97, 499):
        assert rows[i] == synth_row(i)
    again = (spark.read.format("synthetic_events")
             .option("n", 500).option("parts", 3).load().collect())
    assert {r["event_id"] for r in again} == set(rows)  # parts-invariant


# Every schema the library hands local_frame, with rows of the shapes its
# call sites pass: NULLs, array<double>, strings, an empty list.
LOCAL_FRAME_CASES = [
    ([(900001, "NEW_CUST_1", 10.0), (900002, None, 20.5)],
     "c_custkey long, c_name string, c_acctbal double"),
    ([("low", 0.0, 100000.0), ("high", 250000.0, 1e18), ("x", None, None)],
     "band string, lo double, hi double"),
    ([], "new_doc_id long, corpus_doc_id long, jaccard double"),
    ([(0, [0.25, -1.5, 3.0]), (1, None), (2, [None, 1e-300])],
     "cid long, cv array<double>"),
    ([(0, 3, [0.5] * 16), (3, 15, [-0.0, 2.0])],
     "sub int, cid long, cv array<double>"),
    ([(1, 7, 7)], "cluster_size long, n_clusters long, n_docs long"),
    ([(500000,), (800000,), (None,)], "threshold_ppm long"),
    ([(32, 1), (16, 2)], "bands long, n_rows long"),
    ([("th", "en", 3), ("é", None, None)], "bg string, plang string, w long"),
    ([(1, "t", "h", 42)],
     "round long, left_sym string, right_sym string, pair_count long"),
    ([(0, 0, 0.125), (0, 1, -2.0)], "cid long, dim long, v double"),
    ([(1, 0.1), (2, None)], "dim long, weight double"),
    ([(1,), (4,)], "nprobe long"),
    ([(0, 3), (0, 5)], "query_id long, cid long"),
    ([("both",), ("text_only_disagree",)], "category string"),
    (demo._rows(), schemas.GEO_EVENTS),
    (demo._CITIES, schemas.GEO_CITIES),
]


@pytest.mark.parametrize("rows,schema", LOCAL_FRAME_CASES,
                         ids=[str(i) for i in range(len(LOCAL_FRAME_CASES))])
def test_local_frame_matches_create_dataframe(spark, rows, schema):
    local = local_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert local.schema == ref.schema
    assert local.collect() == ref.collect()
    plan = local._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_local_frame_takes_collected_rows_with_their_struct(spark, sf_dir):
    # lineitem_footer_stats and join_key_skew_stats re-wrap collected
    # Rows under the aggregate's own StructType (non-nullable counts,
    # decimals) onto a local frame.
    agg = (read_table(spark, sf_dir, "lineitem")
           .agg(F.count("*").alias("n_rows"),
                F.min("l_orderkey").alias("min_orderkey"),
                F.max("l_quantity").alias("max_qty"),
                F.lit(None).cast("decimal(12,2)").alias("no_value")))
    rows = agg.collect()
    local = local_frame(spark, rows, agg.schema)
    assert local.schema == spark.createDataFrame(rows, agg.schema).schema
    assert local.schema == agg.schema
    assert local.collect() == rows


def test_library_builds_constant_tables_only_through_local_frame():
    """``createDataFrame(<list>)`` plans a Python RDD scan: a Python-worker
    stage on every use. The only createDataFrame call in the library is
    the one inside sources.io.local_frame."""
    root = os.path.dirname(hdfs_with_pyspark_spark.__file__)
    found = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as f:
                tree = ast.parse(f.read())
            helper = set()
            for node in ast.walk(tree):
                if (isinstance(node, ast.FunctionDef)
                        and node.name == "local_frame"
                        and os.path.relpath(path, root) == os.path.join(
                            "sources", "io.py")):
                    helper = set(range(node.lineno, node.end_lineno + 1))
            found += [f"{os.path.relpath(path, root)}:{node.lineno}"
                      for node in ast.walk(tree)
                      if isinstance(node, ast.Call)
                      and isinstance(node.func, ast.Attribute)
                      and node.func.attr == "createDataFrame"
                      and node.lineno not in helper]
    assert found == []
