"""The three benchmark workloads.

Each workload generates its inputs from the seed (untimed), then runs
iterations: ``prepare`` (untimed), ``run`` (timed: from the first library
call to the result) and ``check`` (untimed). Every mart task and every
query call is one operation; ``run`` and ``check`` return
``{operation: problem or None}``.

The library is reached only through its public entry points:
``sources.io``, ``marts.reference`` and ``pipeline.DAG`` the way
``scripts/run_marts.py`` uses them, and ``QUERIES[name](spark, sf_dir)``.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.dataset as ds

import checks
import gen

GEO_EVENTS = 50_000
LLM_CORPUS = gen.CorpusSize(docs=5_000, vectors=2_000)
SUITE_CORPUS = gen.CorpusSize(docs=500, vectors=1_000, lineitems=60_000,
                              users=1_000, events=20_000)
FRIEND_MAX_KM = 100.0       # run_marts.py's default threshold

LLM_OPS = ["ann_topk_pq", "ann_topk_ivf", "bm25_topk"]
SUITE_OPS = ["pricing_summary", "user_sessions", "events_funnel_conversion",
             "stream_session_stats", "ann_topk_pq"]


def layer_of(fn) -> str:
    """The library module a registered query lives in: plans, llm or streaming."""
    return fn.__module__.split(".")[1]


class GeoMarts:
    """The paper's job: three marts as a DAG over the reference event log."""

    name = "geo_marts"
    ops = ("user_mart", "zone_mart", "friend_recommendations")
    warmup_iterations = 1   # the cold iteration: class loading, Python workers

    def __init__(self, seed: int, work: str):
        self.work = work
        self.inputs = os.path.join(work, "geo_input")
        self.plant = gen.write_geo(seed, self.inputs, n_events=GEO_EVENTS)
        self.events = os.path.join(self.inputs, "events")
        self.cities = os.path.join(self.inputs, "cities")
        self.totals = checks.geo_type_totals(self.events)
        self.input_rows = ds.dataset(self.events, format="parquet").count_rows()
        self.dag_reports: dict[int, dict] = {}
        self.makespan: dict[int, float] = {}

    def out_dir(self, it: int) -> str:
        return os.path.join(self.work, "geo_out", f"iter{it}")

    def prepare(self, ctx, it: int) -> None:
        pass

    def run(self, ctx, it: int) -> dict[str, str | None]:
        import time

        from pyspark.sql import functions as F

        from hdfs_with_pyspark_spark import schemas
        from hdfs_with_pyspark_spark.marts import reference as R
        from hdfs_with_pyspark_spark.pipeline import DAG, Task
        from hdfs_with_pyspark_spark.sources.io import (
            read_events_partition,
            read_geo_events,
            write_parquet,
        )

        spark, tr, out = ctx.spark, ctx.tracer, self.out_dir(it)
        with tr.span(it, "sources", "read", "inputs"):
            events = read_geo_events(spark, self.events)
            cities = spark.read.schema(schemas.GEO_CITIES).parquet(self.cities)
            on_date = read_events_partition(spark, self.events, gen.PROCESSING_DATE)

        builds = {
            "user_mart": lambda: R.user_mart(events, cities),
            "zone_mart": lambda: R.zone_mart(events, cities),
            "friend_recommendations": lambda: R.friend_recommendations(
                events, on_date, cities, FRIEND_MAX_KM).withColumn(
                "processed_dttm",
                F.date_format("processed_dttm", "yyyy-MM-dd HH:mm:ss")),
        }

        def task(name):
            def fn():
                with tr.span(it, "marts", "construct", name):
                    df = builds[name]()
                with tr.span(it, "sources", "write", name):
                    write_parquet(df, os.path.join(out, name))
            return fn

        dag = DAG("marts")
        for name in self.ops:
            dag.add(Task(name, task(name), retries=2))
        t0 = time.perf_counter()
        reports = dag.run(raise_on_failure=False)
        self.makespan[it] = time.perf_counter() - t0
        self.dag_reports[it] = reports
        return {n: (None if r.state.value == "success" else f"{r.state.value}: {r.error}")
                for n, r in reports.items()}

    def check(self, ctx, it: int, result: dict) -> dict[str, str | None]:
        problems = checks.geo_marts_problems(self.out_dir(it), self.plant, self.totals)
        return {op: result.get(op) or problems.get(op) for op in self.ops}

    def cleanup(self, it: int) -> None:
        shutil.rmtree(self.out_dir(it), ignore_errors=True)


class QuerySuite:
    """Registered queries, collected; ``fresh`` re-reads the same bytes
    from a directory the session has not seen on every iteration."""

    warmup_iterations = 1   # the cold iteration that fills the session's memos

    def __init__(self, name: str, ops: list[str], seed: int, work: str,
                 size: gen.CorpusSize, fresh: bool):
        from hdfs_with_pyspark_spark.plans.registry import ORACLES, QUERIES

        # A fixed query order: the order alone moved a suite iteration by
        # up to 40% (7.2 vs 10.4 s) between otherwise equal runs.
        self.name, self.work, self.fresh = name, work, fresh
        self.ops = list(ops)
        self.queries = QUERIES
        self.source = os.path.join(work, "corpus")
        rows = gen.write_corpus(seed, self.source, size)
        self.input_rows = sum(rows.values())
        self.expected = checks.oracle_rowsets(self.source, self.ops, ORACLES)
        self.results: dict[int, dict] = {}

    def sf_dir(self, it: int) -> str:
        return os.path.join(self.work, f"iter{it}") if self.fresh else self.source

    def prepare(self, ctx, it: int) -> None:
        if self.fresh:
            shutil.copytree(self.source, self.sf_dir(it))

    def run(self, ctx, it: int) -> dict[str, str | None]:
        tr, sf_dir, out = ctx.tracer, self.sf_dir(it), {}
        self.results[it] = {}
        for q in self.ops:
            layer = layer_of(self.queries[q])
            try:
                with tr.span(it, layer, "construct", q):
                    df = self.queries[q](ctx.spark, sf_dir)
                with tr.span(it, layer, "collect", q):
                    rows = df.collect()
                    cols = df.columns
                self.results[it][q] = (cols, rows)
                out[q] = None
            except Exception as e:  # noqa: BLE001 -- a failed operation, counted
                out[q] = f"{type(e).__name__}: {str(e)[:300]}"
        return out

    def check(self, ctx, it: int, result: dict) -> dict[str, str | None]:
        got = self.results.pop(it)
        return {q: result[q] or checks.query_matches(self.expected[q], *got[q])
                for q in self.ops}

    def cleanup(self, it: int) -> None:
        pass


def import_library(name: str) -> None:
    """Import the entry points a workload calls (part of its set-up)."""
    if name == "geo_marts":
        import hdfs_with_pyspark_spark.marts.reference  # noqa: F401
        import hdfs_with_pyspark_spark.pipeline  # noqa: F401
        import hdfs_with_pyspark_spark.sources.io  # noqa: F401
    else:
        import hdfs_with_pyspark_spark.plans.registry  # noqa: F401


def make(name: str, seed: int, work: str):
    if name == "geo_marts":
        return GeoMarts(seed, work)
    if name == "llm_fresh":
        return QuerySuite(name, LLM_OPS, seed, work, LLM_CORPUS, fresh=True)
    if name == "query_suite":
        return QuerySuite(name, SUITE_OPS, seed, work, SUITE_CORPUS, fresh=False)
    raise KeyError(name)


WORKLOADS = ("geo_marts", "llm_fresh", "query_suite")
