"""The benchmark's own tests: ``python3 -m pytest perfbench/tests -q``.

The generator and metric-name tests need no Spark; the memo tests start
one local session and take about two minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq
import pytest

import gen
import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
TINY = gen.CorpusSize(docs=300, vectors=300, lineitems=3_000, users=100, events=2_000)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generators_are_deterministic(tmp_path):
    for i in (1, 2):
        gen.write_geo(5, str(tmp_path / f"geo{i}"), n_events=5_000)
        gen.write_corpus(5, str(tmp_path / f"corpus{i}"), TINY)
    gen.write_corpus(6, str(tmp_path / "other"), TINY)
    assert _same_tree(str(tmp_path / "geo1"), str(tmp_path / "geo2"))
    assert _same_tree(str(tmp_path / "corpus1"), str(tmp_path / "corpus2"))
    assert not _same_tree(str(tmp_path / "corpus1"), str(tmp_path / "other"))


def test_planted_geo_cases_are_present(tmp_path):
    plant = gen.write_geo(3, str(tmp_path), n_events=5_000)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet("
                f"'{tmp_path}/events/*/*.parquet', hive_partitioning = true)")
    days = dict(con.execute(
        "SELECT event.message_from, count(DISTINCT date) FROM ev "
        f"WHERE event.message_from >= {gen.PLANT_BASE} AND event_type = 'message' "
        "GROUP BY 1").fetchall())
    assert sorted(v for u, v in days.items() if u in plant.home) == [26, 26, 27, 27, 28, 28]
    assert sum(1 for h in plant.home.values() if h) == 2
    subs = con.execute(
        "SELECT event.subscription_channel, count(*) FROM ev "
        f"WHERE event.subscription_channel >= {gen.PLANT_BASE} GROUP BY 1").fetchall()
    assert sorted(n for _, n in subs) == [2, 2, 2]
    on_date = {r[0] for r in con.execute(
        f"SELECT event.message_from FROM ev WHERE date = '{gen.PROCESSING_DATE}' "
        f"AND event.message_from >= {gen.PLANT_BASE}").fetchall()}
    for a, b, _ in plant.friends_yes:
        assert {a, b} <= on_date
    for a, b in plant.friends_no:
        assert {a, b} <= on_date
    share = con.execute("SELECT avg(CASE WHEN lat IS NULL THEN 0 ELSE 1 END) FROM ev "
                        f"WHERE event.\"user\" IS NULL OR event.\"user\" < {gen.PLANT_BASE}"
                        ).fetchone()[0]
    assert 0.75 < share < 0.95


def test_planted_corpus_cases_are_present(tmp_path):
    gen.write_corpus(4, str(tmp_path), TINY)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pylist()
    for i in range(1, len(docs), 20):
        a, b = docs[i - 1]["text"].split(), docs[i]["text"].split()
        assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 1
        assert "dup" in b
    vec = np.array(pq.read_table(tmp_path / "embeddings.parquet")
                   .column("embedding").to_pylist())
    idx = np.arange(1, len(vec), 25)
    assert (np.sum(vec[idx] * vec[idx - 1], axis=1) > 0.99).all()
    assert np.allclose(np.linalg.norm(vec, axis=1), 1.0, atol=1e-5)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    names = list(e2e) + list(layer) + [w["name"] for w in bench["workloads"]]
    assert all(NAME.match(n) and len(n) <= 64 for n in names)
    assert len(set(names)) == len(names)
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


# ---------------------------------------------------------------- memos
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("session"))
    run.launch_env(work, trace=False)
    session, _ = run.start_session()
    yield session
    run.stop_session(session)


def _construct_jobs(spark, tmp_path, fresh: bool) -> list[int]:
    """Jobs ``ann_topk_pq`` fires while building, per iteration (first = warm-up).

    Job groups name the iteration, so each call numbers its iterations
    apart from the other tests sharing the session."""
    import tracing

    wl = workloads.QuerySuite("memo", ["ann_topk_pq"], 1, str(tmp_path), TINY, fresh)
    tracer = tracing.Tracer(spark.sparkContext, enabled=True)
    ctx = run.Context(spark, tracer)
    counts = []
    first = 100 if fresh else 200
    for it in range(first, first + 3):
        wl.prepare(ctx, it)
        spark.catalog.clearCache()
        result = wl.run(ctx, it)
        assert not any(wl.check(ctx, it, result).values())
        span = next(s for s in tracer.spans if s.iteration == it and s.phase == "construct")
        counts.append(len(spark.sparkContext.statusTracker().getJobIdsForGroup(span.group)))
    return counts


def test_llm_fresh_misses_path_keyed_memos(spark, tmp_path):
    assert all(n > 0 for n in _construct_jobs(spark, tmp_path, fresh=True))


def test_query_suite_hits_path_keyed_memos(spark, tmp_path):
    warmup, *timed = _construct_jobs(spark, tmp_path, fresh=False)
    assert warmup > 0 and timed == [0, 0]
