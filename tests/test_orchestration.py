"""Orchestration artifacts: the spark-submit DAG spec and the
self-contained demo path of run_marts.py.

The Airflow layer itself can't run here (no airflow in the container);
what IS testable is the contract every layer shares: the one declarative
spec (scripts/airflow_marts_dag.py:MART_TASKS) and its wiring onto the
in-process runner. The subprocess spark-submit path is exercised by
injecting a recording runner — graph semantics without JVM cold-starts —
and the end-to-end `--mart` demo is driven in-process on the shared test
session (reference analog: src/dags/project_dag.py:29-67).
"""

from __future__ import annotations

import importlib.util
import os
import sys


def _load_script(name: str):
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def test_spec_covers_all_marts_and_airflow_is_optional():
    dagmod = _load_script("airflow_marts_dag")
    ids = [t["task_id"] for t in dagmod.MART_TASKS]
    assert ids == ["user_mart", "zone_mart", "friend_recommendations"]
    assert {t["mart"] for t in dagmod.MART_TASKS} == {"user", "zone", "friends"}
    # every application is the one spark-submit entry, and it exists
    for t in dagmod.MART_TASKS:
        assert os.path.exists(t["application"])
    # the module imports (and the Airflow hook degrades) without airflow
    assert dagmod.dag is None or dagmod.dag is not None


def test_process_dag_runs_spec_with_injected_runner():
    dagmod = _load_script("airflow_marts_dag")
    ran: list[str] = []
    dag = dagmod.build_process_dag(runner=lambda t: ran.append(t["mart"]))
    reports = dag.run(raise_on_failure=True)
    assert sorted(ran) == ["friends", "user", "zone"]
    assert all(r.state.value == "success" for r in reports.values())


def test_expand_args_threads_env_paths(monkeypatch):
    dagmod = _load_script("airflow_marts_dag")
    task = dagmod.MART_TASKS[0]
    assert dagmod.expand_args(task) == ["--mart", "user"]
    monkeypatch.setenv("MARTS_EVENTS", "/data/events")
    monkeypatch.setenv("MARTS_DATE", "2024-03-15")
    args = dagmod.expand_args(task)
    assert args[:2] == ["--mart", "user"]
    assert ("--events", "/data/events") == tuple(args[2:4])
    assert ("--date", "2024-03-15") == tuple(args[4:6])


def test_run_marts_demo_mode_builds_mart(spark, tmp_path):
    # The `spark-submit scripts/run_marts.py --mart user` demo path,
    # driven in-process on the shared session: no --events/--cities
    # materializes the deterministic fixture, builds the mart, writes
    # parquet under --out.
    runm = _load_script("run_marts")
    out = str(tmp_path / "marts")
    runm.main(["--mart", "user", "--out", out])
    mart = spark.read.parquet(os.path.join(out, "user_mart"))
    assert mart.count() == 6                      # one row per demo user
    assert {"user_id", "act_city", "home_city",
            "travel_count", "travel_array", "local_time"} <= set(mart.columns)


# ---------------------------------------------------------------- bench.py
# The movers_undispositioned gate (VERDICT r10 item 5): a >=1.5x upward
# mover whose implementing file changed since the base snapshot's commit
# must surface in BENCH_COMPARE.json unless a current-base,
# current-file-sha disposition entry exists. Pure-python: exercised
# against a throwaway git repo, no Spark.

def _load_bench():
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "bench.py")
    spec = importlib.util.spec_from_file_location("bench_mod", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_mod"] = mod
    spec.loader.exec_module(mod)
    return mod


def _git(repo, *a):
    import subprocess
    r = subprocess.run(["git", "-C", repo, *a], capture_output=True,
                       text=True)
    assert r.returncode == 0, r.stderr
    return r.stdout.strip()


def _mover_repo(tmp_path):
    """Throwaway repo: a committed base snapshot + a query module, then
    a post-base edit to that module."""
    import json as _json
    repo = str(tmp_path / "benchrepo")
    os.makedirs(repo)
    _git(repo, "init", "-q")
    _git(repo, "config", "user.email", "t@t")
    _git(repo, "config", "user.name", "t")
    qmod = os.path.join(repo, "qmod.py")
    with open(qmod, "w") as f:
        f.write("def my_query(spark, sf):\n    return None\n")
    with open(os.path.join(repo, "BENCH_DETAIL_r1.json"), "w") as f:
        _json.dump({"queries": {"my_query": 1.0}}, f)
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "base")
    # post-base edit to the implementing file
    with open(qmod, "a") as f:
        f.write("# changed\n")
    # unique module name per throwaway repo so pytest's shared
    # sys.modules can't hand a later test a stale file path
    modname = "qmod_" + os.path.basename(str(tmp_path))
    spec = importlib.util.spec_from_file_location(modname, qmod)
    qm = importlib.util.module_from_spec(spec)
    sys.modules[modname] = qm
    spec.loader.exec_module(qm)
    return repo, {"my_query": qm.my_query}


def test_bench_flags_changed_file_upward_mover(tmp_path):
    bench = _load_bench()
    repo, queries = _mover_repo(tmp_path)
    movers = {"my_query": {"prev_sec": 1.0, "cur_sec": 2.0, "ratio": 2.0}}
    assert bench._undispositioned_movers(
        repo, "BENCH_DETAIL_r1.json", 1, movers, queries) == ["my_query"]
    # downward movers are improvements, never flagged
    down = {"my_query": {"prev_sec": 2.0, "cur_sec": 1.0, "ratio": 0.5}}
    assert bench._undispositioned_movers(
        repo, "BENCH_DETAIL_r1.json", 1, down, queries) == []


def test_bench_disposition_suppresses_until_file_changes(tmp_path):
    import json as _json
    bench = _load_bench()
    repo, queries = _mover_repo(tmp_path)
    movers = {"my_query": {"prev_sec": 1.0, "cur_sec": 2.0, "ratio": 2.0}}
    sha = _git(repo, "hash-object", "qmod.py")
    with open(os.path.join(repo, bench.DISPOSITIONS_FILE), "w") as f:
        _json.dump({"my_query": {"base_round": 1, "file_sha": sha,
                                 "disposition": "jitter"}}, f)
    # valid entry (matching base_round + current sha): suppressed
    assert bench._undispositioned_movers(
        repo, "BENCH_DETAIL_r1.json", 1, movers, queries) == []
    # wrong base_round: not suppressed
    assert bench._undispositioned_movers(
        repo, "BENCH_DETAIL_r1.json", 2, movers, queries) == ["my_query"]
    # file edited after disposition: sha mismatch re-flags (a recurrence
    # would be a NEW, unreviewed mover)
    with open(os.path.join(repo, "qmod.py"), "a") as f:
        f.write("# edited again\n")
    assert bench._undispositioned_movers(
        repo, "BENCH_DETAIL_r1.json", 1, movers, queries) == ["my_query"]


def test_bench_unchanged_file_mover_not_flagged(tmp_path):
    # A mover whose implementing file did NOT change since the base
    # commit is session jitter by the drift protocol's own definition —
    # the flag is for changed-file movers only.
    bench = _load_bench()
    repo, queries = _mover_repo(tmp_path)
    _git(repo, "checkout", "--", "qmod.py")   # discard the post-base edit
    movers = {"my_query": {"prev_sec": 1.0, "cur_sec": 2.0, "ratio": 2.0}}
    assert bench._undispositioned_movers(
        repo, "BENCH_DETAIL_r1.json", 1, movers, queries) == []


def test_bench_resolves_registered_query_to_its_own_module(tmp_path):
    # register wraps the query in a function defined in plans/registry.py;
    # the mover gate must still read the module that holds the body
    from hdfs_with_pyspark_spark.plans.registry import ORACLES, QUERIES, register
    bench = _load_bench()
    repo, queries = _mover_repo(tmp_path)
    name = "_bench_mover_probe"
    try:
        wrapped = register(name, "SELECT 1 AS x")(queries["my_query"])
        movers = {"my_query": {"prev_sec": 1.0, "cur_sec": 2.0,
                               "ratio": 2.0}}
        assert bench._undispositioned_movers(
            repo, "BENCH_DETAIL_r1.json", 1, movers,
            {"my_query": wrapped}) == ["my_query"]
    finally:
        QUERIES.pop(name, None)
        ORACLES.pop(name, None)
