"""plans/registry.py's registration contract, checked without a JVM:
``register`` pins the session confs before a query body runs and takes
every oracle either as SQL text or as the builder of a composed oracle."""

from __future__ import annotations

import inspect

import pytest

from hdfs_with_pyspark_spark.plans import registry
from hdfs_with_pyspark_spark.plans.registry import (
    DEFERRED_ORACLES,
    ORACLES,
    QUERIES,
    finalize_order,
    register,
)

SESSION_CONFS = [
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"),
    ("spark.sql.execution.pythonUDTF.arrow.enabled", "true"),
]


class _Conf:
    def __init__(self):
        self.sets: list[tuple[str, str]] = []

    def set(self, key, value):
        self.sets.append((key, value))


class _Session:
    def __init__(self):
        self.conf = _Conf()


@pytest.fixture
def throwaway():
    """Query names no module registers; dropped from the registry after."""
    names = [f"_registry_test_probe{i}" for i in range(3)]
    yield names
    for d in (QUERIES, ORACLES, DEFERRED_ORACLES):
        for name in names:
            d.pop(name, None)


def test_register_sets_session_confs_before_the_body(throwaway):
    name = throwaway[0]
    seen = []

    @register(name, "SELECT 1 AS x")
    def probe(spark, sf_dir, *rest, **kw):
        """Probe docstring."""
        seen.append((list(spark.conf.sets), sf_dir, rest, kw))
        return "frame"

    spark = _Session()
    assert QUERIES[name] is probe
    assert probe(spark, "sf", 3, k=4) == "frame"
    assert seen == [(SESSION_CONFS, "sf", (3,), {"k": 4})]
    assert probe.__module__ == __name__
    assert probe.__name__ == "probe"
    assert probe.__doc__ == "Probe docstring."
    # the wrapper's code lives in registry.py; unwrap reaches the body
    assert inspect.getfile(inspect.unwrap(probe)) == __file__
    assert ORACLES[name] == "SELECT 1 AS x"


def test_register_takes_no_default_oracle():
    param = inspect.signature(register).parameters["oracle"]
    assert param.default is inspect.Parameter.empty


def test_builder_oracle_builds_at_registration(throwaway):
    name = throwaway[0]

    @register(name, lambda: f"SELECT * FROM ({ORACLES['pricing_summary']})")
    def probe(spark, sf_dir):
        return None

    assert ORACLES[name] == f"SELECT * FROM ({ORACLES['pricing_summary']})"
    assert name not in DEFERRED_ORACLES


def test_finalize_builds_deferred_builders_in_any_order(throwaway):
    # a reads b's oracle and b reads c's; both register before c, so both
    # wait, and a waits ahead of b in DEFERRED_ORACLES
    a, b, c = throwaway
    register(a, lambda: f"SELECT * FROM ({ORACLES[b]})")(lambda s, d: None)
    register(b, lambda: f"SELECT * FROM ({ORACLES[c]})")(lambda s, d: None)
    assert list(DEFERRED_ORACLES)[-2:] == [a, b]
    register(c, "SELECT 1 AS x")(lambda s, d: None)
    finalize_order()
    assert ORACLES[a] == "SELECT * FROM (SELECT * FROM (SELECT 1 AS x))"
    assert a not in DEFERRED_ORACLES and b not in DEFERRED_ORACLES


def test_strict_finalize_raises_for_an_unbuildable_oracle(throwaway):
    name = throwaway[0]
    register(name, lambda: ORACLES[throwaway[1]])(lambda s, d: None)
    with pytest.raises(KeyError):
        finalize_order()
    finalize_order(strict=False)
    assert name in DEFERRED_ORACLES


def test_strict_finalize_leaves_every_query_a_sql_oracle():
    finalize_order()
    assert not DEFERRED_ORACLES
    assert list(ORACLES) == list(QUERIES)
    assert all(isinstance(ORACLES[n], str) for n in QUERIES)
    assert list(QUERIES)[:len(registry.DRIVER_PRIORITY)] == \
        registry.DRIVER_PRIORITY
