from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hdfs_with_pyspark_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hdfs_with_pyspark_spark-tests", master="local[4]")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="module", autouse=True)
def _free_session_state_after_module():
    """Every test module runs in the one test JVM. Dropping the memos,
    pins and cached blocks a module left behind keeps the registry
    passes of later modules from running next to all earlier modules'
    state; a module that needs a frame builds it again."""
    yield
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    if spark is None:       # the module never started Spark
        return
    from hdfs_with_pyspark_spark import state
    state.clear(spark)
    spark.catalog.clearCache()


@pytest.fixture(autouse=True)
def _clear_state_around_monkeypatch(request):
    """A monkeypatched reader or module constant changes what a fixed
    sf_dir yields — an in-place rewrite that session-state keys cannot
    see. Such tests start and end with a cleared session state."""
    if not {"monkeypatch", "spark"} <= set(request.fixturenames):
        yield
        return
    from hdfs_with_pyspark_spark import state
    spark = request.getfixturevalue("spark")
    state.clear(spark)
    yield
    state.clear(spark)
