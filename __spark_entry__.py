"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``hdfs_with_pyspark_spark`` package; this file
only adapts the registry to the driver's calling convention.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from hdfs_with_pyspark_spark.plans.registry import (  # noqa: E402
    ORACLES,
    QUERIES,
    finalize_order,
)

# The driver's correctness gate reads the first N registered queries:
# pin the capability-priority order (see registry.DRIVER_PRIORITY).
finalize_order()

FLAGSHIP = "geo_city_event_counts"
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the full engine spine — schema-enforced
    scan -> synth geo -> map-side nearest-city argmin -> aggregation."""
    return QUERIES[FLAGSHIP](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query."""
    return dict(ORACLES)
