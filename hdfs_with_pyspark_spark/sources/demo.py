"""Deterministic demo fixture in the reference's input layout.

``run_marts.py`` (the spark-submit entry) needs real input paths; when
the caller supplies none, this module materializes a small, fully
deterministic events+cities dataset in the reference layout — nested
``event`` struct, Hive date-partitioned parquet (schemas.GEO_EVENTS /
GEO_CITIES; reference layout: src/scripts/project_step_1.py input
contract) — so the orchestration surface can be smoke-run end-to-end
with zero external state. Values are fixed (no clocks, no RNG): every
run writes byte-identical mart inputs.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import SparkSession

from hdfs_with_pyspark_spark import schemas
from hdfs_with_pyspark_spark.sources.io import local_frame, write_parquet

#: The single date carrying positioned messages for every demo user —
#: the natural ``--date`` for the friends mart.
DEMO_DATE = "2024-03-15"

_CITIES = [
    (1, "alpha", 0.0, 0.0),
    (2, "bravo", 10.0, 10.0),
    (3, "charlie", 0.5, 0.5),
]


def _ts(day: int, hour: int = 12) -> datetime.datetime:
    return datetime.datetime(2024, 3, day, hour, 0, 0)


def _msg(uid, day, lat, lon, mid, to=None, hour=12):
    return ((uid, to, mid, _ts(day, hour), _ts(day, hour), None, None, None),
            "message", lat, lon, f"2024-03-{day:02d}")


def _sub(uid, channel, day):
    return ((None, None, None, None, _ts(day), None, uid, channel),
            "subscription", None, None, f"2024-03-{day:02d}")


def _rows():
    rows, mid = [], 0
    # Six users spiralling around the three cities over March 1-28; all
    # of them message on DEMO_DATE so the friends mart has positions.
    for uid in range(1, 7):
        base_lat, base_lon = _CITIES[uid % 3][2], _CITIES[uid % 3][3]
        for day in range(1, 29):
            if (day + uid) % 4 == 0 and day != 15:
                continue        # gaps keep the home-streak logic honest
            mid += 1
            rows.append(_msg(uid, day,
                             base_lat + 0.001 * day,
                             base_lon + 0.0005 * uid,
                             mid,
                             to=(uid % 6) + 1 if day % 7 == 0 else None))
    # Channel co-subscriptions: 100 spans users 1-4, 200 spans 4-6.
    for uid in (1, 2, 3, 4):
        rows.append(_sub(uid, 100, uid))
    for uid in (4, 5, 6):
        rows.append(_sub(uid, 200, uid + 2))
    return rows


def ensure_demo_inputs(spark: SparkSession, base_dir: str) -> tuple[str, str]:
    """Write (idempotently) the demo events+cities under ``base_dir``;
    return ``(events_path, cities_path)``. Re-running overwrites with
    identical bytes, so a half-written previous attempt self-heals.
    """
    events_path = os.path.join(base_dir, "demo_events")
    cities_path = os.path.join(base_dir, "demo_cities")
    events = local_frame(spark, _rows(), schemas.GEO_EVENTS)
    write_parquet(events, events_path, partition_by=["date"])
    write_parquet(local_frame(spark, _CITIES, schemas.GEO_CITIES),
                  cities_path)
    return events_path, cities_path
