#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run every
``queries()[name]`` in Spark and its ``oracle_sql()[name]`` in DuckDB on
the same parquet, compare row count, column names, and order-insensitive
values.

Usage: python scripts/check_oracle_parity.py [--sf DIR] [--only name,...]

``--sf`` is the directory holding the scale factor's parquet tables
(``region.parquet`` ...), checked before Spark starts.

Exit status: 0 when every query passes, 1 when some fail, 2 on a bad
argument or when the Spark JVM is lost mid-run (the remaining queries
are not run).
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(v):
    """Best-effort canonical form mirroring an order-insensitive value hash."""
    import datetime
    import numpy as np
    if v is None:
        return "<null>"
    if isinstance(v, float) and math.isnan(v):
        return "<nan>"
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return int(v)  # 3.0 == 3 across engines
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(normalize(x) for x in v)
    if isinstance(v, (int, str, bool, bytes)):
        return v
    return str(v)


def to_rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(normalize(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                                                   "/root/testdata/sf0.01"))
    ap.add_argument("--only", default=None)
    ap.add_argument("--master", default="local[8]",
                    help="e.g. local[5] for the partition-invariance sweep")
    ap.add_argument("--shuffle-partitions", default=None,
                    help="override spark.sql.shuffle.partitions (invariance "
                         "sweeps run the suite under e.g. 7)")
    ap.add_argument("--ansi", action="store_true",
                    help="run the Spark side under spark.sql.ansi.enabled="
                         "true — flushes silent-overflow / divide-by-zero "
                         "hazards the default mode swallows")
    args = ap.parse_args()
    missing = [f"{t}.parquet" for t in TABLES
               if not os.path.exists(os.path.join(args.sf, f"{t}.parquet"))]
    if missing:
        more = f" or {len(missing) - 1} more tables" if len(missing) > 1 else ""
        ap.error(f"--sf {args.sf}: no {missing[0]}{more}; pass the directory "
                 "holding a scale factor's parquet tables")

    import duckdb
    import __spark_entry__ as e
    from hdfs_with_pyspark_spark.session import get_spark

    spark = get_spark("oracle-parity", master=args.master)
    if args.shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions",
                       args.shuffle_partitions)
    if args.ansi:
        spark.conf.set("spark.sql.ansi.enabled", "true")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{args.sf}/{t}.parquet')")

    qs, oracles = e.queries(), e.oracle_sql()
    names = list(qs) if not args.only else args.only.split(",")
    failures = check_queries(spark, con, qs, oracles, names, args.sf)
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


def check_queries(spark, con, qs, oracles, names, sf) -> list[str]:
    """Compare each named query with its oracle; return the failed names.

    A lost connection to the JVM (most often the JVM was killed, e.g. out
    of memory) stops the run with one line instead of failing every later
    query with "Connection refused": exits with status 2.
    """
    from py4j.protocol import Py4JNetworkError

    failures = []
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except (Py4JNetworkError, ConnectionError) as ex:
            print(f"ABORT {name}: lost the Spark JVM ({type(ex).__name__}); it "
                  f"most likely died (e.g. killed out of memory); "
                  f"{len(names) - i - 1} later queries not run")
            raise SystemExit(2) from ex
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {ex}")
            continue
        if name not in oracles:
            print(f"OK?   {name}: rows={len(srows)} (no oracle — rows-only check)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {ex}")
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema: spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount: spark={len(srows)} duck={len(drows)}")
        if not problems:
            a, b = to_rowset(scols, srows), to_rowset(dcols, drows)
            if a != b:
                only_a = [k for k in a if a[k] != b.get(k)][:3]
                only_b = [k for k in b if b[k] != a.get(k)][:3]
                problems.append(f"values: spark-side {only_a} vs duck-side {only_b}")
        dt = time.time() - t0
        if problems:
            failures.append(name)
            print(f"FAIL  {name} ({dt:.1f}s): " + " | ".join(problems))
        else:
            print(f"PASS  {name} ({dt:.1f}s, {len(srows)} rows)")
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
