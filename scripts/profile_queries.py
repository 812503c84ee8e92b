#!/usr/bin/env python3
"""Per-query execution profile: wall time, Spark job count, stage/task
counts. Optimization-round tooling (guide §1): at small SF the bench is
dominated by per-job fixed costs, so a query whose construction or
execution fires many jobs (driver-side loops, persist materializations,
memo counts) shows up here before any plan reading.

Every run starts from an empty cache and an empty session state
(``spark.catalog.clearCache()`` + ``state.clear(spark)``), so the best
time measures the query, not a driver-side memo hit.

Usage: python scripts/profile_queries.py --only q1,q2 [--sf DIR] [--runs 2]
Prints one line per query: name, best wall sec, jobs, stages, tasks, and
the pinned frames and memos the query left in the session state.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--only", required=True)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from hdfs_with_pyspark_spark import state
    from hdfs_with_pyspark_spark.session import get_spark
    from hdfs_with_pyspark_spark.plans.registry import QUERIES
    import __spark_entry__  # noqa: F401

    spark = get_spark("profile-queries", master=args.master)
    sc = spark.sparkContext
    spark.range(1000).selectExpr("sum(id)").collect()

    names = [n.strip() for n in args.only.split(",") if n.strip()]
    print(f"{'query':42s} {'best_s':>7s} {'jobs':>5s} {'stages':>7s} "
          f"{'tasks':>6s} {'pinned':>6s} {'memos':>5s}  "
          f"(runs={args.runs}, sf={args.sf})")
    for name in names:
        if name not in QUERIES:
            print(f"SKIP {name}", file=sys.stderr)
            continue
        best = None
        stats = None
        for r in range(args.runs):
            spark.catalog.clearCache()
            state.clear(spark)
            group = f"prof-{name}-{r}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            QUERIES[name](spark, args.sf).collect()
            dt = time.time() - t0
            tracker = sc.statusTracker()
            jids = tracker.getJobIdsForGroup(group)
            n_stages = 0
            n_tasks = 0
            for jid in jids:
                ji = tracker.getJobInfo(jid)
                if ji is None:
                    continue
                for sid in ji.stageIds:
                    si = tracker.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        n_stages += 1
                        n_tasks += si.numCompletedTasks
            kinds = [e["kind"] for e in state.inventory(spark)]
            if best is None or dt < best:
                best = dt
                stats = (len(jids), n_stages, n_tasks,
                         kinds.count(state.PINNED), kinds.count(state.MEMO))
            sc.setJobGroup("", "")
        print(f"{name:42s} {best:7.3f} {stats[0]:5d} {stats[1]:7d} "
              f"{stats[2]:6d} {stats[3]:6d} {stats[4]:5d}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
