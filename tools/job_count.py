#!/usr/bin/env python
"""Count Spark jobs + wall time for one registered query: run it twice
(warm), report the number of Spark jobs the second run launched and its
wall time. Job count is the deterministic proxy for the per-action
latency floor (guide §1.2: remove actions/passes before tuning them).

Usage: python tools/job_count.py <query> [<query> ...] [--sf DIR]
"""

from __future__ import annotations

import argparse
import sys
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spark_etl_framework_spark.queries import QUERIES  # noqa: E402
from spark_etl_framework_spark.session import get_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    spark = get_session("job_count")
    from spark_etl_framework_spark.catalog import TABLES, load_table

    for name in TABLES:
        load_table(spark, args.sf, name).count()

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for q in args.queries:
        fn = QUERIES[q]
        fn(spark, args.sf).count()  # warm run
        # the timed run gets its own job group, so jobs from anything
        # else in the session cannot change the count
        group = f"job_count-{q}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, f"job_count {q}")
        try:
            t0 = time.time()
            fn(spark, args.sf).count()
            wall = time.time() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = tracker.getJobIdsForGroup(group)
        print(f"{q}: {len(jobs)} jobs, {wall:.3f}s warm")


if __name__ == "__main__":
    main()
