#!/usr/bin/env python
"""Trace every Spark job one registered query launches: job id, wall
time, and the call site that triggered it (from the Java status API).

Usage: python tools/job_trace.py <query> [--sf DIR]
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
    ap.add_argument("query")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    spark = get_session("job_trace")
    from spark_etl_framework_spark.catalog import TABLES, load_table

    for name in TABLES:
        load_table(spark, args.sf, name).count()

    fn = QUERIES[args.query]
    fn(spark, args.sf).count()  # warm
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()
    # the timed run gets its own job group, so jobs from anything else in
    # the session cannot enter the trace
    group = f"job_trace-{args.query}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, f"job_trace {args.query}")
    try:
        t0 = time.time()
        fn(spark, args.sf).count()
        wall = time.time() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    ids = sorted(tracker.getJobIdsForGroup(group))
    print(f"# {args.query}: {len(ids)} jobs, {wall:.3f}s warm")
    for j in ids:
        info = tracker.getJobInfo(j)
        if info is None or not info.isDefined():
            print(f"job {j}: <gone>")
            continue
        ji = info.get()
        sids = list(ji.stageIds())
        # duration + name from the first stage
        desc = ""
        secs = 0.0
        for sid in sids:
            si = tracker.getStageInfo(sid)
            if si is not None and si.isDefined():
                s = si.get()
                if not desc:
                    desc = s.name()
        print(f"job {j}: stages={len(sids)} {desc}")


if __name__ == "__main__":
    main()
