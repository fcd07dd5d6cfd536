#!/usr/bin/env python
"""Count and trace the Spark jobs of registered queries: each query runs
twice (warm), and the second run reports its job count and wall time,
then every job it launched with its stage count and the call site that
triggered it (from the Java status API). Job count is the deterministic
proxy for the per-action latency floor (guide §1.2: remove
actions/passes before tuning them).

``--profile K`` also runs the warm run under cProfile and prints its
top-K functions by cumulative time, which separates driver-side Python
work from py4j socket waits (JVM execution time shows up as
socket.recv).

Usage: python tools/job_trace.py <query> [<query> ...] [--sf DIR] [--profile K]
"""

from __future__ import annotations

import argparse
import cProfile
import pstats
import sys
import time
import uuid
from contextlib import nullcontext
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spark_etl_framework_spark.queries import QUERIES  # noqa: E402
from spark_etl_framework_spark.session import get_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--profile", type=int, metavar="K",
                    help="print the warm run's cProfile top-K functions")
    args = ap.parse_args()

    spark = get_session("job_trace")
    from spark_etl_framework_spark.catalog import TABLES, load_table

    for name in TABLES:
        load_table(spark, args.sf, name).count()

    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()
    for q in args.queries:
        fn = QUERIES[q]
        fn(spark, args.sf).count()  # warm
        # the timed run gets its own job group, so jobs from anything
        # else in the session cannot enter the trace
        group = f"job_trace-{q}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, f"job_trace {q}")
        prof = cProfile.Profile() if args.profile else nullcontext()
        try:
            t0 = time.time()
            with prof:
                fn(spark, args.sf).count()
            wall = time.time() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        ids = sorted(tracker.getJobIdsForGroup(group))
        print(f"{q}: {len(ids)} jobs, {wall:.3f}s warm")
        for j in ids:
            info = tracker.getJobInfo(j)
            if info is None or not info.isDefined():
                print(f"  job {j}: <gone>")
                continue
            sids = list(info.get().stageIds())
            # the job's name is its first stage's call site
            desc = ""
            for sid in sids:
                si = tracker.getStageInfo(sid)
                if si is not None and si.isDefined():
                    desc = si.get().name()
                    break
            print(f"  job {j}: stages={len(sids)} {desc}")
        if args.profile:
            pstats.Stats(prof, stream=sys.stdout).sort_stats(
                "cumulative"
            ).print_stats(args.profile)


if __name__ == "__main__":
    main()
