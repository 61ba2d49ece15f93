#!/usr/bin/env python
"""Split a query's wall time into driver-side phases vs execution.

For each named query, after one untimed warmup, reports (median of N):
  build    - fn(spark, sf_dir): Python-side DataFrame construction (py4j)
  analyze  - df.schema: Catalyst analysis
  plan     - queryExecution().executedPlan(): optimizer + physical planning
  execute  - noop write of the ALREADY planned df: job run incl. AQE
  total    - fresh fn() + noop write in one breath (the bench's number)
  jobs     - Spark jobs launched by the execute phase

Usage: python tools/profile_query.py q1 q2 ... [--runs 3]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
os.environ["PYTHONPATH"] = (
    REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    a = ap.parse_args()

    from bench import _unpersist_all

    import __spark_entry__ as entry_mod
    from hls_payer_mrf_sparkstreaming_spark.operators.dedup import (
        EDGE_CONSUMER_QUERIES,
        neardup_edges,
    )
    from hls_payer_mrf_sparkstreaming_spark.plans.mrf_queries import (
        SILVER_CONSUMER_QUERIES,
    )
    from hls_payer_mrf_sparkstreaming_spark.session import get_spark

    spark = get_spark(
        app_name="profile_query",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    tracker = spark.sparkContext.statusTracker()

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    def _warm(name):
        if name in EDGE_CONSUMER_QUERIES or name == "neardup_pairs_lsh":
            _noop(neardup_edges(spark, SF_DIR))
        if name in SILVER_CONSUMER_QUERIES:
            _noop(queries[name](spark, SF_DIR))

    for name in a.names:
        fn = queries[name]
        spark.sparkContext.setJobDescription(name)
        _noop(fn(spark, SF_DIR))
        _unpersist_all(spark)
        phases = {k: [] for k in
                  ("build", "analyze", "plan", "execute", "total", "jobs")}
        for _ in range(a.runs):
            _warm(name)
            t0 = time.time()
            df = fn(spark, SF_DIR)
            t1 = time.time()
            df.schema
            t2 = time.time()
            df._jdf.queryExecution().executedPlan()
            t3 = time.time()
            # max job ID, not len(): the AppStatusStore evicts jobs past
            # spark.ui.retainedJobs, so len() deltas go negative once a
            # long run crosses the eviction horizon. Job IDs are global and
            # monotonic, so the delta counts every job started between the
            # snapshots, cluster-wide: it assumes no concurrent or grouped
            # job submission.
            j0 = max(tracker.getJobIdsForGroup(None) or [-1])
            _noop(df)
            t4 = time.time()
            j1 = max(tracker.getJobIdsForGroup(None) or [-1])
            phases["build"].append(t1 - t0)
            phases["analyze"].append(t2 - t1)
            phases["plan"].append(t3 - t2)
            phases["execute"].append(t4 - t3)
            phases["jobs"].append(j1 - j0)
            _unpersist_all(spark)
            _warm(name)
            t5 = time.time()
            _noop(fn(spark, SF_DIR))
            phases["total"].append(time.time() - t5)
            _unpersist_all(spark)
        med = {k: round(statistics.median(v), 3) for k, v in phases.items()}
        print(f"{name}: {med}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
