#!/usr/bin/env python
"""Registry-wide structural sweep: for EVERY registered query, one
build + noop pass recording the Spark job count, wall seconds and the
build/execute split. The job count is the noise-immune structural
signal this host allows (external CPU interference makes raw wall
unstable; a query's job count is deterministic), so round-over-round
job-count deltas are the auditable evidence for "fewer serial barriers"
claims (r13 VERDICT item 2 asked for this sweep as a committed JSON).

Usage: python tools/sweep_jobs.py [--out plans/r14/job_counts.json]
"""

from __future__ import annotations

import argparse
import json
import os
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
    ap.add_argument("--out", default=None)
    ap.add_argument("--names", nargs="*", default=None)
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
        app_name="sweep_jobs",
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

    names = a.names or sorted(queries)
    out: dict[str, dict] = {}
    for name in names:
        fn = queries[name]
        spark.sparkContext.setJobDescription(name)
        # untimed warmup: plan compile + OS file cache, bench discipline
        _noop(fn(spark, SF_DIR))
        _unpersist_all(spark)
        _warm(name)
        t0 = time.time()
        df = fn(spark, SF_DIR)
        t1 = time.time()
        # max job ID, not len(): the AppStatusStore evicts jobs past
        # spark.ui.retainedJobs (~1000), so len() deltas go NEGATIVE once
        # a long sweep crosses the eviction horizon (the r14 first-sweep
        # bug: 9 queries reported -87..-98 jobs). Job IDs are monotonic,
        # so a max-ID delta is eviction-immune. It counts every job started
        # between the snapshots, cluster-wide, so it assumes no concurrent
        # or grouped job submission.
        j0 = max(tracker.getJobIdsForGroup(None) or [-1])
        _noop(df)
        t2 = time.time()
        j1 = max(tracker.getJobIdsForGroup(None) or [-1])
        out[name] = {
            "jobs": j1 - j0,
            "build_s": round(t1 - t0, 3),
            "exec_s": round(t2 - t1, 3),
            "total_s": round(t2 - t0, 3),
        }
        print(f"{name}: {out[name]}", flush=True)
        _unpersist_all(spark)
    spark.stop()
    if a.out:
        os.makedirs(os.path.dirname(a.out), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump(
                {"sf_dir": SF_DIR, "cpus": CPUS, "queries": out},
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"written to {a.out}", flush=True)


if __name__ == "__main__":
    main()
