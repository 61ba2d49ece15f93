#!/usr/bin/env python
"""Split a query's wall time into driver-side phases vs execution.

For each named query reports the median of N of:
  build    - fn(spark, sf_dir): Python-side DataFrame construction (py4j)
  analyze  - df.schema: Catalyst analysis
  plan     - queryExecution().executedPlan(): optimizer + physical planning
  execute  - the noop write (it analyzes and plans its own command)
  total    - build + execute (the bench's number)
  jobs     - Spark jobs launched by the noop write

build, execute, total and jobs come from bench.measure. analyze and plan
come from a separate probe per run on a freshly built DataFrame, outside
the timed samples, so forcing the plan does not change what they time.

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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    a = ap.parse_args()

    import functools

    import __spark_entry__ as entry_mod
    from bench import measure, reset, warm
    from hls_payer_mrf_sparkstreaming_spark.session import get_spark

    spark = get_spark(app_name="profile_query")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    for name in a.names:
        fn = queries[name]
        before = functools.partial(warm, spark, queries, name, SF_DIR)
        samples = measure(spark, fn, SF_DIR, a.runs, before=before)
        phases = {
            "build": [s["build_s"] for s in samples],
            "analyze": [],
            "plan": [],
            "execute": [s["exec_s"] for s in samples],
            "total": [s["wall_s"] for s in samples],
            "jobs": [s["jobs"] for s in samples],
        }
        for _ in range(a.runs):
            before()
            df = fn(spark, SF_DIR)
            t0 = time.perf_counter()
            df.schema
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            phases["analyze"].append(t1 - t0)
            phases["plan"].append(t2 - t1)
            reset(spark)
        med = {k: round(statistics.median(v), 3) for k, v in phases.items()}
        print(f"{name}: {med}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
