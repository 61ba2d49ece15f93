#!/usr/bin/env python
"""Time registry queries with bench.py's measured-run primitive (one
untimed warm-up, then N samples, each after the query's cache warm and
followed by a session reset) and print one record per query: wall-time
median/min/max/samples plus the median build_s/exec_s split and the
Spark job count of the noop write.

With no names it times the whole registry; --runs 1 then gives the
registry-wide job-count sweep. A single operator's before/after takes
seconds instead of a full bench.py pass.

Usage: python tools/bench_some.py [q1 q2 ...] [--runs 3] [--out FILE]
                                  [--conf k=v ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
os.environ["PYTHONPATH"] = (
    REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def record(samples: list[dict]) -> dict:
    walls = [s["wall_s"] for s in samples]
    return {
        "median": round(statistics.median(walls), 3),
        "min": round(min(walls), 3),
        "max": round(max(walls), 3),
        "samples": [round(w, 3) for w in walls],
        "build_s": round(statistics.median(s["build_s"] for s in samples), 3),
        "exec_s": round(statistics.median(s["exec_s"] for s in samples), 3),
        # median_low keeps the job count an integer
        "jobs": statistics.median_low(s["jobs"] for s in samples),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="default: the whole registry")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=None, help="write the JSON here")
    ap.add_argument(
        "--conf", action="append", default=[], help="extra k=v spark conf"
    )
    a = ap.parse_args()

    import functools

    import __spark_entry__ as entry_mod
    from bench import measure, warm
    from hls_payer_mrf_sparkstreaming_spark.session import get_spark

    spark = get_spark(
        app_name="bench_some",
        extra_conf=dict(kv.split("=", 1) for kv in a.conf),
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    out = {}
    for name in a.names or queries:
        before = functools.partial(warm, spark, queries, name, SF_DIR)
        out[name] = record(
            measure(spark, queries[name], SF_DIR, a.runs, before=before)
        )
        print(f"{name}: {out[name]}", flush=True)
    result = {
        "sf_dir": SF_DIR,
        "cpus": spark.sparkContext.defaultParallelism,
        "queries": out,
    }
    spark.stop()
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
        print(f"written to {a.out}", flush=True)
    else:
        print(json.dumps(result, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
