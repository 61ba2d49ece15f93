#!/usr/bin/env python
"""Interleaved within-session config A/B (the r13 discipline: this host
has bursty external interference, so only A/B samples alternated inside
ONE Spark session are trustworthy).

For each query: one untimed warmup, then 2*RUNS timed noop-sink passes
alternating the candidate conf ON/OFF per sample (OFF first). Reports the
per-query median under each arm and the total.

Usage:
  python tools/ab_conf.py --conf k=v [--conf k2=v2] q1 q2 ... [--runs 4]

The conf keys must be runtime-settable SQL confs (AQE/codegen knobs are).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
os.environ["PYTHONPATH"] = (
    REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument(
        "--conf",
        action="append",
        required=True,
        help="k=v to toggle (B arm sets it; A arm restores the default)",
    )
    a = ap.parse_args()

    import __spark_entry__ as entry_mod
    from bench import measure, warm
    from hls_payer_mrf_sparkstreaming_spark.session import get_spark

    spark = get_spark(app_name="ab_conf")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    confs = [kv.split("=", 1) for kv in a.conf]
    defaults = {}
    for k, _ in confs:
        try:
            defaults[k] = spark.conf.get(k)
        except Exception:
            defaults[k] = None

    def _arm(on: bool) -> None:
        for k, v in confs:
            if on:
                spark.conf.set(k, v)
            elif defaults[k] is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, defaults[k])

    tot = {"A": 0.0, "B": 0.0}
    for name in a.names:
        arms = iter("AB" * a.runs)

        def before() -> None:
            _arm(next(arms) == "B")
            warm(spark, queries, name, SF_DIR)

        _arm(False)  # the untimed warm-up runs on the A arm
        walls = [
            s["wall_s"]
            for s in measure(
                spark, queries[name], SF_DIR, 2 * a.runs, before=before
            )
        ]
        ma = statistics.median(walls[0::2])
        mb = statistics.median(walls[1::2])
        tot["A"] += ma
        tot["B"] += mb
        print(
            f"{name}: A={ma:.3f} B={mb:.3f} "
            f"({'B wins' if mb < ma else 'A wins'} "
            f"{abs(mb - ma) / ma * 100:.0f}%)",
            flush=True,
        )
    print(
        f"TOTAL: A={tot['A']:.2f} B={tot['B']:.2f} "
        f"ratio B/A={tot['B'] / tot['A']:.3f}",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
