#!/usr/bin/env python
"""Multiset-hash the full result of named queries at $SPARK_GRAFT_SF_DIR —
the before/after identity check for plan-shape-preserving rewrites.

Usage: python tools/hash_queries.py q1 q2 ... [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--out", default=None)
    a = ap.parse_args()

    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F
    from hls_payer_mrf_sparkstreaming_spark.session import get_spark

    spark = get_spark(app_name="hash_queries")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    out = {}
    for name in a.names:
        df = queries[name](spark, SF_DIR)
        # order-independent multiset hash over every column, all rows
        cols = [F.col(c).cast("string") for c in df.columns]
        h = (
            df.select(
                F.xxhash64(F.concat_ws("\x1f", *cols)).alias("h")
            )
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
                F.bit_xor("h").alias("x"),
            )
            .collect()[0]
        )
        out[name] = {"n": h["n"], "sum": str(h["s"]), "xor": str(h["x"])}
        print(name, out[name], flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
