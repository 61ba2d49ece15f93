#!/usr/bin/env python
"""Write df.explain('formatted') for named registry queries to files.

Usage: python tools/dump_plans.py OUTDIR SUFFIX q1 q2 ...
Writes OUTDIR/<query><SUFFIX>.txt (pass "" for no suffix). No query is
executed (plans only), except eager work a query's builder itself
performs.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
os.environ["PYTHONPATH"] = (
    REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("outdir")
    ap.add_argument("suffix")
    ap.add_argument("names", nargs="+")
    a = ap.parse_args()
    os.makedirs(a.outdir, exist_ok=True)

    import __spark_entry__ as entry_mod
    from hls_payer_mrf_sparkstreaming_spark.session import get_spark

    spark = get_spark(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in a.names:
        df = queries[name](spark, SF_DIR)
        txt = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(a.outdir, f"{name}{a.suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
