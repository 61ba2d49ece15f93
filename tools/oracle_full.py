#!/usr/bin/env python
"""Full-registry oracle summary (r13 VERDICT item 7): run the exact
tests/test_oracle.py comparison for EVERY registered (spark, duckdb) pair
at sf0.001 and write one committed JSON so the judge's correctness gate no
longer depends on the driver's rotating 50-query sample intersection.

Usage: python tools/oracle_full.py --out ORACLE_FULL_r14.json
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
os.environ["PYTHONPATH"] = (
    REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _row_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    a = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry_mod
    from hls_payer_mrf_sparkstreaming_spark.session import get_spark

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    spark = get_spark(app_name="oracle_full")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    out: dict[str, dict] = {}
    t_start = time.time()
    for name in sorted(queries):
        row: dict = {"err": None}
        try:
            sdf = queries[name](spark, SF_DIR)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                row.update(
                    {
                        "rows_match": None,
                        "schema_match": None,
                        "hash_match": None,
                        "spark_rows": len(spark_rows),
                        "oracle_rows": None,
                        "err": "no_oracle",
                    }
                )
                out[name] = row
                continue
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
            schema_match = sorted(spark_cols) == sorted(duck_cols)
            rows_match = len(spark_rows) == len(duck_rows)
            hash_match = schema_match and _row_multiset(
                spark_cols, spark_rows
            ) == _row_multiset(duck_cols, duck_rows)
            row.update(
                {
                    "rows_match": rows_match,
                    "schema_match": schema_match,
                    "hash_match": hash_match,
                    "spark_rows": len(spark_rows),
                    "oracle_rows": len(duck_rows),
                }
            )
        except Exception as e:  # noqa: BLE001 — summary must cover all
            row.update(
                {
                    "rows_match": False,
                    "schema_match": False,
                    "hash_match": False,
                    "spark_rows": None,
                    "oracle_rows": None,
                    "err": f"{type(e).__name__}: {e}"[:300],
                }
            )
        out[name] = row
        status = "OK" if row.get("hash_match") else row.get("err", "FAIL")
        print(f"{name}: {status}", flush=True)
    spark.stop()
    con.close()

    n_pairs = sum(1 for r in out.values() if r["err"] != "no_oracle")
    n_green = sum(1 for r in out.values() if r.get("hash_match"))
    summary = {
        "sf_dir": SF_DIR,
        "n_registered": len(out),
        "n_oracle_pairs": n_pairs,
        "n_hash_match": n_green,
        "n_no_oracle": len(out) - n_pairs,
        "wall_s": round(time.time() - t_start, 1),
        "queries": out,
    }
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(f"written to {a.out}", flush=True)
    print(
        f"TOTAL {n_green}/{n_pairs} hash-green, "
        f"{len(out) - n_pairs} rows-only",
        flush=True,
    )


if __name__ == "__main__":
    main()
