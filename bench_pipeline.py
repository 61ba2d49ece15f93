#!/usr/bin/env python
"""Silver-at-scale proof: the full bronze -> silver -> gold pipeline over a
multi-GB, multi-file synthetic MRF corpus.

The reference's only real-world claim is this pipeline on a multi-GB UMR
file (reference 01_payer_mrf_demo.py:36, README.md:30-47: "several
gigabytes ... 5-7 GB/min splitter"). The per-round bench (bench.py) runs
the query suite at sf0.1 plus a 200 MB splitter pass; THIS script is the
end-to-end ingest story at the reference's data point and beyond:

  1. generate a >= 2 GB corpus of 16 MRF files (a directory read:
     driver-side discovery scans the files on a thread pool, the
     many-file shape of a large corpus),
  2. time bronze -> silver star model -> CTAS of all six silver tables
     (plans/silver.py save_all, the demo notebook's CREATE TABLE chain),
  3. time the parameterized gold shoppable-price query against the SAVED
     silver tables (the serving path, not lineage recompute).

Prints ONE JSON line. Not part of the per-round bench: generation plus
ingest is minutes of wall clock by design. Run manually:

    python bench_pipeline.py [--files 16] [--items 60000]

Disk budget: the silver CTAS sorts spill roughly 4-5x the corpus size to
local disk on top of the corpus and the written tables — a 17 GB
/ 128-file corpus needs ~90 GB free or the spill dies with
SPILL_OUT_OF_MEMORY/No-space-left (observed on this machine's ~94 GB
effective volume; 64 files / 8.9 GB is the largest point that fits).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)
os.environ["PYTHONPATH"] = (
    REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
)


def _gen_one(args: tuple[str, int, int, int]) -> int:
    path, n_items, n_refs, seed = args
    # import inside the worker: multiprocessing 'spawn'-safe
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import (
        write_mrf_file,
    )

    if not os.path.exists(path):
        write_mrf_file(
            path, n_in_network=n_items, n_provider_refs=n_refs, seed=seed
        )
    return os.path.getsize(path)


def generate_corpus(d: str, n_files: int, n_items: int) -> float:
    """Seeded corpus, ~(n_items/450) MB per file; returns total GB."""
    from multiprocessing import Pool

    os.makedirs(d, exist_ok=True)
    jobs = [
        (
            os.path.join(d, f"payer_{i:03d}.json"),
            n_items,
            max(n_items // 22, 10),
            1000 + i,
        )
        for i in range(n_files)
    ]
    with Pool(min(8, n_files)) as pool:
        sizes = pool.map(_gen_one, jobs)
    return sum(sizes) / 1e9


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=16)
    ap.add_argument("--items", type=int, default=60000)
    ap.add_argument(
        "--dir", default="/tmp/payer_mrf_bench/pipeline_corpus"
    )
    ap.add_argument(
        "--stage",
        choices=["silver", "bronze"],
        default="silver",
        help=(
            "silver = full bronze->silver CTAS (spills ~4-5x corpus to "
            "disk; 64 files is this machine's ceiling). bronze = "
            "discovery + splitter + bronze parquet write only — the "
            "stage the reference's 5-7 GB/min figure measures — no "
            "sort spill, so 128+ files / 16+ GB fits."
        ),
    )
    a = ap.parse_args()

    t0 = time.time()
    gb = generate_corpus(a.dir, a.files, a.items)
    gen_sec = time.time() - t0

    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        build_silver,
        shoppable_price,
    )
    from hls_payer_mrf_sparkstreaming_spark.session import get_spark

    spark = get_spark(app_name="bench_pipeline")
    cpus = spark.sparkContext.defaultParallelism

    if a.stage == "bronze":
        import shutil

        from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
            read_payer_mrf,
        )

        out = a.dir.rstrip("/") + "_bronze_parquet"
        shutil.rmtree(out, ignore_errors=True)
        t1 = time.time()
        read_payer_mrf(spark, a.dir, includeoffsets="true").write.parquet(
            out
        )
        bronze_sec = time.time() - t1
        n = spark.read.parquet(out).count()
        assert n > 0
        print(
            json.dumps(
                {
                    "metric": "bronze_ingest_gb_per_min",
                    "value": round(gb / bronze_sec * 60, 2),
                    "unit": "GB/min",
                    "input_gb": round(gb, 2),
                    "files": a.files,
                    "gen_sec": round(gen_sec, 1),
                    "bronze_sec": round(bronze_sec, 1),
                    "bronze_rows": n,
                    "cpus": cpus,
                }
            )
        )
        spark.stop()
        return

    db = "mrf_scale_proof"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    # the default in-memory catalog forgets tables across sessions but the
    # warehouse directory persists — clear it or saveAsTable refuses
    import shutil

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    shutil.rmtree(os.path.join(wh, f"{db}.db"), ignore_errors=True)

    t1 = time.time()
    tables = build_silver(spark, a.dir)
    tables.save_all(spark, db)
    silver_sec = time.time() - t1

    # gold against the SAVED tables — the serving path a shopper hits
    codes = spark.table(f"{db}.in_network_codes")
    prices = spark.table(f"{db}.in_network_prices")
    par = spark.table(f"{db}.in_network_par_providers")
    pxp = spark.table(f"{db}.provider_references_x_payer")
    from pyspark.sql import functions as F

    # pick a (code, tin) pair that provably yields gold rows — as chained
    # SINGLE-ROW probes with pushed filters, never a 4-way join: par's
    # provider_reference_id repeats per rate (~19M rows here) and pxp's
    # provider_group_id is low-cardinality, so the join probe this used
    # to run was many-to-many — its SMJ sort OOM'd 32-way local executors
    # (observed r10). Every par row's ref id exists in pxp and its
    # sk_rate_id in prices by construction of the silver build, so each
    # probe is existence-safe.
    p0 = par.select("sk_rate_id", "provider_reference_id").first()
    tin = (
        pxp.filter(F.col("provider_group_id") == p0.provider_reference_id)
        .select(F.col("tin.value"))
        .first()[0]
    )
    sk_in = (
        prices.filter(F.col("sk_rate_id") == p0.sk_rate_id)
        .select("sk_in_network_id")
        .first()[0]
    )
    code = (
        codes.filter(F.col("sk_in_network_id") == sk_in)
        .select("billing_code")
        .first()[0]
    )
    t2 = time.time()
    n = shoppable_price(codes, pxp, code, tin).count()
    gold_sec = time.time() - t2
    assert n > 0

    print(
        json.dumps(
            {
                "metric": "pipeline_gb_per_min",
                "value": round(gb / silver_sec * 60, 2),
                "unit": "GB/min",
                "input_gb": round(gb, 2),
                "files": a.files,
                "gen_sec": round(gen_sec, 1),
                "silver_ctas_sec": round(silver_sec, 1),
                "gold_query_sec": round(gold_sec, 2),
                "gold_rows": n,
                "cpus": cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
