#!/usr/bin/env python
"""Scale-headroom proof: the expensive queries at sf0.1 vs a 10x replica.

The per-round bench only ever runs at sf0.1, so the plan-shape suite's
"100 TB-safe" claims (bucketed LSH, blocked containment, checkpointed
iteration) had no empirical scaling point. This script builds an sf1-
equivalent dataset by replicating sf0.1 ten times with referentially
consistent key offsets, then times the slowest registry queries at both
scales and prints the wall-time ratio. Linear-ish ratios (<= ~12x for a
10x data step on fixed local cores, less for overhead-dominated queries)
are the empirical check; a super-linear blowup means a candidate-pair or
shuffle explosion the plan audit missed.

Replication rules (why this is a fair 10x):
  * region/nation are unscaled dims (TPC-H semantics: fixed 5/25 rows).
  * every surrogate/foreign key gets the SAME +r*OFFSET shift, so joins
    land on exactly 10 disjoint copies of the original key space —
    join fan-out per key is unchanged, total volume is 10x.
  * documents.text is token-salted per replica for r>0 (every token gets
    a _r suffix): each replica keeps sf0.1's internal duplicate structure
    exactly, but replica shingle spaces are DISJOINT, so true near-dup
    pairs grow 10x (linear), not ~50x (quadratic). A plain copy — or a
    whole-document suffix, which leaves Jaccard ~1 — would put ~10
    near-identical copies of EVERY doc in the corpus and quadratically
    explode candidate pairs for any implementation; that would test the
    dataset, not the operator.
  * embeddings get seeded Gaussian jitter for r>0 (same reason: identical
    vectors would put 10 exact copies in every ANN bucket).

Not part of the per-round bench (minutes of wall clock). Run manually:

    python bench_scale.py [--out /tmp/testdata_sf1] [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)
os.environ["PYTHONPATH"] = (
    REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
)

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = 10
OFFSET = 10_000_000

# key columns shifted by r*OFFSET per replica (referential integrity:
# the same shift lands on both sides of every FK edge)
_KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
_UNSCALED = ["region", "nation"]

# the slowest queries from bench_details.json plus one representative
# per at-risk family (self-join dedup, iterative graph/linalg, star join)
QUERIES = [
    "graph_pagerank",
    "minhash_error_eval",
    "pca_power_iteration",
    "anomaly_mad",
    "percentile_summary",
    "skew_salted_join",
    "graph_triangles",
    "profile_columns",
    "dedup_minhash_lsh",
    "ngram_jaccard_pairs",
    "dedup_cluster",
    "star_join_revenue",
    # round-8: the LSH-blocked edge generator that replaced the exact
    # baseline as the graph family's source, plus its degree histogram
    "neardup_pairs_lsh",
    "dedup_graph_stats",
    # round-7 second-session additions + rewrites
    "simhash_hamming_pairs",
    "poisson_bootstrap_ci",
    "spearman_corr",
    "theil_sen_slope",
    "mutual_information",
    "precision_recall_at_k",
    # round-10: the ops that CERTIFY scale must themselves be ratio-
    # tracked (VERDICT r9 task 6) — LSH banding health, cluster-size
    # histogram, SemDeDup, and the sketch-only corpus overlap
    "lsh_bucket_skew",
    "dedup_cluster_sizes",
    "semantic_dedup",
    "corpus_overlap_sketch_only",
    # round-10 second session: the tokenizer-training + DSIR selection
    # family — corpus-token aggregates whose pair/ratio work must stay
    # vocabulary-sized (independent of corpus duplication) at 10x data
    "bpe_merge_candidates",
    "bpe_train_steps",
    "dsir_importance_sample",
    # round-11: the containment family got its skew audit + block cap
    # (VERDICT r10 task 1) — track both the guarded generator and the
    # audit that certifies it
    "dedup_containment",
    "containment_block_skew",
    # round-12: the new tuning-curve evals (ops that certify an index /
    # dedup configuration must themselves be ratio-tracked — the r10
    # rule): the embedding dedup threshold sweep over LSH-bucketed
    # pairs, and the IVF recall-vs-nprobe curve whose exact side is the
    # fixed-Q verification scan
    "embedding_threshold_curve",
    "ann_ivf_probe_curve",
    # round-13 (VERDICT r12 task 7): the third tuning curve joins its
    # siblings so threshold-tuning cost tracks corpus growth for ALL
    # three curves
    "dedup_threshold_curve",
]


def make_scaled(out: str) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    for t in _UNSCALED:
        d = os.path.join(out, f"{t}.parquet")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pq.read_table(os.path.join(SRC, f"{t}.parquet")),
            os.path.join(d, "part-00.parquet"),
        )
    for t, keys in _KEY_COLS.items():
        base = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        d = os.path.join(out, f"{t}.parquet")
        os.makedirs(d, exist_ok=True)
        for r in range(REPLICAS):
            cols = {}
            for name in base.column_names:
                col = base.column(name)
                if name in keys:
                    arr = col.to_numpy(zero_copy_only=False) + r * OFFSET
                    cols[name] = pa.array(arr, type=col.type)
                elif t == "documents" and name == "text" and r > 0:
                    txt = col.to_pandas()
                    salt = f"_{r}"
                    cols[name] = pa.array(
                        txt.map(
                            lambda s: " ".join(
                                w + salt for w in s.split(" ")
                            )
                        )
                    )
                elif t == "embeddings" and name == "embedding" and r > 0:
                    mat = np.stack(col.to_pandas().to_numpy())
                    rng = np.random.default_rng(r)
                    mat = mat + rng.normal(0.0, 0.02, mat.shape).astype(
                        np.float32
                    )
                    cols[name] = pa.array(list(mat), type=col.type)
                else:
                    cols[name] = col
            pq.write_table(
                pa.table(cols), os.path.join(d, f"part-{r:02d}.parquet")
            )


def time_queries(
    spark, queries, sf_dir: str, runs: int, roster=None
) -> dict[str, float]:
    from bench import measure, noop

    from hls_payer_mrf_sparkstreaming_spark.operators.dedup import (
        EDGE_CONSUMER_QUERIES,
        neardup_edges,
    )

    # Graph-family queries consume the session-level near-dup edge cache;
    # warm it untimed so their ratio reflects the consumer's own scaling,
    # not the edge build repeated N times. UNLIKE bench.warm (where
    # neardup_pairs_lsh times the warm consumer read and the cold build is
    # the separate edge_build_sec metric), neardup_pairs_lsh here stays
    # COLD on purpose: its ratio IS the edge build's 10x-data scaling, the
    # number that caught the r8 candidate-volume blowup.
    def _warm_edges(name: str) -> None:
        if name in EDGE_CONSUMER_QUERIES:
            noop(neardup_edges(spark, sf_dir))

    out: dict[str, float] = {}
    for name in roster if roster is not None else QUERIES:
        samples = measure(
            spark,
            queries[name],
            sf_dir,
            runs,
            before=lambda: _warm_edges(name),
        )
        out[name] = round(
            statistics.median(s["wall_s"] for s in samples), 3
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/testdata_sf1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated op subset for iteration; a partial run "
        "prints ratios but does NOT overwrite the committed "
        "BENCH_SCALE.json (mixed-pass artifacts are the r12 doc-drift "
        "trap)",
    )
    a = ap.parse_args()
    if a.only:
        wanted = set(a.only.split(","))
        unknown = wanted - set(QUERIES)
        if unknown:
            # fail BEFORE the ~20-min sf1 data build: a typo'd name would
            # otherwise silently shrink (or empty) the roster
            raise SystemExit(
                f"--only names not in the scale roster: {sorted(unknown)}"
            )
        roster = [q for q in QUERIES if q in wanted]
    else:
        roster = QUERIES

    t0 = time.time()
    if not os.path.exists(os.path.join(a.out, "lineitem.parquet")):
        make_scaled(a.out)
    gen_sec = time.time() - t0

    import __spark_entry__ as entry_mod
    from hls_payer_mrf_sparkstreaming_spark.session import get_spark

    spark = get_spark(app_name="bench_scale")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    queries = entry_mod.queries()

    small = time_queries(spark, queries, SRC, a.runs, roster)
    big = time_queries(spark, queries, a.out, a.runs, roster)
    ratios = {
        k: round(big[k] / small[k], 2) if small[k] > 0 else None
        for k in small
    }
    spark.stop()
    result = {
        "metric": "sf1_over_sf01_wall_ratio",
        "data_ratio": REPLICAS,
        "gen_sec": round(gen_sec, 1),
        "runs": a.runs,
        "sf01_sec": small,
        "sf1_sec": big,
        "ratio": ratios,
        "ratio_max": max(v for v in ratios.values() if v),
        "cpus": cpus,
    }
    # sidecar write so a truncated/filtered stdout capture can't lose the
    # run (cost ~20 min to reproduce); --only iteration passes never
    # touch the committed artifact
    if not a.only:
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json"
        )
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
    print(json.dumps(result, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
