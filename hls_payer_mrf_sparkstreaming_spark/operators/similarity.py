"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline — one pass over the
  embeddings table, TakeOrderedAndProject (per-partition top-k + driver
  merge), no shuffle of vectors;
- hyperplane-LSH bucketed search: the scale path — deterministic seeded
  hyperplanes baked into the plan as literals, bucket equi-join prunes the
  candidate set before any cosine is computed. At 100 TB the bucket join
  shuffles 8-byte bucket ids, not 256-byte vectors (vectors rejoin only for
  surviving candidates);
- embedding near-dup pairs: same-bucket pairwise cosine.

All vector math is zip_with/aggregate in codegen (functions/vector.py) —
no UDFs, so DuckDB list-lambda oracles reproduce results bit-for-bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from hls_payer_mrf_sparkstreaming_spark.functions import vector as V
from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
    load,
    query,
    rebalance,
    scratch_persist,
)
from hls_payer_mrf_sparkstreaming_spark.session import SessionCache

_DIM = 64


def _planes(n_planes: int, dim: int = _DIM, seed: int = 7) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return [[float(x) for x in rng.standard_normal(dim)] for _ in range(n_planes)]


_PLANES_8 = _planes(8)
_PLANES_16 = _planes(16, seed=11)

_EMB_D = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


@query(
    "ann_cosine_topk",
    oracle=f"""
        WITH q AS (
            SELECT {_EMB_D} AS qv FROM embeddings WHERE vec_id = 0
        )
        SELECT e.vec_id, e.label,
               round({V.cosine_sql(_EMB_D.replace('embedding', 'e.embedding'), 'q.qv')}, 6)
                   AS cosine_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
        ORDER BY cosine_sim DESC, e.vec_id
        LIMIT 10
    """,
    description="brute-force cosine top-k vs query vector (exact ANN "
    "baseline); TakeOrderedAndProject, no vector shuffle",
)
def ann_cosine_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        V.to_double_array("embedding").alias("qv")
    )
    e = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", "label", V.to_double_array("embedding").alias("ev")
    )
    sim = F.round(F.expr(V.cosine_expr("ev", "qv")), 6)
    return (
        e.crossJoin(F.broadcast(qv))
        .select("vec_id", "label", sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "ann_lsh_bucketed",
    oracle=f"""
        WITH b AS (
            SELECT vec_id, label, {_EMB_D} AS ev,
                   {V.hyperplane_bucket_sql(_EMB_D, _PLANES_8)} AS bucket
            FROM embeddings
        ),
        q AS (SELECT ev AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
        SELECT b.vec_id, b.label,
               round({V.cosine_sql('b.ev', 'q.qv')}, 6) AS cosine_sim
        FROM b CROSS JOIN q
        WHERE b.bucket = q.qbucket AND b.vec_id <> 0
        ORDER BY cosine_sim DESC, b.vec_id
        LIMIT 5
    """,
    description="hyperplane-LSH bucketed ANN: 8 sign-bits -> bucket id; "
    "cosine only within the query's bucket (the 100 TB path: candidate "
    "pruning before any vector math)",
)
def ann_lsh_bucketed(spark, sf_dir):
    emb = rebalance(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", V.to_double_array("embedding").alias("ev")
    )
    b = emb.selectExpr(
        "*", f"{V.hyperplane_bucket_expr('ev', _PLANES_8)} AS bucket"
    )
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("ev").alias("qv"), F.col("bucket").alias("qbucket")
    )
    sim = F.round(F.expr(V.cosine_expr("ev", "qv")), 6)
    return (
        b.crossJoin(F.broadcast(q))
        .filter((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != 0))
        .select("vec_id", "label", sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(5)
    )


_IVF_STRIDE = 37  # vec_id % stride == 1 -> centroid (deterministic "sample")
_IVF_K = 64  # centroid budget: FIXED, never grows with the corpus


@query(
    "ann_ivf_topk",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label, {_EMB_D} AS ev FROM embeddings
        ),
        c AS (
            SELECT vec_id AS cid, ev AS cv FROM e
            WHERE vec_id % {_IVF_STRIDE} = 1
            ORDER BY vec_id LIMIT {_IVF_K}
        ),
        scored AS (
            SELECT e.vec_id, e.label, e.ev, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({V.cosine_sql('e.ev', 'c.cv')}, 6) DESC,
                                c.cid
                   ) AS rn
            FROM e CROSS JOIN c
        ),
        assigned AS (
            SELECT vec_id, label, ev, cid FROM scored WHERE rn = 1
        ),
        q AS (SELECT ev AS qv, cid AS qcid FROM assigned WHERE vec_id = 0)
        SELECT a.vec_id, a.label,
               round({V.cosine_sql('a.ev', 'q.qv')}, 6) AS cosine_sim
        FROM assigned a CROSS JOIN q
        WHERE a.cid = q.qcid AND a.vec_id <> 0
        ORDER BY cosine_sim DESC, a.vec_id
        LIMIT 10
    """,
    description="IVF-style ANN: deterministic centroid sample under a "
    f"FIXED {_IVF_K}-centroid budget (r10: an unbounded stride sample "
    "grows the broadcast centroid array WITH the corpus, turning the "
    "per-row argmax fold quadratic — the same scale bug the r10 audit "
    "caught in semantic_dedup), nearest-centroid assignment as a per-row "
    "codegen fold over that broadcast array (tie-safe argmax; NO N-by-K "
    "shuffle, no window), search only the query's cell — the "
    "coarse-quantizer scale path where LSH bucket skew is a concern",
)
def ann_ivf_topk(spark, sf_dir):
    # rebalance: the K-centroid cosine fold per row is the dominant cost and
    # must not run on a single scan partition (no-op at scale)
    emb = rebalance(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", V.to_double_array("embedding").alias("ev")
    )
    cent = (
        emb.filter(F.col("vec_id") % _IVF_STRIDE == 1)
        .select(F.col("vec_id").alias("cid"), F.col("ev").alias("cv"))
        .orderBy("cid")
        .limit(_IVF_K)
    )
    # IVF build: all K centroids collapse into ONE array-of-structs row that
    # broadcasts to every vector; nearest-centroid is then a fold over that
    # array inside codegen — a narrow projection. The old plan (crossJoin +
    # row_number window partitioned by vec_id) shuffled the full N*K product
    # to do this argmax; here nothing shuffles but the K-row collect and the
    # final top-k. Argmax uses rounded cosine with smaller-cid tiebreak so
    # Spark and the oracle agree exactly regardless of centroid-array order.
    cent_arr = cent.agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
    # SQL-text argmax fold (see functions/vector.py)
    csim = f"round({V.cosine_expr('ev', 'c.cv')}, 6)"
    take = f"({csim} > acc.sim) OR (({csim} = acc.sim) AND (c.cid < acc.cid))"
    fold = (
        "aggregate(cents, struct(-2.0D AS sim, CAST(NULL AS BIGINT) AS cid), "
        f"(acc, c) -> CASE WHEN {take} THEN "
        f"struct({csim} AS sim, c.cid AS cid) ELSE acc END)['cid']"
    )
    assigned = (
        emb.crossJoin(F.broadcast(cent_arr))
        .selectExpr(
            "vec_id",
            "label",
            "ev",
            f"{fold} AS cid",
        )
        .transform(scratch_persist)
    )
    q = assigned.filter(F.col("vec_id") == 0).select(
        F.col("ev").alias("qv"), F.col("cid").alias("qcid")
    )
    sim = F.round(F.expr(V.cosine_expr("ev", "qv")), 6)
    return (
        assigned.crossJoin(F.broadcast(q))
        .filter((F.col("cid") == F.col("qcid")) & (F.col("vec_id") != 0))
        .select("vec_id", "label", sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(10)
    )


def neardup_pairs(emb, threshold: float = 0.8, planes=_PLANES_16):
    """Near-duplicate pairs within hyperplane-LSH buckets over a
    (vec_id, ev: array<double>) DataFrame — the reusable core behind the
    registered query, so tests can plant known near-duplicates."""
    b = emb.selectExpr(
        "*", f"{V.hyperplane_bucket_expr('ev', planes)} AS bucket"
    )
    # bucket projection feeds both sides of the self-join; compute it once.
    # persist() keeps lineage (fault-tolerant at scale), unlike localCheckpoint
    b = scratch_persist(b)
    a2 = b.alias("a")
    b2 = b.alias("b")
    sim = F.expr(V.cosine_expr("a.ev", "b.ev"))
    return (
        a2.join(
            b2,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(sim >= threshold)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(sim, 6).alias("cosine_sim"),
        )
    )


_ENP_CANARY_MOD = 25  # every 25th vector gets a planted duplicate twin
# Twin ids are -(vec_id + 1): natural vec_ids are non-negative at every
# SF (including bench_scale's +10M-per-replica synthesis), so the negated
# range is disjoint BY CONSTRUCTION — no fixed offset to alias once the
# table outgrows it. test_enp_twin_ids_disjoint pins the invariant.


@query(
    "embedding_neardup_pairs",
    oracle=f"""
        WITH allv AS (
            SELECT vec_id, {_EMB_D} AS ev FROM embeddings
            UNION ALL
            SELECT -(vec_id + 1) AS vec_id, {_EMB_D} AS ev
            FROM embeddings WHERE vec_id % {_ENP_CANARY_MOD} = 0
        ),
        b AS (
            SELECT vec_id, ev,
                   {V.hyperplane_bucket_sql('ev', _PLANES_16)} AS bucket
            FROM allv
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({V.cosine_sql('a.ev', 'b.ev')}, 6) AS cosine_sim
        FROM b a JOIN b b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {V.cosine_sql('a.ev', 'b.ev')} >= 0.8
    """,
    description="embedding-cosine near-dup pairs within 16-bit LSH buckets "
    "(pairwise work bounded per bucket, never all-pairs). The synthetic "
    "embeddings contain no natural cosine >= 0.8 pairs at any SF, so the "
    f"invariant was vacuous; every {_ENP_CANARY_MOD}th vector now gets a "
    "planted duplicate twin INSIDE the query (both engines identically — "
    "the dedup_normalized_exact canary pattern). Twin ids are "
    "-(vec_id + 1), disjoint from the non-negative natural id space at "
    "any SF. An exact duplicate shares its hyperplane bucket by "
    "construction and scores cosine exactly 1.0, so each canary must "
    "surface as exactly one pair — the bucketing, join, and scoring "
    "paths are all load-bearing again",
)
def embedding_neardup_pairs(spark, sf_dir):
    emb = rebalance(load(spark, sf_dir, "embeddings")).select(
        "vec_id", V.to_double_array("embedding").alias("ev")
    )
    twins = emb.filter(
        F.col("vec_id") % _ENP_CANARY_MOD == 0
    ).select((-(F.col("vec_id") + 1)).alias("vec_id"), "ev")
    return neardup_pairs(emb.unionAll(twins))


# dedup-aggressiveness tiers swept by embedding_threshold_curve, in basis
# points of cosine similarity (0.5 .. 0.99). The 0.99 tier is guaranteed
# non-vacuous by the planted exact-duplicate twins (cosine exactly 1.0),
# and every lower tier is a superset of it, so no threshold group can
# vanish and the curve is always 6 rows.
_ETC_THRESHOLDS_BP = (5000, 6000, 7000, 8000, 9000, 9900)


@query(
    "embedding_threshold_curve",
    oracle=f"""
        WITH allv AS (
            SELECT vec_id, {_EMB_D} AS ev FROM embeddings
            UNION ALL
            SELECT -(vec_id + 1) AS vec_id, {_EMB_D} AS ev
            FROM embeddings WHERE vec_id % {_ENP_CANARY_MOD} = 0
        ),
        b AS (
            SELECT vec_id, ev,
                   {V.hyperplane_bucket_sql('ev', _PLANES_16)} AS bucket
            FROM allv
        ),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round({V.cosine_sql('a.ev', 'b.ev')}, 6) AS cosine_sim
            FROM b a JOIN b b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round({V.cosine_sql('a.ev', 'b.ev')}, 6) >= 0.5
        ),
        th AS (
            SELECT unnest({list(_ETC_THRESHOLDS_BP)}) AS threshold_bp
        )
        SELECT CAST(threshold_bp AS BIGINT) AS threshold_bp,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(count(CASE WHEN id_a < 0 OR id_b < 0 THEN 1 END)
                    AS BIGINT) AS n_canary_pairs
        FROM th JOIN pairs
          ON cosine_sim >= CAST(threshold_bp AS DOUBLE) / 10000
        GROUP BY 1
    """,
    description="dedup-threshold tuning curve: surviving near-dup pair "
    f"volume at cosine tiers {_ETC_THRESHOLDS_BP} bp, within the same "
    "16-bit hyperplane-LSH buckets as embedding_neardup_pairs — the "
    "view that decides HOW aggressive an embedding dedup should be "
    "before anyone commits a threshold (too low merges distinct docs, "
    "too high keeps paraphrases). n_canary_pairs tracks the planted "
    "exact-duplicate twins through every tier, proving each tier's "
    "filter path end to end. Plan: pairwise work stays bucket-bounded "
    "(never all-pairs, one scratch-persisted bucket projection feeding "
    "the self-join); the curve is a 6-row broadcast theta-join over the "
    "already-bounded pair set, so sweeping tiers costs one re-aggregation "
    "of candidate pairs, not six corpus scans. Similarity compared on "
    "the SAME round-6 value both engines emit, so tier membership is "
    "engine-independent at the boundaries",
)
def embedding_threshold_curve(spark, sf_dir):
    emb = rebalance(load(spark, sf_dir, "embeddings")).select(
        "vec_id", V.to_double_array("embedding").alias("ev")
    )
    twins = emb.filter(
        F.col("vec_id") % _ENP_CANARY_MOD == 0
    ).select((-(F.col("vec_id") + 1)).alias("vec_id"), "ev")
    b = scratch_persist(
        emb.unionAll(twins).selectExpr(
            "*", f"{V.hyperplane_bucket_expr('ev', _PLANES_16)} AS bucket"
        )
    )
    sim = F.round(F.expr(V.cosine_expr("a.ev", "b.ev")), 6)
    pairs = (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= 0.5)
    )
    th = F.explode(
        F.array(*[F.lit(t) for t in _ETC_THRESHOLDS_BP])
    ).alias("threshold_bp")
    return (
        pairs.select("*", th)
        .filter(
            F.col("cosine_sim")
            >= F.col("threshold_bp").cast("double") / 10000
        )
        .groupBy(F.col("threshold_bp").cast("long").alias("threshold_bp"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.count_if((F.col("id_a") < 0) | (F.col("id_b") < 0))
            .cast("long")
            .alias("n_canary_pairs"),
        )
    )


@query(
    "knn_join",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label, {_EMB_D} AS ev FROM embeddings
        ),
        q AS (SELECT vec_id AS q_id, ev AS qv FROM e WHERE vec_id <= 4),
        scored AS (
            SELECT q.q_id, e.vec_id, e.label,
                   round({V.cosine_sql('e.ev', 'q.qv')}, 6) AS cosine_sim,
                   row_number() OVER (
                       PARTITION BY q.q_id
                       ORDER BY round({V.cosine_sql('e.ev', 'q.qv')}, 6)
                                DESC, e.vec_id
                   ) AS rn
            FROM e CROSS JOIN q WHERE e.vec_id > 4
        )
        SELECT q_id, vec_id, label, cosine_sim FROM scored WHERE rn <= 3
    """,
    description="batch k-NN join: top-3 cosine neighbors for EACH query "
    "vector in one plan — the query set broadcasts (corpus never "
    "shuffles for the scoring), then the per-query top-k window shuffles "
    "only skinny (q_id, vec_id, sim) rows. The multi-query generalization "
    "of ann_cosine_topk; at billion-row scale swap the window for a "
    "per-partition heap via the same LSH/IVF pruning as the single-query "
    "paths",
)
def knn_join(spark, sf_dir):
    from pyspark.sql import Window

    emb = rebalance(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", V.to_double_array("embedding").alias("ev")
    )
    q = emb.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("q_id"), F.col("ev").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") > 4)
    sim = F.round(F.expr(V.cosine_expr("ev", "qv")), 6)
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    return (
        corpus.crossJoin(F.broadcast(q))
        .select("q_id", "vec_id", "label", sim.alias("cosine_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("q_id", "vec_id", "label", "cosine_sim")
    )


@query(
    "embedding_quantize",
    oracle=f"""
        WITH v AS (
            SELECT vec_id, {_EMB_D} AS e FROM embeddings
        ),
        p AS (
            SELECT vec_id, e,
                   greatest(list_max(list_transform(e, x -> abs(x))) / 127.0,
                            1e-12) AS scale
            FROM v
        ),
        q AS (
            SELECT vec_id, e, scale,
                   list_transform(e, x -> round(x / scale)) AS qv
            FROM p
        )
        SELECT vec_id,
               CAST(len(e) AS INT) AS n_dims,
               CAST(floor(scale * 1000000000) AS BIGINT) AS scale_nano,
               CAST(list_sum(qv) AS BIGINT) AS q_sum,
               CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT)
                   AS q_l1,
               CAST(floor(sqrt(list_reduce(
                         list_prepend(CAST(0 AS DOUBLE),
                             list_transform(list_zip(e, qv),
                                 pr -> (pr[1] - pr[2] * scale)
                                       * (pr[1] - pr[2] * scale))),
                         (acc, x) -> acc + x)
                     / len(e)) * 1000000000) AS BIGINT) AS rmse_nano
        FROM q
    """,
    description="symmetric int8 embedding quantization: per-vector "
    "absmax/127 scale, elementwise round, plus reconstruction RMSE — the "
    "compression step before shipping an embedding corpus to an ANN "
    "index. All higher-order-function codegen (transform/aggregate), "
    "zero shuffle, and the quantized checksums + error are bit-identical "
    "to the oracle because both engines fold the same doubles in the "
    "same order; float outputs are floored into integer nano-units "
    "because Spark's round() (decimal HALF_UP on the shortest repr) and "
    "DuckDB's (binary) disagree at decimal half boundaries",
)
def embedding_quantize(spark, sf_dir):
    e = V.to_double_array("embedding")
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", e.alias("e")
    )
    scale = F.greatest(
        F.array_max(F.transform("e", F.abs)) / F.lit(127.0), F.lit(1e-12)
    )
    p = v.select("vec_id", "e", scale.alias("scale"))
    qv = F.transform("e", lambda x: F.round(x / F.col("scale")))
    q = p.select("vec_id", "e", "scale", qv.alias("qv"))
    sq_err = F.zip_with(
        "e",
        "qv",
        lambda x, qi: (x - qi * F.col("scale")) * (x - qi * F.col("scale")),
    )
    return q.select(
        "vec_id",
        F.size("e").alias("n_dims"),
        F.floor(F.col("scale") * 1_000_000_000).cast("long").alias(
            "scale_nano"
        ),
        F.aggregate("qv", F.lit(0.0), lambda a, x: a + x)
        .cast("long")
        .alias("q_sum"),
        F.aggregate("qv", F.lit(0.0), lambda a, x: a + F.abs(x))
        .cast("long")
        .alias("q_l1"),
        F.floor(
            F.sqrt(
                F.aggregate(sq_err, F.lit(0.0), lambda a, x: a + x)
                / F.size("e")
            )
            * 1_000_000_000
        )
        .cast("long")
        .alias("rmse_nano"),
    )


@query(
    "embedding_drift_centroids",
    oracle=f"""
        WITH e AS (
            SELECT label,
                   unnest({_EMB_D}) AS v,
                   unnest(range(1, len(embedding) + 1)) AS dim
            FROM embeddings
        ),
        e2 AS (
            SELECT label, dim,
                   CAST(floor(v * 1000000) AS BIGINT) AS vq
            FROM e
        ),
        ld AS (
            SELECT label, dim, CAST(sum(vq) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS n
            FROM e2 GROUP BY label, dim
        ),
        gd AS (
            SELECT dim, CAST(sum(s) AS BIGINT) AS sg,
                   CAST(sum(n) AS BIGINT) AS ng
            FROM ld GROUP BY dim
        ),
        d AS (
            SELECT label, ld.dim, ld.n,
                   CAST(floor(abs(CAST(s AS DOUBLE) / n
                                  - CAST(sg AS DOUBLE) / ng) * 1000)
                        AS BIGINT) AS shift_nano
            FROM ld JOIN gd USING (dim)
        )
        SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
               CAST(sum(shift_nano) AS BIGINT) AS l1_shift_nano,
               CAST(max(shift_nano) AS BIGINT) AS max_dim_shift_nano
        FROM d GROUP BY label
    """,
    description="embedding drift monitor: per-label centroid shift from "
    "the global centroid (L1 over dimensions + worst dimension) — the "
    "check that flags a class whose representation moved between corpus "
    "versions. Vector elements are floored into integer micro-units "
    "BEFORE any aggregation, so every per-dimension sum is an exact "
    "integer under any partitioning; per-dimension shifts floor into "
    "nano-units and sum as integers, so the result is bit-identical in "
    "both engines. Plan: posexplode to skinny (label, dim, int) rows, "
    "one partially-aggregated groupBy, a broadcast of the per-dimension "
    "global row, and a tiny per-label re-aggregation",
)
def embedding_drift_centroids(spark, sf_dir):
    e = (
        load(spark, sf_dir, "embeddings")
        .select("label", F.posexplode(V.to_double_array("embedding")))
        .select(
            "label",
            (F.col("pos") + 1).alias("dim"),
            F.floor(F.col("col") * 1_000_000).cast("long").alias("vq"),
        )
    )
    ld = e.groupBy("label", "dim").agg(
        F.sum("vq").cast("long").alias("s"),
        F.count("*").cast("long").alias("n"),
    )
    gd = ld.groupBy("dim").agg(
        F.sum("s").cast("long").alias("sg"),
        F.sum("n").cast("long").alias("ng"),
    )
    shift = F.floor(
        F.abs(
            F.col("s").cast("double") / F.col("n")
            - F.col("sg").cast("double") / F.col("ng")
        )
        * 1_000
    ).cast("long")
    d = ld.join(F.broadcast(gd), "dim").select(
        "label", "n", shift.alias("shift_nano")
    )
    return d.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.sum("shift_nano").cast("long").alias("l1_shift_nano"),
        F.max("shift_nano").cast("long").alias("max_dim_shift_nano"),
    )


_RECALL_K = 10
_RECALL_NQ = 5


@query(
    "ann_recall_eval",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, {_EMB_D} AS ev,
                   {V.hyperplane_bucket_sql(_EMB_D, _PLANES_8)} AS bucket
            FROM embeddings
        ),
        q AS (
            SELECT vec_id AS qid, ev AS qv, bucket AS qbucket
            FROM e WHERE vec_id < {_RECALL_NQ}
        ),
        exact AS (
            SELECT q.qid, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY round({V.cosine_sql('e.ev', 'q.qv')}, 6)
                                DESC, e.vec_id
                   ) AS rn
            FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
        ),
        ex AS (SELECT qid, vec_id FROM exact WHERE rn <= {_RECALL_K}),
        lsh AS (
            SELECT q.qid, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY round({V.cosine_sql('e.ev', 'q.qv')}, 6)
                                DESC, e.vec_id
                   ) AS rn
            FROM e JOIN q ON e.bucket = q.qbucket
            WHERE e.vec_id <> q.qid
        ),
        ls AS (SELECT qid, vec_id FROM lsh WHERE rn <= {_RECALL_K})
        SELECT ex.qid AS query_id,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(count(ls.vec_id) AS BIGINT) AS n_hits,
               CAST(count(ls.vec_id) * 1000000 // count(*) AS BIGINT)
                   AS recall_ppm
        FROM ex LEFT JOIN ls
          ON ls.qid = ex.qid AND ls.vec_id = ex.vec_id
        GROUP BY ex.qid
    """,
    description=f"ANN quality harness: recall@{_RECALL_K} of the "
    "8-hyperplane-LSH bucketed search against the exact cosine top-k, per "
    f"query, for {_RECALL_NQ} broadcast query vectors — the metric that "
    "decides whether an ANN index is usable before it ships. Both "
    "rankings use the identical round+id tiebreak so the comparison is "
    "deterministic; recall lands as exact integer ppm. Plan: the corpus "
    "is scored once per ranking against a broadcast query set (skinny "
    "(qid, vec_id, sim) rows into per-query top-k windows), the rankings "
    "join on (qid, vec_id) — vectors themselves never shuffle",
)
def ann_recall_eval(spark, sf_dir):
    from pyspark.sql import Window

    emb = rebalance(load(spark, sf_dir, "embeddings")).select(
        "vec_id", V.to_double_array("embedding").alias("ev")
    )
    e = emb.selectExpr(
        "*", f"{V.hyperplane_bucket_expr('ev', _PLANES_8)} AS bucket"
    )
    q = e.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("ev").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    # r13: the exact and LSH sides each re-ran the corpus parse + q
    # scoring and met in a pair join; the LSH candidate set is a SUBSET
    # of the exact all-pairs set, so ONE crossJoin pass (which the exact
    # twin already pays by design) carries an in-bucket flag, the two
    # top-K ranks come from two windows over the same qid partitioning,
    # and the hit test is row-local — one corpus scan, no pair join.
    # Identical sim expression and tie-breaks, so rows are unchanged.
    sim = F.round(F.expr(V.cosine_expr("ev", "qv")), 6)
    w_ex = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    w_ls = Window.partitionBy("qid", "in_bucket").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            sim.alias("sim"),
            (F.col("bucket") == F.col("qbucket")).alias("in_bucket"),
        )
        .select(
            "qid",
            "vec_id",
            "in_bucket",
            F.row_number().over(w_ex).alias("ex_rn"),
            F.row_number().over(w_ls).alias("ls_rn"),
        )
    )
    in_ex = F.col("ex_rn") <= _RECALL_K
    in_ls = F.col("in_bucket") & (F.col("ls_rn") <= _RECALL_K)
    return (
        scored.filter(in_ex)
        .select("qid", in_ls.alias("hit"))
        .groupBy(F.col("qid").alias("query_id"))
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.count_if(F.col("hit")).cast("long").alias("n_hits"),
            F.expr(
                "CAST(count_if(hit) * 1000000 DIV count(*) AS LONG)"
            ).alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): the compression step behind
# billion-scale ANN indexes — each vector becomes M small code ids, one per
# subspace, against per-subspace codebooks.
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces (64 dims -> 8 sub-vectors of 8)
_PQ_SUB = _DIM // _PQ_M
_PQ_K = 16  # codes per subspace: sub-vectors of the 16 smallest vec_ids
_PQ_QUANT = 1000  # fixed-point scale so distances are exact integers

_PQ_X = (
    "list_transform(list_transform(embedding, v -> CAST(v AS DOUBLE)), "
    f"v -> CAST(floor(v * {_PQ_QUANT}) AS BIGINT))"
)


_PQ_CACHE = SessionCache(8, frames=lambda df: (df,))


def _pq_fixed(spark, sf_dir):
    """Embeddings in exact fixed-point: vec_id + x (int components).

    Session-cached and persisted: pq_encode / pq_adc_topk /
    pq_recall_eval each hold several references (codebook, encode,
    query set, exact baseline) — unpersisted, every reference rescans
    the parquet and re-runs the quantize transform (5 raw scans in
    pq_recall_eval's plan)."""
    return _PQ_CACHE.get(
        spark,
        sf_dir,
        lambda: rebalance(load(spark, sf_dir, "embeddings")).selectExpr(
            "vec_id",
            f"transform({V.to_double_expr('embedding')}, "
            f"v -> CAST(floor(v * {_PQ_QUANT}) AS BIGINT)) AS x",
        ),
    )


def _pq_codebook(emb):
    """Deterministic codebook as ONE broadcastable row: cbs = array of
    (cid, cx) for the _PQ_K smallest vec_ids."""
    return (
        emb.filter(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("cid"), F.col("x").alias("cx"))
        .agg(F.collect_list(F.struct("cid", "cx")).alias("cbs"))
    )


def _pq_codes_expr() -> str:
    """array<struct(d, cid)> of per-subspace nearest-codebook assignments
    — a nested fold over (subspace, code) entirely in codegen; requires
    columns ``x`` (fixed-point vector) and ``cbs`` (codebook row).
    Returned as Spark-SQL text (see functions/vector.py): the nested
    8-subspace x 16-code fold built via the Column API cost ~1 s of py4j
    round trips per construction."""
    init = (
        f"struct(CAST({1 << 62} AS BIGINT) AS d, CAST(NULL AS BIGINT) AS cid)"
    )
    subs = []
    for j in range(_PQ_M):
        lo = j * _PQ_SUB + 1
        d = (
            f"aggregate(zip_with(slice(x, {lo}, {_PQ_SUB}), "
            f"slice(c.cx, {lo}, {_PQ_SUB}), (p, q) -> (p - q) * (p - q)), "
            f"CAST(0 AS BIGINT), (acc2, v) -> acc2 + v)"
        )
        subs.append(
            f"aggregate(cbs, {init}, (acc, c) -> CASE WHEN ({d} < acc.d) "
            f"OR (({d} = acc.d) AND (c.cid < acc.cid)) THEN "
            f"struct({d} AS d, c.cid AS cid) ELSE acc END)"
        )
    return "array(" + ", ".join(subs) + ")"


@query(
    "pq_encode",
    oracle=f"""
        WITH e AS (SELECT vec_id, {_PQ_X} AS x FROM embeddings),
        cb AS (SELECT vec_id AS cid, x AS cx FROM e WHERE vec_id < {_PQ_K}),
        sub AS (
            SELECT e.vec_id, r.j, c.cid,
                   list_sum(list_transform(list_zip(
                       list_slice(e.x, r.j * {_PQ_SUB} + 1,
                                  r.j * {_PQ_SUB} + {_PQ_SUB}),
                       list_slice(c.cx, r.j * {_PQ_SUB} + 1,
                                  r.j * {_PQ_SUB} + {_PQ_SUB})),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
            FROM e
            CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS j) r
            CROSS JOIN cb c
        ),
        best AS (
            SELECT vec_id, j, cid, d FROM (
                SELECT vec_id, j, cid, d,
                       row_number() OVER (
                           PARTITION BY vec_id, j ORDER BY d, cid
                       ) AS rn
                FROM sub
            ) WHERE rn = 1
        )
        SELECT vec_id,
               string_agg(cid, '-' ORDER BY j) AS pq_code,
               CAST(sum(d) AS BIGINT) AS sq_err
        FROM best GROUP BY vec_id
    """,
    description="product quantization encode (the billion-scale ANN "
    f"compression step): {_DIM} dims split into {_PQ_M} subspaces of "
    f"{_PQ_SUB}, each sub-vector snapped to the nearest of {_PQ_K} "
    "deterministic codebook entries (argmin of exact integer squared "
    "distance on fixed-point components, tie -> smaller code id) — a "
    f"{_DIM * 4}-byte float vector becomes {_PQ_M} code ids plus an "
    "integer reconstruction error, the asymmetric-distance index format. "
    "Plan: the codebook collapses to ONE broadcast array-of-structs row; "
    "encoding is a nested fold (subspaces x codes) entirely inside "
    "whole-stage codegen — ZERO shuffle of the corpus, no N-by-K join, "
    "no window; DuckDB replays the same argmin via row_number to prove "
    "the fold exact",
)
def pq_encode(spark, sf_dir):
    emb = _pq_fixed(spark, sf_dir)
    cb_arr = _pq_codebook(emb)
    codes = _pq_codes_expr()
    return emb.crossJoin(F.broadcast(cb_arr)).selectExpr(
        "vec_id",
        f"array_join(transform({codes}, s -> CAST(s.cid AS STRING)), '-') "
        "AS pq_code",
        f"aggregate({codes}, CAST(0 AS BIGINT), (acc, s) -> acc + s.d) "
        "AS sq_err",
    )


# ---------------------------------------------------------------------------
# PQ asymmetric-distance search (ADC): the query stays exact, the corpus is
# its PQ codes — distance = sum over subspaces of ||q_sub - codebook[code]||^2.
# This is the serving half of the billion-scale PQ index pq_encode builds.
# ---------------------------------------------------------------------------

_ADC_Q_LO = _PQ_K  # queries: first vectors OUTSIDE the codebook
_ADC_Q_HI = _PQ_K + 4
_ADC_TOPK = 10


@query(
    "pq_adc_topk",
    oracle=f"""
        WITH e AS (SELECT vec_id, {_PQ_X} AS x FROM embeddings),
        cb AS (SELECT vec_id AS cid, x AS cx FROM e WHERE vec_id < {_PQ_K}),
        sub AS (
            SELECT e.vec_id, r.j, c.cid,
                   list_sum(list_transform(list_zip(
                       list_slice(e.x, r.j * {_PQ_SUB} + 1,
                                  r.j * {_PQ_SUB} + {_PQ_SUB}),
                       list_slice(c.cx, r.j * {_PQ_SUB} + 1,
                                  r.j * {_PQ_SUB} + {_PQ_SUB})),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
            FROM e
            CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS j) r
            CROSS JOIN cb c
        ),
        best AS (
            SELECT vec_id, j, cid FROM (
                SELECT vec_id, j, cid,
                       row_number() OVER (
                           PARTITION BY vec_id, j ORDER BY d, cid
                       ) AS rn
                FROM sub
            ) WHERE rn = 1
        ),
        q AS (
            SELECT vec_id AS q_id, x AS qx FROM e
            WHERE vec_id >= {_ADC_Q_LO} AND vec_id < {_ADC_Q_HI}
        ),
        adc AS (
            SELECT q.q_id, b.vec_id,
                   CAST(sum(list_sum(list_transform(list_zip(
                       list_slice(q.qx, b.j * {_PQ_SUB} + 1,
                                  b.j * {_PQ_SUB} + {_PQ_SUB}),
                       list_slice(c.cx, b.j * {_PQ_SUB} + 1,
                                  b.j * {_PQ_SUB} + {_PQ_SUB})),
                       p -> (p[1] - p[2]) * (p[1] - p[2])))) AS BIGINT)
                       AS adc_dist
            FROM best b JOIN cb c ON b.cid = c.cid
            CROSS JOIN q
            GROUP BY q.q_id, b.vec_id
        )
        SELECT q_id, CAST(rn AS BIGINT) AS rank, vec_id, adc_dist
        FROM (
            SELECT q_id, vec_id, adc_dist,
                   row_number() OVER (
                       PARTITION BY q_id ORDER BY adc_dist, vec_id
                   ) AS rn
            FROM adc
        ) WHERE rn <= {_ADC_TOPK}
    """,
    description="PQ asymmetric-distance top-k search — the serving half "
    "of the pq_encode index: the query vector stays exact fixed-point, "
    "every corpus vector is reduced to its per-subspace codebook "
    "assignment, and distance is the sum of exact integer "
    "query-to-codebook-centroid squared distances. The codebook and the "
    "query set are each ONE broadcast row, corpus vectors encode and "
    "score entirely inside whole-stage codegen with ZERO corpus "
    "shuffle; only skinny (q_id, vec_id, dist) rows reach the per-query "
    "top-k window. At 100 TB this is the memory win that makes ANN "
    f"possible: {_DIM * 4} bytes/vector becomes {_PQ_M} code ids. "
    "DuckDB replays encode + LUT scoring + ranking to prove the whole "
    "path exact",
)
def pq_adc_topk(spark, sf_dir):
    from pyspark.sql import Window

    emb = _pq_fixed(spark, sf_dir)
    # codebook AND query set in ONE broadcast row (they partition the
    # vec_id < _ADC_Q_HI prefix, collect_list skips the CASE's NULLs):
    # the separate cb_arr/queries aggregates each cost their own
    # broadcast-build job over the same persisted relation, two serial
    # barriers where one suffices — element order inside either array is
    # irrelevant (argmin tie-breaks on cid; queries re-key by q_id)
    cbq = emb.filter(F.col("vec_id") < _ADC_Q_HI).agg(
        F.expr(
            f"collect_list(CASE WHEN vec_id < {_PQ_K} THEN "
            "struct(vec_id AS cid, x AS cx) END)"
        ).alias("cbs"),
        F.expr(
            f"collect_list(CASE WHEN vec_id >= {_ADC_Q_LO} THEN "
            "struct(vec_id AS q_id, x AS qx) END)"
        ).alias("qs"),
    )
    codes = _pq_codes_expr()
    # cid -> cx lookup for ADC reconstruction (map built from the one
    # broadcast codebook row, evaluated in codegen)
    scored = (
        emb.crossJoin(F.broadcast(cbq))
        .selectExpr(
            "vec_id",
            f"transform({codes}, s -> s.cid) AS cids",
            "map_from_entries(transform(cbs, c -> struct(c.cid, c.cx))) "
            "AS cbmap",
            "qs",
        )
        .select(
            "vec_id",
            F.explode("qs").alias("q"),
            "cbmap",
            "cids",
        )
    )
    subs = []
    for j in range(_PQ_M):
        lo = j * _PQ_SUB + 1
        cx_j = f"element_at(cbmap, element_at(cids, {j + 1}))"
        subs.append(
            f"aggregate(zip_with(slice(q.qx, {lo}, {_PQ_SUB}), "
            f"slice({cx_j}, {lo}, {_PQ_SUB}), (p, r) -> (p - r) * (p - r)), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
    adc = " + ".join(subs)
    w = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    return (
        scored.selectExpr(
            "q.q_id AS q_id",
            "vec_id",
            f"CAST({adc} AS BIGINT) AS adc_dist",
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _ADC_TOPK)
        .select("q_id", "rank", "vec_id", "adc_dist")
    )


@query(
    "pq_recall_eval",
    oracle=f"""
        WITH e AS (SELECT vec_id, {_PQ_X} AS x FROM embeddings),
        cb AS (SELECT vec_id AS cid, x AS cx FROM e WHERE vec_id < {_PQ_K}),
        sub AS (
            SELECT e.vec_id, r.j, c.cid,
                   list_sum(list_transform(list_zip(
                       list_slice(e.x, r.j * {_PQ_SUB} + 1,
                                  r.j * {_PQ_SUB} + {_PQ_SUB}),
                       list_slice(c.cx, r.j * {_PQ_SUB} + 1,
                                  r.j * {_PQ_SUB} + {_PQ_SUB})),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
            FROM e
            CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS j) r
            CROSS JOIN cb c
        ),
        best AS (
            SELECT vec_id, j, cid FROM (
                SELECT vec_id, j, cid,
                       row_number() OVER (
                           PARTITION BY vec_id, j ORDER BY d, cid
                       ) AS rn
                FROM sub
            ) WHERE rn = 1
        ),
        q AS (
            SELECT vec_id AS q_id, x AS qx FROM e
            WHERE vec_id >= {_ADC_Q_LO} AND vec_id < {_ADC_Q_HI}
        ),
        adc_top AS (
            SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (
                           PARTITION BY q_id ORDER BY adc_dist, vec_id
                       ) AS rn
                FROM (
                    SELECT q.q_id, b.vec_id,
                           CAST(sum(list_sum(list_transform(list_zip(
                               list_slice(q.qx, b.j * {_PQ_SUB} + 1,
                                          b.j * {_PQ_SUB} + {_PQ_SUB}),
                               list_slice(c.cx, b.j * {_PQ_SUB} + 1,
                                          b.j * {_PQ_SUB} + {_PQ_SUB})),
                               p -> (p[1] - p[2]) * (p[1] - p[2]))))
                               AS BIGINT) AS adc_dist
                    FROM best b JOIN cb c ON b.cid = c.cid
                    CROSS JOIN q
                    GROUP BY q.q_id, b.vec_id
                )
            ) WHERE rn <= {_ADC_TOPK}
        ),
        exact_top AS (
            SELECT q_id, vec_id FROM (
                SELECT q.q_id, e.vec_id,
                       row_number() OVER (
                           PARTITION BY q.q_id
                           ORDER BY list_sum(list_transform(
                               list_zip(q.qx, e.x),
                               p -> (p[1] - p[2]) * (p[1] - p[2]))),
                               e.vec_id
                       ) AS rn
                FROM e CROSS JOIN q
            ) WHERE rn <= {_ADC_TOPK}
        )
        SELECT x.q_id,
               CAST(count(a.vec_id) AS BIGINT) AS n_hits,
               CAST(count(a.vec_id) * 1000000 // {_ADC_TOPK} AS BIGINT)
                   AS recall_ppm
        FROM exact_top x
        LEFT JOIN adc_top a
          ON x.q_id = a.q_id AND x.vec_id = a.vec_id
        GROUP BY x.q_id
    """,
    description="recall@k of the PQ asymmetric-distance search against "
    "exact fixed-point L2 top-k — the eval that tells you whether the "
    f"{_PQ_M}-byte compression is usable (mirrors ann_recall_eval's "
    "role for the LSH index). ONE corpus pass computes BOTH distances "
    "(exact and via codes) map-side; the two per-query rankings are "
    "windows sharing a single q_id exchange of skinny "
    "(q_id, vec_id, dist, dist) rows, and the recall join disappears — "
    "a row's membership in both top-k lists is just rn_exact<=k AND "
    "rn_adc<=k on the same row. Exact integer distances end to end, so "
    "even the recall fractions are hash-exact in ppm",
)
def pq_recall_eval(spark, sf_dir):
    from pyspark.sql import Window

    emb = _pq_fixed(spark, sf_dir)
    # codebook + query set in ONE broadcast row (pq_adc_topk's cbq
    # shape): r13 fused the formerly separate exact / ADC branches —
    # each ran its own corpus expansion, its own q_id exchange, and met
    # in a broadcast join of the whole ADC subquery (13 serial jobs).
    # Both rankings partition by q_id, so computing both distances in
    # one projection lets the two windows share ONE exchange and the
    # final groupBy(q_id) reuses that partitioning (guide §2.4).
    cbq = emb.filter(F.col("vec_id") < _ADC_Q_HI).agg(
        F.expr(
            f"collect_list(CASE WHEN vec_id < {_PQ_K} THEN "
            "struct(vec_id AS cid, x AS cx) END)"
        ).alias("cbs"),
        F.expr(
            f"collect_list(CASE WHEN vec_id >= {_ADC_Q_LO} THEN "
            "struct(vec_id AS q_id, x AS qx) END)"
        ).alias("qs"),
    )
    codes = _pq_codes_expr()
    scored = (
        emb.crossJoin(F.broadcast(cbq))
        .selectExpr(
            "vec_id",
            "x",
            f"transform({codes}, s -> s.cid) AS cids",
            "map_from_entries(transform(cbs, c -> struct(c.cid, c.cx))) "
            "AS cbmap",
            "qs",
        )
        .select(
            "vec_id",
            F.explode("qs").alias("q"),
            "cbmap",
            "cids",
            "x",
        )
    )
    subs = []
    for j in range(_PQ_M):
        lo = j * _PQ_SUB + 1
        cx_j = f"element_at(cbmap, element_at(cids, {j + 1}))"
        subs.append(
            f"aggregate(zip_with(slice(q.qx, {lo}, {_PQ_SUB}), "
            f"slice({cx_j}, {lo}, {_PQ_SUB}), (p, r) -> (p - r) * (p - r)), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
    adc = " + ".join(subs)
    d_exact = (
        "aggregate(zip_with(q.qx, x, (p, r) -> (p - r) * (p - r)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    w_adc = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    w_exact = Window.partitionBy("q_id").orderBy("d", "vec_id")
    hit = f"CASE WHEN rn_a <= {_ADC_TOPK} THEN 1 END"
    return (
        scored.selectExpr(
            "q.q_id AS q_id",
            "vec_id",
            f"CAST({adc} AS BIGINT) AS adc_dist",
            f"{d_exact} AS d",
        )
        .withColumn("rn_a", F.row_number().over(w_adc))
        .withColumn("rn_e", F.row_number().over(w_exact))
        .filter(F.col("rn_e") <= _ADC_TOPK)
        .groupBy("q_id")
        .agg(
            F.expr(f"count({hit})").cast("long").alias("n_hits"),
            F.expr(f"count({hit}) * 1000000 div {_ADC_TOPK}")
            .cast("long")
            .alias("recall_ppm"),
        )
    )


_KNNC_SEEDS = 50  # labeled seed set: vec_id < 50 (few-shot labeling)
_KNNC_K = 3


@query(
    "knn_classify",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label, {_EMB_D} AS ev FROM embeddings
        ),
        seeds AS (
            SELECT vec_id AS s_id, label AS s_label, ev AS sv FROM e
            WHERE vec_id < {_KNNC_SEEDS}
        ),
        scored AS (
            SELECT e.vec_id, s.s_id, s.s_label,
                   round({V.cosine_sql('e.ev', 's.sv')}, 6) AS sim
            FROM e CROSS JOIN seeds s WHERE e.vec_id >= {_KNNC_SEEDS}
        ),
        top AS (
            SELECT vec_id, s_id, s_label, sim FROM (
                SELECT vec_id, s_id, s_label, sim,
                       row_number() OVER (
                           PARTITION BY vec_id ORDER BY sim DESC, s_id
                       ) AS rn
                FROM scored
            ) WHERE rn <= {_KNNC_K}
        )
        SELECT vec_id, pred_label, n_votes FROM (
            SELECT vec_id, s_label AS pred_label,
                   CAST(count(*) AS BIGINT) AS n_votes,
                   row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY count(*) DESC, s_label
                   ) AS rn
            FROM top GROUP BY vec_id, s_label
        ) WHERE rn = 1
    """,
    description=f"k-NN label propagation (few-shot classification): each "
    f"unlabeled vector takes the majority label of its {_KNNC_K} most "
    f"cosine-similar vectors from a {_KNNC_SEEDS}-seed labeled set, ties "
    "broken by smallest label — how a small human-labeled sample fans "
    "out over an unlabeled corpus. Plan: the seed set is TINY by "
    "construction so it broadcasts whole (corpus never shuffles for "
    "scoring); the per-vector top-k window holds 50 skinny "
    "(id, label, sim) rows of state per key, and the majority vote is a "
    "bounded second window over at most k rows per vector. The "
    "deterministic (sim, seed-id) and (votes, label) orderings make the "
    "prediction engine-exact — the oracle replays it bit for bit",
)
def knn_classify(spark, sf_dir):
    from pyspark.sql import Window

    emb = rebalance(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", V.to_double_array("embedding").alias("ev")
    )
    seeds = emb.filter(F.col("vec_id") < _KNNC_SEEDS).select(
        F.col("vec_id").alias("s_id"),
        F.col("label").alias("s_label"),
        F.col("ev").alias("sv"),
    )
    scored = (
        emb.filter(F.col("vec_id") >= _KNNC_SEEDS)
        .crossJoin(F.broadcast(seeds))
        .select(
            "vec_id",
            "s_id",
            "s_label",
            F.round(F.expr(V.cosine_expr("ev", "sv")), 6).alias("sim"),
        )
    )
    wtop = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), "s_id"
    )
    top = scored.withColumn("rn", F.row_number().over(wtop)).filter(
        F.col("rn") <= _KNNC_K
    )
    votes = top.groupBy("vec_id", "s_label").agg(
        F.count("*").cast("long").alias("n_votes")
    )
    wpick = Window.partitionBy("vec_id").orderBy(
        F.col("n_votes").desc(), "s_label"
    )
    return (
        votes.withColumn("rn", F.row_number().over(wpick))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("s_label").alias("pred_label"), "n_votes")
    )


@query(
    "ann_filtered_topk",
    oracle=f"""
        WITH q AS (
            SELECT {_EMB_D} AS qv FROM embeddings WHERE vec_id = 0
        )
        SELECT e.vec_id, e.label,
               round({V.cosine_sql(_EMB_D.replace('embedding', 'e.embedding'), 'q.qv')}, 6)
                   AS cosine_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0 AND e.label IN (1, 3)
        ORDER BY cosine_sim DESC, e.vec_id
        LIMIT 10
    """,
    description="metadata-FILTERED vector search (the vector-database "
    "staple: top-k within a predicate, e.g. 'same language only'): "
    "brute-force cosine top-10 restricted to label IN (1, 3). Plan: the "
    "label predicate is applied BEFORE any vector math — pre-filtering, "
    "not post-filtering a larger top-k, so recall under the filter is "
    "exact by construction and the pushed filter prunes the scan "
    "(plan-asserted); still TakeOrderedAndProject, no vector shuffle",
)
def ann_filtered_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        V.to_double_array("embedding").alias("qv")
    )
    e = emb.filter(
        (F.col("vec_id") != 0) & F.col("label").isin(1, 3)
    ).select("vec_id", "label", V.to_double_array("embedding").alias("ev"))
    sim = F.round(F.expr(V.cosine_expr("ev", "qv")), 6)
    return (
        e.crossJoin(F.broadcast(qv))
        .select("vec_id", "label", sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "ann_multiprobe_lsh",
    oracle=f"""
        WITH b AS (
            SELECT vec_id, label, {_EMB_D} AS ev,
                   {V.hyperplane_bucket_sql(_EMB_D, _PLANES_8)} AS bucket
            FROM embeddings
        ),
        q AS (SELECT ev AS qv, bucket AS qbucket FROM b WHERE vec_id = 0),
        probes AS (
            SELECT xor(q.qbucket,
                       CASE WHEN g.i = -1 THEN 0
                            ELSE (1::BIGINT << g.i) END) AS bucket,
                   q.qv
            FROM q, (SELECT unnest(generate_series(-1, 7)) AS i) g
        )
        SELECT b.vec_id, b.label,
               round({V.cosine_sql('b.ev', 'probes.qv')}, 6) AS cosine_sim
        FROM b JOIN probes ON b.bucket = probes.bucket
        WHERE b.vec_id <> 0
        ORDER BY cosine_sim DESC, b.vec_id
        LIMIT 10
    """,
    description="multiprobe LSH ANN — the standard recall fix for "
    "single-bucket hyperplane LSH: probe the query's own 8-bit bucket "
    "PLUS the 8 one-bit-flip neighbor buckets (vectors near a "
    "hyperplane land across it), then score cosine only within the 9 "
    "probed buckets. Plan: the 9-row probe set is BROADCAST and the "
    "candidate filter is an equi-join on bucket id, so the corpus "
    "shuffles nothing and vector math runs on ~9/256 of the data — "
    "recall approaches brute force at a fraction of ann_cosine_topk's "
    "comparisons, the multiprobe trade every production ANN service "
    "makes",
)
def ann_multiprobe_lsh(spark, sf_dir):
    emb = rebalance(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", V.to_double_array("embedding").alias("ev")
    )
    b = emb.selectExpr(
        "*", f"{V.hyperplane_bucket_expr('ev', _PLANES_8)} AS bucket"
    )
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("ev").alias("qv"), F.col("bucket").alias("qbucket")
    )
    probes = q.select(
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.expr(f"qbucket ^ {1 << i}").cast("long")
                    for i in range(8)
                ],
            )
        ).alias("bucket"),
        "qv",
    )
    sim = F.round(F.expr(V.cosine_expr("ev", "qv")), 6)
    return (
        b.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probes), "bucket")
        .select("vec_id", "label", sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(10)
    )


# dimension truncation (Matryoshka-style): score with a PREFIX of the
# embedding, re-rank/evaluate against the full vector
_TRUNC_D = 16
_TRUNC_NQ = 8
_TRUNC_K = 10
_EMB_T = f"list_slice({_EMB_D}, 1, {_TRUNC_D})"


@query(
    "embedding_truncate_recall",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, {_EMB_D} AS ev, {_EMB_T} AS tv
            FROM embeddings
        ),
        q AS (
            SELECT vec_id AS qid, ev AS qv, tv AS qtv
            FROM e WHERE vec_id < {_TRUNC_NQ}
        ),
        exact AS (
            SELECT q.qid, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY round({V.cosine_sql('e.ev', 'q.qv')}, 6)
                                DESC, e.vec_id
                   ) AS rn
            FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
        ),
        ex AS (SELECT qid, vec_id FROM exact WHERE rn <= {_TRUNC_K}),
        trunc AS (
            SELECT q.qid, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY round({V.cosine_sql('e.tv', 'q.qtv')}, 6)
                                DESC, e.vec_id
                   ) AS rn
            FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
        ),
        tr AS (SELECT qid, vec_id FROM trunc WHERE rn <= {_TRUNC_K})
        SELECT ex.qid AS query_id,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(count(tr.vec_id) AS BIGINT) AS n_hits,
               CAST(count(tr.vec_id) * 1000000 // count(*) AS BIGINT)
                   AS recall_ppm
        FROM ex LEFT JOIN tr
          ON tr.qid = ex.qid AND tr.vec_id = ex.vec_id
        GROUP BY ex.qid
    """,
    description=f"dimension-truncation quality eval (the Matryoshka-"
    f"representation trade): recall@{_TRUNC_K} of cosine ranking on the "
    f"FIRST {_TRUNC_D} of {_DIM} dimensions against the full-dimension "
    f"exact ranking, per query, for {_TRUNC_NQ} broadcast query vectors "
    "— quantifies how much ANN quality survives a 4x cheaper index "
    "(truncated vectors = 4x less memory bandwidth and compute per "
    "comparison). Same broadcast-query/top-k-window shape as "
    "ann_recall_eval: the corpus never shuffles, scored rows are "
    "skinny (qid, vec_id, sim) triples",
)
def embedding_truncate_recall(spark, sf_dir):
    from pyspark.sql import Window

    # r14 (ann_recall_eval's r13 fusion precedent, guide §2.4 "share one
    # exchange"): the full-dim and truncated rankings used to be TWO
    # corpus crossJoin passes met by a left join — the corpus was scored
    # twice and the skinny (qid, vec_id) sets paid a third exchange to
    # meet. One pass now computes BOTH cosines per (corpus row, query);
    # the two rankings are row_number windows sharing a single
    # hashpartitioning(qid) exchange (the second ordering is an
    # in-partition re-sort, not a new shuffle), and the hit test is
    # row-local: a truncated-ranking hit is simply rn_tr <= K on a row
    # already inside the exact top-K. Equivalence: row_number gives
    # exactly K exact rows per qid with the same (sim desc, vec_id)
    # tie-break, and count_if(rn_tr <= K) over those rows IS |ex ∩ tr|.
    emb = rebalance(load(spark, sf_dir, "embeddings")).select(
        "vec_id", V.to_double_array("embedding").alias("ev")
    )
    e = emb.withColumn("tv", F.slice("ev", 1, _TRUNC_D))
    q = e.filter(F.col("vec_id") < _TRUNC_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("ev").alias("qv"),
        F.col("tv").alias("qtv"),
    )
    w_ex = Window.partitionBy("qid").orderBy(
        F.col("sim_ex").desc(), F.col("vec_id")
    )
    w_tr = Window.partitionBy("qid").orderBy(
        F.col("sim_tr").desc(), F.col("vec_id")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(F.expr(V.cosine_expr("ev", "qv")), 6).alias("sim_ex"),
            F.round(F.expr(V.cosine_expr("tv", "qtv")), 6).alias("sim_tr"),
        )
    )
    return (
        scored.withColumn("rn_ex", F.row_number().over(w_ex))
        .withColumn("rn_tr", F.row_number().over(w_tr))
        .filter(F.col("rn_ex") <= _TRUNC_K)
        .groupBy(F.col("qid").alias("query_id"))
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.expr(f"CAST(count_if(rn_tr <= {_TRUNC_K}) AS BIGINT)").alias(
                "n_hits"
            ),
            F.expr(
                f"CAST(count_if(rn_tr <= {_TRUNC_K}) * 1000000"
                " DIV count(*) AS LONG)"
            ).alias("recall_ppm"),
        )
    )


_LND_MOD = 20  # audit sample: every 20th vector (deterministic 5%)
_LND_K = 5


@query(
    "knn_label_disagreement",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label, {_EMB_D} AS ev FROM embeddings
        ),
        probes AS (
            SELECT vec_id AS p_id, label AS p_label, ev AS pv FROM e
            WHERE vec_id % {_LND_MOD} = 0
        ),
        scored AS (
            SELECT p.p_id, p.p_label, e.vec_id, e.label,
                   round({V.cosine_sql('e.ev', 'p.pv')}, 6) AS sim
            FROM e CROSS JOIN probes p WHERE e.vec_id <> p.p_id
        ),
        top AS (
            SELECT p_id, p_label, label FROM (
                SELECT p_id, p_label, label, sim,
                       row_number() OVER (
                           PARTITION BY p_id ORDER BY sim DESC, vec_id
                       ) AS rn
                FROM scored
            ) WHERE rn <= {_LND_K}
        ),
        voted AS (
            SELECT p_id, p_label, label AS knn_label,
                   CAST(count(*) AS BIGINT) AS n_votes,
                   row_number() OVER (
                       PARTITION BY p_id
                       ORDER BY count(*) DESC, label
                   ) AS rn
            FROM top GROUP BY p_id, p_label, label
        )
        SELECT p_id AS vec_id, p_label AS own_label, knn_label, n_votes,
               CAST(CASE WHEN knn_label = p_label THEN 1 ELSE 0 END
                    AS BIGINT) AS agree
        FROM voted WHERE rn = 1
    """,
    description="label-noise audit via k-NN disagreement (the confident-"
    "learning screen: a point whose neighbors vote for a different label "
    f"is a mislabeling candidate): every {_LND_MOD}th vector is audited "
    f"against its {_LND_K} nearest OTHER vectors by cosine; majority "
    "label with (votes desc, label) tie-break, plus an agree flag. "
    "Plan: the probe set is a deterministic 1/"
    f"{_LND_MOD} sample, broadcast whole — the corpus scans ONCE and "
    "never shuffles for scoring; per-probe state is bounded by the "
    "corpus stream x top-k window, and the vote is a second window over "
    f"<= {_LND_K} rows. The audit-a-sample shape is the honest 100 TB "
    "form of this operator: full-corpus all-pairs disagreement is "
    "O(n^2) no matter the engine, so production label-noise screens "
    "audit a rotating sample exactly like this",
)
def knn_label_disagreement(spark, sf_dir):
    from pyspark.sql import Window

    emb = rebalance(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", V.to_double_array("embedding").alias("ev")
    )
    probes = emb.filter(F.col("vec_id") % _LND_MOD == 0).select(
        F.col("vec_id").alias("p_id"),
        F.col("label").alias("p_label"),
        F.col("ev").alias("pv"),
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("p_id"))
        .select(
            "p_id",
            "p_label",
            "vec_id",
            "label",
            F.round(F.expr(V.cosine_expr("ev", "pv")), 6).alias("sim"),
        )
    )
    wtop = Window.partitionBy("p_id").orderBy(F.col("sim").desc(), "vec_id")
    top = scored.withColumn("rn", F.row_number().over(wtop)).filter(
        F.col("rn") <= _LND_K
    )
    wpick = Window.partitionBy("p_id").orderBy(
        F.col("n_votes").desc(), "label"
    )
    return (
        top.groupBy("p_id", "p_label", "label")
        .agg(F.count("*").cast("long").alias("n_votes"))
        .withColumn("rn", F.row_number().over(wpick))
        .filter(F.col("rn") == 1)
        .select(
            F.col("p_id").alias("vec_id"),
            F.col("p_label").alias("own_label"),
            F.col("label").alias("knn_label"),
            "n_votes",
            F.when(F.col("label") == F.col("p_label"), 1)
            .otherwise(0)
            .cast("long")
            .alias("agree"),
        )
    )


@query(
    "embedding_norm_audit",
    oracle="""
        WITH q AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000)
                                 AS BIGINT)) AS qv
            FROM embeddings
        ),
        n AS (
            SELECT vec_id,
                   CAST(floor(sqrt(CAST(list_sum(
                       list_transform(qv, v -> v * v)) AS DOUBLE)))
                       AS BIGINT) AS nm
            FROM q
        ),
        med AS (
            SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY nm) AS med
            FROM n
        ),
        dev AS (
            SELECT nm, med.med AS med, abs(nm - med.med) AS d
            FROM n CROSS JOIN med
        ),
        mad AS (
            SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY d) AS mad
            FROM dev
        )
        SELECT CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(min(dev.med) AS BIGINT) AS median_norm_milli,
               CAST(min(mad.mad) AS BIGINT) AS mad_milli,
               CAST(count(*) FILTER (WHERE dev.d > 5 * mad.mad)
                    AS BIGINT) AS n_outliers,
               CAST(max(dev.d) AS BIGINT) AS max_deviation
        FROM dev CROSS JOIN mad
    """,
    description="embedding-corpus norm audit: the QA gate an ANN index "
    "build runs first — zero vectors, truncated rows, and re-scaled "
    "batches (a model-version mixup multiplies every norm) all surface "
    "as norm outliers, and cosine quietly hides them until recall "
    "craters. Per-vector norms in exact integer milli-units (elements "
    "quantized to milli BEFORE squaring, so the integer sum is "
    "order-free across partitions and engines; floor(sqrt) of the same "
    "integer is bit-equal both sides), then exact median + MAD over the "
    "HISTOGRAM of norms — the norm domain is bounded (~64k distinct "
    "milli values for unit-scale embeddings), so the median walk runs "
    "over a histogram whose size is independent of corpus row count, "
    "the same compression trick as percentile_summary. One "
    "partial-agg histogram shuffle, then bounded-size window walks; "
    "report is a single row",
)
def embedding_norm_audit(spark, sf_dir):
    from pyspark.sql import Window

    q = rebalance(load(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform(
            V.to_double_array("embedding"),
            lambda x: F.floor(x * 1000).cast("long"),
        ).alias("qv"),
    )
    nm = F.floor(
        F.sqrt(
            F.aggregate(
                F.transform("qv", lambda v: v * v),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).cast("double")
        )
    ).cast("long")
    hist = (
        q.select(nm.alias("nm"))
        .groupBy("nm")
        .agg(F.count("*").alias("cnt"))
    )
    one = Window.partitionBy(F.lit(1))
    run_n = one.orderBy("nm").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    med = (
        hist.withColumn("cum", F.sum("cnt").over(run_n))
        .withColumn("tot", F.sum("cnt").over(one))
        .withColumn(
            "med",
            F.min(
                F.when(F.col("cum") * 2 >= F.col("tot"), F.col("nm"))
            ).over(one),
        )
    )
    dev = med.select(
        "med",
        F.abs(F.col("nm") - F.col("med")).alias("d"),
        "cnt",
    )
    dhist = dev.groupBy("med", "d").agg(F.sum("cnt").alias("cnt"))
    run_d = one.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    final = (
        dhist.withColumn("cum", F.sum("cnt").over(run_d))
        .withColumn("tot", F.sum("cnt").over(one))
        .withColumn(
            "mad",
            F.min(
                F.when(F.col("cum") * 2 >= F.col("tot"), F.col("d"))
            ).over(one),
        )
    )
    return final.agg(
        F.sum("cnt").cast("long").alias("n_vectors"),
        F.min("med").cast("long").alias("median_norm_milli"),
        F.min("mad").cast("long").alias("mad_milli"),
        F.sum(
            F.when(F.col("d") > 5 * F.col("mad"), F.col("cnt")).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
        F.max("d").cast("long").alias("max_deviation"),
    )


_RANGE_TAU = 0.25  # cosine radius (fixture embeddings are near-orthogonal)


@query(
    "ann_range_search",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, label, {_EMB_D} AS ev,
                   {V.hyperplane_bucket_sql(_EMB_D, _PLANES_8)} AS b
            FROM embeddings
        ),
        q AS (
            SELECT vec_id AS query_id, ev AS qv, b AS qb
            FROM e WHERE vec_id < 5
        )
        SELECT q.query_id, e.vec_id, e.label,
               round({V.cosine_sql('e.ev', 'q.qv')}, 6) AS cosine_sim
        FROM e CROSS JOIN q
        WHERE e.b = q.qb AND e.vec_id <> q.query_id
          AND round({V.cosine_sql('e.ev', 'q.qv')}, 6) >= {_RANGE_TAU}
    """,
    description=f"radius (range) similarity search — the dual of top-k "
    "ANN: return EVERY vector within a fixed cosine radius of each "
    f"query ({_RANGE_TAU} here; fixture embeddings are near-orthogonal) "
    "rather than the best k. Top-k hides recall cliffs when a query has "
    "many in-radius neighbors (dedup, abuse clustering, coverage "
    "audits all want the full in-radius set). Candidates must share the "
    "query's 8-bit hyperplane bucket BEFORE any vector math — the same "
    "prune-then-verify discipline as ann_lsh_bucketed, with "
    "ann_multiprobe_lsh's neighbor-bucket expansion as the recall "
    "upgrade path when the radius is tight relative to bucket "
    "granularity. The 5-query dim broadcasts; the corpus is scanned "
    "once, never self-joined",
)
def ann_range_search(spark, sf_dir):
    emb = rebalance(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", V.to_double_array("embedding").alias("ev")
    )
    b = emb.selectExpr(
        "*", f"{V.hyperplane_bucket_expr('ev', _PLANES_8)} AS b"
    )
    q = b.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("ev").alias("qv"),
        F.col("b").alias("qb"),
    )
    sim = F.round(F.expr(V.cosine_expr("ev", "qv")), 6)
    return (
        b.crossJoin(F.broadcast(q))
        .filter(
            (F.col("b") == F.col("qb"))
            & (F.col("vec_id") != F.col("query_id"))
        )
        .select("query_id", "vec_id", "label", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= _RANGE_TAU)
    )


# nprobe tiers swept by ann_ivf_probe_curve. Monotone by construction
# (each tier's probe set contains the previous one), so the curve shows
# exactly how much recall each extra probed cell buys.
_PROBE_TIERS = (1, 2, 4, 8)


@query(
    "ann_ivf_probe_curve",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, {_EMB_D} AS ev FROM embeddings
        ),
        c AS (
            SELECT vec_id AS cid, ev AS cv FROM e
            WHERE vec_id % {_IVF_STRIDE} = 1
            ORDER BY vec_id LIMIT {_IVF_K}
        ),
        scored AS (
            SELECT e.vec_id, e.ev, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({V.cosine_sql('e.ev', 'c.cv')}, 6)
                                DESC, c.cid
                   ) AS rn
            FROM e CROSS JOIN c
        ),
        assigned AS (
            SELECT vec_id, ev, cid FROM scored WHERE rn = 1
        ),
        q AS (
            SELECT vec_id AS qid, ev AS qv FROM e
            WHERE vec_id < {_RECALL_NQ}
        ),
        crank AS (
            SELECT q.qid, c.cid,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY round({V.cosine_sql('q.qv', 'c.cv')}, 6)
                                DESC, c.cid
                   ) AS rk
            FROM q CROSS JOIN c
        ),
        tiers AS (SELECT unnest({list(_PROBE_TIERS)}) AS nprobe),
        probe AS (
            SELECT qid, nprobe, cid FROM crank JOIN tiers ON rk <= nprobe
        ),
        exact AS (
            SELECT q.qid, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY round({V.cosine_sql('e.ev', 'q.qv')}, 6)
                                DESC, e.vec_id
                   ) AS rn
            FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
        ),
        ex AS (SELECT qid, vec_id FROM exact WHERE rn <= {_RECALL_K}),
        cand AS (
            SELECT p.qid, p.nprobe, a.vec_id,
                   round({V.cosine_sql('a.ev', 'q.qv')}, 6) AS sim
            FROM probe p
            JOIN assigned a ON a.cid = p.cid
            JOIN q ON q.qid = p.qid
            WHERE a.vec_id <> p.qid
        ),
        ivf AS (
            SELECT qid, nprobe, vec_id FROM (
                SELECT qid, nprobe, vec_id,
                       row_number() OVER (
                           PARTITION BY qid, nprobe
                           ORDER BY sim DESC, vec_id
                       ) AS rn
                FROM cand
            ) WHERE rn <= {_RECALL_K}
        )
        SELECT CAST(x.nprobe AS BIGINT) AS nprobe,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(count(ivf.vec_id) AS BIGINT) AS n_hits,
               CAST(count(ivf.vec_id) * 1000000 // count(*) AS BIGINT)
                   AS recall_ppm
        FROM (SELECT tiers.nprobe, ex.qid, ex.vec_id
              FROM ex CROSS JOIN tiers) x
        LEFT JOIN ivf ON ivf.nprobe = x.nprobe AND ivf.qid = x.qid
                     AND ivf.vec_id = x.vec_id
        GROUP BY 1
    """,
    description="IVF tuning curve: recall@10 against the exact top-k as "
    f"a function of nprobe (cells probed per query) over {_PROBE_TIERS} "
    "— the knob every coarse-quantized ANN deployment must set (probe "
    "too few cells and recall craters on cell-boundary neighbors, too "
    "many and the index stops being approximate). Same fixed "
    f"{_IVF_K}-centroid budget and broadcast argmax-fold assignment as "
    "ann_ivf_topk (no N-by-K shuffle); the centroid RANKING per query "
    f"is a {_RECALL_NQ}x{_IVF_K}-row window, the probe sets broadcast, "
    "and the exact side is the verification twin's one O(N*Q) scan with "
    "Q fixed (the pq_recall_eval precedent). Rounded-cosine plus id "
    "tiebreaks keep every ranking engine-identical; recall is exact "
    "integer ppm. The curve is monotone in nprobe by construction — a "
    "non-monotone row is a bucketing bug, not noise",
)
def ann_ivf_probe_curve(spark, sf_dir):
    from pyspark.sql import Window

    emb = rebalance(load(spark, sf_dir, "embeddings")).select(
        "vec_id", V.to_double_array("embedding").alias("ev")
    )
    cent = (
        emb.filter(F.col("vec_id") % _IVF_STRIDE == 1)
        .select(F.col("vec_id").alias("cid"), F.col("ev").alias("cv"))
        .orderBy("cid")
        .limit(_IVF_K)
    )
    cent_arr = cent.agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
    # SQL-text argmax fold (see functions/vector.py)
    csim_c = f"round({V.cosine_expr('ev', 'c.cv')}, 6)"
    take = (
        f"({csim_c} > acc.sim) OR (({csim_c} = acc.sim) AND "
        f"(c.cid < acc.cid))"
    )
    fold = (
        "aggregate(cents, struct(-2.0D AS sim, CAST(NULL AS BIGINT) AS cid), "
        f"(acc, c) -> CASE WHEN {take} THEN "
        f"struct({csim_c} AS sim, c.cid AS cid) ELSE acc END)['cid']"
    )
    assigned = (
        emb.crossJoin(F.broadcast(cent_arr))
        .selectExpr(
            "vec_id",
            "ev",
            f"{fold} AS cid",
        )
        .transform(scratch_persist)
    )
    q = emb.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("qid"), F.col("ev").alias("qv")
    )
    # per-query centroid ranking: NQ x K rows, window over that only
    crank = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "qid",
            "cid",
            F.round(F.expr(V.cosine_expr("qv", "cv")), 6).alias("csim"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("csim").desc(), F.col("cid")
                )
            ),
        )
    )
    tiers = F.explode(
        F.array(*[F.lit(t) for t in _PROBE_TIERS])
    ).alias("nprobe")
    # the probe sets are NESTED (tier t's cells contain tier t-1's), so
    # join the corpus against the MAX tier's probe set only, compute the
    # expensive vector cosine ONCE per (qid, vec_id), and fan the tiers
    # out afterwards over the skinny (qid, rk, vec_id, sim) rows — the
    # old per-tier probe join recomputed the same cosine up to
    # len(_PROBE_TIERS) times on rows still carrying both vectors
    # (measured ~1.9x the vector work at 10x data, BENCH_IVF_STAGES.json)
    probe = crank.select("qid", "cid", "rk").filter(
        F.col("rk") <= max(_PROBE_TIERS)
    )
    sim = F.round(F.expr(V.cosine_expr("ev", "qv")), 6)
    # r14 fusion (the ann_recall_eval precedent; guide §2.4): the exact
    # and IVF sides used to be two separate corpus expansions — `ex`
    # cosined emb x Q and windowed, `cand` re-cosined the probed subset
    # through two more joins, and they met in a 4-tier LEFT join (19
    # jobs). The IVF candidate pairs are a SUBSET of the exact pairs, so
    # ONE corpus-x-queries pass computes every cosine once; each pair
    # carries its cell's probe rank (broadcast left join, NULL = cell
    # not probed for that query), the exact rank is one qid window, the
    # tier fanout explodes AFTER that window (4 skinny rows per pair, no
    # new exchange — hashpartitioning(qid) already clusters (qid,
    # nprobe)), and the per-tier candidate rank is a running count of
    # probed rows in the same sort order, which equals row_number over
    # the candidate subset because (sim desc, vec_id) is a total order.
    # hit = exact-top-k AND candidate-rank <= k, so the final relation
    # aggregates in place — no ivf/exact join at all. Plan: 19 -> 7
    # jobs, one window exchange instead of two windows + a 4-tier SMJ.
    pairs = (
        assigned.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "cid", "vec_id", sim.alias("sim"))
        .join(F.broadcast(probe), ["qid", "cid"], "left")
    )
    w_all = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    tiered = (
        pairs.withColumn("rn_all", F.row_number().over(w_all))
        .select("qid", "vec_id", "sim", "rk", "rn_all", tiers)
    )
    is_cand = F.col("rk").isNotNull() & (F.col("rk") <= F.col("nprobe"))
    w_tier = (
        Window.partitionBy("qid", "nprobe")
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cand_rank = F.sum(F.when(is_cand, 1).otherwise(0)).over(w_tier)
    flagged = tiered.withColumn(
        "ivf_hit",
        F.when(is_cand & (cand_rank <= _RECALL_K), F.lit(1)),
    )
    return (
        flagged.filter(F.col("rn_all") <= _RECALL_K)
        .groupBy(F.col("nprobe").cast("long").alias("nprobe"))
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.count("ivf_hit").cast("long").alias("n_hits"),
            F.expr(
                "CAST(count(ivf_hit) * 1000000 DIV count(*) AS LONG)"
            ).alias("recall_ppm"),
        )
    )
