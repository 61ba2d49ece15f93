"""K-means centroid training (Lloyd's algorithm) as a distributed
DataFrame dataflow — the iterative-algorithm counterpart to the one-shot
assignment in ``ann_ivf_topk``'s coarse quantizer.

Per round: (1) nearest-centroid assignment is a per-row argmin fold over a
broadcast array-of-structs of centroids — a narrow codegen projection, no
N×K shuffle; (2) the centroid update is ONE partial-aggregated groupBy
emitting per-dimension sums (64 integer aggregates + a count), so the only
shuffle per round carries K rows of partial sums per map task. The K-row
centroid relation collapses to a single broadcastable row between rounds;
nothing ever goes through the driver.

Cross-engine exactness (what makes an ITERATIVE float algorithm
hash-checkable against SQL): embeddings are quantized to integers
(``floor(v * 1000)``) so per-cluster sums are exact and order-independent;
centroid components are then ``sum/count`` — an exactly-rounded IEEE
division of exactly-representable integers, bit-identical in any engine —
and squared-distance folds run in the same sequential order on both sides.
The oracle replays both Lloyd rounds as chained CTEs.

At 100 TB you run this on a small uniform sample (k-means only needs
enough data to place K centroids), then ``ann_ivf_topk``-style assignment
distributes the trained centroids to the full corpus; the round count is
fixed (no data-dependent convergence scan over the big table).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hls_payer_mrf_sparkstreaming_spark.functions import vector as V
from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
    load,
    query,
    rebalance,
    scratch_persist,
)

_DIM = 64
_K = 8  # seeds: the K smallest vec_ids
_QUANT = 1000  # fixed-point scale: floor(v * 1000) per component
_ROUNDS = 2

# quantized int vector and its double view, shared Spark/SQL
_X_SQL = (
    "list_transform(list_transform(embedding, v -> CAST(v AS DOUBLE)), "
    f"v -> CAST(floor(v * {_QUANT}) AS BIGINT))"
)


def _sqdist_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )


def _kmeans_oracle() -> str:
    sums = ", ".join(f"sum(x[{d + 1}]) AS s{d}" for d in range(_DIM))
    cvals = ", ".join(
        f"CAST(s{d} AS DOUBLE) / CAST(n AS DOUBLE)" for d in range(_DIM)
    )

    def assign(cent_rel: str, out: str) -> str:
        return f"""
        {out} AS (
            SELECT vec_id, x, xd, cid FROM (
                SELECT ed.vec_id, ed.x, ed.xd, c.cid,
                       row_number() OVER (
                           PARTITION BY ed.vec_id
                           ORDER BY {_sqdist_sql("ed.xd", "c.cv")}, c.cid
                       ) AS rn
                FROM ed CROSS JOIN {cent_rel} c
            ) WHERE rn = 1
        )"""

    return f"""
        WITH e AS (SELECT vec_id, {_X_SQL} AS x FROM embeddings),
        ed AS (
            SELECT vec_id, x,
                   list_transform(x, v -> CAST(v AS DOUBLE)) AS xd
            FROM e
        ),
        c0 AS (SELECT vec_id AS cid, xd AS cv FROM ed WHERE vec_id < {_K}),
        {assign("c0", "a1")},
        s1 AS (SELECT cid, count(*) AS n, {sums} FROM a1 GROUP BY cid),
        c1 AS (SELECT cid, list_value({cvals}) AS cv FROM s1),
        {assign("c1", "a2")}
        SELECT vec_id, cid AS cluster_id FROM a2
    """


# Spark-SQL text twins (see functions/vector.py): the argmin fold over the
# broadcast centroid array and the 64 per-dimension aggregates are built in
# Python loops — ~1.3 s of py4j round trips per kmeans_train construction,
# driver time paid at every scale. One selectExpr string parses the same
# tree in the JVM.
_QUANTIZE_EXPR = (
    "transform(transform({col}, x -> CAST(x AS DOUBLE)), "
    f"v -> CAST(floor(v * {_QUANT}) AS BIGINT))"
)


def _sqdist_expr(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (p, q) -> (p - q) * (p - q)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def _argmin_cid_expr(vec: str = "xd", cents: str = "cents") -> str:
    """argmin-distance fold over the broadcast centroid array (tie ->
    smaller cid), as one Spark-SQL expression string."""
    d = _sqdist_expr(vec, "c.cv")
    return (
        f"aggregate({cents}, "
        "struct(CAST('Infinity' AS DOUBLE) AS d, CAST(NULL AS BIGINT) AS cid), "
        f"(acc, c) -> CASE WHEN ({d} < acc.d) OR (({d} = acc.d) AND "
        f"(c.cid < acc.cid)) THEN struct({d} AS d, c.cid AS cid) "
        f"ELSE acc END)['cid']"
    )


def _assign(points, cent_arr):
    """Nearest centroid per row: argmin fold over the broadcast centroid
    array (tie → smaller cid), entirely inside codegen."""
    return points.crossJoin(F.broadcast(cent_arr)).select(
        "vec_id",
        "x",
        "xd",
        F.expr(_argmin_cid_expr()).alias("cid"),
    )


def kmeans_assignments(emb, k: int = _K, rounds: int = _ROUNDS):
    """Run ``rounds`` Lloyd iterations over a (vec_id, embedding) DataFrame;
    returns (vec_id, cluster_id). Seeds = the k smallest vec_ids."""
    pts = emb.selectExpr(
        "vec_id", _QUANTIZE_EXPR.format(col="embedding") + " AS x"
    ).selectExpr("*", "transform(x, v -> CAST(v AS DOUBLE)) AS xd")
    pts = scratch_persist(pts)

    cent_arr = (
        pts.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").alias("cid"), F.col("xd").alias("cv"))
        .agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
    )
    # one parsed expression for the 64 per-dimension sums (a Column-per-
    # dimension agg costs ~130 py4j round trips per round) — the struct is
    # a result projection over the same 65 aggregate functions, so the
    # HashAggregate is unchanged
    sums_expr = F.expr(
        "struct(count(*) AS n, "
        + ", ".join(f"sum(x[{d}]) AS s{d}" for d in range(_DIM))
        + ")"
    ).alias("s")
    cv_expr = (
        "array("
        + ", ".join(
            f"CAST(s.s{d} AS DOUBLE) / CAST(s.n AS DOUBLE)"
            for d in range(_DIM)
        )
        + ") AS cv"
    )
    assigned = None
    for _ in range(rounds):
        if assigned is not None:
            sums = assigned.groupBy("cid").agg(sums_expr)
            cent = sums.selectExpr("cid", cv_expr)
            cent_arr = cent.agg(
                F.collect_list(F.struct("cid", "cv")).alias("cents")
            )
        assigned = _assign(pts, cent_arr)
    return assigned.select("vec_id", F.col("cid").alias("cluster_id"))


@query(
    "kmeans_train",
    oracle=_kmeans_oracle(),
    description="k-means centroid training (2 Lloyd rounds, k=8): per-row "
    "argmin fold over broadcast centroids (no N-by-K shuffle), centroid "
    "update as one partial-aggregated groupBy of per-dimension integer "
    "sums; fixed-point quantization makes the iterative float algorithm "
    "bit-identical to the oracle's chained-CTE replay. Trains the coarse "
    "quantizer that ann_ivf_topk consumes",
)
def kmeans_train(spark, sf_dir):
    emb = rebalance(load(spark, sf_dir, "embeddings"))
    return kmeans_assignments(emb)


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup, Abbas et al. 2023): coarse-cluster the
# embedding corpus, then prune near-identical vectors WITHIN each cell —
# the pairwise cosine work is bounded per (cell, LSH-bucket) block and the
# corpus is never compared all-pairs.
# ---------------------------------------------------------------------------

_SEM_STRIDE = 37  # vec_id % stride == 1 -> coarse centroid (as ann_ivf_topk)
_SEM_TWIN_MOD = 5  # vec_id % 5 == 0 gets a scaled twin (planted semantic dup)
_SEM_TAU = 0.9  # cosine threshold for "same meaning"

_SEM_EMB_D = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


def _sem_planes():
    from hls_payer_mrf_sparkstreaming_spark.operators.similarity import (
        _planes,
    )

    return _planes(8, seed=23)


_SEM_PLANES = _sem_planes()


_SEM_K = 64  # centroid budget: FIXED, never grows with the corpus
_SEM_W = 16  # sorted-neighborhood width inside a (cell, bucket) block


@query(
    "semantic_dedup",
    oracle=f"""
        WITH e0 AS (SELECT vec_id, {_SEM_EMB_D} AS ev FROM embeddings),
        aug AS (
            SELECT vec_id * 2 AS id, ev FROM e0
            UNION ALL
            SELECT vec_id * 2 + 1 AS id,
                   list_transform(ev, x -> x * 1.5) AS ev
            FROM e0 WHERE vec_id % {_SEM_TWIN_MOD} = 0
        ),
        c AS (
            SELECT vec_id AS cid, ev AS cv FROM e0
            WHERE vec_id % {_SEM_STRIDE} = 1
            ORDER BY vec_id LIMIT {_SEM_K}
        ),
        asg AS (
            SELECT id, ev, cid FROM (
                SELECT a.id, a.ev, c.cid,
                       row_number() OVER (
                           PARTITION BY a.id
                           ORDER BY round({V.cosine_sql("a.ev", "c.cv")}, 6)
                                    DESC, c.cid
                       ) AS rn
                FROM aug a CROSS JOIN c
            ) WHERE rn = 1
        ),
        b AS (
            SELECT id, ev, cid,
                   {V.hyperplane_bucket_sql("ev", _SEM_PLANES)} AS bucket
            FROM asg
        ),
        w AS (
            SELECT id, cid, ev,
                   COALESCE(list(ev) OVER (
                       PARTITION BY cid, bucket ORDER BY id
                       ROWS BETWEEN {_SEM_W} PRECEDING AND 1 PRECEDING
                   ), []) AS prev
            FROM b
        )
        SELECT id, cid AS cluster_id,
               len(list_filter(prev,
                   p -> round({V.cosine_sql("ev", "p")}, 6) >= {_SEM_TAU}
               )) > 0 AS is_dropped
        FROM w
    """,
    description="semantic deduplication (SemDeDup shape): coarse-assign "
    "every embedding to its max-cosine centroid, then drop any vector "
    "whose (cell, 8-bit-LSH-bucket) block holds an id-earlier vector "
    "within the sorted-neighborhood window at cosine >= 0.9 — keep-first "
    "pruning of same-meaning redundancy that exact/MinHash text dedup "
    f"can never see. Scaled twin vectors are planted for every "
    f"{_SEM_TWIN_MOD}th id (cosine is scale-invariant, so they are exact "
    "semantic dups, and adjacent ids — always inside the window) to make "
    "pruning non-vacuous at every SF. Scale shape (r10 rework; the old "
    "stride-sampled centroid list grew WITH the corpus, making the "
    f"argmax fold O(N^2/stride) — 12.3x wall at 10x data): a FIXED "
    f"{_SEM_K}-centroid budget keeps assignment O(N*K) (per-row fold "
    "over ONE broadcast centroid array, no N-by-K shuffle), and the "
    f"pairwise check is a {_SEM_W}-row sorted-neighborhood window per "
    "(cell, bucket) — one exchange + block-local sort, O(N*W) "
    "comparisons, NEVER a block self-join whose cost tracks block "
    "height^2. Vectors shuffle once, verdicts emerge in-window with no "
    "drop-side rejoin",
)
def semantic_dedup(spark, sf_dir):
    from pyspark.sql import Window

    # THREE consumers read e0 (the aug main branch, the scaled-twin
    # branch, the centroid sample); without a persist each one re-runs
    # the scan + float->double conversion + the rebalance exchange —
    # measured as the second-largest sf1 cost after the fold itself
    e0 = scratch_persist(
        rebalance(load(spark, sf_dir, "embeddings")).select(
            "vec_id", V.to_double_array("embedding").alias("ev")
        )
    )
    aug = (
        e0.select((F.col("vec_id") * 2).alias("id"), "ev")
        .unionAll(
            e0.filter(F.col("vec_id") % _SEM_TWIN_MOD == 0).select(
                (F.col("vec_id") * 2 + 1).alias("id"),
                F.transform("ev", lambda x: x * 1.5).alias("ev"),
            )
        )
    )
    cent_arr = (
        e0.filter(F.col("vec_id") % _SEM_STRIDE == 1)
        .select(F.col("vec_id").alias("cid"), F.col("ev").alias("cv"))
        .orderBy("cid")
        .limit(_SEM_K)
        .select(
            "cid", "cv", V.norm(F.col("cv")).alias("cn")
        )
        .agg(F.collect_list(F.struct("cid", "cv", "cn")).alias("cents"))
    )
    # Assignment is a fold over the broadcast centroid array with
    # loop-invariant norms HOISTED (r11): cosine(a, b) would re-derive
    # norm(a) for every centroid (64x per row) and norm(b) for every row;
    # precomputing norm(ev) once per row ("en") and norm(cv) once per
    # centroid ("cn", baked into the broadcast struct) folds only the
    # dot product. Every double is produced by the SAME expression over
    # the SAME operands as the naive form (dot unchanged, norms
    # unchanged, en*cn multiplies the identical pair), so results — and
    # the DuckDB hash parity — are bit-identical at a third of the
    # per-row work. (r11 also tried explode+hash-agg and unrolled
    # element_at chains here: both measured SLOWER than this fold on
    # Spark 4, whose higher-order functions evaluate efficiently; the
    # narrow no-shuffle fold plan won.)
    # SQL-text fold (see functions/vector.py): same expressions, parsed
    # once in the JVM instead of ~600 py4j round trips per construction
    sim = f"round({V.dot_expr('ev', 'c.cv')} / (en * c.cn), 6)"
    take = f"({sim} > acc.sim) OR (({sim} = acc.sim) AND (c.cid < acc.cid))"
    fold = (
        "aggregate(cents, "
        "struct(-2.0D AS sim, CAST(NULL AS BIGINT) AS cid), "
        f"(acc, c) -> CASE WHEN {take} THEN "
        f"struct({sim} AS sim, c.cid AS cid) ELSE acc END)['cid']"
    )
    blocked = (
        aug.selectExpr("*", f"{V.norm_expr('ev')} AS en")
        .crossJoin(F.broadcast(cent_arr))
        .selectExpr(
            "id",
            "ev",
            "en",
            f"{fold} AS cid",
            f"{V.hyperplane_bucket_expr('ev', _SEM_PLANES)} AS bucket",
        )
    )
    # the window's neighbor check carries (ev, en) structs so each of the
    # <= _SEM_W comparisons folds one dot product (norms precomputed)
    prev = F.collect_list(F.struct("ev", "en")).over(
        Window.partitionBy("cid", "bucket")
        .orderBy("id")
        .rowsBetween(-_SEM_W, -1)
    )
    dropped = (
        f"exists(prev, p -> round({V.dot_expr('ev', 'p.ev')} / (en * p.en), 6)"
        f" >= {_SEM_TAU}D)"
    )
    return blocked.withColumn("prev", prev).selectExpr(
        "id",
        "cid AS cluster_id",
        f"{dropped} AS is_dropped",
    )


# ---------------------------------------------------------------------------
# Power iteration for the dominant principal direction — the third
# iterative-algorithm class here (k-means above = centroid EM, PageRank in
# dedup.py = graph fixpoint, this = linear algebra), all oracle-exact via
# fixed-point integer arithmetic.
# ---------------------------------------------------------------------------

_PI_ROUNDS = 3
_PI_VSCALE = 1000  # v components in integer milli-units, max-norm = 1000

_PI_X_SQL = (
    "list_transform(list_transform(embedding, v -> CAST(v AS DOUBLE)), "
    "v -> CAST(floor(v * 1000) AS BIGINT))"
)


def _pi_oracle() -> str:
    dims = _DIM
    body = f"""
        e AS (SELECT vec_id, {_PI_X_SQL} AS x FROM embeddings),
        v0 AS (SELECT list_transform(range(1, {dims} + 1),
                                     i -> CAST({_PI_VSCALE} AS BIGINT)) AS v)"""
    for r in range(_PI_ROUNDS):
        body += f""",
        s{r} AS (
            SELECT e.vec_id, e.x,
                   list_sum(list_transform(list_zip(e.x, v{r}.v),
                                           p -> p[1] * p[2])) AS s
            FROM e CROSS JOIN v{r}
        ),
        raw{r} AS (
            SELECT d.d, CAST(sum(s{r}.s * s{r}.x[d.d]) AS BIGINT) AS raw
            FROM s{r}
            CROSS JOIN (SELECT unnest(range(1, {dims} + 1)) AS d) d
            GROUP BY d.d
        ),
        v{r + 1} AS (
            SELECT list(CASE WHEN raw < 0 THEN -1 ELSE 1 END
                        * (abs(raw) * {_PI_VSCALE} // g) ORDER BY d) AS v
            FROM raw{r}, (SELECT max(abs(raw)) AS g FROM raw{r})
        )"""
    return f"""
        WITH {body.lstrip()}
        SELECT d.i AS dim, v[d.i] AS v_milli
        FROM v{_PI_ROUNDS},
             (SELECT unnest(range(1, {dims} + 1)) AS i) d
    """


@query(
    "pca_power_iteration",
    oracle=_pi_oracle(),
    description=f"dominant principal direction via {_PI_ROUNDS} rounds of "
    "power iteration (v <- X'Xv, max-norm renormalized each round) in "
    "EXACT fixed-point integers: embeddings quantize to milli-units, the "
    "per-row projection s_i = x.v is a codegen fold over ONE broadcast "
    "v row, the Gram-vector product X'(Xv) is a posexplode into "
    "(dim, s*x_d) partial sums — 64 rows out per round regardless of "
    "corpus size — and renormalization divides abs values only "
    "(sign split out) so truncation direction can never differ between "
    "engines. No N x N Gram matrix, no per-round driver collect beyond "
    "the 64-row v relation; at extreme scale the integer sums move to "
    "DECIMAL(38,0) with the same plan shape. The iterative "
    "linear-algebra class next to kmeans_train (EM) and graph_pagerank "
    "(graph fixpoint), oracle-replayed round by round",
)
def pca_power_iteration(spark, sf_dir):
    e = rebalance(load(spark, sf_dir, "embeddings")).selectExpr(
        "vec_id", _QUANTIZE_EXPR.format(col="embedding") + " AS x"
    )
    e = scratch_persist(e)
    v_row = spark.range(1).selectExpr(
        "array("
        + ", ".join(f"CAST({_PI_VSCALE} AS BIGINT)" for _ in range(_DIM))
        + ") AS v"
    )
    dot_iv = (
        "aggregate(zip_with(x, v, (a, b) -> a * b), "
        "CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )
    # r14 rework (the kmeans struct-agg precedent): X'(Xv) used to
    # posexplode every row into 64 (dim, s*x_d) rows — a 64x row multiply
    # of the whole corpus — then groupBy(d) (one exchange) and a window
    # max for the renormalizer (another pass over the 64-row relation).
    # The 64 dimension sums are instead ONE map-side-combinable aggregate
    # producing a single 64-element array row (identical integer sums,
    # any order), and the max-abs renormalizer plus the sign/floor-div
    # become in-row array expressions over that one row. Per round this
    # drops the posexplode blowup, the dim exchange and the window: the
    # plan is cache-scan -> partial agg -> one-row project -> broadcast.
    raw_expr = (
        "array("
        + ", ".join(
            f"CAST(sum(s * element_at(x, {d + 1})) AS BIGINT)"
            for d in range(_DIM)
        )
        + ") AS raw"
    )
    # g = max |raw_d| in-row; v_d = sign(raw_d) * (|raw_d| * SCALE div g),
    # the same exact integer expression the oracle computes per dimension
    norm_expr = (
        "transform(raw, r -> CAST(CASE WHEN r < 0 THEN -1 ELSE 1 END "
        f"* (abs(r) * {_PI_VSCALE} div "
        "array_max(transform(raw, t -> abs(t)))) AS BIGINT)) AS v"
    )
    for _ in range(_PI_ROUNDS):
        s = e.crossJoin(F.broadcast(v_row)).selectExpr(
            "x", f"{dot_iv} AS s"
        )
        v_row = s.agg(F.expr(raw_expr)).selectExpr(norm_expr)
    return v_row.select(
        F.posexplode("v").alias("i0", "v_milli")
    ).select((F.col("i0") + 1).alias("dim"), "v_milli")


@query(
    "cluster_quality_summary",
    oracle=f"""
        WITH e AS (SELECT vec_id, {_X_SQL} AS x FROM embeddings),
        ed AS (
            SELECT vec_id, x,
                   list_transform(x, v -> CAST(v AS DOUBLE)) AS xd
            FROM e
        ),
        c AS (SELECT vec_id AS cid, xd AS cv FROM ed WHERE vec_id < {_K}),
        scored AS (
            SELECT ed.vec_id, c.cid,
                   CAST({_sqdist_sql("ed.xd", "c.cv")} AS BIGINT) AS d,
                   row_number() OVER (
                       PARTITION BY ed.vec_id
                       ORDER BY {_sqdist_sql("ed.xd", "c.cv")}, c.cid
                   ) AS rn
            FROM ed CROSS JOIN c
        ),
        own AS (SELECT vec_id, cid, d AS d_own FROM scored WHERE rn = 1),
        alt AS (SELECT vec_id, d AS d_alt FROM scored WHERE rn = 2)
        SELECT o.cid AS cluster_id,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(o.d_own) AS BIGINT) AS sum_d_own,
               CAST(sum(a.d_alt) AS BIGINT) AS sum_d_alt,
               CAST(count(*) FILTER (a.d_alt < 2 * o.d_own) AS BIGINT)
                   AS n_boundary
        FROM own o JOIN alt a USING (vec_id)
        GROUP BY o.cid
    """,
    description="cluster assignment quality: per cluster, the summed "
    "squared distance to the OWN centroid next to the summed distance to "
    "the SECOND-nearest centroid, plus the count of boundary points "
    "(second-nearest closer than 2x own) — the silhouette-style "
    "diagnostic that tells which k-means/IVF cells are well-separated "
    "and which need splitting, in exact integer fixed-point so the "
    "verdict is engine-identical. Plan: one argmin+runner-up pass per "
    "row against the broadcast centroid set (rows never pairwise "
    "compared), then one partial-agg groupBy on cluster id — the "
    "evaluation costs one corpus scan regardless of K",
)
def cluster_quality_summary(spark, sf_dir):
    pts = rebalance(load(spark, sf_dir, "embeddings")).selectExpr(
        "vec_id", _QUANTIZE_EXPR.format(col="embedding") + " AS x"
    ).selectExpr("*", "transform(x, v -> CAST(v AS DOUBLE)) AS xd")
    cent_arr = (
        pts.filter(F.col("vec_id") < _K)
        .select(F.col("vec_id").alias("cid"), F.col("xd").alias("cv"))
        .agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
    )
    # two-slot argmin fold: carry (best, runner-up) through one pass over
    # the broadcast centroid array — no N x K row expansion, no window
    # (SQL-text construction, see _QUANTIZE_EXPR)
    big = str(1 << 62)
    slot = f"struct(CAST({big} AS BIGINT) AS d, CAST(NULL AS BIGINT) AS cid)"
    d = f"CAST({_sqdist_expr('xd', 'c.cv')} AS BIGINT)"
    cand = f"struct({d} AS d, c.cid AS cid)"
    better1 = f"({d} < acc.b1.d) OR (({d} = acc.b1.d) AND (c.cid < acc.b1.cid))"
    better2 = f"({d} < acc.b2.d) OR (({d} = acc.b2.d) AND (c.cid < acc.b2.cid))"
    fold = (
        f"aggregate(cents, struct({slot} AS b1, {slot} AS b2), "
        f"(acc, c) -> CASE WHEN {better1} THEN "
        f"struct({cand} AS b1, acc.b1 AS b2) "
        f"WHEN {better2} THEN struct(acc.b1 AS b1, {cand} AS b2) "
        f"ELSE acc END)"
    )
    both = pts.crossJoin(F.broadcast(cent_arr)).select(
        "vec_id", F.expr(fold).alias("bb")
    )
    return (
        both.select(
            F.col("bb")["b1"]["cid"].alias("cluster_id"),
            F.col("bb")["b1"]["d"].alias("d_own"),
            F.col("bb")["b2"]["d"].alias("d_alt"),
        )
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("d_own").cast("long").alias("sum_d_own"),
            F.sum("d_alt").cast("long").alias("sum_d_alt"),
            F.count_if(F.col("d_alt") < 2 * F.col("d_own"))
            .cast("long")
            .alias("n_boundary"),
        )
    )
