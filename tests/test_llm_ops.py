"""Property tests for the Spark-only LLM-pipeline operators (the ones with
no DuckDB oracle): MinHash/LSH, SimHash, rolling hash, multimodal decode.
"""

import pytest
from pyspark.sql import Row, functions as F

from hls_payer_mrf_sparkstreaming_spark.operators.dedup import (
    hamming64,
    lsh_candidate_pairs,
    minhash_docs,
    simhash,
)
from hls_payer_mrf_sparkstreaming_spark.operators.multimodal import (
    decode_blobs,
    fake_decode_meta,
)


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the garden trees"
    )
    near = base.replace("warm", "cold")  # one-token edit -> near-dup
    far = (
        "completely different text about spark structured streaming with "
        "watermarks state stores and micro batch execution semantics here"
    )
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),  # exact dup
        Row(doc_id=3, text=near),  # near dup
        Row(doc_id=4, text=far),
    ]
    return spark.createDataFrame(rows)


def test_minhash_identical_docs_full_signature_match(dup_docs):
    sigs = {r["doc_id"]: r["sig"] for r in minhash_docs(dup_docs).collect()}
    assert sigs[1] == sigs[2]
    # near-dup shares most signature positions
    matches = sum(1 for a, b in zip(sigs[1], sigs[3]) if a == b)
    assert matches >= len(sigs[1]) // 2
    # far doc shares almost none
    far = sum(1 for a, b in zip(sigs[1], sigs[4]) if a == b)
    assert far <= len(sigs[1]) // 4


def test_lsh_finds_dups_not_far(dup_docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in lsh_candidate_pairs(minhash_docs(dup_docs)).collect()
    }
    assert pairs.get((1, 2)) == 1.0
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup lands in a band
    assert (1, 4) not in pairs and (3, 4) not in pairs


def test_minhash_deterministic_across_runs(dup_docs):
    a = minhash_docs(dup_docs).collect()
    b = minhash_docs(dup_docs).collect()
    assert {r["doc_id"]: r["sig"] for r in a} == {
        r["doc_id"]: r["sig"] for r in b
    }


def test_simhash_invariants(spark, dup_docs):
    out = dup_docs.select(
        "doc_id",
        simhash(F.array_distinct(F.split("text", " "))).alias("sh"),
    )
    sh = {r["doc_id"]: r["sh"] for r in out.collect()}
    assert sh[1] == sh[2]  # identical token sets
    ham_near = (
        spark.createDataFrame([Row(a=sh[1], b=sh[3])])
        .select(hamming64(F.col("a"), F.col("b")).alias("h"))
        .first()["h"]
    )
    ham_far = (
        spark.createDataFrame([Row(a=sh[1], b=sh[4])])
        .select(hamming64(F.col("a"), F.col("b")).alias("h"))
        .first()["h"]
    )
    assert ham_near < ham_far
    assert ham_near <= 16


def test_multimodal_decode_batch_shape(spark):
    rows = [Row(doc_id=i, blob=bytes([i] * (10 + i))) for i in range(1, 6)]
    blobs = spark.createDataFrame(rows)
    out = decode_blobs(blobs).collect()
    assert len(out) == 5
    for r in out:
        w, h = fake_decode_meta(bytes([r["doc_id"]] * r["n_bytes"]))
        assert r["width"] == w and r["height"] == h
        assert r["n_bytes"] == 10 + r["doc_id"]
        assert len(r["frame_sample"]) == min(16, r["n_bytes"])
        assert r["media_type"] == "image"


def test_fake_decode_deterministic():
    assert fake_decode_meta(b"abc") == fake_decode_meta(b"abc")
    assert fake_decode_meta(b"abc") != fake_decode_meta(b"abd")


def test_approx_distinct_within_rsd_bound(spark, sf_dir):
    """HLL++ approx_count_distinct stays within a generous multiple of the
    configured 1% relative standard deviation of the exact count. The
    query computes the bound predicate itself (that's what the DuckDB
    constant-TRUE oracle checks); here we assert every group passes and
    the group set matches the raw table."""
    from pyspark.sql import functions as F

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    rows = all_queries()["approx_distinct_users"].fn(spark, sf_dir).collect()
    types = {
        r["event_type"]
        for r in load(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .collect()
    }
    assert {r["event_type"] for r in rows} == types
    for r in rows:
        assert r["within_bounds"] is True, r


def test_salted_join_rejects_outer_hows(spark):
    """The exploded dim side would surface unmatched dim rows n_salt times
    under right/full outer semantics — those hows must be rejected."""
    from hls_payer_mrf_sparkstreaming_spark.functions.skew import salted_join

    fact = spark.createDataFrame([(1, "a")], ["k", "v"])
    dim = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "d"])
    for how in ["right", "full", "outer", "full_outer", "rightouter"]:
        with pytest.raises(ValueError):
            salted_join(fact, dim, "k", n_salt=4, how=how)
    # left join: unmatched FACT rows are fine (dim carries every salt)
    fact2 = spark.createDataFrame([(1, "a"), (3, "b")], ["k", "v"])
    rows = salted_join(fact2, dim, "k", n_salt=4, how="left").collect()
    assert len(rows) == 2
    assert {r["k"] for r in rows} == {1, 3}


def test_embedding_neardup_planted_pair(spark):
    """Planted near-duplicate: the operator must find it (guards against the
    vacuous 0-row pass on data with no near-dups)."""
    import math
    import random

    from hls_payer_mrf_sparkstreaming_spark.operators.similarity import (
        neardup_pairs,
    )

    rng = random.Random(3)
    dim = 64
    base = [rng.gauss(0, 1) for _ in range(dim)]
    near = list(base)
    near[0] += 0.01  # tiny perturbation -> cosine ~ 1.0
    rows = [Row(vec_id=1, ev=base), Row(vec_id=2, ev=near)] + [
        Row(vec_id=10 + i, ev=[rng.gauss(0, 1) for _ in range(dim)])
        for i in range(20)
    ]
    emb = spark.createDataFrame(rows)
    pairs = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in neardup_pairs(emb).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)] > 0.99
    # sanity: no random pair sneaks past the 0.8 threshold (64-dim gaussians
    # are near-orthogonal with overwhelming probability)
    assert all(k == (1, 2) for k in pairs)


def test_connected_components_planted_clusters(spark):
    """Two planted clusters (one a 3-chain, one a pair) plus isolated
    vertices: every member must converge to the min id of its component —
    the chain needs >1 propagation round, proving the fixpoint loop."""
    from hls_payer_mrf_sparkstreaming_spark.operators.dedup import (
        connected_components,
    )

    vertices = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 50, 60]], ["doc_id"]
    )
    # chain 1-2-3 (no direct 1-3 edge) and pair 10-11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(vertices, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 50: 50, 60: 60}


def test_scrub_pii_planted(spark):
    """Planted emails and digit runs are redacted; clean text untouched."""
    from pyspark.sql import functions as F

    from hls_payer_mrf_sparkstreaming_spark.operators.text_analysis import (
        scrub_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "write to alice.smith+x@corp.example for a quote"),
            (2, "card 4111111111111111 exp soon"),
            (3, "nothing sensitive here"),
            (4, "two hits: bob@x.io and 12345678"),
        ],
        ["id", "text"],
    )
    out = {
        r["id"]: r["clean"]
        for r in df.select("id", scrub_pii(F.col("text")).alias("clean")).collect()
    }
    assert out[1] == "write to <EMAIL> for a quote"
    assert out[2] == "card <NUM> exp soon"
    assert out[3] == "nothing sensitive here"
    assert out[4] == "two hits: <EMAIL> and <NUM>"


def test_kmeans_planted_blobs(spark):
    """Two well-separated blobs, k=2, seeds one per blob: every point must
    land with its blob's seed, and round-2 centroids (the mean) must not
    move points across blobs."""
    import numpy as np

    from hls_payer_mrf_sparkstreaming_spark.operators.clustering import (
        kmeans_assignments,
    )

    rng = np.random.default_rng(42)
    rows = []
    for i in range(40):
        center = 10.0 if i % 2 else -10.0
        vec = (center + 0.1 * rng.standard_normal(64)).astype("float32")
        # vec_id parity encodes blob membership; ids 0,1 are the seeds
        rows.append((i, [float(v) for v in vec]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in kmeans_assignments(df, k=2).collect()
    }
    assert len(got) == 40
    for vid, cid in got.items():
        assert cid == vid % 2, (vid, cid)


def test_approx_percentile_within_rank_error(spark):
    """The sketch's median/p95 must land within a tight rank window of the
    exact discrete percentiles (rank error <= ~0.01% at accuracy=10000;
    the query allows ±0.005 quantile to stay robust at sf0.001). The
    query computes the rank-window predicate itself (that's what the
    DuckDB constant-TRUE oracle checks); here we assert every group
    passes both bounds."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
    )

    sf_dir = "/root/testdata/sf0.001"
    rows = (
        all_queries()["approx_percentile_summary"].fn(spark, sf_dir).collect()
    )
    assert len(rows) == 3
    for r in rows:
        assert r["median_within_bounds"] is True, r
        assert r["p95_within_bounds"] is True, r


def test_chunk_sliding_covers_every_token(spark, sf_dir):
    """Chunk windows tile the document: with stride S and width W >= S,
    token i of an n-token doc appears in chunk floor(i/S) (and possibly
    the previous one via overlap); the chunk count is ceil(n/S) and only
    the final chunk may be shorter than W."""
    from hls_payer_mrf_sparkstreaming_spark.operators.packing import (
        CHUNK_S,
        CHUNK_W,
        text_chunk_sliding,
    )

    chunks = text_chunk_sliding(spark, sf_dir)
    ntok = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(F.col("n_chunk_tokens") < CHUNK_W, 1).otherwise(0)).alias(
            "n_short"
        ),
        F.max("chunk_idx").alias("max_idx"),
    )
    joined = per_doc.join(ntok, "doc_id")
    bad = joined.filter(
        (F.col("n_chunks") != F.ceil(F.greatest("n", F.lit(1)) / CHUNK_S))
        | (F.col("max_idx") != F.col("n_chunks") - 1)
        # every chunk except possibly the trailing ceil(W/S - 1) may be short
        | (F.col("n_short") > -(-CHUNK_W // CHUNK_S))
    )
    assert bad.count() == 0
    assert chunks.count() > ntok.count()  # real multi-chunk docs exist


def test_pack_sequences_prefix_sum_invariants(spark, sf_dir):
    """Packing manifest invariants per lang shard: spans are contiguous
    (start_tok of the next doc == start_tok + n_toks of the previous),
    sequence ids are non-decreasing, and every span maps to the right
    sequence range."""
    from hls_payer_mrf_sparkstreaming_spark.operators.packing import (
        PACK_B,
        pack_sequences,
    )
    from pyspark.sql import Window

    m = pack_sequences(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy("doc_id")
    lagged = m.withColumn(
        "prev_end", F.lag(F.col("start_tok") + F.col("n_toks")).over(w)
    )
    gaps = lagged.filter(
        F.col("prev_end").isNotNull()
        & (F.col("start_tok") != F.col("prev_end"))
    )
    assert gaps.count() == 0
    wrong_seq = m.filter(
        (F.col("seq_first") != F.floor(F.col("start_tok") / PACK_B))
        | (
            F.col("seq_last")
            != F.floor((F.col("start_tok") + F.col("n_toks") - 1) / PACK_B)
        )
        | (F.col("n_seqs_spanned") < 1)
    )
    assert wrong_seq.count() == 0
    # some docs straddle a sequence boundary at every SF
    assert m.filter(F.col("n_seqs_spanned") > 1).count() > 0


def test_embedding_quantize_bounds(spark, sf_dir):
    """int8 range respected (|q| <= 127) and reconstruction error bounded
    by half a quantization step (rmse <= scale/2)."""
    from hls_payer_mrf_sparkstreaming_spark.operators.similarity import (
        embedding_quantize,
    )

    q = embedding_quantize(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert q.count() == n
    bad = q.filter(
        (F.col("q_l1") > 127 * F.col("n_dims"))
        | (F.col("rmse_nano") > F.col("scale_nano") / 2 + 1)
        | (F.col("scale_nano") <= 0)
    )
    assert bad.count() == 0


def test_chunk_sliding_reconstructs_documents(spark, sf_dir):
    """Losslessness: the sliding windows reassemble into the exact
    original document — take chunk 0 whole, then each later chunk's
    final stride-worth of tokens; the concatenation must fingerprint-
    match the source text."""
    from hls_payer_mrf_sparkstreaming_spark.operators.packing import (
        CHUNK_S,
        CHUNK_W,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("t"), F.lit(1)), F.lit(CHUNK_S)
    )
    chunks = docs.select(
        "doc_id", "t", F.posexplode(starts).alias("chunk_idx", "start")
    ).select(
        "doc_id",
        "chunk_idx",
        F.slice(F.col("t"), F.col("start"), CHUNK_W).alias("chunk"),
    )
    # tail of each chunk beyond the overlap with its predecessor
    tail = F.when(
        F.col("chunk_idx") == 0, F.col("chunk")
    ).otherwise(
        F.slice(
            F.col("chunk"),
            CHUNK_W - CHUNK_S + 1,
            F.greatest(
                F.size("chunk") - (CHUNK_W - CHUNK_S), F.lit(0)
            ),
        )
    )
    rebuilt = (
        chunks.select("doc_id", "chunk_idx", tail.alias("tail"))
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("chunk_idx", "tail"))
            ).alias("parts")
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.flatten(F.transform("parts", lambda p: p["tail"])),
            ).alias("rebuilt"),
        )
    )
    orig = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.col("text")
    )
    bad = rebuilt.join(orig, "doc_id").filter(
        F.md5("rebuilt") != F.md5("text")
    )
    assert bad.count() == 0


def test_event_funnel_stages_monotone(spark, sf_dir):
    """Stage counts must shrink monotonically and be non-vacuous: the
    fixture corpus has users in every stage."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    row = all_queries()["event_funnel"].fn(spark, sf_dir).collect()[0]
    assert row["n_view_users"] >= row["n_click_users"] >= row["n_purchase_users"]
    assert row["n_purchase_users"] > 0


def test_cdc_applies_deletes(spark):
    """A user whose latest change is an 'error' op must be absent from the
    compacted state; sf0.001 plants 3 such users among 15."""
    from pyspark.sql import functions as F

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    sf_dir = "/root/testdata/sf0.001"
    out = all_queries()["cdc_apply_changelog"].fn(spark, sf_dir)
    survivors = {r["user_id"] for r in out.collect()}
    all_users = {
        r["user_id"]
        for r in load(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .collect()
    }
    deleted = all_users - survivors
    assert len(deleted) == 3, deleted
    assert not out.filter(F.col("last_op") == "error").count()


def test_containment_pairs_nonvacuous_and_canonical(spark, sf_dir):
    """The corpus contains subset near-dups; every pair is canonical
    (doc_a < doc_b) and meets the threshold."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["dedup_containment"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert r["containment"] >= 0.8


def test_ann_recall_bounds(spark, sf_dir):
    """recall@10 is a ratio in [0, 1e6] ppm over exactly K exact results
    per query; the LSH index on this corpus must find at least one true
    neighbor for at least one query (non-vacuous)."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["ann_recall_eval"].fn(spark, sf_dir).collect()
    assert len(rows) == 5
    assert any(r["n_hits"] > 0 for r in rows)
    for r in rows:
        assert r["n_exact"] == 10
        assert 0 <= r["recall_ppm"] <= 1_000_000
        assert r["n_hits"] <= r["n_exact"]


def test_triangle_wedge_invariant(spark, sf_dir):
    """Every triangle closes exactly 3 wedges, so W >= 3T; the templated
    corpus must actually contain triangles (non-vacuous)."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    row = all_queries()["graph_triangles"].fn(spark, sf_dir).collect()[0]
    assert row["n_triangles"] > 0
    assert row["n_wedges"] >= 3 * row["n_triangles"]
    assert 0 <= row["closure_nano"] <= 1_000_000_000


def test_quality_deciles_approx_agrees_with_exact(spark):
    """The sketch-cutpoint decile (production path) must agree with exact
    NTILE except at tie/boundary values: >=90% identical assignments,
    100% within one decile, and its plan must broadcast the K-row
    cutpoints with no sort of the corpus."""
    sf_dir = "/root/testdata/sf0.001"
    from hls_payer_mrf_sparkstreaming_spark.operators.text_analysis import (
        quality_deciles,
        quality_deciles_approx,
    )

    exact = {
        (r["doc_id"]): r["decile"]
        for r in quality_deciles(spark, sf_dir).collect()
    }
    approx_df = quality_deciles_approx(spark, sf_dir)
    approx = {r["doc_id"]: r["decile"] for r in approx_df.collect()}
    assert set(approx) == set(exact)
    diffs = [abs(approx[d] - exact[d]) for d in exact]
    same = sum(1 for x in diffs if x == 0) / len(diffs)
    assert same >= 0.90, f"only {same:.2%} exact-decile agreement"
    assert max(diffs) <= 1, f"max decile drift {max(diffs)}"

    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_dedup_drops_twins_keeps_originals(spark, sf_dir):
    """Every planted scaled twin (odd id) must be pruned — cosine is
    scale-invariant so each twin is an exact semantic dup of its original
    — and no original (even id) may be dropped at this SF (measured: no
    natural pair reaches cosine 0.9)."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["semantic_dedup"].fn(spark, sf_dir).collect()
    dropped = {r["id"] for r in rows if r["is_dropped"]}
    assert dropped, "no twins pruned — plant is vacuous"
    assert all(i % 2 == 1 for i in dropped), "an original was dropped"
    n_twins = sum(1 for r in rows if r["id"] % 2 == 1)
    assert len(dropped) == n_twins, "some planted twin survived"


def test_pq_encode_codebook_vectors_self_encode(spark, sf_dir):
    """A codebook vector's nearest code in every subspace is itself:
    sq_err must be 0 and the code string must repeat its own id."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["pq_encode"].fn(spark, sf_dir).collect()
    by_id = {r["vec_id"]: r for r in rows}
    for cid in range(16):
        r = by_id[cid]
        assert r["sq_err"] == 0, r
        assert r["pq_code"] == "-".join([str(cid)] * 8), r
    # non-codebook vectors must carry a positive reconstruction error
    assert all(r["sq_err"] > 0 for r in rows if r["vec_id"] >= 16)


def test_retention_cohorts_triangle_shape(spark, sf_dir):
    """Offsets are non-negative, every cohort has its offset-0 row, and
    no week's active count exceeds the cohort's own week-0 count."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["retention_cohorts"].fn(spark, sf_dir).collect()
    assert rows
    base = {
        r["cohort_week"]: r["active_users"]
        for r in rows
        if r["week_offset"] == 0
    }
    for r in rows:
        assert r["week_offset"] >= 0
        assert r["cohort_week"] in base
        assert r["active_users"] <= base[r["cohort_week"]]


def test_ewma_denominator_closed_form(spark, sf_dir):
    """With power-of-two weights the denominator is exactly
    2^depth - 2^(depth - n) for n events used — catches any weight or
    row_number drift."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["ewma_user_value"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        n = r["n_events_used"]
        assert 1 <= n <= 8
        assert r["ewma_den"] == (1 << 8) - (1 << (8 - n)), r


def test_intra_corpus_dup_bounds(spark, sf_dir):
    """Natural 8-gram overlap exists at sf0.001 (non-vacuous) and the
    per-doc fraction is a valid ppm bounded by the gram count."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = (
        all_queries()["intra_corpus_dup_ngrams"].fn(spark, sf_dir).collect()
    )
    assert any(r["n_dup_grams"] > 0 for r in rows)
    for r in rows:
        assert 0 <= r["n_dup_grams"] <= r["n_grams"]
        assert 0 <= r["dup_ppm"] <= 1_000_000


def test_auc_identity_and_bounds(spark, sf_dir):
    """den = 2*n_pos*n_neg exactly; AUC lands in [0, 1e9] nano-units."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    r = all_queries()["auc_score"].fn(spark, sf_dir).collect()[0]
    assert r["n_pos"] > 0 and r["n_neg"] > 0
    assert r["auc_den"] == 2 * r["n_pos"] * r["n_neg"]
    assert 0 <= r["auc_nano"] <= 1_000_000_000


def test_pagerank_bounds_and_mass(spark, sf_dir):
    """Every rank is at least the damping floor, and total rank mass is
    conserved (the symmetric graph has no dangling nodes, so the damped
    iteration redistributes but never destroys mass). The old assertion
    'some node exceeds the uniform start' was a property of the coarse
    (lang, length-bucket) edge graph's star patterns; the LSH-blocked
    near-dup graph's components are near-regular duplicate cliques, where
    PageRank correctly converges to the uniform vector."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["graph_pagerank"].fn(spark, sf_dir).collect()
    assert rows, "near-dup graph has no endpoints"
    floor = 150_000_000
    one = 1_000_000_000
    assert all(r["pr_nano"] >= floor for r in rows)
    assert all(r["pr_nano"] <= one * len(rows) for r in rows)
    total = sum(r["pr_nano"] for r in rows)
    # mass conserved up to integer-floor leakage (< 1 nano-unit per node
    # per round x 3 rounds)
    assert one * len(rows) - 4 * len(rows) <= total <= one * len(rows), (
        total,
        len(rows),
    )


def test_bloom_never_misses_members(spark, sf_dir):
    """The Bloom invariant: every true member passes the filter; the
    planted re-ingested copies make membership non-vacuous."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    r = all_queries()["bloom_prefilter"].fn(spark, sf_dir).collect()[0]
    assert r["n_member"] > 0, "no re-ingested copies matched — vacuous"
    assert r["n_missed"] == 0
    assert r["n_pass"] >= r["n_member"]
    assert r["n_probe"] >= r["n_pass"]


def test_q3_revenue_positive_ordered(spark, sf_dir):
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = (
        all_queries()["top_unshipped_orders"].fn(spark, sf_dir).collect()
    )
    assert 0 < len(rows) <= 10
    revs = [r["revenue_u"] for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert all(v > 0 for v in revs)


def test_cooccurrence_lift_bounds(spark, sf_dir):
    """Pairs are canonical (a < b), counts consistent, and the synthetic
    corpus's shared vocabulary produces non-vacuous co-occurrence."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = (
        all_queries()["token_cooccurrence_lift"].fn(spark, sf_dir).collect()
    )
    assert rows
    for r in rows:
        assert r["tok_a"] < r["tok_b"]
        assert r["n_ab"] >= 2
        assert r["lift_ppm"] > 0


def test_skyline_is_a_frontier(spark, sf_dir):
    """Monotone check: sorted by size ascending, frontier prices strictly
    increase — a smaller size survives only by being strictly cheaper
    than every larger size (else the larger size dominates it)."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = sorted(
        all_queries()["skyline_pareto"].fn(spark, sf_dir).collect(),
        key=lambda r: r["p_size"],
    )
    assert rows
    prices = [r["min_price_cents"] for r in rows]
    assert all(a < b for a, b in zip(prices, prices[1:]))


def test_snapshot_diff_classes_partition_keys(spark, sf_dir):
    """added+removed+changed+unchanged covers the key union exactly, and
    the planted update makes every class non-empty."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    r = all_queries()["snapshot_diff"].fn(spark, sf_dir).collect()[0]
    assert all(
        r[c] > 0 for c in ("n_added", "n_removed", "n_changed", "n_unchanged")
    )
    n_keys = load(spark, sf_dir, "orders").count()
    # keys striped %4: union = keys with k%4 != 0 or != 1 => all keys
    assert (
        r["n_added"] + r["n_removed"] + r["n_changed"] + r["n_unchanged"]
        == n_keys
    )


def test_compaction_bins_respect_target(spark, sf_dir):
    """Each bin's packed size stays under target + one max doc (first-fit
    overflow bound) and bins per source are contiguous from 0."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["compaction_bins"].fn(spark, sf_dir).collect()
    assert rows
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, bins in by_src.items():
        idx = sorted(b["bin"] for b in bins)
        assert idx == list(range(len(idx))), src


def test_calibration_rates_are_valid_ppm(spark, sf_dir):
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["calibration_bins"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_pos"] <= r["n"]
        assert 0 <= r["pos_rate_ppm"] <= 1_000_000


def test_interval_union_bounds(spark, sf_dir):
    """Active time per user is at least one span length and at most
    n_events * span (disjoint upper bound)."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    span = 30 * 60 * 1_000_000
    n_ev = {
        r["user_id"]: r["cnt"]
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    rows = all_queries()["interval_union_length"].fn(spark, sf_dir).collect()
    assert rows and set(r["user_id"] for r in rows) == set(n_ev)
    for r in rows:
        assert span <= r["active_us"] <= n_ev[r["user_id"]] * span
        assert 1 <= r["n_spans"] <= n_ev[r["user_id"]]


def test_transition_rows_sum_to_million(spark, sf_dir):
    """Each prev_type's transition probabilities sum to ~1e6 ppm (floor
    division loses at most K-1 ppm per row)."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = (
        all_queries()["event_transition_matrix"].fn(spark, sf_dir).collect()
    )
    assert rows
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r["prev_type"], []).append(r["prob_ppm"])
    for prev, ppms in by_prev.items():
        assert 1_000_000 - len(ppms) < sum(ppms) <= 1_000_000, prev


def test_mode_ties_break_to_smallest(spark, sf_dir):
    """The winner per group must have the max count, and among equal
    counts the lexicographically smallest value."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    counts = {}
    for r in (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    ):
        counts.setdefault(r["o_orderstatus"], []).append(
            (r["o_orderpriority"], r["n"])
        )
    got = {
        r["o_orderstatus"]: (r["mode_priority"], r["n"])
        for r in all_queries()["mode_per_group"].fn(spark, sf_dir).collect()
    }
    for status, pairs in counts.items():
        best = sorted(pairs, key=lambda p: (-p[1], p[0]))[0]
        assert got[status] == best, status


def test_sessionize_native_consistent_with_lag_rewrite(spark, sf_dir):
    """The native session_window sessions must carry the same per-user
    event totals as the lag-based sessionize, and session windows per
    user must not overlap."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    native = all_queries()["sessionize_native"].fn(spark, sf_dir).collect()
    lag = {
        r["user_id"]: r["n_events"]
        for r in all_queries()["sessionize"].fn(spark, sf_dir).collect()
    }
    per_user = {}
    for r in native:
        per_user.setdefault(r["user_id"], []).append(r)
    assert set(per_user) == set(lag)
    for u, sess in per_user.items():
        assert sum(s["n_events"] for s in sess) == lag[u]
        sess.sort(key=lambda s: s["session_start_us"])
        for a, b in zip(sess, sess[1:]):
            assert a["session_end_us"] <= b["session_start_us"]


def test_sliding_slots_double_count_events(spark, sf_dir):
    """Every event lands in exactly window/slide = 2 sliding slots, so
    slot counts sum to exactly twice the event count."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    rows = (
        all_queries()["sliding_window_counts"].fn(spark, sf_dir).collect()
    )
    n = load(spark, sf_dir, "events").count()
    assert sum(r["n_events"] for r in rows) == 2 * n


def test_pareto_curve_monotone_to_million(spark, sf_dir):
    """Cumulative share is monotone in percentile and reaches 1e6 ppm at
    the 100th percentile."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = sorted(
        all_queries()["pareto_share_curve"].fn(spark, sf_dir).collect(),
        key=lambda r: r["cust_pctl"],
    )
    assert rows
    shares = [r["revenue_share_ppm"] for r in rows]
    assert shares == sorted(shares)
    assert rows[-1]["cust_pctl"] == 100
    assert shares[-1] == 1_000_000


def test_weighted_sample_keeps_proportional(spark, sf_dir):
    """Longer docs keep more often; every kept doc carries its permille
    and permilles stay in the clamp range."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    rows = (
        all_queries()["sample_weighted_by_score"].fn(spark, sf_dir).collect()
    )
    n_total = load(spark, sf_dir, "documents").count()
    assert 0 < len(rows) < n_total
    assert all(100 <= r["keep_permille"] <= 1000 for r in rows)


def test_skew_report_accounts_every_row(spark, sf_dir):
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    rows = all_queries()["key_skew_report"].fn(spark, sf_dir).collect()
    total = load(spark, sf_dir, "lineitem").count()
    assert sum(r["n_rows"] for r in rows) == total
    for r in rows:
        assert (1 << r["bucket_log2"]) <= r["max_rows_per_key"] < (
            1 << (r["bucket_log2"] + 1)
        )


def test_churn_both_classes_present(spark, sf_dir):
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["churn_labels"].fn(spark, sf_dir).collect()
    labels = {r["churned"] for r in rows}
    assert labels == {True, False}, "one churn class is vacuous"


def test_minhash_error_within_theory_bound(spark, sf_dir):
    """MinHash standard error with 32 perms is ~sqrt(J(1-J)/32) <= 0.09;
    assert every candidate's |est - exact| stays within a generous 4-sigma
    (ppm) and that the eval is non-vacuous."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["minhash_error_eval"].fn(spark, sf_dir).collect()
    assert rows, "no LSH candidate pairs at this SF"
    for r in rows:
        assert 0 <= r["est_ppm"] <= 1_000_000
        assert 0 <= r["exact_ppm"] <= 1_000_000
        assert r["abs_err_ppm"] == abs(r["est_ppm"] - r["exact_ppm"])
        assert r["abs_err_ppm"] <= 360_000, r  # 4 * max SE of 32 perms


def test_pca_direction_is_max_normalized(spark, sf_dir):
    """The returned direction has all 64 dims, max-norm exactly 1000
    milli-units, and is not axis-degenerate (more than one nonzero)."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = (
        all_queries()["pca_power_iteration"].fn(spark, sf_dir).collect()
    )
    assert len(rows) == 64
    vs = [r["v_milli"] for r in rows]
    assert max(abs(v) for v in vs) == 1000
    assert sum(1 for v in vs if v != 0) > 8


def test_knn_classify_covers_unlabeled_with_valid_votes(spark, sf_dir):
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    rows = all_queries()["knn_classify"].fn(spark, sf_dir).collect()
    n_unlabeled = (
        load(spark, sf_dir, "embeddings").filter("vec_id >= 50").count()
    )
    assert len(rows) == n_unlabeled
    labels = {
        r["label"]
        for r in load(spark, sf_dir, "embeddings")
        .select("label")
        .distinct()
        .collect()
    }
    for r in rows:
        assert 1 <= r["n_votes"] <= 3
        assert r["pred_label"] in labels


def test_cluster_quality_invariants(spark, sf_dir):
    """Runner-up distance dominates own distance; member counts cover the
    corpus; boundary count bounded by membership."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    rows = (
        all_queries()["cluster_quality_summary"].fn(spark, sf_dir).collect()
    )
    assert rows
    total = sum(r["n_members"] for r in rows)
    assert total == load(spark, sf_dir, "embeddings").count()
    for r in rows:
        assert r["sum_d_alt"] >= r["sum_d_own"]
        assert 0 <= r["n_boundary"] <= r["n_members"]


def test_novelty_complements_dup_fraction(spark, sf_dir):
    """Novel grams + duplicated-first-elsewhere grams = all grams; doc 0
    (the smallest id) is 100% novel by construction."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["ngram_novelty_score"].fn(spark, sf_dir).collect()
    by_id = {r["doc_id"]: r for r in rows}
    first = by_id[min(by_id)]
    assert first["novelty_ppm"] == 1_000_000
    for r in rows:
        assert 0 <= r["n_novel"] <= r["n_grams"]


def test_seasonal_profile_domain(spark, sf_dir):
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    rows = all_queries()["seasonal_profile"].fn(spark, sf_dir).collect()
    assert sum(r["n_events"] for r in rows) == load(
        spark, sf_dir, "events"
    ).count()
    for r in rows:
        assert 0 <= r["dow"] <= 6
        assert 0 <= r["hour"] <= 23


def test_join_size_estimate_matches_real_join(spark, sf_dir):
    """The histogram prediction must equal the actual join cardinality
    (exact for equi-joins) — proved against a materialized join."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    r = all_queries()["join_size_estimate"].fn(spark, sf_dir).collect()[0]
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k")
    )
    events = load(spark, sf_dir, "events").select(
        (F.col("user_id") % 1000).alias("k")
    )
    actual = orders.join(events, "k").count()
    assert r["predicted_rows"] == actual
    assert 0 < r["n_shared_keys"] <= min(r["n_keys_a"], r["n_keys_b"])
    assert r["max_key_rows"] <= r["predicted_rows"]


def test_bigram_logprob_orders_real_above_scrambled(spark, sf_dir):
    """The whole point of the bigram LM: frequent in-vocab bigrams score
    above the OOV floor, and every doc's avg is a valid negative nano
    log-prob bounded by the floor."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    rows = all_queries()["text_bigram_logprob"].fn(spark, sf_dir).collect()
    n_docs = (
        load(spark, sf_dir, "documents")
        .where(F.size(F.split("text", " ")) >= 2)
        .count()
    )
    assert len(rows) == n_docs
    avgs = [r["avg_logprob_nano"] for r in rows]
    assert all(a < 0 for a in avgs)
    # not all at the OOV floor: the corpus's own frequent bigrams must
    # score strictly better than min for at least some docs
    assert max(avgs) > min(avgs)
    for r in rows:
        assert r["sum_logprob_nano"] <= r["avg_logprob_nano"] * 1  # sanity
        assert r["n_bigrams"] >= 1


def test_column_entropy_bounds(spark, sf_dir):
    """0 <= H <= ln(K) (nano-nats) for every profiled column."""
    import math

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["column_entropy"].fn(spark, sf_dir).collect()
    assert {r["column_name"] for r in rows} == {
        "documents.lang",
        "documents.source",
        "events.event_type",
    }
    for r in rows:
        assert r["n_categories"] >= 2  # sf tables are non-degenerate
        assert 0 <= r["entropy_nano"] <= math.log(r["n_categories"]) * 1e9


def test_quantile_normalize_covers_unit_interval(spark, sf_dir):
    """Each lang stratum spans [0, 1e6) with min rank exactly 0 and unique
    ranks (doc_id tiebreak makes the order total)."""
    from collections import defaultdict

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = (
        all_queries()["quantile_normalize_scores"].fn(spark, sf_dir).collect()
    )
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append(r["qnorm_ppm"])
    for lang, v in by_lang.items():
        assert min(v) == 0, lang
        assert max(v) <= 1_000_000
        if len(v) > 1:
            assert max(v) >= 999_000  # percent_rank hits 1.0 at the top


def test_vocab_coverage_monotone(spark, sf_dir):
    """Coverage is monotone in k and the largest k covers a majority of
    occurrences on natural-ish text."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = sorted(
        all_queries()["vocab_coverage_curve"].fn(spark, sf_dir).collect(),
        key=lambda r: r["k"],
    )
    assert [r["k"] for r in rows] == [2, 4, 8, 16]
    covers = [r["cover_ppm"] for r in rows]
    assert covers == sorted(covers)
    assert all(0 < c <= 1_000_000 for c in covers)
    assert covers[-1] > 500_000


def test_normalized_dedup_collapses_planted_variants(spark, sf_dir):
    """Every planted uppercased+punctuated twin must fall into a dup group:
    n_redundant_rows >= number of canaries; plain exact dedup sees none."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    r = all_queries()["dedup_normalized_exact"].fn(spark, sf_dir).collect()[0]
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    n_canaries = docs.where(F.col("doc_id") % 25 == 0).count()
    assert n_canaries > 0
    assert r["n_rows"] == n_docs + n_canaries
    assert r["n_redundant_rows"] >= n_canaries
    assert r["n_dup_groups"] >= 1


def test_mrf_rate_percentiles_ordered(spark, sf_dir):
    """p25 <= median <= p75 within every billing class, and the class
    inventory matches the silver prices table."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["mrf_rate_percentiles"].fn(spark, sf_dir).collect()
    assert {r["billing_class"] for r in rows} == {
        "professional",
        "institutional",
    }
    for r in rows:
        assert r["p25_cents"] <= r["median_cents"] <= r["p75_cents"]
        assert r["n_prices"] > 0


def test_pq_adc_topk_ranked_and_complete(spark, sf_dir):
    """Every query returns a full, strictly-ranked top-k with
    non-decreasing ADC distances and no repeated corpus vector; the
    query's own vector (reconstruction error only) lands in its top-k."""
    from collections import defaultdict

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["pq_adc_topk"].fn(spark, sf_dir).collect()
    by_q = defaultdict(list)
    for r in rows:
        by_q[r["q_id"]].append(r)
    assert len(by_q) == 4
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, 11))
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)
        assert all(d >= 0 for d in dists)
        ids = [r["vec_id"] for r in rs]
        assert len(set(ids)) == len(ids)
        assert q in ids  # self is near-best under reconstruction error


def test_interpolate_grid_regular_and_bounded(spark, sf_dir):
    """Grid points are _GRID_S-aligned and consecutive per user; every
    interpolated value lies within the user's observed per-second range
    (linear interpolation can't extrapolate)."""
    from collections import defaultdict

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    rows = all_queries()["interpolate_missing"].fn(spark, sf_dir).collect()
    assert rows
    by_u = defaultdict(list)
    for r in rows:
        assert r["grid_es"] % 21_600 == 0
        by_u[r["user_id"]].append(r)
    bounds = {
        r["user_id"]: (r["lo"], r["hi"])
        for r in load(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            F.expr(
                "timestampdiff(SECOND, "
                "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
            ).alias("es"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
        .groupBy("user_id")
        .agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
        .collect()
    }
    for u, rs in by_u.items():
        es = sorted(r["grid_es"] for r in rs)
        assert all(b - a == 21_600 for a, b in zip(es, es[1:])), u
        lo, hi = bounds[u]
        for r in rs:
            assert lo <= r["interp_cents"] <= hi, (u, r)


def test_token_entropy_bounds_per_doc(spark, sf_dir):
    import math

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    rows = all_queries()["token_entropy_per_doc"].fn(spark, sf_dir).collect()
    assert len(rows) == load(spark, sf_dir, "documents").count()
    for r in rows:
        assert 1 <= r["n_types"] <= r["n_tokens"]
        assert 0 <= r["entropy_nano"] <= math.log(r["n_types"]) * 1e9 + 1


def test_pq_recall_counts_consistent(spark, sf_dir):
    """recall_ppm must be exactly n_hits/k in ppm, every query present,
    and the ADC index must find at least the query's own vector."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["pq_recall_eval"].fn(spark, sf_dir).collect()
    assert len(rows) == 4
    for r in rows:
        assert 1 <= r["n_hits"] <= 10
        assert r["recall_ppm"] == r["n_hits"] * 1_000_000 // 10


def test_target_encoding_excludes_own_row(spark, sf_dir):
    """For a category with n rows, sum(loo_mean * (n-1)) must equal
    (n-1)*sum - sum = (n-2)... simpler: reconstruct — each loo mean is
    (S - own)/(n-1), so own = S - loo*(n-1) must round-trip to the raw
    cents within floor error."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    rows = all_queries()["target_encoding_loo"].fn(spark, sf_dir).collect()
    raw = {
        r["event_id"]: (r["event_type"], r["c"])
        for r in load(spark, sf_dir, "events")
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .collect()
    }
    stats = {}
    for et, c in raw.values():
        s, n = stats.get(et, (0, 0))
        stats[et] = (s + c, n + 1)
    assert len(rows) == len(raw)
    for r in rows:
        et, own = raw[r["event_id"]]
        s, n = stats[et]
        want = (s - own) // (n - 1) if n > 1 else 0
        # floor of double vs integer floor-div agree for non-negative sums
        assert abs(r["loo_mean_cents"] - want) <= 1, r


def test_copurchase_pairs_exist_in_same_order(spark, sf_dir):
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    rows = all_queries()["copurchase_pairs"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = {}
    for r in li.collect():
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    for r in rows:
        assert r["part_a"] < r["part_b"]
        n = sum(
            1
            for parts in baskets.values()
            if r["part_a"] in parts and r["part_b"] in parts
        )
        assert n == r["n_orders"], r


def test_incremental_merge_equals_direct(spark, sf_dir):
    """The merged monthly stats must equal a direct monthly aggregation
    over raw events — the mergeable-state contract."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    merged = {
        (str(r["month"]), r["event_type"]): (
            r["n_events"],
            r["sum_cents"],
            r["min_cents"],
            r["max_cents"],
        )
        for r in all_queries()["incremental_agg_merge"]
        .fn(spark, sf_dir)
        .collect()
    }
    cents = F.round(F.col("value") * 100).cast("long")
    direct = {
        (str(r["month"]), r["event_type"]): (
            r["n"],
            r["s"],
            r["lo"],
            r["hi"],
        )
        for r in load(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("month", "ts").cast("date").alias("month"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(cents).cast("long").alias("s"),
            F.min(cents).cast("long").alias("lo"),
            F.max(cents).cast("long").alias("hi"),
        )
        .collect()
    }
    assert merged == direct and merged


def test_session_paths_cover_sessions(spark, sf_dir):
    """Total path count across the top-k is bounded by the total session
    count from sessionize, and every path has 1..3 steps."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["session_path_topk"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 15
    n_sessions_total = sum(
        r["n_sessions"]
        for r in all_queries()["sessionize"].fn(spark, sf_dir).collect()
    )
    assert sum(r["n_sessions"] for r in rows) <= n_sessions_total
    for r in rows:
        assert 1 <= len(r["path"].split(">")) <= 3


def test_cluster_survivor_is_longest_member(spark, sf_dir):
    """Each survivor must be its cluster's longest doc, cluster sizes must
    sum to the corpus, and multi-member clusters must exist (the corpus
    plants near-dup families)."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    rows = all_queries()["dedup_cluster_survivors"].fn(spark, sf_dir).collect()
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in all_queries()["dedup_cluster"].fn(spark, sf_dir).collect()
    }
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    assert sum(r["cluster_size"] for r in rows) == len(clusters)
    assert any(r["cluster_size"] > 1 for r in rows)
    by_cluster = {}
    for d, c in clusters.items():
        by_cluster.setdefault(c, []).append(d)
    for r in rows:
        members = by_cluster[r["cluster_id"]]
        assert r["survivor_doc_id"] in members
        assert r["survivor_n_chars"] == max(chars[m] for m in members)
        assert r["n_dropped"] == len(members) - 1


def test_line_dedup_removes_canary_and_rewrites_exactly(spark, sf_dir):
    """Every planted boilerplate block (front of every 5th doc) must be
    flagged duplicated; when it is the doc's ONLY duplicated block, the
    rewrite must reproduce the original text byte-exactly. Docs without
    the canary and no dup blocks must rewrite to themselves."""
    import hashlib

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    rows = {
        r["doc_id"]: r
        for r in all_queries()["line_dedup_rewrite"].fn(spark, sf_dir).collect()
    }
    texts = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    assert set(rows) == set(texts)
    exact = 0
    for d, t in texts.items():
        r = rows[d]
        if d % 5 == 0:
            assert r["n_dup_blocks"] >= 1, d
            if r["n_dup_blocks"] == 1:
                assert (
                    r["clean_fp"] == hashlib.md5(t.encode()).hexdigest()
                ), d
                exact += 1
        elif r["n_dup_blocks"] == 0:
            assert r["clean_fp"] == hashlib.md5(t.encode()).hexdigest(), d
    assert exact > 0


def test_prefix_pairs_recover_all_planted_truncations(spark, sf_dir):
    """Each planted 60%-truncation variant must pair with its own source
    document, and every reported pair must satisfy the prefix property."""
    from hls_payer_mrf_sparkstreaming_spark.operators.dedup import (
        _PFX_CANARY_MIN_TOKENS,
        _PFX_CANARY_MOD,
        _PFX_CANARY_OFFSET,
    )
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    pairs = all_queries()["dedup_prefix_pairs"].fn(spark, sf_dir).collect()
    planted = {
        r["doc_id"]
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
        if r["doc_id"] % _PFX_CANARY_MOD == 0
        and len(r["text"].split(" ")) >= _PFX_CANARY_MIN_TOKENS
    }
    recovered = {
        r["doc_short"] - _PFX_CANARY_OFFSET
        for r in pairs
        if r["doc_short"] >= _PFX_CANARY_OFFSET
        and r["doc_short"] - _PFX_CANARY_OFFSET == r["doc_long"]
    }
    assert recovered == planted
    assert all(0 < r["len_ratio_ppm"] < 1_000_000 for r in pairs)


def test_oov_rate_zero_for_all_vocab_docs(spark, sf_dir):
    """n_oov <= n_tokens everywhere, ppm bounded, and the corpus-level OOV
    mass must equal the occurrences not covered by the top-64 vocabulary
    (cross-check against vocab_coverage_curve's k=64 point)."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["doc_oov_rate"].fn(spark, sf_dir).collect()
    assert all(0 <= r["n_oov"] <= r["n_tokens"] for r in rows)
    assert all(0 <= r["oov_ppm"] <= 1_000_000 for r in rows)
    cover = {
        r["k"]: r
        for r in all_queries()["vocab_coverage_curve"].fn(spark, sf_dir).collect()
    }
    if 64 in cover:
        total = sum(r["n_tokens"] for r in rows)
        oov = sum(r["n_oov"] for r in rows)
        assert total - oov == cover[64]["n_occurrences_cum"]


def test_block_split_property_roundtrip(spark):
    """Property: for arbitrary token lists, the fixed-size block split must
    (a) preserve every token in order — rejoining the blocks reproduces the
    text exactly — and (b) emit ceil(n_tokens / block) blocks, each of the
    full block size except a shorter final tail."""
    from hypothesis import given, settings, strategies as st

    from hls_payer_mrf_sparkstreaming_spark.operators.dedup import (
        block_split_expr,
    )

    token = st.text(
        alphabet=st.characters(whitelist_categories=("Ll", "Nd")),
        min_size=1,
        max_size=6,
    )
    texts = st.lists(token, min_size=1, max_size=40).map(" ".join)

    @settings(max_examples=20, deadline=None)
    @given(docs=st.lists(texts, min_size=1, max_size=8), n=st.sampled_from([3, 12]))
    def run(docs, n):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(docs)], "doc_id: long, text: string"
        )
        from pyspark.sql import functions as F

        rows = df.select(
            "doc_id",
            "text",
            F.expr(block_split_expr("text", n)).alias("blocks"),
        ).collect()
        for r in rows:
            toks = r["text"].split(" ")
            expect_blocks = max(1, -(-len(toks) // n))
            assert len(r["blocks"]) == expect_blocks
            assert " ".join(r["blocks"]) == r["text"]
            for blk in r["blocks"][:-1]:
                assert len(blk.split(" ")) == n

    run()


def test_mg_candidates_superset_guarantee():
    # pure-Python check of the Misra-Gries kernel: for any stream split
    # into batches, every token with global freq > N/(K+1) must be in the
    # emitted candidate set (the two-pass exactness proof leans entirely
    # on this superset property)
    import pandas as pd

    from hls_payer_mrf_sparkstreaming_spark.operators import text_analysis

    orig_k = text_analysis._HH_K
    text_analysis._HH_K = 8  # tiny K forces real decrements
    try:
        docs = (
            ["hot " * 40 + "cold" + str(i) for i in range(50)]
            + ["warm " * 10 + "rare" + str(i) for i in range(50)]
        )
        batches = [
            pd.DataFrame({"text": docs[i : i + 7]})
            for i in range(0, len(docs), 7)
        ]
        out = list(text_analysis._mg_candidates(iter(batches)))
        cands = set(pd.concat(out)["token"]) if out else set()
        from collections import Counter

        exact = Counter(
            tok for d in docs for tok in d.split(" ")
        )
        n = sum(exact.values())
        k = text_analysis._HH_K
        must_survive = {t for t, c in exact.items() if c > n / (k + 1)}
        assert must_survive, "degenerate fixture"
        assert must_survive <= cands, (
            must_survive - cands,
            sorted(cands)[:20],
        )
    finally:
        text_analysis._HH_K = orig_k


def test_span_pairs_planted_shared_run(spark):
    # two documents sharing an exact 20-token run (and nothing else
    # repeated) must surface as one pair whose max_span_tokens equals the
    # planted run length; an unrelated doc must not appear
    import os
    import tempfile

    from hls_payer_mrf_sparkstreaming_spark.operators.dedup import (
        shared_ngram_span_pairs,
    )

    shared = " ".join(f"run{i}" for i in range(20))
    docs = [
        (1, "alpha beta " + shared + " gamma delta"),
        (2, "omega " + shared + " psi chi phi"),
        (3, " ".join(f"solo{i}" for i in range(30))),
    ]
    with tempfile.TemporaryDirectory() as d:
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(
                        [i for i, _ in docs], type=pa.int64()
                    ),
                    "text": [t for _, t in docs],
                }
            ),
            os.path.join(d, "documents.parquet"),
        )
        rows = {
            (r.doc_a, r.doc_b): r
            for r in shared_ngram_span_pairs(spark, d).collect()
        }
    assert set(rows) == {(1, 2)}, rows
    assert rows[(1, 2)].max_span_tokens == 20, rows
    # every anchor of the run matches exactly once: 20 - 8 + 1 anchors
    assert rows[(1, 2)].n_anchor_matches == 13, rows


def test_asof_carries_all_fields_from_same_matched_row(spark):
    """A nullable right-side payload column must come from the SAME
    matched row as matched_ts_us — not be back/forward-filled from a
    different right row (DuckDB ASOF semantics). Regression test for the
    per-column first/last(ignorenulls) carry, which filled a NULL payload
    from an earlier (backward) or later (forward) right row."""
    from pyspark.sql import Row

    from hls_payer_mrf_sparkstreaming_spark.operators.temporal import (
        asof_join_frames,
        asof_join_frames_forward,
    )

    left = spark.createDataFrame(
        [Row(user_id=1, ts_us=100, ev="L")]
    )
    # backward match for ts=100 is the right row at 90, whose payload is
    # NULL; the row at 50 holds a value that must NOT leak forward
    right = spark.createDataFrame(
        [
            Row(user_id=1, ts_us=50, payload="old"),
            Row(user_id=1, ts_us=90, payload=None),
            Row(user_id=1, ts_us=110, payload=None),
            Row(user_id=1, ts_us=150, payload="future"),
        ]
    )
    back = asof_join_frames(
        left, right, on="user_id", ts_col="ts_us", right_cols=("payload",)
    ).collect()
    assert len(back) == 1
    assert back[0]["matched_ts_us"] == 90
    assert back[0]["payload"] is None, back  # not "old"

    fwd = asof_join_frames_forward(
        left, right, on="user_id", ts_col="ts_us", right_cols=("payload",)
    ).collect()
    assert len(fwd) == 1
    assert fwd[0]["matched_ts_us"] == 110
    assert fwd[0]["payload"] is None, fwd  # not "future"


def test_lsh_edge_recall_invariants(spark, sf_dir):
    """The recall audit must be non-vacuous (blocked exact truth finds
    pairs), hits can never exceed truth, and on this corpus — whose true
    shingle-Jaccard pairs are high-J template duplicates with band
    collision probability ~= 1 — the LSH edge list must surface every
    blocked-truth pair AND strictly more (cross-bucket duplicates the
    length-bucket blocking can never pair)."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    r = all_queries()["lsh_edge_recall"].fn(spark, sf_dir).collect()[0]
    assert r["n_true"] > 0, "blocked exact truth is empty — vacuous audit"
    assert r["n_hit"] <= r["n_true"]
    assert 0 <= r["recall_ppm"] <= 1_000_000
    assert r["recall_ppm"] == 1_000_000, r  # template dups: full recall
    assert r["n_lsh"] > r["n_true"], r  # LSH reaches across buckets


def test_enp_twin_ids_disjoint(spark, sf_dir):
    """embedding_neardup_pairs plants canary twins with id -(vec_id + 1).
    Disjointness from the natural id space must hold at ANY scale, so pin
    the construction itself: natural vec_ids are non-negative (the twin
    range is therefore provably disjoint, no fixed offset to outgrow),
    and every canary surfaces as exactly one cosine-1.0 pair whose id_a
    is the negative twin."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    min_id = load(spark, sf_dir, "embeddings").agg(
        F.min("vec_id").alias("m")
    ).collect()[0]["m"]
    assert min_id >= 0, "natural vec_ids must be non-negative"
    rows = all_queries()["embedding_neardup_pairs"].fn(spark, sf_dir).collect()
    canaries = [r for r in rows if r["id_a"] < 0]
    assert canaries, "no planted twin surfaced — vacuous canary"
    assert all(r["id_a"] == -(r["id_b"] + 1) for r in canaries)
    assert all(r["cosine_sim"] == 1.0 for r in canaries)


def test_exact_quadratic_ceiling_samples_blocks(spark, sf_dir, monkeypatch):
    """VERDICT r8 item 6: above the input-size ceiling the exact
    quadratic ops restrict to a deterministic 1-in-16 hash sample of
    (lang, length-bucket) blocks. Pin the fallback's semantics: with the
    ceiling forced to 0 the result is EXACTLY the full result restricted
    to sampled blocks (each surviving block still exhaustively paired),
    and the sample genuinely drops blocks (non-vacuous)."""
    from hls_payer_mrf_sparkstreaming_spark.operators import dedup
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
        load,
    )

    fn = all_queries()["ngram_jaccard_pairs"].fn
    full = {(r["doc_a"], r["doc_b"]) for r in fn(spark, sf_dir).collect()}
    assert full, "no exact pairs at test SF — vacuous"
    monkeypatch.setenv(dedup._EXACT_CEILING_ENV, "0")
    sampled = {(r["doc_a"], r["doc_b"]) for r in fn(spark, sf_dir).collect()}
    keep = load(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.pmod(
                F.xxhash64("lang", (F.col("n_chars") / 20).cast("long")),
                F.lit(dedup._EXACT_SAMPLE_MOD),
            )
            == 0
        ).alias("keep"),
    )
    kept = {r["doc_id"] for r in keep.collect() if r["keep"]}
    expected = {p for p in full if p[0] in kept}
    assert sampled == expected
    assert len(sampled) < len(full), "sample dropped nothing — vacuous"


def test_overlap_snapshot_fresh_and_twin_in_bounds(spark, sf_dir):
    """The pre-committed exact overlap snapshot must match the LIVE exact
    matrix (guards a regenerated testdata set silently invalidating the
    frozen values), and the full in-query fallback twin — the drift
    detector corpus_overlap_sketch uses for unknown datasets — must hold
    its 5σ bound at HEAD."""
    import os

    from hls_payer_mrf_sparkstreaming_spark.operators.text_analysis import (
        _OVL_EXACT_SNAPSHOT,
        _exact_overlap,
        _gram_stream,
        _sketch_vs_exact_twin,
    )

    key = os.path.basename(os.path.normpath(sf_dir))
    assert key in _OVL_EXACT_SNAPSHOT
    live = {
        (r.source_a, r.source_b): r.jaccard_ppm
        for r in _exact_overlap(_gram_stream(spark, sf_dir).distinct())
        .collect()
    }
    assert live == _OVL_EXACT_SNAPSHOT[key], (
        "frozen exact-overlap snapshot is stale — regenerate "
        "_OVL_EXACT_SNAPSHOT from the corpus_overlap DuckDB oracle"
    )

    rows = _sketch_vs_exact_twin(spark, sf_dir).collect()
    assert rows and all(r.within_bounds for r in rows)


def test_spearman_two_phase_extreme_range_and_null_pairs(spark, tmp_path):
    """r10 review regressions: (1) a group whose value range spans int64
    must not hit ANSI ARITHMETIC_OVERFLOW in the bucket arithmetic (the
    bucket map is double-based, monotone, equal-values-same-bucket);
    (2) a digitless props row is a NULL pair — excluded like corr()
    does — not an ANSI cast crash and not a silently dropped join row."""
    import duckdb

    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from hls_payer_mrf_sparkstreaming_spark.operators.stats import (
        _spear_ranked,
    )

    big = spark.createDataFrame(
        [("a", -(2**62), 1), ("a", 2**62, 2), ("a", 5, 3)],
        "event_type string, x long, y long",
    )
    got = sorted((r.x, r.rx) for r in _spear_ranked(big).collect())
    assert got == [(-(2**62), 2), (5, 4), (2**62, 6)]

    ev = spark.createDataFrame(
        [
            (1, "view", 1.23, "k=xyz"),  # digitless props -> NULL pair
            (2, "view", 2.5, "k=7"),
            (3, "view", 9.0, "k=9"),
        ],
        "event_id long, event_type string, value double, props string",
    )
    sf = str(tmp_path) + "/"
    ev.coalesce(1).write.mode("overwrite").parquet(sf + "events.parquet")
    sdf = E.queries()["spearman_corr"](spark, sf)
    rows = {(r.event_type, r.n): r.spearman_nano for r in sdf.collect()}
    assert rows == {("view", 2): 1_000_000_000}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}events.parquet/*.parquet'"
    )
    orc = con.execute(E.oracle_sql()["spearman_corr"]).fetch_df()
    assert len(orc) == 1 and int(orc.iloc[0]["n"]) == 2


def test_overlap_snapshot_guards_foreign_datasets(spark, tmp_path):
    """A corpus that merely lives in a directory NAMED like a committed
    SF must not be judged against the frozen exact matrix: the byte-size
    fingerprint misses and the live in-query comparison runs instead."""
    import shutil

    from hls_payer_mrf_sparkstreaming_spark.operators.text_analysis import (
        _overlap_snapshot_for,
    )

    foreign = str(tmp_path / "sf0.1")
    src = "/root/testdata/sf0.001/documents.parquet"
    import os

    os.makedirs(foreign, exist_ok=True)
    if os.path.isdir(src):
        shutil.copytree(src, foreign + "/documents.parquet")
    else:
        shutil.copy(src, foreign + "/documents.parquet")
    assert _overlap_snapshot_for(foreign) is None
    assert _overlap_snapshot_for("/root/testdata/sf0.001") is not None


def test_edge_cache_eviction_defers_checkpoint_delete(spark, sf_dir):
    """Evicting an edge-cache entry must NOT delete its checkpoint files
    while the owning session lives (a handed-out consumer DataFrame is a
    flat scan of those files); EDGE_CACHE.clear() removes everything."""
    import os

    from hls_payer_mrf_sparkstreaming_spark.operators import dedup

    dedup.EDGE_CACHE.clear()
    edges = dedup.neardup_edges(spark, sf_dir)
    n = edges.count()
    path = dedup._checkpoint_path(edges)
    local = path.replace("file:", "")
    assert os.path.exists(local)
    assert edges.storageLevel.useMemory
    # force the FIFO to evict the real entry with cheap same-session
    # fillers (no checkpoint of their own)
    for i in range(dedup.EDGE_CACHE.maxsize):
        dedup.EDGE_CACHE.get(
            spark, f"__filler{i}", lambda: (spark.range(1), None)
        )
    assert not edges.storageLevel.useMemory, "eviction must unpersist"
    assert os.path.exists(local), "eviction deleted files under a consumer"
    assert edges.count() == n  # stale reference still executes
    dedup.EDGE_CACHE.clear()
    assert not os.path.exists(local)


def test_props_extract_ops_survive_digitless_props(spark, tmp_path):
    """Every operator that parses numbers out of props must treat a
    digitless value as a NULL (excluded pair / NULL group), never an
    ANSI CAST_INVALID_INPUT crash — same class as the r10 spearman fix."""
    import duckdb

    import __spark_entry__ as E

    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [
            (1, "view", 1.23, "k=xyz", "2024-01-01 00:00:00"),
            (2, "view", 2.5, '{"k": 7}', "2024-01-01 01:00:00"),
            (3, "view", 9.0, '{"k": 9}', "2024-01-01 02:00:00"),
        ],
        "event_id long, event_type string, value double, props string, "
        "ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sf = str(tmp_path) + "/"
    ev.coalesce(1).write.mode("overwrite").parquet(sf + "events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}events.parquet/*.parquet'"
    )
    for name in (
        "corr_stats",
        "ols_two_feature",
        "nested_extract",
        "spearman_corr",
    ):
        import pandas as pd

        def norm(v):
            # fetch_df renders SQL NULL in an integer column as float NaN
            if v is None or (not isinstance(v, str) and pd.isna(v)):
                return "NULL"
            if isinstance(v, float):
                return f"{v:.6g}"
            return str(v)

        sdf = E.queries()[name](spark, sf)
        cols = sorted(sdf.columns)
        sp = sorted(
            tuple(norm(r[c]) for c in cols) for r in sdf.collect()
        )  # must not raise
        orc = con.execute(E.oracle_sql()[name]).fetch_df()
        oc = sorted(
            tuple(norm(orc.iloc[i][c]) for c in cols)
            for i in range(len(orc))
        )
        assert sp == oc, (name, sp, oc)


def test_text_ops_survive_empty_and_short_docs(spark, tmp_path):
    """Web-crawl corpora contain empty and one-token documents; the
    n-gram / shingle / fingerprint pipelines must treat them as
    degenerate rows (empty arrays, no pairs), never crash on empty
    slices, zero denominators, or null signatures."""
    import __spark_entry__ as E
    from hls_payer_mrf_sparkstreaming_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (0, "", "en", "src0", 0),
            (1, "one", "en", "src0", 3),
            (2, "a b c d e f g h i j k l m n o p", "en", "src1", 31),
            (3, "a b c d e f g h i j k l m n o p", "en", "src1", 31),
            (4, "x " * 40, "de", "src2", 80),
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    sf = str(tmp_path) + "/"
    docs.coalesce(1).write.mode("overwrite").parquet(sf + "documents.parquet")
    dedup.EDGE_CACHE.clear()
    for name in (
        "dedup_minhash_lsh",
        "neardup_pairs_lsh",
        "winnowing_fingerprints",
        "corpus_overlap_sketch_only",
        "text_repetition",
        "text_quality",
        "ngram_jaccard_pairs",
    ):
        E.queries()[name](spark, sf).collect()  # must not raise
    dedup.EDGE_CACHE.clear()


def test_stats_ops_survive_degenerate_groups(spark, tmp_path):
    """Zero-variance groups and single-class datasets are undefined for
    Pearson/Spearman/OLS-slope/AUC — the operators must emit NULL for
    the undefined statistic (matching their DuckDB oracles), never an
    ANSI divide-by-zero abort. One 'view' event (n=1, zero variance) and
    three identical 'click' events (constant value AND no purchases, so
    AUC has a single class)."""
    import duckdb
    import pandas as pd

    from pyspark.sql import functions as F

    import __spark_entry__ as E

    ev = spark.createDataFrame(
        [
            (1, 100, "view", 5.0, '{"k": 3}', "2024-01-01 00:00:00"),
            (2, 200, "click", 2.0, '{"k": 1}', "2024-01-02 00:00:00"),
            (3, 201, "click", 2.0, '{"k": 1}', "2024-01-02 00:00:00"),
            (4, 202, "click", 2.0, '{"k": 1}', "2024-01-02 00:00:00"),
        ],
        "event_id long, user_id long, event_type string, value double, "
        "props string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sf = str(tmp_path) + "/"
    ev.coalesce(1).write.mode("overwrite").parquet(sf + "events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf}events.parquet/*.parquet'"
    )

    def norm(v):
        if v is None or (not isinstance(v, str) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6g}"
        return str(v)

    for name in ("corr_stats", "spearman_corr", "ols_two_feature",
                 "auc_score"):
        sdf = E.queries()[name](spark, sf)
        cols = sorted(sdf.columns)
        sp = sorted(tuple(norm(r[c]) for c in cols) for r in sdf.collect())
        orc = con.execute(E.oracle_sql()[name]).fetch_df()
        oc = sorted(
            tuple(norm(orc.iloc[i][c]) for c in cols)
            for i in range(len(orc))
        )
        assert sp == oc, (name, sp, oc)
    # the undefined statistics really are NULL, not accidental values
    row = {r.event_type: r for r in
           E.queries()["corr_stats"](spark, sf).collect()}
    assert row["click"].corr_nano is None
    assert row["click"].slope_nano is None
    auc = E.queries()["auc_score"](spark, sf).collect()[0]
    # no purchase events at all -> single-class, AUC undefined
    assert auc.auc_den == 0 and auc.auc_nano is None


def test_bpe_merge_rewrite_matches_duckdb_on_repeated_symbols(
    spark, tmp_path
):
    # the merge rewrite relies on replace()'s greedy leftmost
    # NON-OVERLAPPING scan being identical in Spark and DuckDB; repeated
    # symbols ('aaaa' -> ' a a a a ') are exactly where an overlap-
    # semantics divergence would show, so pin it on an adversarial corpus
    import duckdb
    import pandas as pd

    import __spark_entry__ as E

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "aaaa aaa aa aaaaa",
                "abab ababab abba aabb",
                "aaab baaa abaa aaba",
            ],
            "lang": ["en", "en", "en"],
            "source": ["s", "s", "s"],
            "n_chars": [17, 21, 19],
        }
    )
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    got = (
        E.queries()["bpe_train_steps"](spark, sf)
        .toPandas()
        .sort_values("step")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = (
        con.execute(E.oracle_sql()["bpe_train_steps"])
        .df()
        .sort_values("step")
        .reset_index(drop=True)
    )
    assert got[sorted(got.columns)].equals(want[sorted(want.columns)]), (
        got,
        want,
    )
    # and the winning first merge must be the 'a a' pair by construction
    assert got.loc[0, "pair"] == "a a"


def test_bpe_rewrite_run_semantics_documented(spark, tmp_path):
    # the single-pass replace merges a maximal non-overlapping SUBSET of a
    # repeat run per round ('aaaa' -> [aa, a, a], not canonical BPE's
    # [aa, aa]) — pin the documented behavior so a silent change to the
    # rewrite (e.g. iterating replace to a fixpoint) fails loudly here
    # and in the oracle twin rather than shipping a semantics drift
    import pandas as pd

    from pyspark.sql import functions as F

    seq = spark.createDataFrame(
        [(" a a a a ",)], "seq: string"
    ).select(
        F.replace(F.col("seq"), F.lit(" a a "), F.lit(" aa ")).alias("r")
    )
    assert seq.collect()[0]["r"] == " aa a a "
    import duckdb

    got = duckdb.connect().execute(
        "SELECT replace(' a a a a ', ' a a ', ' aa ')"
    ).fetchone()[0]
    assert got == " aa a a "


def test_dsir_null_lang_tokens_match_duckdb(spark, tmp_path):
    # a token that appears ONLY in NULL-lang documents must still get a
    # target count of 0 (not NULL) so Spark's log-ratio matches the
    # oracle's count(*) FILTER semantics
    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2, 3], pa.int64()),
            "text": pa.array(
                ["alpha beta gamma", "alpha delta", "omega omega beta"],
                pa.string(),
            ),
            "lang": pa.array(["en", None, None], pa.string()),
            "source": pa.array(["s", "s", "s"], pa.string()),
            "n_chars": pa.array([16, 11, 16], pa.int64()),
        }
    )
    sf = str(tmp_path)
    pq.write_table(tbl, f"{sf}/documents.parquet")
    got = (
        E.queries()["dsir_importance_sample"](spark, sf)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = (
        con.execute(E.oracle_sql()["dsir_importance_sample"])
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    got, want = got[sorted(got.columns)], want[sorted(want.columns)]
    assert len(got) == 3
    assert got.equals(want), (got, want)


def test_bpe_pair_mass_conservation(spark, sf_dir):
    # every word of length L contributes exactly (L-1) * frequency pair
    # observations, so the FULL pair table's count mass must equal
    # sum((len(word)-1) * freq) — run the un-limited aggregate and check
    from pyspark.sql import functions as F

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import load

    words = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
    )
    expect = words.agg(
        F.sum(F.length("w") - 1).cast("long").alias("m")
    ).collect()[0]["m"]
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    got = pairs.count()
    assert got == expect


def test_fertility_zero_bpe_lang_matches_duckdb(spark, tmp_path):
    # a language whose docs are all whitespace produces zero BPE tokens:
    # the ratio must come back NULL on both engines, not abort under
    # ANSI mode (the crash class the degenerate sweep exists for)
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array(["   ", "hello world"], pa.string()),
            "lang": pa.array(["zz", "en"], pa.string()),
            "source": pa.array(["s", "s"], pa.string()),
            "n_chars": pa.array([3, 11], pa.int64()),
        }
    )
    sf = str(tmp_path)
    pq.write_table(tbl, f"{sf}/documents.parquet")
    got = (
        E.queries()["tokenizer_fertility"](spark, sf)
        .toPandas()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = (
        con.execute(E.oracle_sql()["tokenizer_fertility"])
        .df()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    assert got[sorted(got.columns)].equals(want[sorted(want.columns)])
    zz = got[got["lang"] == "zz"].iloc[0]
    assert zz["bpe_tokens"] == 0
    import pandas as pd

    assert pd.isna(zz["chars_per_token_micro"])


def test_label_prop_communities_refine_connected_components(spark, sf_dir):
    # labels only travel along edges, so two nodes sharing a label-prop
    # community after K rounds must be in the same connected component —
    # communities REFINE the dedup clusters, never straddle them
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
    )

    qs = all_queries()
    comm = {
        r["doc_id"]: r["community"]
        for r in qs["graph_label_prop"].fn(spark, sf_dir).collect()
    }
    cc = {
        r["doc_id"]: r["cluster_id"]
        for r in qs["dedup_cluster"].fn(spark, sf_dir).collect()
    }
    by_comm = {}
    for doc, c in comm.items():
        by_comm.setdefault(c, set()).add(cc[doc])
    straddlers = {c: ccs for c, ccs in by_comm.items() if len(ccs) > 1}
    assert not straddlers, straddlers
    # refinement on the SHARED node set (dedup_cluster also covers
    # singleton docs that never enter the edge graph): at least as many
    # communities as components among the edge endpoints
    cc_sub = {cc[d] for d in comm}
    assert len(set(comm.values())) >= len(cc_sub)
    assert len(comm) > 0


def test_referential_integrity_audit_finds_broken_edges(spark, tmp_path):
    # a 3-row slice of each table breaks FK edges by construction (the
    # degenerate-sweep trick): the audit must report non-zero orphans and
    # still hash-match DuckDB on the same slice
    import duckdb

    import __spark_entry__ as E

    sf = str(tmp_path)
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem".split()
    ):
        con.execute(
            f"COPY (SELECT * FROM '/root/testdata/sf0.001/{t}.parquet' "
            f"LIMIT 3) TO '{sf}/{t}.parquet' (FORMAT PARQUET)"
        )
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
        )
    got = (
        E.queries()["referential_integrity_audit"](spark, sf)
        .toPandas()
        .sort_values("relationship")
        .reset_index(drop=True)
    )
    want = (
        con.execute(E.oracle_sql()["referential_integrity_audit"])
        .df()
        .sort_values("relationship")
        .reset_index(drop=True)
    )
    assert got[sorted(got.columns)].equals(want[sorted(want.columns)])
    assert got["n_orphans"].sum() > 0, got.to_string()


def _hot_block_corpus(tmp_path_factory):
    """Synthetic documents table with a planted boilerplate hot block:
    120 templated docs share a 60-token prefix (their min-shingle
    collides into one quadratic block) plus a 3-doc organic tail whose
    blocks stay tiny."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("hotblk"))
    shared = " ".join(f"tok{i}" for i in range(60))
    ids, texts = [], []
    for i in range(120):
        ids.append(1000 + i)
        texts.append(f"{shared} uniq{i}")
    # a small organic block: an exact near-dup pair + one unrelated doc
    ids += [2001, 2002, 2003]
    texts += [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
        f"{out}/documents.parquet",
    )
    return out


def test_containment_block_cap_engages_on_planted_hot_block(
    spark, tmp_path_factory, monkeypatch
):
    """VERDICT r10 task 1: the 1-perm-MinHash block cap must (a) bound the
    candidate volume of a planted boilerplate block and (b) leave every
    pair in below-cap blocks bit-identical to the uncapped run."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    sf = _hot_block_corpus(tmp_path_factory)
    qs = all_queries()

    # the audit sees the hot block coming WITHOUT running the self-join
    audit = qs["containment_block_skew"].fn(spark, sf).collect()[0]
    assert audit["max_block"] >= 100, audit
    assert audit["cand_pairs"] >= 100 * 99 // 2, audit
    # at the production default (4096) the planted block is still legal
    assert audit["n_blocks_over_cap"] == 0, audit

    def pairs(cap_env):
        if cap_env is None:
            monkeypatch.delenv(
                "SPARK_GRAFT_CONTAINMENT_BLOCK_CAP", raising=False
            )
        else:
            monkeypatch.setenv(
                "SPARK_GRAFT_CONTAINMENT_BLOCK_CAP", str(cap_env)
            )
        return {
            (r["doc_a"], r["doc_b"]): r["containment"]
            for r in qs["dedup_containment"].fn(spark, sf).collect()
        }

    uncapped = pairs(None)
    capped = pairs(8)

    tmpl_uncapped = {p for p in uncapped if p[0] >= 1000 and p[1] < 2000}
    tmpl_capped = {p for p in capped if p[0] >= 1000 and p[1] < 2000}
    # uncapped: the planted block really is quadratic (~C(115, 2) pairs)
    assert len(tmpl_uncapped) >= 100 * 99 // 2
    # capped at 8: survivors are hash-mod sampled to ~cap, so the pair
    # volume collapses by orders of magnitude (binomial slack: <= C(32,2))
    assert 0 < len(tmpl_capped) <= 32 * 31 // 2, len(tmpl_capped)
    assert tmpl_capped < tmpl_uncapped
    # below-cap blocks are untouched: the organic pair survives with the
    # identical score, and no below-cap pair appears or disappears
    organic_capped = {p: v for p, v in capped.items() if p[0] >= 2000}
    organic_uncapped = {p: v for p, v in uncapped.items() if p[0] >= 2000}
    assert organic_capped == organic_uncapped
    assert organic_capped[(2001, 2002)] == 1.0


def _hot_truth_block_corpus(tmp_path_factory):
    """Documents table with a planted hot (lang, length-bucket) truth
    block: 80 near-identical docs share lang and n_chars bucket, so
    lsh_edge_recall's exact truth side would pair them quadratically."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("hottruth"))
    base = " ".join(f"tok{i}" for i in range(40))
    ids, texts = [], []
    for i in range(80):
        ids.append(3000 + i)
        texts.append(base)  # identical text: every pair is truth (J = 1)
    # an organic below-cap block in a different lang
    ids += [4001, 4002]
    texts += [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    ]
    n = len(ids)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(
                    ["en"] * 80 + ["fr"] * 2, pa.string()
                ),
                "source": pa.array(["src0"] * n, pa.string()),
                "n_chars": pa.array(
                    [len(t) for t in texts], pa.int64()
                ),
            }
        ),
        f"{out}/documents.parquet",
    )
    return out


def test_truth_block_cap_engages_on_planted_hot_block(
    spark, tmp_path_factory, monkeypatch
):
    """r14 (VERDICT item 5): lsh_edge_recall's exact truth side must
    bound a degenerate (lang, bucket) block — blocks above the cap are
    hash-mod thinned to ~cap docs BEFORE the quadratic self-join — while
    below-cap blocks stay exhaustively paired, and at the production
    default (4096) the planted block is untouched."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    sf = _hot_truth_block_corpus(tmp_path_factory)
    fn = all_queries()["lsh_edge_recall"].fn

    monkeypatch.delenv("SPARK_GRAFT_TRUTH_BLOCK_CAP", raising=False)
    uncapped = fn(spark, sf).collect()[0]
    # production default: the planted block really is quadratic
    assert uncapped["n_true"] >= 80 * 79 // 2 + 1, uncapped

    monkeypatch.setenv("SPARK_GRAFT_TRUTH_BLOCK_CAP", "8")
    capped = fn(spark, sf).collect()[0]
    # survivors are hash-mod sampled to ~cap: candidate volume collapses
    # (binomial slack: <= C(32, 2)), the organic pair survives exactly
    assert 0 < capped["n_true"] <= 32 * 31 // 2 + 1, capped
    assert capped["n_hit"] <= capped["n_true"]
    # the LSH edge side is untouched by the truth cap
    assert capped["n_lsh"] == uncapped["n_lsh"]


def test_aspect_buckets_cover_all_decoded_images(spark, sf_dir):
    """Every decoded image lands in exactly one ladder bucket; labels are
    drawn from the fixed ladder and pixel sums are consistent."""
    from hls_payer_mrf_sparkstreaming_spark.operators.multimodal import (
        _ASPECT_LADDER,
    )
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    qs = all_queries()
    rows = qs["multimodal_aspect_bucket"].fn(spark, sf_dir).collect()
    labels = {f"{bw}:{bh}" for bw, bh in _ASPECT_LADDER}
    assert {r["aspect_bucket"] for r in rows} <= labels
    n_images = sum(r["n_images"] for r in rows)
    n_decoded = qs["multimodal_decode"].fn(spark, sf_dir).count()
    assert n_images == n_decoded
    for r in rows:
        assert r["total_pixels"] >= r["sum_width"]  # h >= 1 everywhere


def test_temperature_mix_flattens_toward_uniform(spark, sf_dir):
    """sqrt-temperature weights must upweight the smallest source and
    downweight the largest relative to proportional, both summing to
    ~1e6 ppm."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["corpus_temperature_mix"].fn(spark, sf_dir).collect()
    assert len(rows) >= 2
    big = max(rows, key=lambda r: r["n_tokens"])
    small = min(rows, key=lambda r: r["n_tokens"])
    assert big["temperature_ppm"] <= big["proportional_ppm"]
    assert small["temperature_ppm"] >= small["proportional_ppm"]
    for col in ("proportional_ppm", "temperature_ppm"):
        total = sum(r[col] for r in rows)
        # integer floors: total in (1e6 - n_sources, 1e6]
        assert 1_000_000 - len(rows) < total <= 1_000_000, (col, total)


def test_code_detect_flags_planted_code(spark, tmp_path_factory):
    """A planted code-heavy doc must score is_code; plain prose must
    not."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    out = str(tmp_path_factory.mktemp("codedet"))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], pa.int64()),
                "text": pa.array(
                    [
                        "int main() { int x = 0; for (;;) { x = x + 1; } "
                        "return x; }",
                        "the quick brown fox jumps over the lazy dog and "
                        "keeps on running through the quiet field",
                    ],
                    pa.string(),
                ),
            }
        ),
        f"{out}/documents.parquet",
    )
    rows = {
        r["doc_id"]: r
        for r in all_queries()["text_code_detect"].fn(spark, out).collect()
    }
    assert rows[1]["is_code"] and rows[1]["code_score_ppm"] >= 20000
    assert not rows[2]["is_code"] and rows[2]["code_score_ppm"] < 20000


def test_pad_buckets_are_powers_of_two_and_bound_waste(spark, sf_dir):
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["pad_bucket_waste"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        b = r["bucket_tokens"]
        assert b >= 16 and (b & (b - 1)) == 0, b  # power of two
        assert r["padded_tokens"] >= r["real_tokens"]
        assert 0 <= r["waste_ppm"] < 1_000_000


def test_negotiation_type_mix_covers_silver_filter(spark, sf_dir):
    """The 'negotiated' slice of the mix must equal the silver prices
    row count (silver drops every other negotiation type), and the mix
    must actually contain non-negotiated rows — the slice every other
    gold query filters out."""
    from hls_payer_mrf_sparkstreaming_spark.plans.mrf_queries import (
        build_silver_cached,
        fixture_path,
    )
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = (
        all_queries()["mrf_negotiation_type_mix"].fn(spark, sf_dir).collect()
    )
    types = {r["negotiated_type"] for r in rows}
    assert "negotiated" in types and len(types) >= 2, types
    t = build_silver_cached(spark, fixture_path(), chunktargetbytes=65536)
    n_silver = t.prices.count()
    n_mix = sum(
        r["n_prices"] for r in rows if r["negotiated_type"] == "negotiated"
    )
    assert n_mix == n_silver


def test_norm_audit_catches_planted_scale_outlier(spark, tmp_path_factory):
    """A re-scaled batch (model-version mixup) must register as norm
    outliers; a clean constant-norm corpus must show zero."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    out = str(tmp_path_factory.mktemp("normaudit"))
    vecs = [[0.1] * 64 for _ in range(50)] + [[10.0] * 64 for _ in range(2)]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(52), pa.int64()),
                "embedding": pa.array(
                    vecs, pa.list_(pa.float32())
                ),
            }
        ),
        f"{out}/embeddings.parquet",
    )
    row = all_queries()["embedding_norm_audit"].fn(spark, out).collect()[0]
    assert row["n_vectors"] == 52
    assert row["n_outliers"] == 2, row
    assert row["max_deviation"] > 0


def test_range_search_radius_and_prune_invariants(spark, sf_dir):
    """Every returned neighbor clears the radius, no query returns
    itself, and each (query, vec) pair appears at most once; the fixture
    corpus yields at least one in-radius in-bucket neighbor."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    rows = all_queries()["ann_range_search"].fn(spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["cosine_sim"] >= 0.25
        assert r["vec_id"] != r["query_id"]
        assert (r["query_id"], r["vec_id"]) not in seen
        seen.add((r["query_id"], r["vec_id"]))


def test_ivf_probe_curve_monotone_and_bounded(spark, sf_dir):
    """Recall@k must be monotone non-decreasing in nprobe (each tier's
    probe set contains the previous one's by construction) and every
    tier must find at least one exact neighbor at this SF — a
    non-monotone row is a bucketing/ranking bug, not noise."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
    )

    rows = sorted(
        (r["nprobe"], r["n_exact"], r["n_hits"], r["recall_ppm"])
        for r in all_queries()["ann_ivf_probe_curve"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert [r[0] for r in rows] == [1, 2, 4, 8]
    for (_, ne, nh, rp) in rows:
        assert 0 < nh <= ne
        assert rp == nh * 1_000_000 // ne
    assert all(
        a[3] <= b[3] for a, b in zip(rows, rows[1:])
    ), rows


def test_dedup_threshold_curve_monotone(spark, sf_dir):
    """Pair counts must be monotone non-increasing in the threshold
    (each tier is a superset of the one above) and the top tier must
    isolate exact-signature pairs only."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
    )

    rows = sorted(
        (r["threshold_ppm"], r["n_pairs"], r["n_exact_sig_pairs"])
        for r in all_queries()["dedup_threshold_curve"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert [r[0] for r in rows] == [800000, 900000, 950000, 1000000]
    assert all(a[1] >= b[1] for a, b in zip(rows, rows[1:])), rows
    top = rows[-1]
    assert top[1] == top[2] > 0, rows
    assert all(0 < r[2] <= r[1] for r in rows), rows
