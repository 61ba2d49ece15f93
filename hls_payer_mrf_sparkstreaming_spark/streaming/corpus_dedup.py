"""Incremental exact dedup over a document stream: first arrival wins.

A training-data pipeline rarely sees its corpus at once — crawl drops land
over days, and "dedupe the new files against everything already accepted"
is the operation that keeps the corpus clean without ever reprocessing it.
This is that operator: a ``foreachBatch`` loop that maintains a
fingerprint store and lets a document through only if its content hash has
never been seen (earlier batch OR earlier row of the same batch).

Per micro-batch (all digest-width shuffles — text never shuffles):

1. fingerprint every doc: ``fp = md5(text)``;
2. within-batch survivorship: keep the min-id row per fp (one window over
   the batch, partitioned by fp);
3. cross-batch: left-anti join the batch against the accumulated fp store;
4. write survivors to ``out/docs/batch_id=<ck>_N`` and their fps to
   ``out/fps/batch_id=<ck>_N`` — each with OVERWRITE into the
   micro-batch's own hive-partition directory (keyed by checkpoint
   digest + batch id, see ``batch_dir``), so a retried or restarted
   micro-batch of the SAME query REPLACES its outputs instead of
   appending them twice, while a rerun against a fresh checkpoint writes
   disjoint directories. Exactly-once on plain parquet, no transactional
   store needed; readers of ``out/docs`` just see an extra ``batch_id``
   lineage column.

Scale notes. The store side of the anti-join carries 16-byte digests, not
text, and Spark hash-partitions both sides on fp — at 100 TB you would
bucket ``out/fps`` by fp (functions/bucketing.py) so the anti-join stops
shuffling the store. The semantics here are arrival-order-dependent by
design (first arrival wins) — tests/test_streaming_ops.py pins delivery
order and proves streamed survivors == the batch min-id dedup of the same
corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from hls_payer_mrf_sparkstreaming_spark.streaming import batch_dir


def dedup_corpus_batch(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    normalized: bool = False,
) -> DataFrame:
    """Within-batch survivorship: min-id row per content fingerprint —
    ``md5(text)`` exact, or the md5 of the canonicalized text when
    ``normalized`` (same normalization as the batch operator
    ``dedup_normalized_exact``, so a streamed corpus collapses the same
    case/punctuation variants its batch twin does)."""
    from hls_payer_mrf_sparkstreaming_spark.operators.dedup import (
        normalized_text,
    )

    fp_src = (
        normalized_text(F.col(text_col)) if normalized else F.col(text_col)
    )
    w = Window.partitionBy("fp").orderBy(id_col)
    return (
        batch.withColumn("fp", F.md5(fp_src))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def stream_dedup_corpus(
    spark,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 1,
    normalized: bool = False,
):
    """Start the incremental-dedup stream over a parquet document source
    and return the streaming query (``availableNow`` — drains then stops).
    Survivor docs land in ``out_dir/docs``, their fingerprints (the
    accepted-corpus state) in ``out_dir/fps``."""
    docs_dir = os.path.join(out_dir, "docs")
    fps_dir = os.path.join(out_dir, "fps")
    schema = spark.read.parquet(input_dir).schema

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        fresh = dedup_corpus_batch(batch, id_col, text_col, normalized)
        try:
            seen = spark.read.parquet(fps_dir).select("fp")
            fresh = fresh.join(seen, "fp", "left_anti")
        except AnalysisException:  # first batch: no store yet; any OTHER
            # read failure must propagate and fail the batch — swallowing
            # it would re-admit every previously accepted document
            pass
        # two actions on the (small) survivor set: materialize once.
        # Per-batch OVERWRITE directories (batch_id is stable across
        # foreachBatch retries) make a retried batch replace rather than
        # re-append — a failure between the two writes is repaired, not
        # duplicated, on retry.
        fresh = fresh.persist()
        fresh.drop("fp").write.mode("overwrite").parquet(
            batch_dir(docs_dir, checkpoint_dir, batch_id)
        )
        fresh.select("fp").write.mode("overwrite").parquet(
            batch_dir(fps_dir, checkpoint_dir, batch_id)
        )
        fresh.unpersist()

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# incremental line-level dedup (CCNet-style) with document rewrite
# ---------------------------------------------------------------------------
# The streaming twin of operators/dedup.py line_dedup_rewrite, with
# first-arrival-wins semantics instead of the batch operator's corpus-wide
# count: a block survives iff its fingerprint has never been seen — not in
# any earlier micro-batch (the fp store) and not earlier within the same
# batch (ordered by (doc_id, pos)). Documents are rewritten from their
# surviving blocks and appended to ``out/docs``; the fingerprints of the
# accepted blocks become the store. Same scale discipline as
# stream_dedup_corpus: the store side carries 16-byte digests only.


def split_doc_blocks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int | None = None,
    carry: list[str] | None = None,
) -> DataFrame:
    """Explode documents into fingerprinted fixed-size token blocks."""
    from hls_payer_mrf_sparkstreaming_spark.operators.dedup import (
        _LINE_BLOCK_TOKENS,
        block_split_expr,
    )

    n = n or _LINE_BLOCK_TOKENS
    return df.select(
        id_col,
        *(carry or []),
        F.posexplode(F.expr(block_split_expr(text_col, n))).alias(
            "pos", "block"
        ),
    ).withColumn("fp", F.md5("block"))


def _reassemble(blocks: DataFrame, id_col: str) -> DataFrame:
    """Per-document rewrite from flagged blocks: surviving blocks (keep)
    re-concatenated in position order. Documents retaining ZERO blocks are
    dropped entirely (survivor semantics, like stream_dedup_corpus).
    Retry safety comes from the per-batch overwrite directories in the
    callers, not from this function."""
    from hls_payer_mrf_sparkstreaming_spark.operators.dedup import (
        clean_text_col,
    )

    return (
        blocks.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            clean_text_col().alias("clean_text"),
        )
        .filter(F.col("n_kept") > 0)
    )


def line_dedup_reference(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_col: str | None = None,
    n: int | None = None,
) -> DataFrame:
    """Batch twin of the incremental stream: each block fingerprint's FIRST
    occurrence in (batch, id, pos) order survives; every later occurrence
    is dropped. With no ``batch_col`` the whole corpus is one batch."""
    b = split_doc_blocks(
        docs, id_col, text_col, n, carry=[batch_col] if batch_col else None
    )
    order = ([batch_col] if batch_col else []) + [id_col, "pos"]
    w = Window.partitionBy("fp").orderBy(*order)
    b = b.withColumn("keep", F.row_number().over(w) == 1)
    return _reassemble(b, id_col)


def stream_line_dedup(
    spark,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 1,
    n: int | None = None,
):
    """Start the incremental line-dedup stream over a parquet document
    source and return the streaming query (``availableNow``). Rewritten
    documents land in ``out_dir/docs`` (doc_id, n_blocks, n_kept,
    clean_text); accepted block fingerprints in ``out_dir/fps``."""
    docs_dir = os.path.join(out_dir, "docs")
    fps_dir = os.path.join(out_dir, "fps")
    schema = spark.read.parquet(input_dir).schema

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        b = split_doc_blocks(batch, id_col, text_col, n)
        w = Window.partitionBy("fp").orderBy(id_col, "pos")
        b = b.withColumn("_first", F.row_number().over(w) == 1)
        try:
            seen = (
                spark.read.parquet(fps_dir)
                .select("fp")
                .withColumn("_seen", F.lit(True))
            )
            b = b.join(seen, "fp", "left")
        except AnalysisException:  # first batch: no store yet; any OTHER
            # read failure must propagate and fail the batch — swallowing
            # it would admit every duplicate in the batch as fresh
            b = b.withColumn("_seen", F.lit(None).cast("boolean"))
        b = b.withColumn(
            "keep", F.col("_first") & F.col("_seen").isNull()
        ).persist()
        # per-batch OVERWRITE directories: a retried micro-batch replaces
        # both its docs and its fp shard, so a failure between the two
        # writes cannot double-append rewritten documents on retry
        _reassemble(b, id_col).write.mode("overwrite").parquet(
            batch_dir(docs_dir, checkpoint_dir, batch_id)
        )
        b.filter("keep").select("fp").write.mode("overwrite").parquet(
            batch_dir(fps_dir, checkpoint_dir, batch_id)
        )
        b.unpersist()

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# constant-size membership state: Bloom-bitmap incremental dedup
# ---------------------------------------------------------------------------
# stream_dedup_corpus keeps an EXACT fingerprint store that grows with the
# accepted corpus; this variant keeps a Bloom bitmap instead — the state is
# bounded by the bitmap size forever, at the cost of a quantified
# false-positive rate (a genuinely new document may be wrongly dropped; a
# true duplicate can NEVER slip through). State layout: (word, m) bit-mask
# partials, one batch_id=N overwrite directory per batch — bit_or at read
# time reconstructs the bitmap; overwrite (plus OR-idempotence) makes a
# retried batch exactly-once without a transactional store.
# The hash family is the same cross-engine md5-60 / universal-hash pair
# the batch bloom_prefilter operator proves bit-for-bit against DuckDB.


def stream_dedup_corpus_bloom(
    spark,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int = 1,
):
    """Start the Bloom-state incremental dedup stream (availableNow).
    Survivors land in ``out_dir/docs``; the bitmap partials (the whole
    membership state, <= bitmap-words rows per batch) in ``out_dir/bloom``."""
    from hls_payer_mrf_sparkstreaming_spark.functions import hashing
    from hls_payer_mrf_sparkstreaming_spark.operators.dedup import (
        _BLOOM_AB,
        _bloom_pos_sql,
    )

    docs_dir = os.path.join(out_dir, "docs")
    bloom_dir = os.path.join(out_dir, "bloom")
    schema = spark.read.parquet(input_dir).schema

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        base = (hashing.md5u60(F.col(text_col)) % hashing.M31).alias("base")
        w = Window.partitionBy("base").orderBy(id_col)
        first = (
            batch.withColumn("base", base)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        melted = None
        for a, b in _BLOOM_AB:
            p = first.selectExpr(
                f"{id_col}", f"{_bloom_pos_sql('base', a, b)} AS p"
            ).selectExpr(
                f"{id_col}",
                "CAST(p div 32 AS INT) AS word",
                "shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT)) AS bit",
            )
            melted = p if melted is None else melted.unionAll(p)
        try:
            bm = (
                spark.read.parquet(bloom_dir)
                .groupBy("word")
                .agg(F.expr("bit_or(m)").alias("m"))
            )
            hits = (
                melted.join(bm, "word")
                .filter(F.expr("(m & bit) != 0"))
                .groupBy(id_col)
                .agg(F.count("*").alias("nbits"))
                .filter(F.col("nbits") == len(_BLOOM_AB))
                .select(id_col)
            )
            fresh = first.join(hits, id_col, "left_anti")
        except AnalysisException:  # first batch: empty bitmap, nothing can
            # probe in; any OTHER read failure must propagate — swallowing
            # it would accept true duplicates AND whitelist them forever
            fresh = first
        fresh = fresh.persist()
        # per-batch OVERWRITE directory — retry replaces, never re-appends
        # (the bitmap partial below is bit_or-idempotent anyway, but the
        # docs sink needs the same guarantee)
        fresh.drop("base").write.mode("overwrite").parquet(
            batch_dir(docs_dir, checkpoint_dir, batch_id)
        )
        # bitmap partial for the ACCEPTED docs only (bit_or-idempotent)
        partial = None
        for a, b in _BLOOM_AB:
            p = fresh.selectExpr(f"{_bloom_pos_sql('base', a, b)} AS p")
            partial = p if partial is None else partial.unionAll(p)
        (
            partial.selectExpr(
                "CAST(p div 32 AS INT) AS word",
                "shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT)) AS m",
            )
            .groupBy("word")
            .agg(F.expr("bit_or(m)").alias("m"))
            .write.mode("overwrite")
            .parquet(batch_dir(bloom_dir, checkpoint_dir, batch_id))
        )
        fresh.unpersist()

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# incremental heavy hitters: Misra-Gries summaries as mergeable stream state
# ---------------------------------------------------------------------------
# Streaming twin of operators/text_analysis.py heavy_hitters_twopass: each
# micro-batch appends a BOUNDED Misra-Gries token summary (<= _HH_K rows
# per batch, whatever the batch's vocabulary), and the heavy-hitter set is
# computed at read time by merging the summaries (candidate superset) and
# recounting the candidates exactly over the accumulated corpus. MG
# summaries merge by per-token addition (Agarwal et al., "Mergeable
# Summaries"): each batch's total decrement is <= N_b/(K+1), so a token
# with corpus frequency above N/(K+1) keeps a positive residue in at
# least one batch summary — the merged state is a provable superset of
# every true heavy hitter, and the exact recount makes the final output
# independent of which extra candidates survived. The parity test pins
# streamed-state output == the batch operator over the union corpus.


def stream_token_mg_partials(
    spark,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Accumulate per-batch Misra-Gries token summaries into ``out_dir``
    (availableNow; drains then stops). Each batch writes its own
    checkpoint-namespaced ``batch_id=`` directory with overwrite
    (``batch_dir``), so a retried micro-batch replaces its summary
    instead of double-counting it and a fresh-checkpoint rerun cannot
    clobber an earlier run's partials."""
    from pyspark.sql.window import Window as W

    from hls_payer_mrf_sparkstreaming_spark.operators.text_analysis import (
        _HH_K,
    )

    schema = spark.read.parquet(input_dir).schema

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        counts = (
            batch.select(F.explode(F.split("text", " ")).alias("token"))
            .groupBy("token")
            .agg(F.count("*").alias("c"))
        )
        # both the summary branch and the broadcast cut branch consume
        # counts: without persist each branch re-tokenizes and
        # re-aggregates the micro-batch — the most expensive stage, twice
        counts = counts.persist()
        # batched MG trim: subtract the (K+1)-th largest batch count from
        # every counter, keep the positive ones — <= K rows survive. The
        # rank window is single-partition over the BATCH vocabulary only
        # (micro-batches are bounded by maxFilesPerTrigger); the corpus
        # vocabulary never passes through one partition.
        ranked = counts.withColumn(
            "r", F.row_number().over(W.orderBy(F.desc("c"), "token"))
        )
        cut = ranked.filter(F.col("r") == _HH_K + 1).select(
            F.col("c").alias("cut")
        )
        summary = (
            ranked.filter(F.col("r") <= _HH_K)
            .crossJoin(F.broadcast(cut.select(
                F.coalesce(F.first("cut"), F.lit(0)).alias("cut")
            )))
            .select(
                "token",
                (F.col("c") - F.col("cut")).cast("long").alias("n"),
            )
            .filter(F.col("n") > 0)
        )
        summary.write.mode("overwrite").parquet(
            batch_dir(out_dir, checkpoint_dir, batch_id)
        )
        counts.unpersist()

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def heavy_hitters_from_partials(
    spark, partials_dir: str, corpus_dir: str
) -> DataFrame:
    """Exact corpus heavy hitters from the accumulated MG state: merge the
    per-batch summaries into the candidate set (16-byte-ish token rows,
    <= K x batches of them), broadcast it into the corpus token stream,
    recount exactly and filter on the same support threshold as the batch
    operator. Merge cost scales with (K x batches), never raw tokens."""
    from hls_payer_mrf_sparkstreaming_spark.operators.text_analysis import (
        _HH_DEN,
    )

    candidates = (
        spark.read.parquet(partials_dir).select("token").distinct()
    )
    docs = spark.read.parquet(corpus_dir).select("text")
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    total = docs.select(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("total")
    )
    return (
        toks.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("freq"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("freq") * _HH_DEN >= F.col("total"))
        .select("token", "freq")
    )
