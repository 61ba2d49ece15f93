"""Incremental DSIR quality gate over a document stream.

The batch operator ``dsir_importance_sample`` selects a fixed quota from a
corpus it sees all at once. Real pipelines don't get that luxury: crawl
drops arrive over days, and the operation that keeps the accepted corpus
on-distribution is "score the NEW docs against the frozen reference LM and
gate them" — no reprocessing of anything already accepted, no drift of the
scoring function as drops arrive. This module is that operator: the
log-ratio table ([[operators/sampling.py]] ``dsir_log_ratio_table``) is
built ONCE from a static reference corpus, broadcast into every
micro-batch, and each drop's documents are admitted iff their
length-normalized log-ratio clears a fixed threshold.

Scale notes. The reference table is ``_DSIR_V`` rows (hundreds) — a
broadcast dim, so a micro-batch never shuffles document text: the only
wide op per batch is the per-doc re-aggregation of (sum, count) over the
batch's own tokens. Admission is a pure function of (doc text, frozen
table, threshold), so replays and restarts admit exactly the same set —
the same exactly-once discipline as the dedup gate
([[streaming/corpus_dedup.py]]), reusing its per-checkpoint-lineage
OVERWRITE directories.

Documents with NO reference-vocabulary token are rejected: the gate has no
evidence they resemble the target, and admitting unknown-vocabulary text
is how a curated stream drifts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hls_payer_mrf_sparkstreaming_spark.streaming import batch_dir


def dsir_gate_batch(
    batch: DataFrame, lr: DataFrame, min_avg_nano: int = 0
) -> DataFrame:
    """Score one document batch against the frozen log-ratio table.

    Returns the admitted rows of ``batch`` (schema preserved) plus their
    ``avg_lr_nano`` score column — exact integer nano-units, so the
    admitted set is identical across retries and engines.
    """
    toks = batch.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    scores = (
        toks.join(F.broadcast(lr), "tok")
        .groupBy("doc_id")
        .agg(
            F.floor(F.sum("lr_nano").cast("double") / F.count("*"))
            .cast("long")
            .alias("avg_lr_nano")
        )
        .filter(F.col("avg_lr_nano") >= min_avg_nano)
    )
    return batch.join(scores, "doc_id")


def stream_dsir_gate(
    spark,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    lr: DataFrame,
    min_avg_nano: int = 0,
):
    """Gate a parquet document stream (``doc_id long, text string``)
    against a frozen log-ratio table; admitted docs land under
    ``out_dir/docs`` in per-micro-batch OVERWRITE directories."""
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        in_dir
    )

    # materialize the reference table ONCE: an unpersisted lr would
    # re-evaluate its full lineage (reference-corpus tokenize + two
    # aggregate passes) inside every micro-batch's broadcast. The persist
    # is PAIRED with an unpersist on stream termination (listener below)
    # — the gate owns the cache for exactly the query's lifetime, so a
    # host session that runs many gates doesn't accumulate one cached
    # reference table per finished stream (advice r10).
    lr = lr.persist()
    lr.count()

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        admitted = dsir_gate_batch(batch, lr, min_avg_nano)
        admitted.write.mode("overwrite").parquet(
            batch_dir(f"{out_dir}/docs", checkpoint_dir, batch_id)
        )

    query = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    _unpersist_on_termination(spark, query, lr)
    return query


def _unpersist_on_termination(spark, query, df: DataFrame) -> None:
    """Release ``df``'s cache when ``query`` terminates (success or
    error). Listener callbacks run on the streaming listener-bus thread,
    where unpersist is safe (it only drops storage; lineage survives, so
    a caller that still holds ``df`` just recomputes)."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    qid = str(query.id)

    class _Release(StreamingQueryListener):
        # with trigger(availableNow=True) the query can terminate in the
        # gap between .start() and addListener — the terminated event is
        # then never delivered to this listener — so the caller
        # double-checks isActive below and may release directly, racing
        # a late-delivered event on the listener-bus thread. The lock
        # makes exactly ONE path perform the unpersist/removeListener
        # (advice r11/r12: the bare check-then-set relied on both
        # operations being benign on double-call instead of excluding
        # the race)
        def __init__(self):
            self._lock = threading.Lock()
            self.released = False

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def release(self):
            with self._lock:
                if self.released:
                    return
                self.released = True
            try:
                df.unpersist()
            finally:
                spark.streams.removeListener(self)

        def onQueryTerminated(self, event):
            if str(event.id) != qid:
                return
            self.release()

    listener = _Release()
    spark.streams.addListener(listener)
    if not query.isActive:
        listener.release()
