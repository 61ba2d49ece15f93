"""Continuous bronze -> silver ETL: transform INSIDE the stream with
foreachBatch instead of landing bronze first.

Each micro-batch of bronze chunks is staged through the in-network silver
spec (plans/silver.py ``IN_NETWORK``) into its five chunk-local stores
(header, provider_references, codes, prices, par_providers), written to
parquet; ``read_silver`` derives the unstored nodes from them through the
same spec. ``SilverSpec.stage`` writes stores that do not read each other
at the same time: header, provider_references and codes all start at
once over the one persisted bronze, and prices and par_providers start
together once codes is written. This is correct
incrementally because every stored row derives from exactly ONE bronze
chunk and the surrogate keys are content+offset hashes (plans/silver.py) —
batch boundaries can't split or duplicate a row, and discovery order
doesn't change any key. Each store gets one OVERWRITE directory per
micro-batch (``streaming.batch_dir``), so a micro-batch replayed after a
stop mid-batch replaces its rows instead of appending them twice. The
reference lands bronze and re-reads it (01_payer_mrf_demo.py:80-147); this
path skips the intermediate hop, the pattern you want when the 100 TB file
should become queryable silver in one pass.

tests/test_streaming_ops.py proves multi-microbatch streamed silver ==
direct batch silver row-for-row, one source read per chunk, and exact row
counts after a replayed micro-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from hls_payer_mrf_sparkstreaming_spark.streaming import batch_dir

SILVER_TABLES = ("codes", "prices", "par_providers", "providers_x_payer")


def stream_silver_continuous(
    spark,
    path: str,
    out_dir: str,
    checkpoint_dir: str,
    trigger_interval: str | None = None,
    **source_options,
):
    """Start a stream that writes the five chunk-local silver stores under
    ``out_dir/<table>/batch_id=<ck>_<n>``, one foreachBatch transform and
    one overwrite directory per micro-batch, and return the streaming
    query. Read them back with ``read_silver``.

    Default trigger is ``availableNow`` (full-manifest discovery, drain
    and stop). Pass ``trigger_interval`` for a ``processingTime`` trigger
    — required for incremental release with ``maxchunksperbatch>0``,
    which availableNow cannot use (it needs every chunk released by the
    first ``latestOffset``); the caller then watches progress and stops
    the query. Either way a file is scanned whole the first time a
    micro-batch reaches it."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        IN_NETWORK,
        silver_source_options,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
        stream_payer_mrf,
    )

    def write_batch(bronze: DataFrame, batch_id: int) -> None:
        def save(name: str, df: DataFrame) -> DataFrame:
            d = batch_dir(os.path.join(out_dir, name), checkpoint_dir,
                          batch_id)
            df.write.mode("overwrite").parquet(d)
            # the frame's own schema: no inference pass over the new files
            return df.sparkSession.read.schema(df.schema).parquet(d)

        # one source read feeds five writes: without the bronze cache the
        # header, provider_references and codes writes each re-run the
        # Python source over every chunk of the batch. Those three writes
        # read the cached bronze at the same time; the block manager's
        # per-block write lock computes each partition once and the others
        # wait for it, so the source still reads each chunk once. Later
        # tiers read the store just written, as save_all reads its table,
        # so prices and par_providers don't re-parse the in_network JSON.
        bronze = bronze.persist()
        try:
            IN_NETWORK.stage(bronze, save, IN_NETWORK.stores)
        finally:
            bronze.unpersist()

    writer = (
        stream_payer_mrf(spark, path, **silver_source_options(source_options))
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_interval is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def read_silver(spark, out_dir: str) -> dict[str, DataFrame]:
    """The four silver child tables from a continuous-ETL output dir,
    without the ``batch_id`` directory column. providers_x_payer, which
    the stream does not store (see ``IN_NETWORK.stores``), is derived from
    the accumulated header + provider_references stores through the
    in-network spec."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import IN_NETWORK

    frames = IN_NETWORK.derive(
        {
            name: spark.read.parquet(os.path.join(out_dir, name)).drop(
                "batch_id"
            )
            for name in IN_NETWORK.stores
        }
    )
    return {name: frames[name] for name in SILVER_TABLES}
