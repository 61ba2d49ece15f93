"""Continuous bronze -> silver ETL: transform INSIDE the stream with
foreachBatch instead of landing bronze first.

Each micro-batch of bronze chunks is parsed straight into the five
chunk-local silver stores (codes, prices, par_providers,
provider_references, header) and written to parquet; ``read_silver``
derives the four silver child tables from them. This is correct
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

# what foreachBatch writes: only tables whose every row derives from ONE
# bronze chunk. providers_x_payer crosses provider_references with the
# header's reporting entity — header and provider_references chunks land
# in DIFFERENT micro-batches under pipelined discovery, so that join must
# happen at read time over the accumulated stores, never per batch.
_CHUNK_LOCAL = ("codes", "prices", "par_providers", "provider_references",
                "header")


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
    — required when pipelining discovery with ``maxchunksperbatch>0``,
    which availableNow cannot use (it needs the whole manifest in the
    first ``latestOffset``); the caller then watches progress and stops
    the query."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        MrfSilverTables,
        in_network_par_providers,
        in_network_prices,
        in_network_rates,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
        stream_payer_mrf,
    )

    # same forcing as build_silver: surrogate keys hash the chunk byte
    # offset, so a stream read without offsets would silently derive
    # DIFFERENT keys than the batch pipeline over the same file
    if "includeoffsets" not in {k.lower() for k in source_options}:
        source_options["includeoffsets"] = "true"

    def write_batch(bronze: DataFrame, batch_id: int) -> None:
        # one source read feeds five writes: without the bronze cache the
        # codes, provider_references and header writes each re-run the
        # Python source over every chunk of the batch. codes is cached on
        # top, as in save_all, so prices and par_providers don't re-parse
        # the in_network JSON.
        bronze = bronze.persist()
        t = MrfSilverTables(bronze)
        codes = t.codes.persist()
        try:
            rates = in_network_rates(codes)
            for name, df in (
                ("codes", codes),
                ("prices", in_network_prices(rates)),
                ("par_providers", in_network_par_providers(rates)),
                ("provider_references", t.provider_references),
                ("header", t.header),
            ):
                df.write.mode("overwrite").parquet(
                    batch_dir(
                        os.path.join(out_dir, name), checkpoint_dir, batch_id
                    )
                )
        finally:
            codes.unpersist()
            bronze.unpersist()

    writer = (
        stream_payer_mrf(spark, path, **source_options)
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
    without the ``batch_id`` directory column; providers_x_payer is
    derived here from the accumulated header + provider_references stores
    (see _CHUNK_LOCAL)."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        provider_references_x_payer,
    )

    stored = {
        name: spark.read.parquet(os.path.join(out_dir, name)).drop(
            "batch_id"
        )
        for name in _CHUNK_LOCAL
    }
    return {
        "codes": stored["codes"],
        "prices": stored["prices"],
        "par_providers": stored["par_providers"],
        "providers_x_payer": provider_references_x_payer(
            stored["provider_references"], stored["header"]
        ),
    }
