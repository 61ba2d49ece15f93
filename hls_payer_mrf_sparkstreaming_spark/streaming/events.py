"""Structured Streaming pipelines over event streams.

The reference uses streaming purely as a file-splitting transport (SURVEY.md
Tier C: no watermarks/windows/stateful ops). A real 100 TB pipeline needs
them, so this module supplies the streaming counterparts of the batch
operators in operators/relational.py:

- windowed_event_counts: tumbling-window aggregate with watermark (late
  data bounded state);
- sessionize_stream: gap-based sessions via applyInPandasWithState;
- dedup_stream: exactly-once event delivery from an at-least-once source
  via dropDuplicatesWithinWatermark (state bounded by the watermark, unlike
  plain dropDuplicates whose key state grows forever).

tests/test_streaming_ops.py proves stream == batch on the same input.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hls_payer_mrf_sparkstreaming_spark.streaming import batch_dir


def stream_events_from_parquet(spark, events_dir: str) -> DataFrame:
    """Re-play a directory of events parquet files as a file stream (schema
    pinned from the existing files)."""
    schema = spark.read.parquet(events_dir).schema
    return spark.readStream.schema(schema).parquet(events_dir)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, overlapping sliding) window
    counts/sums per event_type with watermark — the streaming twin of
    relational.windowed_agg_events / sliding_window_counts (same output
    columns, so batch results validate the stream). Sliding windows
    multiply state by window/slide overlapping slots per key; the
    watermark still expires each slot once its end passes.

    ``ts`` is cast to TIMESTAMP (ltz): watermarks reject TIMESTAMP_NTZ, and
    the testdata parquet is NTZ. The cast is applied identically on the
    batch path, so stream == batch equality is tz-independent."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
                "sum_value"
            ),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_SESSION_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

_GAP_SECONDS = 30 * 60


def _session_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: emit one row per closed session."""
    (user_id,) = key
    if state.exists:
        last_ts, start_ts, n = state.get
    else:
        last_ts, start_ts, n = None, None, 0
    out = []
    # applyInPandasWithState delivers one group's rows across multiple Arrow
    # batches (~10k rows each) with no cross-batch order guarantee — sorting
    # per-batch would move last_ts backwards and corrupt session boundaries.
    # Materialize the whole group's timestamps and sort once.
    chunks = [pdf["ts"] for pdf in pdfs]
    all_ts = pd.concat(chunks) if chunks else pd.Series([], dtype="datetime64[us]")
    for ts in all_ts.sort_values():
        ts_us = int(pd.Timestamp(ts).value // 1000)
        if last_ts is not None and ts_us - last_ts > _GAP_SECONDS * 1_000_000:
            out.append((user_id, pd.Timestamp(start_ts, unit="us"), n))
            start_ts, n = ts_us, 0
        if start_ts is None:
            start_ts = ts_us
        last_ts = ts_us
        n += 1
    state.update((last_ts, start_ts, n))
    if out:
        yield pd.DataFrame(out, columns=["user_id", "session_start", "n_events"])


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id for an at-least-once upstream
    (retries, replayed batches).

    ``dropDuplicatesWithinWatermark`` keeps a key in state only until the
    watermark passes its event time — bounded state at 100 TB/day, where
    unbounded ``dropDuplicates`` state is an OOM on a long-running query.
    Duplicates arriving within the watermark window are suppressed exactly;
    the watermark is the documented dedup horizon.
    """
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator
    (applyInPandasWithState) — the pattern the reference lacks entirely."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=_SESSION_OUT,
            stateStructType="last_ts long, start_ts long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def attribution_stream(
    events: DataFrame,
    watermark: str = "2 hours",
    horizon: str = "30 minutes",
) -> DataFrame:
    """Stream-stream attribution join: each click matched to the same
    user's purchases within ``horizon`` — the streaming twin of
    operators/temporal.attribution_join (same output columns).

    Both sides carry a watermark and the join condition time-bounds
    purchases against clicks, so Spark can size and EXPIRE the join state:
    a click older than watermark+horizon can never match a future purchase
    and is dropped from state. Without the time bound the state grows
    forever — the difference between a stream-stream join that survives at
    100 TB/day and one that OOMs.
    """
    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {horizon}")),
        )
        .select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "purchase_id",
            (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
            "purchase_value",
        )
    )


_CDC_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("last_ts_us", LongType()),
        StructField("last_event_id", LongType()),
        StructField("last_op", StringType()),
        StructField("last_value_cents", LongType()),
    ]
)


def _cdc_fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Latest-wins CDC state per user: keep the (ts, event_id)-max change,
    emit the current winner after each update. Chunks arrive in no
    particular order, so every row competes against state — never assume
    intra-batch order."""
    if state.exists:
        ts_us, event_id, op, cents = state.get
    else:
        ts_us, event_id, op, cents = -1, -1, "", 0
    for pdf in pdfs:
        for r in pdf.itertuples(index=False):
            r_ts = int(r.ts.value) // 1000  # pandas ns -> us
            cand = (r_ts, int(r.event_id))
            if cand > (ts_us, event_id):
                ts_us, event_id = cand
                op = str(r.event_type)
                cents = int(round(float(r.value) * 100))
    state.update((ts_us, event_id, op, cents))
    yield pd.DataFrame(
        [[int(key[0]), ts_us, event_id, op, cents]],
        columns=[
            "user_id",
            "last_ts_us",
            "last_event_id",
            "last_op",
            "last_value_cents",
        ],
    )


def cdc_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of operators/temporal.cdc_apply_changelog: latest-
    wins upsert state per key via applyInPandasWithState, re-emitting the
    winning change whenever it advances (update semantics). Downstream a
    'error' final op means DELETE — consumers drop the key, exactly as
    the batch operator filters it. State is ONE tuple per live key (the
    lakehouse MERGE buffer), not an event list — bounded at 100 TB/day.

    tests/test_streaming_ops.py proves the stream's final state equals
    the batch operator's output on the same input."""
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            _cdc_fn,
            outputStructType=_CDC_OUT,
            stateStructType=(
                "ts_us long, event_id long, op string, cents long"
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# incremental quantile state: histogram partials as mergeable stream state
# ---------------------------------------------------------------------------
# Streaming twin of operators/temporal.py incremental_quantile_merge: each
# micro-batch appends its (event_type, bin, count) histogram partial —
# bounded rows per batch regardless of batch size — and quantiles are
# computed from the MERGED partials at read time. Because bin-count
# addition is associative and commutative, the streamed state merged over
# any batching must equal the batch operator over the union; the parity
# test pins exactly that.


def stream_quantile_partials(
    spark,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Accumulate per-batch histogram partials of event value by
    event_type into ``out_dir`` (availableNow; drains then stops)."""
    from hls_payer_mrf_sparkstreaming_spark.operators.temporal import qm_bin

    schema = spark.read.parquet(input_dir).schema

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        # one checkpoint-namespaced partition directory PER BATCH, written
        # with overwrite: a retried micro-batch replaces its own partial
        # instead of double-counting it (bin-count addition is not
        # idempotent, so a plain append would permanently skew the merged
        # quantiles), and a fresh-checkpoint rerun writes disjoint
        # directories instead of clobbering the first run's partials
        (
            batch.select("event_type", qm_bin(F.col("value")).alias("b"))
            .groupBy("event_type", "b")
            .agg(F.count("*").cast("long").alias("n"))
            .write.mode("overwrite")
            .parquet(batch_dir(out_dir, checkpoint_dir, batch_id))
        )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def quantiles_from_partials(spark, out_dir: str) -> DataFrame:
    """p50/p95 per event_type from the accumulated partial store — merge
    cost is proportional to (groups x bins x batches), never raw rows."""
    from hls_payer_mrf_sparkstreaming_spark.operators.temporal import (
        qm_quantiles,
    )

    merged = (
        spark.read.parquet(out_dir)
        .groupBy("event_type", "b")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    return qm_quantiles(merged)


def stream_m4_partials(
    spark,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Accumulate per-batch M4 downsampling partials (min/max/first/last
    per (series, bucket)) into ``out_dir`` (availableNow; drains then
    stops).

    M4 state is mergeable exactly: each partial carries its extremes PLUS
    the zero-padded (epoch_us, event_id) ordering keys of its first/last
    values, so merging is min/max over values and min_by/max_by over the
    keys — associative, commutative, and idempotent per batch directory
    (overwrite-per-batch, same retry discipline as
    stream_quantile_partials)."""
    from hls_payer_mrf_sparkstreaming_spark.operators.temporal import (
        m4_project,
    )

    schema = spark.read.parquet(input_dir).schema

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        (
            m4_project(batch)
            .groupBy("event_type", "bucket")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.min("cents").alias("min_cents"),
                F.max("cents").alias("max_cents"),
                F.min("ord_key").alias("first_key"),
                F.min_by("cents", F.col("ord_key")).alias("first_cents"),
                F.max("ord_key").alias("last_key"),
                F.max_by("cents", F.col("ord_key")).alias("last_cents"),
            )
            .write.mode("overwrite")
            .parquet(batch_dir(out_dir, checkpoint_dir, batch_id))
        )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def m4_from_partials(spark, out_dir: str) -> DataFrame:
    """Merge accumulated M4 partials into the final downsampled series —
    identical to the batch m4_downsample output over the same events.
    Merge cost is (series x buckets x batches) rows, never raw events."""
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type", "bucket")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
            F.min_by("first_cents", F.col("first_key")).alias("first_cents"),
            F.max_by("last_cents", F.col("last_key")).alias("last_cents"),
        )
    )


def stream_cusum_partials(
    spark,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Accumulate per-batch daily event-count partials into ``out_dir``
    (availableNow; drains then stops). Counts are the canonical mergeable
    state: sum per day across batches equals the batch groupBy, so the
    CUSUM changepoint recomputed from the merged store is EXACTLY the
    batch operator's answer. Same per-batch overwrite-directory retry
    discipline as stream_quantile_partials."""
    schema = spark.read.parquet(input_dir).schema

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        (
            batch.groupBy(
                F.expr(
                    "CAST(unix_micros(CAST(ts AS TIMESTAMP))"
                    " div 86400000000 AS BIGINT)"
                ).alias("day")
            )
            .agg(F.count("*").cast("long").alias("x"))
            .write.mode("overwrite")
            .parquet(batch_dir(out_dir, checkpoint_dir, batch_id))
        )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def cusum_from_partials(spark, out_dir: str) -> DataFrame:
    """Merge accumulated daily-count partials and locate the CUSUM
    changepoint — identical to the batch cusum_changepoint output over
    the same events. Merge cost is (days x batches) rows, never raw
    events."""
    from pyspark.sql import Window

    d = (
        spark.read.parquet(out_dir)
        .groupBy("day")
        .agg(F.sum("x").cast("long").alias("x"))
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    t = d.select(
        "day",
        F.count("*").over(wall).cast("long").alias("nd"),
        F.sum("x").over(wall).cast("long").alias("total"),
        F.sum("x").over(wcum).cast("long").alias("cum"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("k"),
    )
    s = t.select(
        "day",
        F.col("nd").alias("n_days"),
        "total",
        (F.col("cum") * F.col("nd") - F.col("k") * F.col("total")).alias(
            "s_scaled"
        ),
    )
    return (
        s.orderBy(
            F.greatest(F.col("s_scaled"), -F.col("s_scaled")).desc(), "day"
        )
        .limit(1)
        .select(
            F.col("day").alias("changepoint_day"),
            "s_scaled",
            "n_days",
            "total",
        )
    )
