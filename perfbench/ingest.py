"""ingest_batch: one seeded in-network file through bronze, the six silver
tables and a closed loop of single-client gold lookups on them."""

from __future__ import annotations

import itertools
import os
from statistics import median

import registry
from harness import group_totals, steal_s, tail

DATABASE = "perfbench"
TABLES = (
    "provider_header",
    "provider_references_x_payer",
    "in_network_codes",
    "in_network_rates",
    "in_network_prices",
    "in_network_par_providers",
)
# Fixed counts: lookups speed up as the JIT warms, so a count that
# followed the clock would move the median with the pass before it. The
# first WARMUP_LOOKUPS are checked but not timed: over them a lookup falls
# by about a third, at a rate that differs between runs; after them it
# falls much more slowly.
WARMUP_LOOKUPS = 40
LOOKUPS = 30


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(run) -> None:
    from pyspark.sql import DataFrameWriter

    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        build_silver,
        shoppable_price,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
        read_payer_mrf,
    )

    spark, tr, meta = run.spark, run.tracer, run.meta
    path, size_gb = meta["path"], meta["bytes"] / 1e9

    # untimed warm-up: spawns the Python workers the source runs in, on the
    # bronze path the timed pass takes
    _noop(read_payer_mrf(spark, path))
    if tr.enabled:
        spark.sparkContext.setJobGroup("perfbench", "ingest_batch")

    # per-table write time, from outside save_all: time each saveAsTable
    writes: dict[str, float] = {}
    save_as_table = DataFrameWriter.saveAsTable

    def timed_save(self, name, *args, **kwargs):
        with tr.span(f"silver.write.{name}") as t:
            save_as_table(self, name, *args, **kwargs)
        writes[name.split(".")[-1]] = t.s

    os.utime(path)  # new mtime: the manifest caches miss, discovery is cold
    steal_before = steal_s()
    with tr.span("bronze") as bronze:
        _noop(read_payer_mrf(spark, path))
    if tr.enabled:
        DataFrameWriter.saveAsTable = timed_save
    try:
        with tr.span("silver.save_all") as save:
            build_silver(spark, path).save_all(spark, DATABASE)
    finally:
        DataFrameWriter.saveAsTable = save_as_table
    pass_steal_s = steal_s() - steal_before

    codes = spark.table(f"{DATABASE}.in_network_codes")
    pxp = spark.table(f"{DATABASE}.provider_references_x_payer")
    build_ms, exec_ms, latency = [], [], []
    pairs = itertools.islice(
        itertools.cycle(meta["lookups"]), WARMUP_LOOKUPS + LOOKUPS
    )
    for i, (code, tin, expected) in enumerate(pairs):
        if i == WARMUP_LOOKUPS:
            steal_before = steal_s()
        with tr.span("gold.lookup") as lookup:
            with tr.span("silver.gold_build") as b:
                gold = shoppable_price(codes, pxp, code, tin)
            with tr.span("silver.gold_execute") as e:
                rows = gold.collect()
        if i >= WARMUP_LOOKUPS:
            latency.append(lookup.s)
            build_ms.append(b.s * 1e3)
            exec_ms.append(e.s * 1e3)
        run.checks.expect(
            len(rows) == expected
            and all(
                r.billing_code == code and r.tin.value == tin for r in rows
            ),
            f"gold({code}, {tin}): {len(rows)} rows, expected {expected}",
        )
    lookups_steal_s = steal_s() - steal_before

    p_tail, pct = tail(latency)
    run.e2e(
        pass_s=bronze.s + save.s,
        op_p50_s=median(latency),
        op_tail_s=p_tail,
    )
    run.detail(
        tail_percentile=pct,
        lookups=len(latency),
        input_bytes=meta["bytes"],
        bronze_gb_per_min=size_gb / bronze.s * 60,
        ingest_gb_per_min=size_gb / save.s * 60,
        gold_lookup_p50_s=median(latency),
        gold_lookup_tail_s=p_tail,
        lookup_series_s=[round(x, 3) for x in latency],
        pass_steal_s=pass_steal_s,
        lookups_steal_s=lookups_steal_s,
    )

    # output checks: silver row counts against a plain JSON parse
    counts = {
        t: spark.table(f"{DATABASE}.{t}").count() for t in TABLES
    }
    run.checks.expect(
        counts["in_network_codes"] == meta["items"],
        f"codes rows {counts['in_network_codes']} != items {meta['items']}",
    )
    for t in TABLES:
        run.checks.expect(
            counts[t] == meta["rows"][t],
            f"{t}: {counts[t]} rows, expected {meta['rows'][t]}",
        )

    if not tr.enabled:
        return
    run.layer("spark", group_totals(spark, ["perfbench"]))
    spark.sparkContext.setJobGroup("perfbench-trace", "per-layer probes")
    for t in TABLES:
        run.layer(f"silver.write.{t}_s", writes[t])
        run.layer(f"silver.rows.{t}", counts[t])
    run.layer("silver.gold_build_ms", median(build_ms))
    run.layer("silver.gold_execute_ms", median(exec_ms))
    run.chunker_layers([path])
    _io_and_datasource_layers(run, path, size_gb)
    silver = build_silver(spark, path)
    for branch in ("header", "provider_references", "in_network"):
        with tr.span(f"silver.parse_{branch}") as t:
            _noop(getattr(silver, branch))
        run.layer(f"silver.parse_{branch}_s", t.s)
    registry.probe(run)


def _io_and_datasource_layers(run, path: str, size_gb: float) -> None:
    """Each layer alone, in this process: ranged reads, planning, and the
    reader's per-partition work; then a warm Spark bronze pass."""
    from hls_payer_mrf_sparkstreaming_spark.sources import io as mrf_io
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
        PayerMrfDataSource,
        read_payer_mrf,
    )

    tr = run.tracer
    source = PayerMrfDataSource({"path": path, "includeoffsets": "true"})
    reader = source.reader(source.schema())
    with tr.span("datasource.plan_cold") as cold:
        parts = reader.partitions()
    with tr.span("datasource.plan_warm") as warm:
        reader.partitions()
    with tr.span("io.range_read") as rr:
        for p in parts:
            with mrf_io.open_input(p.path) as f:
                f.seek(p.start)
                f.read(p.end - p.start + 1)
    with tr.span("datasource.read") as rd:
        for p in parts:
            for batch in reader.read(p):
                batch.num_rows  # noqa: B018 — the batch is built eagerly
    with tr.span("datasource.bronze_warm") as bw:
        _noop(read_payer_mrf(run.spark, path))
    run.layer("datasource.plan_cold_s", cold.s)
    run.layer("datasource.plan_warm_s", warm.s)
    run.layer("io.range_read_s", rr.s)
    run.layer("datasource.read_s", rd.s)
    run.layer("datasource.bronze_warm_gb_per_min", size_gb / bw.s * 60)
