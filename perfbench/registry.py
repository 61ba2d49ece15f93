"""registry_sf0.1: a pinned list of registered queries, in sorted-name
order, closed loop with one client, on seeded tables at the sf0.1 row
counts: one untimed warm-up pass, then passes for the run's length.

Not a workload of BENCHMARK.json (see perfbench/NOTES.md): ``probe`` gives
the per-module numbers in the ingest_batch traced run, and
``--workload registry_sf0.1`` still runs it on its own."""

from __future__ import annotations

import time
from collections import defaultdict
from statistics import median

from harness import group_totals, tail

# One query per operator/plan module, the lightest of each on seeded
# sf0.1 tables: a full registry pass (245 queries) takes about three
# minutes, longer than one run may last. Inputs are small, so plan
# construction, py4j and scheduling dominate.
QUERIES = (
    "ann_filtered_topk",
    "cluster_quality_summary",
    "dedup_survivors",
    "k_anonymity_audit",
    "mrf_silver_providers",
    "mrf_variant_codes",
    "multimodal_meta",
    "sample_stratified",
    "seasonal_profile",
    "shard_manifest",
    "surrogate_keys",
    "text_chunk_sliding",
    "text_token_count",
)
MODULES = (
    "relational", "temporal", "dedup", "sampling", "clustering",
    "text_analysis", "packing", "stats", "similarity", "multimodal",
    "retrieval", "mrf_queries", "variant",
)
MIN_PASSES = 3


def run(run) -> None:
    spark, tr = run.spark, run.tracer
    queries, warmup_s = _warm_up(run, run.meta)
    if tr.enabled:
        spark.sparkContext.setJobGroup("perfbench", "registry_sf0.1")
    deadline = time.perf_counter() + run.seconds
    passes, samples = [], []
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        with tr.span("registry.pass") as whole:
            samples += _pass(run, queries, run.meta, len(passes))
        passes.append(whole.s)

    latency = [q for _, q, _, _ in samples]
    p_tail, pct = tail(latency)
    run.e2e(pass_s=median(passes), op_p50_s=median(latency), op_tail_s=p_tail)
    run.detail(
        tail_percentile=pct,
        queries=len(queries),
        passes=len(passes),
        warmup_pass_s=warmup_s,
        registry_pass_s=median(passes),
        registry_query_p50_s=median(latency),
        registry_query_tail_s=p_tail,
    )
    if tr.enabled:
        run.layer("spark", group_totals(spark, ["perfbench"]))
        _module_layers(run, samples, len(passes))


def probe(run) -> None:
    """Per-module build and execute time of one warm pass, for a traced
    run of another workload."""
    meta = run.make_inputs("registry")
    queries, _ = _warm_up(run, meta)
    _module_layers(run, _pass(run, queries, meta, "probe"), 1)


def _warm_up(run, meta: dict) -> tuple[dict, float]:
    """The pinned queries by sorted name, after one untimed pass: JIT,
    Python workers and the modules' own fixture caches fill here, as they
    would in a long-lived session."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries

    registry = all_queries()  # imports every module (and its fixtures)
    queries = {name: registry[name].fn for name in sorted(QUERIES)}
    with run.tracer.span("registry.warmup") as warmup:
        _pass(run, queries, meta, "warmup")
    return queries, warmup.s


def _module_layers(run, samples: list[tuple], passes: int) -> None:
    build, execute = defaultdict(float), defaultdict(float)
    for module, _, b, e in samples:
        build[module] += b
        execute[module] += e
    for module in MODULES:  # seconds per pass
        run.layer(f"registry.{module}.build_s", build[module] / passes)
        run.layer(f"registry.{module}.execute_s", execute[module] / passes)


def _pass(run, queries: dict, meta: dict, tag) -> list[tuple]:
    """Each query once, in order: build its DataFrame, run it to a noop
    sink counting rows, check the count against the DuckDB oracle.
    Returns (module, latency, build, execute) per query that ran."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    tr, out = run.tracer, []
    sf_dir, oracle = meta["sf_dir"], meta["oracle_rows"]
    for name, fn in queries.items():
        module = fn.__module__.rsplit(".", 1)[-1]
        obs = Observation(f"{name}#{tag}")
        try:
            with tr.span(f"registry.{name}") as q:
                with tr.span(f"registry.{module}.build") as b:
                    df = fn(run.spark, sf_dir)
                with tr.span(f"registry.{module}.execute") as e:
                    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    rows = obs.get["n"]
        except Exception as exc:  # a failing query is a failed check
            run.checks.expect(False, f"{name} raised {exc!r:.300}")
            continue
        out.append((module, q.s, b.s, e.s))
        run.checks.expect(
            rows == oracle[name],
            f"{name}: {rows} rows, DuckDB oracle {oracle[name]}",
        )
    return out
