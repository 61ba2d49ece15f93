#!/usr/bin/env python3
"""Payer-MRF benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest_batch --seed 1 --seconds 30 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics
named in BENCHMARK.json; ``--trace 1`` runs the same workload with spans,
reads Spark's status store, probes each layer alone afterwards and prints
the per-layer metrics, including the tracing overhead against the untraced
runs. Everything a run writes goes under ``.perfbench_work/`` in the
repository root. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TMP = os.path.join(WORK, "tmp")
RUN_DIR = os.path.join(WORK, "run")
PACKAGE = "hls_payer_mrf_sparkstreaming_spark"
WORKLOADS = {
    "ingest_batch": "ingest",
    "stream_landing": "stream",
    "registry_sf0.1": "registry",
}
# Session set-ups per run; setup_s is their median. Each one after the
# first also costs a spark.stop() of about 0.5 s outside the metric.
SETUPS = 5


class Run:
    """What a workload gets: the session, its inputs, the tracer, and
    sinks for metrics and checks."""

    def __init__(self, args, tracer, checks):
        self.spark = None  # set once the session is up
        self.tracer, self.checks = tracer, checks
        self.seconds, self.seed = args.seconds, args.seed
        self.meta = self.make_inputs(WORKLOADS[args.workload])
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.details: dict = {}

    def make_inputs(self, kind: str) -> dict:
        """Generate (or reuse) the seeded inputs of ``kind`` in a child
        process, so that generation stays out of every metric."""
        subprocess.run(
            [sys.executable, os.path.join(HERE, "inputs.py"), kind,
             str(self.seed), WORK],
            check=True,
            stdout=subprocess.DEVNULL,
        )
        from inputs import cache_dir

        path = os.path.join(cache_dir(WORK, kind, self.seed), "meta.json")
        with open(path) as f:
            return json.load(f)

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(RUN_DIR, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def e2e(self, **metrics) -> None:
        self.metrics.update(metrics)

    def detail(self, **values) -> None:
        self.details.update(values)

    def layer(self, name: str, value) -> None:
        if isinstance(value, dict):
            for k, v in value.items():
                self.layers[f"{name}.{k}"] = v
        else:
            self.layers[name] = value

    def chunker_layers(self, paths: list[str]) -> None:
        from hls_payer_mrf_sparkstreaming_spark.sources.chunker import (
            scan_chunks,
        )

        size_gb = sum(os.path.getsize(p) for p in paths) / 1e9
        with self.tracer.span("chunker.scan") as t:
            chunks = sum(sum(1 for _ in scan_chunks(p)) for p in paths)
        self.layer("chunker.scan_s", t.s)
        self.layer("chunker.scan_gb_per_min", size_gb / t.s * 60)
        self.layer("chunker.chunks", chunks)


def _prepare_environment(cpus: int) -> None:
    """Point every temp and scratch location of Spark, its Python workers
    and the package at the work directory; wipe the previous run's."""
    for d in (TMP, RUN_DIR):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(TMP, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get(
        "PYTHONPATH", ""
    )
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)


def _setup_session():
    """get_spark through source registration, SETUPS times: the first
    launches the JVM, the rest build a fresh session on it."""
    from hls_payer_mrf_sparkstreaming_spark import get_spark

    conf = {
        # no hsperfdata under /tmp: the run writes only in its work dir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    times, spark = [], None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        times.append(time.perf_counter() - t)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, times


def _stamp() -> dict:
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        sha = None
    digest = hashlib.sha1()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    digest.update(f.read())
    return {
        "git_sha": sha,
        "source_sha1": digest.hexdigest(),
        "cpus": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
    }


def _untraced_pass_s(args) -> float:
    """pass_s of the untraced run of this workload, seed and length; of
    the median over the other seeds' untraced runs in this work directory
    when this seed has none; and of a fresh untraced run when none has."""
    same = _result_path(args, trace=0)
    results = [same] if os.path.exists(same) else glob.glob(
        _result_path(args, trace=0, seed="*")
    )
    if not results:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            check=True,
            stdout=subprocess.DEVNULL,
        )
        results = [same]
    values = []
    for path in results:
        with open(path) as f:
            values.append(json.load(f)["metrics"]["pass_s"]["value"])
    return statistics.median(values)


def _result_path(args, trace: int, seed=None) -> str:
    seed = args.seed if seed is None else seed
    return os.path.join(
        WORK, "results",
        f"{args.workload}-s{seed}-{args.seconds}s-t{trace}.json",
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        sys.exit(f"perfbench: no {PACKAGE} package next to perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    untraced_pass_s = _untraced_pass_s(args) if args.trace else None
    cpus = len(os.sched_getaffinity(0))
    _prepare_environment(cpus)

    from harness import Checks, Tracer, peak_rss_mb

    run = Run(args, Tracer(bool(args.trace)), Checks())
    spark, setup_times = _setup_session()
    gateway_proc = spark.sparkContext._gateway.proc
    run.spark = spark
    try:
        __import__(WORKLOADS[args.workload]).run(run)
        run.e2e(setup_s=statistics.median(setup_times))
        run.layer("mem.peak_rss_mb", peak_rss_mb(spark))
    finally:
        spark.stop()
        gateway_proc.stdin.close()  # the gateway JVM exits on EOF
        gateway_proc.wait(timeout=60)

    if args.trace:
        run.layer("setup.cold_s", setup_times[0])
        run.layer("trace.pass_s", run.metrics["pass_s"])
        run.layer("trace.overhead_s", run.metrics["pass_s"] - untraced_pass_s)
        run.tracer.write(
            os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
        )
        names = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = {n: run.layers.get(n, 0) for n in names}
    else:
        names = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {n: run.metrics[n] for n in names}

    failures = run.checks.failures
    result = {
        "correct": not failures,
        "attempted": run.checks.attempted,
        "failed": len(failures),
        "metrics": {
            n: {"value": values[n], "unit": unit} for n, unit in names.items()
        },
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(_result_path(args, args.trace), "w") as f:
        json.dump(result, f)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        **_stamp(),
        **run.details,
        "failures": failures[:20],
    }))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
