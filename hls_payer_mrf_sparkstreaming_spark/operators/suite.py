"""Central registry of oracle-checked queries.

Every operator the engine claims is registered here as a
``(spark_fn, oracle_sql)`` pair with IDENTICAL output column names, so the
driver (and ``tests/test_oracle.py``) can hash-compare Spark vs DuckDB on
the same parquet inputs. ``oracle=None`` marks genuinely
non-SQL-expressible ops (custom streaming, hash families DuckDB lacks) —
those get rows-only checks plus dedicated pytest coverage.

Float discipline (the driver hash is exact): monetary/real aggregates are
computed in exact integer units (cents / basis points) and divided back at
the end, so Spark's parallel summation order can never produce a ULP diff
vs DuckDB. MIN/MAX/COUNT are order-insensitive and used raw.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@dataclass
class QueryPair:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    description: str


REGISTRY: dict[str, QueryPair] = {}


def query(name: str, oracle: Optional[str] = None, description: str = ""):
    def deco(fn):
        REGISTRY[name] = QueryPair(fn, oracle, description)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Bounded registry for intra-query scratch persists.
#
# Many operators persist() a mid-pipeline relation that a self-join or a
# multi-aggregate fan-out references more than once (shingle sets, scored
# candidates, distinct gram streams). The persist is load-bearing for cost
# (without it each reference re-runs the dominant stage) but nothing in a
# lazily-returned DataFrame's lifecycle tells the operator when the caller
# has finished materializing it — so an unpersist inside the operator would
# fire before the action, and NO unpersist leaks one cached relation per
# call into a long-lived host session (advice r8: lsh_edge_recall,
# ndcg_eval, and a dozen siblings). scratch_persist() bounds the leak: a
# session-wide FIFO holds the last _SCRATCH_MAX scratch relations and
# unpersists the oldest on overflow. Eviction is always correctness-safe —
# persist() keeps lineage, so a consumer that still holds an evicted frame
# just recomputes. Deliberate session caches (_EDGE_CACHE, _PQ_CACHE,
# _MANIFEST_CACHE) do NOT route through this: they are keyed, repersisted
# on clear, and own their eviction policy.
_SCRATCH: list[DataFrame] = []
_SCRATCH_MAX = 32


def scratch_persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _SCRATCH.append(df)
    while len(_SCRATCH) > _SCRATCH_MAX:
        old = _SCRATCH.pop(0)
        try:
            old.unpersist()
        except Exception:
            pass  # owning session already stopped — nothing to release
    return df


def repersist_if_cleared(df: DataFrame) -> None:
    """Re-persist a session-cache entry whose storage was cleared by the
    host application (spark.catalog.clearCache(), an explicit unpersist).
    Without this, every consumer REFERENCE — graph_triangles holds five,
    pagerank two per round — re-executes the whole upstream pipeline,
    which the sf1 scale run measured as a 25-46x blowup at 10x data.
    Shared by every keyed session cache (edge/CC/PQ/silver); lives here,
    next to the scratch FIFO, so cache consumers in other modules depend
    on a public utility rather than another operator module's internals
    (advice r12)."""
    if not (df.storageLevel.useMemory or df.storageLevel.useDisk):
        df.persist()


def _usec_copy(path: str) -> str:
    """Spark rejects parquet TIMESTAMP(NANOS) columns ([PARQUET_TYPE_ILLEGAL]);
    DuckDB truncates them to micros. Make a one-time µs-cast copy so both
    engines see identical values. No-op for files without ns timestamps."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # a "table" may be a directory of part files (any real deployment);
    # the schema probe reads one part, the conversion reads the dataset
    schema_path = path
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, p)
            for p in os.listdir(path)
            if p.endswith(".parquet")
        )
        if not parts:
            return path
        schema_path = parts[0]
    schema = pq.read_schema(schema_path)
    if not any(
        pa.types.is_timestamp(f.type) and f.type.unit == "ns" for f in schema
    ):
        return path
    # key on the SOURCE's stat signature, not just its path (r14, ADVICE):
    # _LOAD_CACHE keys on source mtime and promises a rewritten fixture a
    # fresh read, but a path-only copy key would hand that fresh reader the
    # STALE converted bytes. A rewrite now lands in a new copy directory;
    # old copies are tmp files that expire with the sandbox.
    def _sig(p: str) -> str:
        st = os.stat(p)
        return f"{p}:{st.st_mtime_ns}:{st.st_size}"

    if os.path.isdir(path):
        sig = ";".join(_sig(p) for p in parts)
    else:
        sig = _sig(path)
    key = hashlib.md5(
        (os.path.abspath(path) + "|" + sig).encode()
    ).hexdigest()[:12]
    out_dir = os.path.join(tempfile.gettempdir(), "spark_graft_usec", key)
    out = os.path.join(out_dir, os.path.basename(path))
    if not os.path.exists(out):
        os.makedirs(out_dir, exist_ok=True)
        table = pq.read_table(path)
        target = pa.schema(
            [
                pa.field(
                    f.name,
                    pa.timestamp("us")
                    if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
                    else f.type,
                )
                for f in table.schema
            ]
        )
        tmp = out + ".tmp"
        pq.write_table(table.cast(target, safe=False), tmp)
        os.replace(tmp, out)
    return out


# Reader-plan cache: load() is called 1-3 times inside EVERY query
# construction, and each call pays a DataFrameReader round trip plus a JVM
# parquet footer/schema read (~100 ms on a busy driver) — pure driver
# overhead repeated per query at any scale. The cache holds the immutable
# DataFrame (a LOGICAL PLAN, no data): every action on it still scans the
# parquet files, so nothing about bench/oracle timing semantics changes —
# this is "build the reader once", not result caching. Keyed by
# (session, path, mtime): a rewritten fixture (the degenerate sweep
# re-materializes its corpus) gets a fresh file index instead of a stale
# listing. FIFO-bounded like the scratch registry.
_LOAD_CACHE: dict[tuple, DataFrame] = {}
_LOAD_CACHE_MAX = 64


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    path = f"{sf_dir}/{table}.parquet"
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = None
    key = (spark.sparkContext.applicationId, path, mtime)
    df = _LOAD_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(_usec_copy(path))
        while len(_LOAD_CACHE) >= _LOAD_CACHE_MAX:
            _LOAD_CACHE.pop(next(iter(_LOAD_CACHE)))
        _LOAD_CACHE[key] = df
    return df


def rebalance(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism when the
    scan yields fewer partitions.

    CPU-dense per-row operators (per-shingle hashing, per-bit SimHash votes,
    centroid folds) otherwise run on a handful of cores when the input is a
    few small-but-dense files — a 5 MB parquet of 5k documents is ONE scan
    partition, so 31 of 32 cores idle through the most expensive stage. At
    real scale the scan already has more partitions than cores and this is
    a no-op, so nothing extra shuffles on a large cluster.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # estimate the scan's partition count from file sizes instead of
    # df.rdd.getNumPartitions() — the .rdd probe converts the plan to an
    # RDD (analyzer + physical planning) on every call, while inputFiles()
    # only consults the file index driver-side
    try:
        from urllib.parse import unquote, urlparse

        files = df.inputFiles()
        if not files:
            # not a file scan (in-memory relation, stream, ...): no basis
            # for an estimate — leave the plan alone
            return df
        total = 0
        for f in files:
            # inputFiles() returns URIs with percent-encoded paths
            p = unquote(urlparse(f).path) if "://" in f else unquote(
                f.removeprefix("file:")
            )
            total += os.path.getsize(p)
        est_partitions = max(1, -(-total // _parse_bytes_conf(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )))
    except Exception:
        # unknown scan size: leave the plan alone — a silent fallback to
        # "1 partition, so repartition everything" would add a corpus-wide
        # shuffle at exactly the scale where it hurts most
        return df
    if est_partitions >= max(2, target // 2):
        return df
    return df.repartition(target)


_SIZE_SUFFIXES = {
    "k": 1 << 10,
    "m": 1 << 20,
    "g": 1 << 30,
    "t": 1 << 40,
    "p": 1 << 50,
}


def _parse_bytes_conf(v: str) -> int:
    """Parse a Spark byte-size conf value ('134217728', '128m', '128MB',
    case-insensitive) into bytes, mirroring JavaUtils.byteStringAsBytes."""
    s = v.strip().lower().removesuffix("b")
    if s and s[-1] in _SIZE_SUFFIXES:
        return int(float(s[:-1]) * _SIZE_SUFFIXES[s[-1]])
    return int(s)


# The driver's CORRECTNESS harness verifies the FIRST 50 registry entries
# only, so ordering is a verification-coverage decision, not cosmetics.
# The window is SELF-ROTATING (VERDICT r9 task 8): ordering derives from
# the committed CORRECTNESS_r*.json history at call time — operators that
# have never received a green driver row go first (so every NEW operator
# lands inside the window automatically), then ascending by the round of
# their latest green row (so the stalest verification rotates back in each
# round, and a RED row, which does not advance the clock, re-enters the
# window immediately). Ties keep registration order, which is
# deterministic (fixed import order below). No hand-edited list to
# maintain; tests/test_plans.py pins the rotation invariants.
_DRIVER_PRIORITY: list[str] = []  # populated by all_queries() (introspection)


def _latest_green_rounds() -> dict[str, int]:
    """Operator name -> latest round with a green driver row (rows_match,
    or the weaker rows-only ``no_oracle`` acknowledgement) across the
    committed ``CORRECTNESS_r*.json`` files at the repo root. Empty when
    the package runs outside the repo (installed library) — ordering then
    falls back to registration order."""
    import glob
    import json
    import re as _re

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    hist: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if row.get("rows_match") or row.get("err") == "no_oracle":
                hist[name] = max(hist.get(name, 0), rnd)
    return hist


def all_queries() -> dict[str, QueryPair]:
    """Import every operator module (side effect: registration) and return
    the full registry, ordered so the driver's 50-entry correctness window
    covers the least-recently-verified operators first."""
    import hls_payer_mrf_sparkstreaming_spark.operators.relational  # noqa: F401
    import hls_payer_mrf_sparkstreaming_spark.operators.temporal  # noqa: F401
    import hls_payer_mrf_sparkstreaming_spark.operators.dedup  # noqa: F401
    import hls_payer_mrf_sparkstreaming_spark.operators.sampling  # noqa: F401
    import hls_payer_mrf_sparkstreaming_spark.operators.clustering  # noqa: F401
    import hls_payer_mrf_sparkstreaming_spark.operators.text_analysis  # noqa: F401
    import hls_payer_mrf_sparkstreaming_spark.operators.packing  # noqa: F401
    import hls_payer_mrf_sparkstreaming_spark.operators.stats  # noqa: F401
    import hls_payer_mrf_sparkstreaming_spark.operators.similarity  # noqa: F401
    import hls_payer_mrf_sparkstreaming_spark.operators.multimodal  # noqa: F401
    import hls_payer_mrf_sparkstreaming_spark.operators.retrieval  # noqa: F401
    import hls_payer_mrf_sparkstreaming_spark.plans.mrf_queries  # noqa: F401
    import hls_payer_mrf_sparkstreaming_spark.plans.variant  # noqa: F401

    hist = _latest_green_rounds()
    # never-verified first (hist -1), then stalest green round first;
    # sorted() is stable, so ties keep deterministic registration order
    order = sorted(REGISTRY, key=lambda n: hist.get(n, -1))
    _DRIVER_PRIORITY[:] = order
    return {name: REGISTRY[name] for name in order}
