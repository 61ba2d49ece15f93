"""SparkSession factory with scale-oriented defaults, and the one cache
of per-session intermediates every layer shares.

Defaults chosen for correctness-at-scale first (AQE on, skew-join handling
on) and then local-mode speed. On a real cluster the same config holds;
only master/shuffle-partition count change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hls-payer-mrf-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at its default (true).
        # r14 measured BOTH arms: over an 18-query light-tail sample,
        # false (respect the advisory size) won 5.5-6% twice — those
        # queries' reduce stages are scheduling-bound, so fewer post-
        # shuffle tasks help. But over the compute-heavy set the same
        # knob LOST 20% (interleaved A/B: copurchase_pairs -62%,
        # percentile_summary -45%, anomaly_mad -39%): advisory-size
        # coalescing collapses their post-shuffle parallelism to 1-2
        # tasks at bench scale, costing more absolute seconds than the
        # tail gains. On a real 100 TB cluster post-shuffle partitions
        # exceed the advisory size anyway, so flipping it here buys
        # nothing at scale either — rejected, evidence in
        # OPTIMIZATION_r14.md §7.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for any pandas-UDF path; never row-at-a-time python UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics for oracle comparisons.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # iterative operators (connected components) checkpoint each round;
        # let the ContextCleaner reap checkpoint files no longer referenced
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Reliable checkpoint location for iterative algorithms — lineage MUST
    # truncate each round or the logical plan grows exponentially. Local tmp
    # here; on a cluster point this at HDFS/S3 before calling get_spark.
    if spark.sparkContext.getCheckpointDir() is None:
        import tempfile

        spark.sparkContext.setCheckpointDir(
            tempfile.mkdtemp(prefix="spark_graft_ckpt_")
        )
    # Register our custom data sources on every session.
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import register

    register(spark)
    return spark


def _repersist_if_cleared(df) -> None:
    """Re-persist a cached DataFrame whose storage was cleared by the host
    application (spark.catalog.clearCache(), an explicit unpersist).
    Without this, every consumer REFERENCE — graph_triangles holds five,
    pagerank two per round — re-executes the whole upstream pipeline,
    which the sf1 scale run measured as a 25-46x blowup at 10x data."""
    if not (df.storageLevel.useMemory or df.storageLevel.useDisk):
        df.persist()


class SessionCache:
    """Bounded cache of intermediates reused across one session's queries
    (parsed silver tables, the near-dup edge list, reader plans).

    Entries belong to the ``applicationId`` that built them. A ``get`` from
    another application means the old SparkContext was stopped, so every
    entry is dropped first; their blocks died with it, so nothing is
    unpersisted. At ``maxsize`` entries the oldest is evicted (FIFO).

    ``frames(value)`` names the DataFrames an entry holds. They are
    persisted on build, unpersisted on eviction, and re-persisted on a hit
    whose storage the host cleared. Without ``frames`` entries are plans
    only and nothing is persisted.

    ``on_drop(value)`` runs once a value is unreachable: when its session
    is gone, or on ``clear()``. A value evicted inside a live session may
    still be held by a caller, so its ``on_drop`` waits until then.
    """

    def __init__(self, maxsize: int, frames=None, on_drop=None):
        self.maxsize = maxsize
        self._frames = frames or (lambda value: ())
        self._on_drop = on_drop
        self._app_id = None
        self._entries: dict = {}
        self._evicted: list = []  # values whose on_drop is still pending

    def get(self, spark, key, build):
        app_id = spark.sparkContext.applicationId
        if app_id != self._app_id:
            self._drop_all()
            self._app_id = app_id
        if key in self._entries:
            value = self._entries[key]
            for df in self._frames(value):
                _repersist_if_cleared(df)
            return value
        while len(self._entries) >= self.maxsize:
            old = self._entries.pop(next(iter(self._entries)))
            self._unpersist(old)
            if self._on_drop is not None:
                self._evicted.append(old)
        value = build()
        for df in self._frames(value):
            df.persist()
        self._entries[key] = value
        return value

    def clear(self) -> None:
        """Unpersist and drop every entry (test and benchmark hook; the
        caller asserts no consumer still holds a value)."""
        for value in self._entries.values():
            self._unpersist(value)
        self._drop_all()

    def _unpersist(self, value) -> None:
        for df in self._frames(value):
            try:
                df.unpersist()
            except Exception:
                pass  # owning session already stopped — nothing to release

    def _drop_all(self) -> None:
        dropped = self._evicted + list(self._entries.values())
        self._entries.clear()
        self._evicted.clear()
        if self._on_drop is not None:
            for value in dropped:
                self._on_drop(value)
