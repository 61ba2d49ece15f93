"""stream_landing: an open-loop generator lands seeded ``.json.gz`` files
into a directory that ``stream_silver_continuous`` watches; then the query
stops at a batch boundary, a backlog lands while it is down, and it
restarts from its checkpoint."""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from datetime import datetime
from statistics import median

from harness import group_totals, tail

# four files, so that catch-up is one batch of the size a burst makes:
# with two, its fixed restart cost spread pass_s by a quarter between runs
BACKLOG_FILES = 4
# the open loop lands bursts of BURST_FILES files, evenly spaced over the
# run: 3 bursts of 2 at 20 s, one every 6.7 s, each taking 3-6 s of batch
# time on 4 CPUs, so every burst finds the stream idle; the median of
# three bursts does not move with one that a busy host slowed
BURST_FILES = 2
TRIGGER = "200 milliseconds"
TIMEOUT_S = 60.0
CHUNK_LOCAL = ("codes", "prices", "par_providers", "provider_references",
               "header")


class _Progress:
    """Collects progress events from a StreamingQueryListener."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        self.events: list[dict] = []
        self.lock = threading.Lock()
        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                outer._add(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()

    def _add(self, p) -> None:
        src = p.sources[0]
        start, end = _offset(src.startOffset), _offset(src.endOffset)
        ts = datetime.fromisoformat(p.timestamp).timestamp()
        ev = {
            "run": str(p.runId),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "durations": dict(p.durationMs),
            "commit": ts + p.durationMs["triggerExecution"] / 1e3,
            "end": end.get("files", {}),
            "chunks": sum(
                n - start.get("files", {}).get(f, 0)
                for f, n in end.get("files", {}).items()
            ),
        }
        with self.lock:
            self.events.append(ev)

    def commit_time(self, path: str, chunks: int) -> float | None:
        """Commit time of the first batch whose end offset covers all of
        the file's chunks."""
        with self.lock:
            for ev in self.events:
                if ev["end"].get(path, 0) >= chunks:
                    return ev["commit"]
        return None


def _offset(text: str | None) -> dict:
    """A source offset from a progress event; the first batch's start
    offset reads ``None``."""
    return json.loads(text) if text and text.startswith("{") else {}


def _wait(pred, what: str) -> None:
    deadline = time.monotonic() + TIMEOUT_S
    while not pred():
        if time.monotonic() > deadline:
            raise TimeoutError(f"stream_landing: timed out waiting for {what}")
        time.sleep(0.01)


class _Generator(threading.Thread):
    """Open loop: lands each burst of files at its scheduled time, whatever
    the stream is doing, and records how late it ran."""

    def __init__(self, land, bursts, t0: float, interval: float):
        super().__init__(daemon=True)
        self.land, self.bursts = land, bursts
        self.schedule = [t0 + i * interval for i in range(len(bursts))]
        self.late: list[float] = []
        self.error: BaseException | None = None

    def run(self):
        try:
            for burst, due in zip(self.bursts, self.schedule):
                time.sleep(max(0.0, due - time.time()))
                for f in burst:
                    self.land(f)
                self.late.append(time.time() - due)
        except BaseException as exc:  # reported by the caller after join
            self.error = exc

    def finish(self) -> None:
        self.join(TIMEOUT_S)
        if self.is_alive() or self.error is not None:
            raise RuntimeError(f"generator failed: {self.error!r}")


def run(run) -> None:
    from hls_payer_mrf_sparkstreaming_spark.streaming.silver_stream import (
        read_silver,
        stream_silver_continuous,
    )

    spark, tr, meta = run.spark, run.tracer, run.meta
    base = run.fresh_dir("stream")
    staging, landing, decomp, out, ckpt = (
        os.path.join(base, d)
        for d in ("staging", "landing", "decompressed", "out", "ckpt")
    )
    for d in (staging, landing):
        os.makedirs(d)
    files = meta["files"]
    for f in files:  # same filesystem as landing: each landing is atomic
        shutil.copy(os.path.join(meta["gz_dir"], f["name"] + ".gz"), staging)

    def land(f):
        name = f["name"] + ".gz"
        os.replace(os.path.join(staging, name), os.path.join(landing, name))

    def target(f):
        return os.path.join(decomp, f["name"])

    def committed(fs) -> bool:
        return all(
            progress.commit_time(target(f), f["chunks"]) is not None
            for f in fs
        )

    def start():
        return stream_silver_continuous(
            spark, landing, out, ckpt, trigger_interval=TRIGGER,
            decompressdir=decomp,
        )

    first, backlog = files[0], files[1 : 1 + BACKLOG_FILES]
    scheduled = files[1 + BACKLOG_FILES :]
    bursts = [
        scheduled[i : i + BURST_FILES]
        for i in range(0, len(scheduled), BURST_FILES)
    ]
    interval = run.seconds / len(bursts)

    progress = _Progress()
    spark.streams.addListener(progress.listener)
    try:
        land(first)  # the source needs one file to list at start
        query = start()
        _wait(lambda: committed([first]), "the first file")
        with tr.span("stream.open_loop"):
            gen = _Generator(land, bursts, time.time(), interval)
            gen.start()
            gen.finish()
            _wait(lambda: committed(scheduled), "the scheduled files")
        fresh = [
            progress.commit_time(target(f), f["chunks"]) - due
            for burst, due in zip(bursts, gen.schedule)
            for f in burst
        ]
        # planned stop at a batch boundary: everything landed is
        # committed and no trigger is running
        _wait(
            lambda: not query.status["isTriggerActive"], "an idle trigger"
        )
        query.stop()
        run_a = str(query.runId)
        for f in backlog:
            land(f)
        with tr.span("stream.restart") as restart:
            t_restart = time.time()
            query = start()
            _wait(lambda: committed(backlog), "the backlog")
        query.stop()
        run_b = str(query.runId)
    finally:
        for q in spark.streams.active:
            q.stop()
        spark.streams.removeListener(progress.listener)

    with progress.lock:
        after = [e for e in progress.events if e["run"] == run_b and e["rows"]]
    restart_s = after[0]["commit"] - t_restart
    catchup_s = max(
        progress.commit_time(target(f), f["chunks"]) for f in backlog
    ) - t_restart
    backlog_gb = sum(f["bytes"] for f in backlog) / 1e9
    p_tail, pct = tail(fresh)
    run.e2e(pass_s=catchup_s, op_p50_s=median(fresh), op_tail_s=p_tail)
    run.detail(
        tail_percentile=pct,
        files_scheduled=len(fresh),
        burst_interval_s=interval,
        stream_freshness_p50_s=median(fresh),
        stream_freshness_tail_s=p_tail,
        stream_catchup_gb_per_min=backlog_gb / catchup_s * 60,
        stream_restart_s=restart_s,
        restart_wall_s=restart.s,
        batches=[
            (e["chunks"], e["durations"]["triggerExecution"])
            for e in progress.events
        ],
    )
    _check(run, read_silver, out, meta, against_batch=tr.enabled)

    if not tr.enabled:
        return
    with progress.lock:
        batches = [e for e in progress.events if e["rows"]]
    run.layer("spark", group_totals(spark, [run_a, run_b]))
    run.layer("stream.batches", len(batches))
    for key, name in (
        ("latestOffset", "latest_offset_ms"),
        ("queryPlanning", "query_planning_ms"),
        ("addBatch", "add_batch_ms"),
        ("walCommit", "wal_commit_ms"),
        ("commitOffsets", "commit_offsets_ms"),
    ):
        run.layer(
            f"stream.{name}",
            median([e["durations"].get(key, 0) for e in batches]),
        )
    run.layer(
        "stream.restart_latest_offset_ms",
        after[0]["durations"].get("latestOffset", 0),
    )
    run.layer("stream.generator_late_s", max(gen.late))
    run.layer(
        "stream.source_rows_per_chunk",
        sum(e["rows"] for e in batches) / sum(e["chunks"] for e in batches),
    )
    plain = [os.path.join(meta["plain_dir"], f["name"]) for f in files]
    run.chunker_layers(plain)
    _gunzip_layer(run, meta, files)


def _check(run, read_silver, out: str, meta: dict, against_batch: bool):
    """Streamed row counts against counts from a plain JSON parse of the
    same files, and (``against_batch``) against batch silver over them;
    surrogate keys unique. The batch comparison re-reads every file, so
    only the traced run makes it."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        MrfSilverTables,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
        read_payer_mrf,
    )

    spark, files = run.spark, meta["files"]
    streamed = {
        name: spark.read.parquet(os.path.join(out, name))
        for name in CHUNK_LOCAL
    }
    # read_silver is the public reader of the streamed store
    streamed["providers_x_payer"] = read_silver(spark, out)["providers_x_payer"]
    parsed = {
        name: sum(f["rows"][key] for f in files)
        for name, key in (
            ("codes", "in_network_codes"),
            ("prices", "in_network_prices"),
            ("par_providers", "in_network_par_providers"),
            ("provider_references", "provider_references"),
            ("header", "provider_header"),
            ("providers_x_payer", "provider_references_x_payer"),
        )
    }
    counts = {name: {"parsed": n} for name, n in parsed.items()}
    for name, df in streamed.items():
        counts[name]["streamed"] = df.count()
    if against_batch:
        # cached: every batch table derives from this one bronze scan
        bronze = read_payer_mrf(
            spark,
            meta["plain_dir"],
            includeoffsets="true",
            distributeddiscovery="false",
        ).persist()
        batch = MrfSilverTables(bronze)
        for name in counts:
            counts[name]["batch"] = getattr(batch, name).count()
        bronze.unpersist()
    for name, c in counts.items():
        run.checks.expect(len(set(c.values())) == 1, f"{name}: {c}")
    n_keys = streamed["codes"].select("sk_in_network_id").distinct().count()
    run.checks.expect(
        n_keys == parsed["codes"],
        f"codes: {n_keys} distinct keys for {parsed['codes']} rows",
    )


def _gunzip_layer(run, meta: dict, files: list[dict]) -> None:
    from hls_payer_mrf_sparkstreaming_spark.sources import io as mrf_io

    target = run.fresh_dir("gunzip")
    with run.tracer.span("io.gunzip") as t:
        for f in files:
            mrf_io.decompress_gz(
                os.path.join(meta["gz_dir"], f["name"] + ".gz"), target
            )
    run.layer("io.gunzip_s", t.s)
