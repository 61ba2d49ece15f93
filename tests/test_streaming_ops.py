"""Streaming operators: prove stream results == batch results on the same
input (the check the reference never does — SURVEY.md Tier C)."""

import json
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from hls_payer_mrf_sparkstreaming_spark.streaming.events import (
    sessionize_stream,
    stream_events_from_parquet,
    windowed_event_counts,
)


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """Copy events parquet into a dedicated dir (file-stream source wants a
    directory of just that table; goes through suite.load for the ns->us
    timestamp normalization)."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import load

    d = tmp_path_factory.mktemp("events_stream")
    load(spark, sf_dir, "events").write.parquet(str(d / "data"), mode="overwrite")
    return str(d / "data")


def test_windowed_counts_stream_equals_batch(spark, events_stream_dir, tmp_path):
    schema = spark.read.parquet(events_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_stream_dir)
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window_start_epoch"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = spark.read.parquet(events_stream_dir)
    expected = {
        (r["window_start_epoch"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(batch.withWatermark("ts", "2 hours"))
        .collect()
    }
    assert got == expected


def test_session_fn_order_independent_across_chunks():
    """applyInPandasWithState delivers a group in multiple Arrow batches in
    no particular order; the gap loop must sort the WHOLE group, not each
    batch (per-batch sorting moved last_ts backwards)."""
    import pandas as pd

    from hls_payer_mrf_sparkstreaming_spark.streaming.events import _session_fn

    class _FakeState:
        exists = False

        def update(self, v):
            self.value = v

    def run(chunks):
        st = _FakeState()
        out = list(
            _session_fn(
                (1,),
                iter([pd.DataFrame({"ts": pd.to_datetime(c)}) for c in chunks]),
                st,
            )
        )
        return st.value, out

    # two sessions separated by a >30 min gap, delivered as out-of-order chunks
    early = ["2026-01-01 00:00:00", "2026-01-01 00:10:00"]
    late = ["2026-01-01 02:00:00", "2026-01-01 02:05:00"]
    state_a, out_a = run([early, late])
    state_b, out_b = run([late, early])  # chunk order reversed
    assert state_a == state_b
    assert len(out_a) == 1 and out_a[0].iloc[0]["n_events"] == 2
    assert len(out_b) == 1 and out_b[0].equals(out_a[0])


def test_sessionize_stream_emits_closed_sessions(spark, events_stream_dir, tmp_path):
    schema = spark.read.parquet(events_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_stream_dir)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM sessions").collect()
    # append mode emits closed sessions only (each user's in-flight final
    # session stays in state), so assert structural invariants rather than
    # a total count
    assert all(r["n_events"] >= 1 for r in rows)
    per_user: dict = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r["session_start"])
    for starts in per_user.values():
        assert len(starts) == len(set(starts))


def test_dedup_stream_suppresses_replayed_events(spark, events_stream_dir, tmp_path):
    """At-least-once input (every file delivered twice) -> exactly-once
    output: dropDuplicatesWithinWatermark keeps one row per event_id."""
    import os
    import shutil

    from hls_payer_mrf_sparkstreaming_spark.streaming.events import dedup_stream

    dup_dir = tmp_path / "dup_events"
    dup_dir.mkdir()
    for i, f in enumerate(sorted(p for p in os.listdir(events_stream_dir) if p.endswith(".parquet"))):
        src = f"{events_stream_dir}/{f}"
        shutil.copy(src, dup_dir / f"a{i}.parquet")
        shutil.copy(src, dup_dir / f"b{i}.parquet")  # the replay

    schema = spark.read.parquet(str(dup_dir)).schema
    stream = spark.readStream.schema(schema).parquet(str(dup_dir))
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.sql("SELECT event_id FROM dedup_out").collect()
    n_unique = spark.read.parquet(events_stream_dir).select("event_id").distinct().count()
    assert len(out) == n_unique
    assert len({r["event_id"] for r in out}) == n_unique


def test_delta_sink_roundtrip_if_available(spark, events_stream_dir, tmp_path):
    """The reference demo's primary sink is Delta (01_payer_mrf_demo.py:80-88).
    delta-spark isn't in this container, so the claim is exercised only when
    the package (and its jars) are present; the skip records the gate."""
    pytest.importorskip("delta")
    schema = spark.read.parquet(events_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_stream_dir)
    q = (
        stream.writeStream.format("delta")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckd"))
        .trigger(availableNow=True)
        .start(str(tmp_path / "delta_table"))
    )
    q.awaitTermination(180)
    got = spark.read.format("delta").load(str(tmp_path / "delta_table")).count()
    assert got == spark.read.parquet(events_stream_dir).count()


def test_attribution_stream_equals_batch(
    spark, sf_dir, events_stream_dir, tmp_path
):
    """Stream-stream click->purchase join (availableNow over the parquet
    replay) must produce exactly the batch interval join's rows."""
    from hls_payer_mrf_sparkstreaming_spark.operators.temporal import (
        attribution_join,
    )
    from hls_payer_mrf_sparkstreaming_spark.streaming.events import (
        attribution_stream,
        stream_events_from_parquet,
    )

    out = str(tmp_path / "attr_out")
    ckpt = str(tmp_path / "attr_ckpt")
    stream = attribution_stream(
        stream_events_from_parquet(spark, events_stream_dir)
    )
    q = (
        stream.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {
        tuple(r)
        for r in attribution_join(spark, sf_dir).collect()
    }
    assert got == want
    assert len(got) > 0


def test_continuous_silver_foreachbatch_equals_batch(spark, mrf_file, tmp_path):
    """Continuous ETL: bronze -> silver INSIDE the stream (foreachBatch),
    multiple micro-batches forced via maxchunksperbatch — the written
    silver tables must equal the direct batch build row-for-row, proving
    batch boundaries can't split/duplicate any silver row and surrogate
    keys survive incremental processing."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import build_silver
    from hls_payer_mrf_sparkstreaming_spark.streaming.silver_stream import (
        SILVER_TABLES,
        read_silver,
        stream_silver_continuous,
    )

    out = str(tmp_path / "silver_stream")
    q = stream_silver_continuous(
        spark,
        mrf_file,
        out,
        str(tmp_path / "ck_silver"),
        trigger_interval="200 milliseconds",
        chunktargetbytes=2048,
        maxchunksperbatch=3,
        includeoffsets="true",
    )
    batch = build_silver(spark, mrf_file, chunktargetbytes=2048)
    try:
        expected = batch.prices.count()
        deadline = time.time() + 180
        n = -1
        while time.time() < deadline:
            try:
                n = spark.read.parquet(f"{out}/prices").count()
            except Exception:  # sink dir not created yet
                n = 0
            if n == expected:
                time.sleep(1.0)
                break
            time.sleep(0.5)
        assert n == expected, f"stream drained {n}/{expected} price rows"
        batches = [
            p["batchId"]
            for p in (q.recentProgress or [])
            if p.get("numInputRows", 0) > 0
        ]
        assert len(set(batches)) >= 2, batches
    finally:
        q.stop()
    # one source read per chunk: every micro-batch's numInputRows equals
    # the chunks its offset range released, so no silver branch re-scans
    # the Python source
    read = [
        (p["numInputRows"], _chunks_released(json.loads(p.json)))
        for p in q.recentProgress
    ]
    assert sum(rows for rows, _ in read) > 0, read
    assert all(rows == chunks for rows, chunks in read), read
    streamed = read_silver(spark, out)
    # multisets, so a row written twice fails
    for name in SILVER_TABLES:
        got = Counter(
            tuple(str(c) for c in r) for r in streamed[name].collect()
        )
        want = Counter(
            tuple(str(c) for c in r)
            for r in getattr(batch, name).collect()
        )
        assert got == want, name
        assert got, name


def _chunks_released(progress: dict) -> int:
    """Chunks between a progress event's start and end source offsets
    (``{"files": {path: n_released}}``; the first start is null)."""
    src = progress["sources"][0]
    start = (src["startOffset"] or {}).get("files", {})
    return sum(
        n - start.get(f, 0) for f, n in src["endOffset"]["files"].items()
    )


def test_continuous_silver_replayed_batch_writes_once(
    spark, mrf_file, tmp_path
):
    """A micro-batch that ran but never committed (a stop mid-batch) is
    replayed on restart; its per-batch overwrite directories must leave
    exactly the batch build's row counts, not the batch appended twice."""
    import os

    from hls_payer_mrf_sparkstreaming_spark.plans.silver import build_silver
    from hls_payer_mrf_sparkstreaming_spark.streaming.silver_stream import (
        SILVER_TABLES,
        read_silver,
        stream_silver_continuous,
    )

    out, ck = str(tmp_path / "silver"), str(tmp_path / "ck")

    def drain():
        q = stream_silver_continuous(
            spark, mrf_file, out, ck, chunktargetbytes=2048
        )
        assert q.awaitTermination(180), "availableNow did not drain"
        return q

    drain()
    commits = os.path.join(ck, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    replayed = [
        p["batchId"]
        for p in drain().recentProgress
        if p["numInputRows"] > 0
    ]
    assert replayed == [last], replayed
    streamed = read_silver(spark, out)
    batch = build_silver(spark, mrf_file, chunktargetbytes=2048)
    for name in SILVER_TABLES:
        want = getattr(batch, name).count()
        assert want > 0, name
        assert streamed[name].count() == want, name


def test_continuous_silver_jobs_inherit_the_run_id_group(
    spark, mrf_file, tmp_path
):
    """The foreachBatch writer stages its stores on driver threads; every
    store write still runs in the query's run-ID job group, so cancelling
    the query's group reaches it, and no write job runs ungrouped."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import IN_NETWORK
    from hls_payer_mrf_sparkstreaming_spark.streaming.silver_stream import (
        stream_silver_continuous,
    )

    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    q = stream_silver_continuous(
        spark,
        mrf_file,
        str(tmp_path / "silver"),
        str(tmp_path / "ck"),
        chunktargetbytes=65536,
    )
    assert q.awaitTermination(180), "availableNow did not drain"
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 1, batches
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert len(tracker.getJobIdsForGroup(str(q.runId))) >= len(
        IN_NETWORK.stores
    )


def test_incremental_corpus_dedup_equals_batch(spark, sf_dir, tmp_path):
    """Incremental exact dedup: three document drops arrive as separate
    micro-batches (duplicates planted within AND across drops); the
    streamed survivor set must equal the batch min-id dedup of the whole
    corpus, because delivery order is pinned to doc_id order."""
    import os
    import time as _t

    from hls_payer_mrf_sparkstreaming_spark.streaming.corpus_dedup import (
        dedup_corpus_batch,
        stream_dedup_corpus,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = [(r["doc_id"], r["text"]) for r in docs.limit(30).collect()]
    n0 = max(d for d, _ in base) + 1
    # drop 1: originals; drop 2: half are replays of drop 1; drop 3: new
    # docs plus an intra-batch duplicate pair
    drops = [
        base,
        [(n0 + i, t) for i, (_, t) in enumerate(base[:15])]
        + [(n0 + 100 + i, f"fresh {i} text") for i in range(5)],
        [(n0 + 200, "late dup"), (n0 + 201, "late dup"),
         (n0 + 202, base[0][1])],
    ]
    in_dir = tmp_path / "drops"
    in_dir.mkdir()
    for i, rows in enumerate(drops):
        staged = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, "doc_id: long, text: string").coalesce(
            1
        ).write.mode("overwrite").parquet(staged)
        part = next(
            p for p in os.listdir(staged) if p.endswith(".parquet")
        )
        flat = str(in_dir / f"drop{i}.parquet")
        os.rename(os.path.join(staged, part), flat)
        # FileStreamSource orders files by modification time: pin it
        os.utime(flat, (1_000 + i, 1_000 + i))

    out = tmp_path / "dedup_out"
    q = stream_dedup_corpus(
        spark, str(in_dir), str(out), str(tmp_path / "ck_dedup")
    )
    q.awaitTermination(180)
    assert not q.isActive

    all_docs = spark.createDataFrame(
        [r for rows in drops for r in rows], "doc_id: long, text: string"
    )
    want = {
        (r["doc_id"], r["text"])
        for r in dedup_corpus_batch(all_docs, "doc_id", "text")
        .drop("fp")
        .collect()
    }
    got = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(str(out / "docs")).collect()
    }
    assert got == want
    # replays and intra-batch dups were actually suppressed
    assert len(got) == 30 + 5 + 1
    fps = spark.read.parquet(str(out / "fps"))
    assert fps.count() == fps.distinct().count() == len(got)


def test_normalized_corpus_dedup_stream_collapses_variants(
    spark, sf_dir, tmp_path
):
    """Normalized streaming dedup: a second drop replays drop-1 documents
    as uppercased+punctuated variants; with normalized=True the stream
    must suppress every variant (and equal the batch normalized dedup),
    while plain exact dedup would admit them all."""
    import os

    from hls_payer_mrf_sparkstreaming_spark.streaming.corpus_dedup import (
        dedup_corpus_batch,
        stream_dedup_corpus,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = [(r["doc_id"], r["text"]) for r in docs.limit(20).collect()]
    n0 = max(d for d, _ in base) + 1
    variants = [
        (n0 + i, t.upper() + " !!") for i, (_, t) in enumerate(base[:12])
    ]
    drops = [base, variants + [(n0 + 500, "genuinely new text")]]
    in_dir = tmp_path / "ndrops"
    in_dir.mkdir()
    for i, rows in enumerate(drops):
        staged = str(tmp_path / f"nstage{i}")
        spark.createDataFrame(rows, "doc_id: long, text: string").coalesce(
            1
        ).write.mode("overwrite").parquet(staged)
        part = next(
            p for p in os.listdir(staged) if p.endswith(".parquet")
        )
        flat = str(in_dir / f"drop{i}.parquet")
        os.rename(os.path.join(staged, part), flat)
        os.utime(flat, (1_000 + i, 1_000 + i))

    out = tmp_path / "ndedup_out"
    q = stream_dedup_corpus(
        spark,
        str(in_dir),
        str(out),
        str(tmp_path / "ck_ndedup"),
        normalized=True,
    )
    q.awaitTermination(180)
    assert not q.isActive

    all_docs = spark.createDataFrame(
        [r for rows in drops for r in rows], "doc_id: long, text: string"
    )
    want = {
        (r["doc_id"], r["text"])
        for r in dedup_corpus_batch(
            all_docs, "doc_id", "text", normalized=True
        )
        .drop("fp")
        .collect()
    }
    got = {
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(str(out / "docs")).collect()
    }
    assert got == want
    # every planted variant was suppressed; only the genuinely new doc got in
    assert len(got) == 20 + 1
    assert all(d < n0 or d == n0 + 500 for d, _ in got)


def test_cdc_stream_final_state_equals_batch(spark, events_stream_dir, tmp_path):
    """The streaming latest-wins CDC state must converge to exactly the
    batch cdc_apply_changelog result (same winner per key, deletes
    dropped) on the same input."""
    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries
    from hls_payer_mrf_sparkstreaming_spark.streaming.events import cdc_stream

    schema = spark.read.parquet(events_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_stream_dir)
    q = (
        cdc_stream(stream)
        .writeStream.format("memory")
        .queryName("cdc_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_cdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM cdc_state").collect()
    # update mode appends a row per state advance; the final state per key
    # is the (ts, event_id)-max row, and a final 'error' op is a DELETE
    final = {}
    for r in rows:
        cand = (r["last_ts_us"], r["last_event_id"])
        if r["user_id"] not in final or cand > final[r["user_id"]][0]:
            final[r["user_id"]] = (
                cand,
                r["last_op"],
                r["last_value_cents"],
            )
    got = {
        u: (ts_eid[0], op, cents)
        for u, (ts_eid, op, cents) in final.items()
        if op != "error"
    }

    import os

    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    batch = all_queries()["cdc_apply_changelog"].fn(spark, sf_dir).collect()
    expected = {
        r["user_id"]: (
            int(r["last_ts"].timestamp() * 1_000_000),
            r["last_op"],
            r["last_value_cents"],
        )
        for r in batch
    }
    assert set(got) == set(expected)
    for u in expected:
        assert got[u][1:] == expected[u][1:], u
        assert got[u][0] == expected[u][0], u


def test_sliding_window_stream_equals_batch(spark, events_stream_dir, tmp_path):
    """Overlapping sliding windows (1 h window / 30 min slide) through the
    streaming path must equal the batch computation slot for slot."""
    schema = spark.read.parquet(events_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_stream_dir)
    q = (
        windowed_event_counts(stream, slide="30 minutes")
        .writeStream.format("memory")
        .queryName("slide_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_slide"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window_start_epoch"], r["event_type"]): (
            r["n_events"],
            r["sum_value"],
        )
        for r in spark.sql("SELECT * FROM slide_counts").collect()
    }
    batch = spark.read.parquet(events_stream_dir)
    expected = {
        (r["window_start_epoch"], r["event_type"]): (
            r["n_events"],
            r["sum_value"],
        )
        for r in windowed_event_counts(
            batch.withWatermark("ts", "2 hours"), slide="30 minutes"
        ).collect()
    }
    assert got == expected
    # sliding slots must double-count each event vs the tumbling twin
    n_tumbling = sum(
        v[0]
        for v in {
            (r["window_start_epoch"], r["event_type"]): (r["n_events"],)
            for r in windowed_event_counts(
                batch.withWatermark("ts", "2 hours")
            ).collect()
        }.values()
    )
    assert sum(v[0] for v in got.values()) == 2 * n_tumbling


def test_incremental_line_dedup_equals_reference(spark, tmp_path):
    """Streamed line-level dedup (first block-fingerprint arrival wins,
    docs rewritten from surviving blocks) must equal the batch reference
    with the same (batch, doc_id, pos) arrival order: cross-batch block
    replays, in-batch cross-doc dups, in-doc repeats and partial tail
    blocks all suppressed exactly once."""
    import os

    from hls_payer_mrf_sparkstreaming_spark.streaming.corpus_dedup import (
        line_dedup_reference,
        stream_line_dedup,
    )

    def blk(j):
        return " ".join(f"w{j}x{k}" for k in range(12))

    half = " ".join(f"tail{k}" for k in range(6))
    drops = [
        # batch 0: blk1 duplicated across docs within the batch
        [(1, f"{blk(0)} {blk(1)}"), (2, f"{blk(1)} {blk(2)}")],
        # batch 1: blk0 replays from batch 0; blk3/blk4 fresh
        [(3, f"{blk(0)} {blk(3)}"), (4, blk(4))],
        # batch 2: blk3 replays; doc 5 also repeats blk3 inside itself;
        # doc 7 re-uses doc 6's block within the batch; doc 8 has a
        # partial tail block
        [
            (5, f"{blk(3)} {blk(5)} {blk(3)}"),
            (6, blk(6)),
            (7, f"{blk(6)} {blk(7)}"),
            (8, f"{blk(8)} {half}"),
            # doc 9: every block already seen -> retains nothing and must
            # be ABSENT from the output (survivor semantics)
            (9, f"{blk(0)} {blk(4)}"),
        ],
    ]
    in_dir = tmp_path / "drops"
    in_dir.mkdir()
    for i, rows in enumerate(drops):
        staged = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, "doc_id: long, text: string").coalesce(
            1
        ).write.mode("overwrite").parquet(staged)
        part = next(p for p in os.listdir(staged) if p.endswith(".parquet"))
        flat = str(in_dir / f"drop{i}.parquet")
        os.rename(os.path.join(staged, part), flat)
        # FileStreamSource orders files by modification time: pin it
        os.utime(flat, (1_000 + i, 1_000 + i))

    out = tmp_path / "line_out"
    q = stream_line_dedup(
        spark, str(in_dir), str(out), str(tmp_path / "ck_line")
    )
    q.awaitTermination(180)
    assert not q.isActive

    all_docs = spark.createDataFrame(
        [(d, t, i) for i, rows in enumerate(drops) for d, t in rows],
        "doc_id: long, text: string, batch: int",
    )
    want = {
        (r["doc_id"], r["n_blocks"], r["n_kept"], r["clean_text"])
        for r in line_dedup_reference(all_docs, batch_col="batch").collect()
    }
    got = {
        (r["doc_id"], r["n_blocks"], r["n_kept"], r["clean_text"])
        for r in spark.read.parquet(str(out / "docs")).collect()
    }
    assert got == want
    # spot semantics: doc 2 lost blk1, doc 3 lost blk0, doc 5 kept only
    # blk5, doc 7 lost blk6 but kept blk7, doc 8 fully novel
    by_id = {t[0]: t for t in got}
    assert by_id[1] == (1, 2, 2, f"{blk(0)} {blk(1)}")
    assert by_id[2] == (2, 2, 1, blk(2))
    assert by_id[3] == (3, 2, 1, blk(3))
    assert by_id[5] == (5, 3, 1, blk(5))
    assert by_id[7] == (7, 2, 1, blk(7))
    assert by_id[8] == (8, 2, 2, f"{blk(8)} {half}")
    assert 9 not in by_id
    # the fp store holds each accepted fingerprint exactly once
    fps = spark.read.parquet(str(out / "fps"))
    assert fps.count() == fps.distinct().count()
    assert fps.count() == sum(t[2] for t in got)


def test_streamed_quantile_partials_equal_batch(spark, sf_dir, tmp_path):
    """Histogram partials accumulated per micro-batch, then merged at read
    time, must give EXACTLY the batch operator's quantiles over the same
    events — the mergeable-state property the sketch rests on."""
    import os

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries
    from hls_payer_mrf_sparkstreaming_spark.streaming.events import (
        quantiles_from_partials,
        stream_quantile_partials,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    in_dir = tmp_path / "drops"
    in_dir.mkdir()
    for i in range(3):
        staged = str(tmp_path / f"stage{i}")
        events.filter((F.col("event_id") % 3) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staged)
        part = next(p for p in os.listdir(staged) if p.endswith(".parquet"))
        flat = str(in_dir / f"drop{i}.parquet")
        os.rename(os.path.join(staged, part), flat)
        os.utime(flat, (1_000 + i, 1_000 + i))

    out = tmp_path / "partials"
    q = stream_quantile_partials(
        spark, str(in_dir), str(out), str(tmp_path / "ck_qp")
    )
    q.awaitTermination(180)
    assert not q.isActive

    got = {
        tuple(r)
        for r in quantiles_from_partials(spark, str(out)).collect()
    }
    want = {
        tuple(r)
        for r in all_queries()["incremental_quantile_merge"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == want
    # state stays bounded: at most (groups x bins) rows per batch
    partials = spark.read.parquet(str(out))
    n_types = events.select("event_type").distinct().count()
    assert partials.count() <= 3 * n_types * 128


def test_bloom_dedup_stream_never_misses_members(spark, sf_dir, tmp_path):
    """Bloom-state incremental dedup: every true duplicate must be dropped
    (a Bloom filter cannot miss a member), extra drops are bounded by the
    theoretical false-positive budget, the state stays bounded by the
    bitmap word count per batch, and a re-run appends nothing new."""
    import os

    from hls_payer_mrf_sparkstreaming_spark.operators.dedup import (
        _BLOOM_MBITS,
        _BLOOM_WORDS,
    )
    from hls_payer_mrf_sparkstreaming_spark.streaming.corpus_dedup import (
        dedup_corpus_batch,
        stream_dedup_corpus_bloom,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    base = [(r["doc_id"], r["text"]) for r in docs.limit(40).collect()]
    n0 = max(d for d, _ in base) + 1
    drops = [
        base,
        # replays of half of drop 0 plus fresh docs
        [(n0 + i, t) for i, (_, t) in enumerate(base[:20])]
        + [(n0 + 100 + i, f"bloom fresh {i}") for i in range(6)],
        [(n0 + 200, "bloom late dup"), (n0 + 201, "bloom late dup"),
         (n0 + 202, base[3][1])],
    ]
    in_dir = tmp_path / "drops"
    in_dir.mkdir()
    for i, rows in enumerate(drops):
        staged = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, "doc_id: long, text: string").coalesce(
            1
        ).write.mode("overwrite").parquet(staged)
        part = next(p for p in os.listdir(staged) if p.endswith(".parquet"))
        flat = str(in_dir / f"drop{i}.parquet")
        os.rename(os.path.join(staged, part), flat)
        os.utime(flat, (1_000 + i, 1_000 + i))

    out = tmp_path / "bloom_out"
    q = stream_dedup_corpus_bloom(
        spark, str(in_dir), str(out), str(tmp_path / "ck_bloom")
    )
    q.awaitTermination(180)
    assert not q.isActive

    all_docs = spark.createDataFrame(
        [r for rows in drops for r in rows], "doc_id: long, text: string"
    )
    exact = {
        r["doc_id"]
        for r in dedup_corpus_batch(all_docs, "doc_id", "text").collect()
    }
    got = {
        r["doc_id"]
        for r in spark.read.parquet(str(out / "docs")).collect()
    }
    # no miss: anything the exact dedup drops, bloom drops too
    assert got <= exact
    # false-positive budget: k * n * (k*n/m)^k with n keys, k=3 hashes
    n = len(exact)
    budget = max(1, int(3 * n * (3 * n / _BLOOM_MBITS) ** 3) + 1)
    assert len(exact - got) <= budget, (len(exact - got), budget)
    bloom = spark.read.parquet(str(out / "bloom"))
    assert bloom.count() <= len(drops) * _BLOOM_WORDS
    # idempotent replay: re-running over the same inputs appends nothing
    n_docs = spark.read.parquet(str(out / "docs")).count()
    q2 = stream_dedup_corpus_bloom(
        spark, str(in_dir), str(out), str(tmp_path / "ck_bloom")
    )
    q2.awaitTermination(180)
    assert not q2.isActive
    assert spark.read.parquet(str(out / "docs")).count() == n_docs


def test_heavy_hitters_stream_matches_batch(spark, sf_dir, tmp_path):
    """MG-summary stream state: merged per-batch summaries + exact recount
    must equal the batch heavy_hitters_twopass over the union corpus (the
    mergeable-summaries superset guarantee makes the recount exact no
    matter how the corpus was batched), and the state stays bounded by
    K rows per batch."""
    import os

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import (
        all_queries,
    )
    from hls_payer_mrf_sparkstreaming_spark.operators.text_analysis import (
        _HH_K,
    )
    from hls_payer_mrf_sparkstreaming_spark.streaming.corpus_dedup import (
        heavy_hitters_from_partials,
        stream_token_mg_partials,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    in_dir = tmp_path / "drops"
    in_dir.mkdir()
    for i in range(3):
        staged = str(tmp_path / f"stage{i}")
        docs.filter((F.col("doc_id") % 3) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staged)
        part = next(p for p in os.listdir(staged) if p.endswith(".parquet"))
        flat = str(in_dir / f"drop{i}.parquet")
        os.rename(os.path.join(staged, part), flat)
        os.utime(flat, (1_000 + i, 1_000 + i))

    out = tmp_path / "mg_partials"
    q = stream_token_mg_partials(
        spark, str(in_dir), str(out), str(tmp_path / "ck_hh")
    )
    q.awaitTermination(180)
    assert not q.isActive

    got = {
        tuple(r)
        for r in heavy_hitters_from_partials(
            spark, str(out), str(in_dir)
        ).collect()
    }
    want = {
        tuple(r)
        for r in all_queries()["heavy_hitters_twopass"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == want and want, (len(got), len(want))
    # bounded state: <= K summary rows per micro-batch
    partials = spark.read.parquet(str(out))
    assert partials.count() <= 3 * _HH_K


def test_streamed_m4_partials_equal_batch(spark, sf_dir, tmp_path):
    """M4 partials (extremes + their ordering keys) accumulated per
    micro-batch, then merged, must equal the batch m4_downsample output
    exactly — including first/last, whose merge rides the carried keys."""
    import os

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries
    from hls_payer_mrf_sparkstreaming_spark.streaming.events import (
        m4_from_partials,
        stream_m4_partials,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    in_dir = tmp_path / "drops"
    in_dir.mkdir()
    for i in range(3):
        staged = str(tmp_path / f"stage{i}")
        events.filter((F.col("event_id") % 3) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staged)
        part = next(p for p in os.listdir(staged) if p.endswith(".parquet"))
        flat = str(in_dir / f"drop{i}.parquet")
        os.rename(os.path.join(staged, part), flat)
        os.utime(flat, (1_000 + i, 1_000 + i))

    out = tmp_path / "partials"
    q = stream_m4_partials(
        spark, str(in_dir), str(out), str(tmp_path / "ck_m4")
    )
    q.awaitTermination(180)
    assert not q.isActive

    got = {tuple(r) for r in m4_from_partials(spark, str(out)).collect()}
    want = {
        tuple(r)
        for r in all_queries()["m4_downsample"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_streamed_cusum_partials_equal_batch(spark, sf_dir, tmp_path):
    """Daily-count partials accumulated per micro-batch, then merged, must
    locate EXACTLY the batch cusum_changepoint's answer."""
    import os

    from hls_payer_mrf_sparkstreaming_spark.operators.suite import all_queries
    from hls_payer_mrf_sparkstreaming_spark.streaming.events import (
        cusum_from_partials,
        stream_cusum_partials,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    in_dir = tmp_path / "drops"
    in_dir.mkdir()
    for i in range(3):
        staged = str(tmp_path / f"stage{i}")
        events.filter((F.col("event_id") % 3) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staged)
        part = next(p for p in os.listdir(staged) if p.endswith(".parquet"))
        flat = str(in_dir / f"drop{i}.parquet")
        os.rename(os.path.join(staged, part), flat)
        os.utime(flat, (1_000 + i, 1_000 + i))

    out = tmp_path / "partials"
    q = stream_cusum_partials(
        spark, str(in_dir), str(out), str(tmp_path / "ck_cusum")
    )
    q.awaitTermination(180)
    assert not q.isActive

    got = [tuple(r) for r in cusum_from_partials(spark, str(out)).collect()]
    want = [
        tuple(r)
        for r in all_queries()["cusum_changepoint"].fn(spark, sf_dir).collect()
    ]
    assert got == want


def test_streamed_dsir_gate_equals_batch(spark, sf_dir, tmp_path):
    """DSIR gate over three document drops: the streamed admitted set must
    equal the batch gate on the union, admission must be a pure function
    of the frozen reference table (drop order can't matter), and the
    gate must be non-vacuous (some admitted, some rejected)."""
    import os

    from pyspark.sql import functions as F

    from hls_payer_mrf_sparkstreaming_spark.operators.sampling import (
        dsir_log_ratio_table,
    )
    from hls_payer_mrf_sparkstreaming_spark.streaming.corpus_gate import (
        dsir_gate_batch,
        stream_dsir_gate,
    )

    # frozen reference LM from the static corpus
    ref = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = ref.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    lr = dsir_log_ratio_table(t).cache()
    lr.count()

    docs = [
        (r["doc_id"], r["text"])
        for r in ref.select("doc_id", "text").limit(30).collect()
    ]
    drops = [docs[:10], docs[10:20], docs[20:30]]
    in_dir = tmp_path / "drops"
    in_dir.mkdir()
    for i, rows in enumerate(drops):
        staged = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, "doc_id: long, text: string").coalesce(
            1
        ).write.mode("overwrite").parquet(staged)
        part = next(
            p for p in os.listdir(staged) if p.endswith(".parquet")
        )
        flat = str(in_dir / f"drop{i}.parquet")
        os.rename(os.path.join(staged, part), flat)
        os.utime(flat, (1_000 + i, 1_000 + i))

    out = tmp_path / "gate_out"
    q = stream_dsir_gate(
        spark, str(in_dir), str(out), str(tmp_path / "ck_gate"), lr
    )
    q.awaitTermination(180)
    assert not q.isActive

    # the gate pairs its lr.persist() with an unpersist on termination
    # (listener-bus thread, so poll briefly); without it every finished
    # gate leaks one cached reference table into the host session
    import time

    for _ in range(100):
        if not (lr.storageLevel.useMemory or lr.storageLevel.useDisk):
            break
        time.sleep(0.1)
    assert not (lr.storageLevel.useMemory or lr.storageLevel.useDisk)

    union = spark.createDataFrame(
        [r for rows in drops for r in rows], "doc_id: long, text: string"
    )
    want = {
        (r["doc_id"], r["avg_lr_nano"])
        for r in dsir_gate_batch(union, lr).collect()
    }
    got = {
        (r["doc_id"], r["avg_lr_nano"])
        for r in spark.read.parquet(str(out / "docs")).collect()
    }
    assert got == want
    assert 0 < len(got) < 30, len(got)
    lr.unpersist()


def test_dsir_gate_releases_cache_on_instant_termination(
    spark, sf_dir, tmp_path
):
    """advice r11: with trigger(availableNow=True) and a tiny input the
    query can terminate BEFORE stream_dsir_gate's listener registers, so
    onQueryTerminated is never delivered and the reference table leaked.
    The gate now double-checks query.isActive after addListener and
    releases directly — so however the race lands, the cache must be
    gone shortly after awaitTermination."""
    import time

    from pyspark.sql import functions as F

    from hls_payer_mrf_sparkstreaming_spark.operators.sampling import (
        dsir_log_ratio_table,
    )
    from hls_payer_mrf_sparkstreaming_spark.streaming.corpus_gate import (
        stream_dsir_gate,
    )

    ref = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lr = dsir_log_ratio_table(
        ref.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    )

    in_dir = tmp_path / "tiny_drop"
    spark.createDataFrame(
        [(1, "the quick brown fox")], "doc_id: long, text: string"
    ).coalesce(1).write.parquet(str(in_dir))

    q = stream_dsir_gate(
        spark, str(in_dir), str(tmp_path / "out"), str(tmp_path / "ck"), lr
    )
    q.awaitTermination(180)
    assert not q.isActive
    for _ in range(100):
        if not (lr.storageLevel.useMemory or lr.storageLevel.useDisk):
            break
        time.sleep(0.1)
    assert not (lr.storageLevel.useMemory or lr.storageLevel.useDisk)
