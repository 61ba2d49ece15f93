"""End-to-end tests of the payer-mrf data source (batch + streaming).

Equivalents of the reference's TST01-05 source tests
(SparkStreamingSource.scala:10-172).
"""

import gzip
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
    read_payer_mrf,
    stream_payer_mrf,
)


def test_batch_read_header_key_classes(spark, mrf_file):
    """TST01: at least one row per header_key class."""
    df = read_payer_mrf(spark, mrf_file, chunktargetbytes=4096)
    counts = {
        r["header_key"]: r["n"]
        for r in df.groupBy("header_key").agg(F.count("*").alias("n")).collect()
    }
    assert counts.get("in_network", 0) >= 1
    assert counts.get("provider_references", 0) >= 1
    assert counts.get("", 0) >= 1


def test_batch_payloads_parse_as_json(spark, mrf_file):
    """TST02: every json_payload is standalone-parseable JSON."""
    rows = read_payer_mrf(spark, mrf_file, chunktargetbytes=4096).collect()
    total_elems = 0
    for r in rows:
        obj = json.loads(r["json_payload"])
        if r["header_key"]:
            assert isinstance(obj, list) and obj
            total_elems += len(obj)
        else:
            assert isinstance(obj, dict)
    assert total_elems == 120 + 25


def test_batch_silver_parses_with_spark_json(spark, mrf_file):
    """TST03: in_network payloads round-trip through spark JSON parsing with
    expected columns and no corrupt records."""
    df = read_payer_mrf(spark, mrf_file, chunktargetbytes=8192)
    payloads = df.filter(F.col("header_key") == "in_network").select(
        "json_payload"
    )
    parsed = spark.read.json(payloads.rdd.map(lambda r: r[0]))
    assert "_corrupt_record" not in parsed.columns
    exploded = parsed  # read.json on array strings already yields one row/elem
    assert exploded.count() == 120
    cols = set(exploded.columns)
    assert {"billing_code", "billing_code_type", "negotiated_rates"} <= cols


def test_payload_as_array(spark, mrf_file):
    """TST04: payloadAsArray=true yields array<string> of element strings."""
    df = read_payer_mrf(
        spark, mrf_file, payloadAsArray="true", chunktargetbytes=4096
    )
    assert dict(df.dtypes)["json_payload"] == "array<string>"
    row = (
        df.filter(F.col("header_key") == "in_network")
        .select(F.col("json_payload")[0].alias("first"))
        .first()
    )
    elem = json.loads(row["first"])
    assert "billing_code" in elem
    n = (
        df.filter(F.col("header_key") != "")
        .select(F.explode("json_payload"))
        .count()
    )
    assert n == 120 + 25


def test_gz_input(spark, mrf_file, tmp_path):
    """TST05: .json.gz input via the decompress pre-pass."""
    gz_path = str(tmp_path / "sample.json.gz")
    with open(mrf_file, "rb") as src, gzip.open(gz_path, "wb") as dst:
        shutil.copyfileobj(src, dst)
    df = read_payer_mrf(
        spark, gz_path, decompressdir=str(tmp_path / "out"), chunktargetbytes=4096
    )
    assert df.filter(F.col("header_key") == "in_network").count() >= 1
    assert os.path.exists(str(tmp_path / "out" / "sample.json"))


def test_cms_fixture_batch(spark, cms_samples):
    """Read the fee-for-service CMS sample through the source."""
    df = read_payer_mrf(spark, cms_samples["ffs"], chunktargetbytes=1024)
    in_net = df.filter(F.col("header_key") == "in_network").collect()
    elems = [e for r in in_net for e in json.loads(r["json_payload"])]
    assert {e["billing_code"] for e in elems} == {"27447", "27448"}


def test_streaming_to_parquet(spark, mrf_file, tmp_path):
    """Streaming mode: availableNow trigger, parquet sink, full coverage."""
    out = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream_payer_mrf(spark, mrf_file, chunktargetbytes=4096)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    elems = 0
    for r in got.filter(F.col("header_key") != "").collect():
        elems += len(json.loads(r["json_payload"]))
    assert elems == 120 + 25
    header = [
        json.loads(r["json_payload"])
        for r in got.filter(F.col("header_key") == "").collect()
    ]
    merged = {}
    for h in header:
        merged.update(h)
    assert merged["reporting_entity_name"] == "synthetic payer"
    assert merged["version"] == "1.0.0"


def test_streaming_matches_batch(spark, mrf_file, tmp_path):
    batch = read_payer_mrf(spark, mrf_file, chunktargetbytes=2048)
    out = str(tmp_path / "b2")
    q = (
        stream_payer_mrf(spark, mrf_file, chunktargetbytes=2048)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "c2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(out)
    a = {(r["header_key"], r["json_payload"]) for r in batch.collect()}
    b = {(r["header_key"], r["json_payload"]) for r in streamed.collect()}
    assert a == b


def test_directory_input_batch_and_stream(spark, tmp_path):
    """Directory input: every file's chunks appear, file_name distinguishes;
    stream over the directory matches batch."""
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import write_mrf_file

    d = tmp_path / "corpus"
    d.mkdir()
    for i, n in enumerate([30, 45, 60]):
        write_mrf_file(str(d / f"payer_{i}.json"), n_in_network=n, seed=i)

    batch = read_payer_mrf(spark, str(d), chunktargetbytes=4096)
    per_file = {
        r["file_name"]: r["n"]
        for r in batch.filter(F.col("header_key") == "in_network")
        .groupBy("file_name")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert len(per_file) == 3
    elems = 0
    for r in batch.filter(F.col("header_key") == "in_network").collect():
        elems += len(json.loads(r["json_payload"]))
    assert elems == 30 + 45 + 60

    out = str(tmp_path / "bronze_dir")
    q = (
        stream_payer_mrf(spark, str(d), chunktargetbytes=4096)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck_dir"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(out)
    a = {(r["file_name"], r["header_key"], r["json_payload"]) for r in batch.collect()}
    b = {(r["file_name"], r["header_key"], r["json_payload"]) for r in streamed.collect()}
    assert a == b


def test_glob_input(spark, tmp_path):
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import write_mrf_file

    d = tmp_path / "g"
    d.mkdir()
    write_mrf_file(str(d / "a.json"), n_in_network=10, seed=1)
    write_mrf_file(str(d / "b.json"), n_in_network=12, seed=2)
    write_mrf_file(str(d / "skip.txt.json"), n_in_network=5, seed=3)
    df = read_payer_mrf(spark, str(d / "[ab].json"), chunktargetbytes=4096)
    elems = 0
    for r in df.filter(F.col("header_key") == "in_network").collect():
        elems += len(json.loads(r["json_payload"]))
    assert elems == 10 + 12


def test_directory_gz_sibling_not_double_read(spark, tmp_path):
    """A directory holding a.json.gz whose pre-pass already wrote the a.json
    sibling must resolve to ONE input — re-reads previously doubled rows."""
    from hls_payer_mrf_sparkstreaming_spark.sources.io import resolve_input_paths
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import write_mrf_file

    d = tmp_path / "corpus"
    d.mkdir()
    plain = str(d / "a.json")
    write_mrf_file(plain, n_in_network=10, seed=7)
    with open(plain, "rb") as src, gzip.open(str(d / "a.json.gz"), "wb") as dst:
        shutil.copyfileobj(src, dst)
    os.remove(plain)

    first = resolve_input_paths(str(d))
    assert first == [str(d / "a.json")]  # decompressed sibling now exists
    second = resolve_input_paths(str(d))
    assert second == first  # no duplicate on re-listing

    df = read_payer_mrf(spark, str(d), chunktargetbytes=4096)
    elems = 0
    for r in df.filter(F.col("header_key") == "in_network").collect():
        elems += len(json.loads(r["json_payload"]))
    assert elems == 10


def test_include_offsets_option(spark, mrf_file):
    """includeoffsets=true appends chunk_start = the chunk's byte offset,
    unique per (file_name, chunk) and aligned with the default-schema rows."""
    df = read_payer_mrf(
        spark, mrf_file, chunktargetbytes=4096, includeoffsets="true"
    )
    assert dict(df.dtypes)["chunk_start"] == "bigint"
    rows = df.collect()
    keys = {(r["file_name"], r["chunk_start"]) for r in rows}
    assert len(keys) == len(rows)
    plain = read_payer_mrf(spark, mrf_file, chunktargetbytes=4096)
    assert sorted(r["json_payload"] for r in rows) == sorted(
        r["json_payload"] for r in plain.collect()
    )


def test_headerkey_option_prunes_and_matches(spark, mrf_file):
    """headerkey option: partition-level pruning with identical rows to a
    row-level filter; works for batch and streaming."""
    full = read_payer_mrf(spark, mrf_file, chunktargetbytes=4096)
    pruned = read_payer_mrf(
        spark, mrf_file, chunktargetbytes=4096, headerkey="in_network"
    )
    a = sorted(r["json_payload"] for r in pruned.collect())
    b = sorted(
        r["json_payload"]
        for r in full.filter(F.col("header_key") == "in_network").collect()
    )
    assert a == b and len(a) >= 1


def test_silver_uses_pruned_branches(spark, mrf_file):
    """build_silver branch bronzes carry the headerkey pruning and still
    produce the same silver tables as a single unpruned bronze."""
    from hls_payer_mrf_sparkstreaming_spark.plans.silver import (
        MrfSilverTables,
        build_silver,
    )

    t_pruned = build_silver(spark, mrf_file, chunktargetbytes=4096)
    # includeoffsets on the plain side too: surrogate keys hash chunk_start,
    # and byte offsets are identical with or without headerkey pruning
    t_plain = MrfSilverTables(
        read_payer_mrf(
            spark, mrf_file, chunktargetbytes=4096, includeoffsets="true"
        )
    )
    for attr in ["codes", "prices", "par_providers"]:
        a = sorted(map(str, getattr(t_pruned, attr).collect()))
        b = sorted(map(str, getattr(t_plain, attr).collect()))
        assert a == b, attr


def test_filesystem_option_accepted_noop(spark, mrf_file):
    """Reference-parity: the Scala source's filesystem option selected an
    s3a vs local FileSystem; here scheme:// paths route through pyarrow.fs
    automatically, so the option is accepted and changes nothing."""
    a = read_payer_mrf(spark, mrf_file, chunktargetbytes=4096)
    b = read_payer_mrf(
        spark, mrf_file, chunktargetbytes=4096, filesystem="s3a"
    )
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))


def test_pipelined_incremental_discovery(spark, mrf_file, tmp_path):
    """maxchunksperbatch>0 + processingTime trigger: the file is scanned
    whole when the first latestOffset reaches it, then its chunks are
    released a few per call, so the stream drains over several non-empty
    micro-batches (the reference's reader thread releases chunks the same
    way, JsonMRFSource.scala:138-178) and ends equal to the batch read."""
    import time

    out = str(tmp_path / "bronze_pipelined")
    ckpt = str(tmp_path / "ck_pipelined")
    q = (
        stream_payer_mrf(
            spark, mrf_file, chunktargetbytes=2048, maxchunksperbatch=3
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        # wait until the stream drains: batch counts match the batch read
        expected = read_payer_mrf(spark, mrf_file, chunktargetbytes=2048).count()
        deadline = time.time() + 180
        n = -1
        while time.time() < deadline:
            try:
                n = spark.read.parquet(out).count()
            except Exception:  # sink dir not created yet
                n = 0
            if n == expected:
                # one extra idle cycle so commit() runs for the last batch
                time.sleep(1.0)
                break
            time.sleep(0.5)
        assert n == expected, f"stream drained {n}/{expected} rows"
        batches = [
            p["batchId"]
            for p in (q.recentProgress or [])
            if p.get("numInputRows", 0) > 0
        ]
        assert len(set(batches)) >= 2, (
            f"expected multiple non-empty micro-batches, got {batches}"
        )
    finally:
        q.stop()
    streamed = spark.read.parquet(out)
    batch = read_payer_mrf(spark, mrf_file, chunktargetbytes=2048)
    a = {(r["header_key"], r["json_payload"]) for r in streamed.collect()}
    b = {(r["header_key"], r["json_payload"]) for r in batch.collect()}
    assert a == b


def test_checkpoint_restart_exactly_once(spark, mrf_file, tmp_path):
    """Kill the stream mid-file, restart from the same checkpoint: the
    restarted reader re-derives the manifest deterministically, resumes at
    the committed offset, and the sink ends up with every chunk exactly
    once — the recovery path the reference never tests."""
    import time

    out = str(tmp_path / "bronze_restart")
    ckpt = str(tmp_path / "ck_restart")
    opts = dict(chunktargetbytes=1024, includeoffsets="true")
    q = (
        stream_payer_mrf(spark, mrf_file, maxchunksperbatch=2, **opts)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    # let a few micro-batches commit, then kill mid-stream
    deadline = time.time() + 120
    while time.time() < deadline:
        done = [
            p for p in (q.recentProgress or [])
            if p.get("numInputRows", 0) > 0
        ]
        if len(done) >= 2:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)

    expected = read_payer_mrf(spark, mrf_file, **opts)
    n_total = expected.count()
    n_after_kill = spark.read.parquet(out).count()
    assert 0 < n_after_kill < n_total, (
        f"kill landed at {n_after_kill}/{n_total} chunks; "
        "need a mid-stream stop for the test to mean anything"
    )

    # restart from the same checkpoint and drain the rest (availableNow is
    # unsupported for Python stream sources — Spark falls back to a single
    # batch — so poll a processingTime trigger until the sink is complete)
    q2 = (
        stream_payer_mrf(spark, mrf_file, **opts)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.read.parquet(out).count() >= n_total:
            time.sleep(1.0)  # let the final commit land
            break
        time.sleep(0.5)
    q2.stop()
    q2.awaitTermination(60)

    got = spark.read.parquet(out)
    # chunk identity = (header_key, byte offset): exactly once, no gaps
    key = ["header_key", "chunk_start"]
    assert got.count() == n_total
    assert got.select(*key).distinct().count() == n_total
    want = {tuple(r) for r in expected.select(*key).collect()}
    have = {tuple(r) for r in got.select(*key).collect()}
    assert have == want


def test_distributed_discovery_many_files(spark, tmp_path):
    """A 16-file directory read plans exactly the chunks of the 16
    single-file reads: driver-side discovery over a thread pool loses,
    duplicates or misattributes no chunk. A leftover
    ``distributeddiscovery`` option is ignored like any unknown option."""
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import (
        write_mrf_file,
    )

    d = tmp_path / "many"
    d.mkdir()
    n_files = 16
    files = [str(d / f"payer_{i:02d}.json") for i in range(n_files)]
    for i, f in enumerate(files):
        write_mrf_file(f, n_in_network=8, seed=i)

    opts = dict(chunktargetbytes=4096, includeoffsets="true")
    key = ["file_name", "header_key", "chunk_start"]

    def keys(df):
        return {tuple(r) for r in df.select(*key).collect()}

    corpus = keys(read_payer_mrf(spark, str(d), **opts))
    singles = set().union(
        *(keys(read_payer_mrf(spark, f, **opts)) for f in files)
    )
    assert corpus == singles and len(corpus) > n_files
    assert {r[0] for r in corpus} == set(files)
    legacy = read_payer_mrf(
        spark, str(d), distributeddiscovery="false", **opts
    )
    assert keys(legacy) == corpus


def test_checkpoint_restart_exactly_once_multifile(spark, tmp_path):
    """Directory stream killed mid-flight; a NEW file that sorts BEFORE the
    committed ones arrives while the stream is down; restart must deliver
    every chunk of every file exactly once. Per-file chunk offsets make the
    arrival order irrelevant — a global index would shift committed
    positions and lose/duplicate chunks."""
    import time

    from hls_payer_mrf_sparkstreaming_spark.sources.synth import (
        write_mrf_file,
    )

    d = tmp_path / "arrivals"
    d.mkdir()
    write_mrf_file(str(d / "m_one.json"), n_in_network=40, seed=11)
    write_mrf_file(str(d / "z_two.json"), n_in_network=40, seed=12)

    out = str(tmp_path / "bronze_multi")
    ckpt = str(tmp_path / "ck_multi")
    opts = dict(chunktargetbytes=1024, includeoffsets="true")

    q = (
        stream_payer_mrf(spark, str(d), maxchunksperbatch=2, **opts)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        done = [
            p
            for p in (q.recentProgress or [])
            if p.get("numInputRows", 0) > 0
        ]
        if len(done) >= 2:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)

    n_partial = spark.read.parquet(out).count()

    # arrives while the stream is down AND sorts before both existing files
    write_mrf_file(str(d / "a_late.json"), n_in_network=40, seed=13)

    expected = read_payer_mrf(spark, str(d), **opts)
    n_total = expected.count()
    assert 0 < n_partial < n_total

    q2 = (
        stream_payer_mrf(spark, str(d), **opts)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.read.parquet(out).count() >= n_total:
            time.sleep(1.0)
            break
        time.sleep(0.5)
    q2.stop()
    q2.awaitTermination(60)

    got = spark.read.parquet(out)
    key = ["file_name", "header_key", "chunk_start"]
    assert got.count() == n_total
    assert got.select(*key).distinct().count() == n_total
    want = {tuple(r) for r in expected.select(*key).collect()}
    have = {tuple(r) for r in got.select(*key).collect()}
    assert have == want


def test_offset_without_files_is_rejected(mrf_file):
    """Offsets are read back from checkpoints; one without the per-file
    ``"files"`` map (the pre-multi-file global ``"index"`` format) must
    fail loudly and name the format, never be guessed at — no Spark
    session needed, the reader protocol is plain Python."""
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
        PayerMrfStreamReader,
        _Options,
    )

    reader = PayerMrfStreamReader(_Options({"path": mrf_file}))
    full = {"files": {mrf_file: 1}}
    for start, end in [({"index": 3}, full), ({"files": {}}, {"index": 3})]:
        with pytest.raises(RuntimeError, match="unsupported offset format"):
            reader.partitions(start, end)
    with pytest.raises(RuntimeError, match="unsupported offset format"):
        reader.commit({"index": 3})


def test_max_bytes_per_batch_rate_limits_release(tmp_path):
    """Byte-budget admission control: each latestOffset releases chunks
    until the byte cap, always at least one chunk (progress), and the
    batch sequence covers every chunk exactly once — protocol-level, no
    Spark session needed."""
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
        PayerMrfStreamReader,
        _Options,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import write_mrf_file

    d = tmp_path / "ratelimit"
    d.mkdir()
    write_mrf_file(str(d / "m.json"), n_in_network=40, seed=7)

    cap = 4096
    r = PayerMrfStreamReader(
        _Options(
            {
                "path": str(d),
                "chunktargetbytes": 1024,
                "maxbytesperbatch": str(cap),
            }
        )
    )
    # full manifest for comparison
    ref = PayerMrfStreamReader(
        _Options({"path": str(d), "chunktargetbytes": 1024})
    )

    def chunks(parts):
        # partitions pack runs of small chunks; release is per chunk
        return [(p.path, *c) for p in parts for c in p.chunks]

    all_chunks = chunks(ref.partitions({"files": {}}, ref.latestOffset()))
    assert len(all_chunks) > 6
    max_chunk = max(end - start + 1 for _, start, end, _ in all_chunks)

    seen = []
    prev = r.initialOffset()
    for _ in range(200):
        cur = r.latestOffset()
        if cur == prev:
            break
        batch = chunks(r.partitions(prev, cur))
        assert batch, "empty batch despite advancing offset"
        batch_bytes = sum(end - start + 1 for _, start, end, _ in batch)
        # cap + one-chunk overshoot bound (the chunk that crossed the cap)
        assert batch_bytes <= cap + max_chunk
        seen.extend(batch)
        prev = cur
    else:
        raise AssertionError("stream did not drain in 200 batches")

    assert sorted(seen) == sorted(all_chunks)
    # the cap actually split the stream into multiple batches
    assert len(seen) == len(all_chunks)


def _drain(reader, start=None):
    """Release a stream reader's input to exhaustion; returns each
    non-empty batch's partitions, as Spark would plan them."""
    prev = reader.initialOffset() if start is None else start
    batches = []
    for _ in range(500):
        cur = reader.latestOffset()
        if cur == prev:
            return batches
        batches.append(reader.partitions(prev, cur))
        prev = cur
    raise AssertionError("stream did not drain in 500 batches")


def test_restart_resumes_rate_limited_release(tmp_path):
    """A restarted query replays its last committed offset E as
    partitions(E, E) before asking for a new one; a rate-limited reader
    must resume from E, not from chunk 0, and release every later chunk
    exactly once — protocol-level, no Spark session needed."""
    from hls_payer_mrf_sparkstreaming_spark.sources.chunker import (
        scan_chunks,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
        PayerMrfStreamReader,
        _Options,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import write_mrf_file

    path = str(tmp_path / "m.json")
    write_mrf_file(path, n_in_network=40, seed=7)
    target = 1024
    manifest = [
        (c.start, c.end, c.header_key) for c in scan_chunks(path, target)
    ]
    assert len(manifest) > 10

    reader = PayerMrfStreamReader(
        _Options(
            {"path": path, "chunktargetbytes": target, "maxchunksperbatch": 2}
        )
    )
    committed = {"files": {path: 6}}
    assert reader.partitions(committed, committed) == []
    first = reader.latestOffset()
    assert first == {"files": {path: 8}}
    batches = [reader.partitions(committed, first)] + _drain(reader, first)
    assert all(sum(len(p.chunks) for p in b) <= 2 for b in batches)
    assert [c for b in batches for p in b for c in p.chunks] == manifest[6:]


@pytest.mark.parametrize("headerkey", [None, "in_network"])
def test_stream_and_batch_plan_one_manifest(tmp_path, headerkey):
    """Both readers plan from one manifest: a drained stream plans exactly
    the batch reader's partitions — no Spark session needed."""
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
        PayerMrfBatchReader,
        PayerMrfStreamReader,
        _Options,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import write_mrf_file

    for i in range(3):
        write_mrf_file(str(tmp_path / f"m{i}.json"), n_in_network=30, seed=i)
    opts = {"path": str(tmp_path), "chunktargetbytes": 4096}
    if headerkey is not None:
        opts["headerkey"] = headerkey

    batch = PayerMrfBatchReader(_Options(opts)).partitions()
    stream = PayerMrfStreamReader(_Options(opts))
    drained = stream.partitions(stream.initialOffset(), stream.latestOffset())
    assert len({p.path for p in batch}) == 3
    assert drained == batch


@pytest.mark.parametrize("stream", [False, True])
def test_replaced_file_fails_loudly(tmp_path, stream):
    """A file replaced after planning must fail its read and name the file
    and byte range, never read the new bytes at the old offsets — both
    readers, protocol-level, no Spark session needed."""
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
        PayerMrfBatchReader,
        PayerMrfStreamReader,
        _Options,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import write_mrf_file

    path, other = str(tmp_path / "m.json"), str(tmp_path / "other.json")
    write_mrf_file(path, n_in_network=40, seed=7)
    write_mrf_file(other, n_in_network=40, seed=8)
    opts = _Options({"path": path, "chunktargetbytes": 1024})
    if stream:
        reader = PayerMrfStreamReader(opts)
        parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
    else:
        reader = PayerMrfBatchReader(opts)
        parts = reader.partitions()
    part = parts[-1]
    list(reader.read(part))  # unchanged: reads

    sig = [(st.st_size, st.st_mtime_ns) for st in map(os.stat, (path, other))]
    assert sig[0] != sig[1]
    os.replace(other, path)
    with pytest.raises(RuntimeError, match="changed since it was planned") as e:
        list(reader.read(part))
    assert path in str(e.value)
    assert f"{part.start}-{part.end}" in str(e.value)


def test_pack_plans_runs_of_small_chunks(tmp_path):
    """Planning packs consecutive chunks of one file into one partition
    while their payload fits in chunktargetbytes; a chunk at or above the
    target stands alone. Every manifest chunk is planned exactly once, in
    order — protocol-level, no Spark session needed."""
    from hls_payer_mrf_sparkstreaming_spark.sources.chunker import (
        scan_chunks,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.datasource import (
        PayerMrfBatchReader,
        _Options,
    )
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import write_mrf_file

    d = tmp_path / "pack"
    d.mkdir()
    paths = [str(d / f"m{i}.json") for i in range(2)]
    for i, path in enumerate(paths):
        write_mrf_file(path, n_in_network=40, seed=7 + i)

    target = 8192
    parts = PayerMrfBatchReader(
        _Options({"path": str(d), "chunktargetbytes": target})
    ).partitions()
    assert {p.path for p in parts} == set(paths)
    for path in paths:
        manifest = [
            (c.start, c.end, c.header_key) for c in scan_chunks(path, target)
        ]
        mine = [p for p in parts if p.path == path]
        # one file per partition, its chunks exactly once and in order
        assert [c for p in mine for c in p.chunks] == manifest
        assert len(mine) < len(manifest)
        for p in mine:
            assert (p.start, p.end) == (p.chunks[0][0], p.chunks[-1][1])
            payload = sum(end - start + 1 for start, end, _ in p.chunks)
            assert len(p.chunks) == 1 or payload <= target

    # headerkey pruning packs the header head and trailer across the gap
    (header,) = PayerMrfBatchReader(
        _Options({"path": paths[0], "headerkey": ""})
    ).partitions()
    assert [hk for _, _, hk in header.chunks] == ["", ""]
    assert header.chunks[0][1] + 1 < header.chunks[1][0]


def test_packed_partitions_read_one_row_per_chunk(spark, mrf_file):
    """A packed partition still yields one bronze row per chunk: the rows
    equal those built chunk by chunk from the manifest, in plain and
    payloadAsArray modes, from fewer partitions than chunks."""
    from hls_payer_mrf_sparkstreaming_spark.sources import chunker as ck

    target = 32768
    manifest = list(ck.scan_chunks(mrf_file, target))
    raws = []
    with open(mrf_file, "rb") as f:
        for c in manifest:
            f.seek(c.start)
            raws.append(f.read(c.end - c.start + 1))

    for as_array in (False, True):
        want = []
        for c, raw in zip(manifest, raws):
            if c.header_key == "":
                payload = ck.repair_header_fragment(raw)
                payload = (payload,) if as_array else payload
            elif as_array:
                payload = tuple(ck.split_elements(raw))
            else:
                payload = ck.wrap_array_payload(raw)
            want.append((c.header_key, payload, c.start))
        df = read_payer_mrf(
            spark,
            mrf_file,
            chunktargetbytes=target,
            payloadasarray=str(as_array).lower(),
            includeoffsets="true",
        )
        assert df.rdd.getNumPartitions() < len(manifest)
        rows = df.collect()
        assert {r["file_name"] for r in rows} == {mrf_file}
        have = [
            (
                r["header_key"],
                tuple(r["json_payload"]) if as_array else r["json_payload"],
                r["chunk_start"],
            )
            for r in rows
        ]
        assert sorted(have) == sorted(want)


class _FakeRemoteFS:
    """Route a fake ``mock://`` scheme onto the real pyarrow
    LocalFileSystem so the io.py remote branches (stream-decompress,
    FileSelector directory listing) run against local fixtures. Real
    clusters hit the same code through genuine s3://... URIs."""

    @staticmethod
    def from_uri(uri):
        import pyarrow.fs as pafs

        return pafs.LocalFileSystem(), uri.split("://", 1)[1]


def test_remote_gz_stream_decompresses(tmp_path, monkeypatch):
    import gzip

    import pyarrow.fs as pafs

    from hls_payer_mrf_sparkstreaming_spark.sources import io as mrf_io

    monkeypatch.setattr(pafs, "FileSystem", _FakeRemoteFS)
    src = tmp_path / "payer.json.gz"
    payload = b'{"reporting_entity_name": "x", "in_network": []}'
    with gzip.open(src, "wb") as f:
        f.write(payload)
    out_dir = tmp_path / "dec"
    out = mrf_io.decompress_gz(f"mock://{src}", str(out_dir))
    assert out == str(out_dir / "payer.json")
    with open(out, "rb") as f:
        assert f.read() == payload
    # idempotent: second call reuses the up-to-date output
    before = os.path.getmtime(out)
    assert mrf_io.decompress_gz(f"mock://{src}", str(out_dir)) == out
    assert os.path.getmtime(out) == before


def test_remote_directory_listing_resolves_mixed_corpus(
    tmp_path, monkeypatch
):
    import gzip

    import pyarrow.fs as pafs

    from hls_payer_mrf_sparkstreaming_spark.sources import io as mrf_io

    monkeypatch.setattr(pafs, "FileSystem", _FakeRemoteFS)
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.json").write_text('{"in_network": []}')
    (d / "b.json").write_text('{"in_network": []}')
    with gzip.open(d / "c.json.gz", "wb") as f:
        f.write(b'{"in_network": []}')
    (d / "ignored.txt").write_text("nope")
    dec = tmp_path / "dec"
    paths = mrf_io.resolve_input_paths(f"mock://{d}", str(dec))
    # remote .json files stay remote URIs (executors do ranged reads on
    # them); the .gz is stream-decompressed into the local decompress dir
    assert sorted(paths) == sorted(
        [f"mock://{d}/a.json", f"mock://{d}/b.json", str(dec / "c.json")]
    )
    assert os.path.exists(dec / "c.json")
