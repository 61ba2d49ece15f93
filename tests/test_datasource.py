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
    """maxchunksperbatch>0 + processingTime trigger: discovery is released a
    few chunks per latestOffset call, so Spark consumes earlier micro-batches
    while later chunks are still being discovered (the reference's
    reader-thread pipelining, JsonMRFSource.scala:138-178) — and commit()
    GC frees released manifest entries without breaking later batches."""
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
    """>= DISTRIBUTED_DISCOVERY_MIN_FILES inputs: discovery runs as a Spark
    job (one scan task per file) writing a manifest the planner reads,
    instead of <=8 driver threads — and the rows are identical to the
    driver-side path."""
    from hls_payer_mrf_sparkstreaming_spark.sources import datasource as ds
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import (
        write_mrf_file,
    )

    d = tmp_path / "many"
    d.mkdir()
    n_files = ds.DISTRIBUTED_DISCOVERY_MIN_FILES
    for i in range(n_files):
        write_mrf_file(str(d / f"payer_{i:02d}.json"), n_in_network=8, seed=i)

    opts = dict(chunktargetbytes=4096, includeoffsets="true")
    dist = read_payer_mrf(spark, str(d), **opts)
    driver_side = read_payer_mrf(
        spark, str(d), distributeddiscovery="false", **opts
    )
    key = ["file_name", "header_key", "chunk_start"]
    a = {tuple(r) for r in dist.select(*key).collect()}
    b = {tuple(r) for r in driver_side.select(*key).collect()}
    assert a == b and len(a) > n_files
    # all files' chunks present
    assert dist.select("file_name").distinct().count() == n_files

    # the Spark-job path wrote a manifest shard DIR (executor-side write —
    # no manifest bytes pass through the driver) covering every chunk
    import glob as _glob
    import tempfile

    manifests = _glob.glob(
        os.path.join(
            tempfile.gettempdir(), "payer_mrf_manifests", "manifest_*"
        )
    )
    rows = []
    for m in manifests:
        if not os.path.isdir(m):
            continue
        assert os.path.exists(os.path.join(m, "_SUCCESS"))
        for part in os.listdir(m):
            if part.startswith(("_", ".")):
                continue
            with open(os.path.join(m, part)) as f:
                rows.extend(json.loads(line) for line in f if line.strip())
    covered = {
        (r["path"], r["header_key"], r["start"])
        for r in rows
        if r["path"].startswith(str(d))
    }
    assert {(r[0], r[1], r[2]) for r in a} == covered


def test_distributed_discovery_forced_on_two_files(spark, tmp_path):
    from hls_payer_mrf_sparkstreaming_spark.sources.synth import (
        write_mrf_file,
    )

    d = tmp_path / "two"
    d.mkdir()
    write_mrf_file(str(d / "a.json"), n_in_network=10, seed=1)
    write_mrf_file(str(d / "b.json"), n_in_network=12, seed=2)
    forced = read_payer_mrf(
        spark, str(d), distributeddiscovery="true", chunktargetbytes=4096
    )
    plain = read_payer_mrf(
        spark, str(d), distributeddiscovery="false", chunktargetbytes=4096
    )
    a = {
        (r["file_name"], r["header_key"], r["json_payload"])
        for r in forced.collect()
    }
    b = {
        (r["file_name"], r["header_key"], r["json_payload"])
        for r in plain.collect()
    }
    assert a == b


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

    expected = read_payer_mrf(
        spark, str(d), distributeddiscovery="false", **opts
    )
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
    ref._pull(0)
    all_parts = ref.partitions({"files": {}}, ref._offset())
    assert len(all_parts) > 6

    seen = []
    prev = r.initialOffset()
    for _ in range(200):
        cur = r.latestOffset()
        if cur == prev:
            break
        parts = r.partitions(prev, cur)
        assert parts, "empty batch despite advancing offset"
        batch_bytes = sum(p.end - p.start + 1 for p in parts)
        # cap + one-chunk overshoot bound (the chunk that crossed the cap)
        max_chunk = max(p.end - p.start + 1 for p in all_parts)
        assert batch_bytes <= cap + max_chunk
        seen.extend(parts)
        prev = cur
    else:
        raise AssertionError("stream did not drain in 200 batches")

    key = lambda p: (p.path, p.start, p.end)  # noqa: E731
    assert sorted(map(key, seen)) == sorted(map(key, all_parts))
    # the cap actually split the stream into multiple batches
    assert len(seen) == len(all_parts)


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


def test_remote_manifest_dir_listing(tmp_path, monkeypatch):
    import pyarrow.fs as pafs

    from hls_payer_mrf_sparkstreaming_spark.sources import (
        datasource as ds,
    )

    monkeypatch.setattr(pafs, "FileSystem", _FakeRemoteFS)
    d = tmp_path / "manifest_x"
    d.mkdir()
    (d / "part-0.json").write_text(
        '{"path": "/a.json", "start": 0, "end": 9, "header_key": ""}\n'
    )
    (d / "part-1.json").write_text(
        '{"path": "/a.json", "start": 9, "end": 20,'
        ' "header_key": "in_network"}\n'
    )
    (d / "_SUCCESS").write_text("")
    rows = ds._load_manifest_rows(f"mock://{d}")
    assert len(rows) == 2
    assert {r["header_key"] for r in rows} == {"", "in_network"}
