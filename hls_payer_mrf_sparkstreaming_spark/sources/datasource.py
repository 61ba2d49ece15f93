"""``payer-mrf`` Spark data source (batch + Structured Streaming).

Spark-4 Python DataSource implementation of the reference's custom source
(/root/reference/src/main/scala/com/databricks/JsonMRFSourceProvider.scala:16-64,
JsonMRFSource.scala:22-258): same name, same 3-column bronze schema, same
options — re-architected for Spark's execution model:

- Chunk discovery runs once on the driver (numpy-vectorized scanner) and
  produces a byte-range manifest. Consecutive chunks of one file whose
  payload bytes fit in ``chunktargetbytes`` are packed into one input
  partition (a chunk at or above the target stands alone), so executors do
  an embarrassingly-parallel ``seek + read`` with zero shuffle. The
  partition count scales with file size, not with buffer fills, so a
  100 TB corpus keeps 1000 executors busy, while a small file's four
  chunks (header head, provider_references, in_network, trailer) cost one
  Python task, not four. Every chunk is still one bronze row.
- Both readers take each file's manifest from one stat-keyed cache
  (``_scan_chunks_cached``). The stream reader scans a file whole the first
  time a micro-batch reaches it, then releases its chunks incrementally.
  Streaming offsets are plain per-file chunk indices; Spark owns
  checkpointing. Discovery is deterministic, so recovery just rescans.
- Every partition carries its file's ``(size, mtime_ns)`` at planning; the
  executor read checks it, so a replaced file fails loudly, never reads as
  garbage.

Options (case-insensitive, reference parity):
  ``payloadAsArray``   "true" -> ``json_payload array<string>`` of element
                       strings (JsonMRFSource.scala:26-29)
  ``buffersize``       driver read-buffer bytes (JsonMRFSource.scala:31-34)
  ``chunktargetbytes`` target payload bytes per output row / partition
                       (new; the reference emits one row per buffer fill)
  ``decompressdir``    where the ``.gz`` pre-pass writes (reference writes a
                       sibling file; ours is configurable because source
                       dirs are often read-only)
  ``maxchunksperbatch`` streaming: max manifest rows per micro-batch
  ``maxbytesperbatch`` streaming: stop releasing chunks once a micro-batch
                       reaches this many payload bytes (admission control
                       for uneven chunk sizes; ≥1 chunk always releases)
  ``headerkey``        plan/read ONLY chunks of this header_key — explicit
                       byte-range pruning (build_silver uses this per branch)
  ``includeoffsets``   "true" -> append ``chunk_start long`` (chunk byte
                       offset) for retry-stable downstream surrogate keys
  ``filesystem``       accepted no-op (reference parity): scheme:// paths
                       already route through pyarrow.fs automatically

Usage::

    spark.read.format("payer-mrf").load(path)
    spark.readStream.format("payer-mrf").load(path)
"""

from __future__ import annotations

import functools
import logging
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hls_payer_mrf_sparkstreaming_spark.session import SessionCache
from hls_payer_mrf_sparkstreaming_spark.sources import chunker as ck
from hls_payer_mrf_sparkstreaming_spark.sources import io as mrf_io

FORMAT_NAME = "payer-mrf"
HEADER_KEY_IN_NETWORK = "in_network"
HEADER_KEY_PROVIDER_REFERENCES = "provider_references"

log = logging.getLogger(__name__)


def bronze_schema(
    payload_as_array: bool = False, include_offsets: bool = False
) -> StructType:
    """The fixed 3-column engine schema (JsonMRFSource.scala:241-258).

    ``include_offsets`` appends ``chunk_start`` (the chunk's byte offset in
    its file) — a deterministic, retry-stable per-chunk identity that
    downstream surrogate keys can hash (silver uses it; the reference's
    uuid() keys are NOT retry-stable)."""
    payload_type = (
        ArrayType(StringType(), True) if payload_as_array else StringType()
    )
    fields = [
        StructField("file_name", StringType(), False),
        StructField("header_key", StringType(), True),
        StructField("json_payload", payload_type, True),
    ]
    if include_offsets:
        fields.append(StructField("chunk_start", LongType(), False))
    return StructType(fields)


@dataclass
class _ChunkPartition(InputPartition):
    """A run of consecutive manifest chunks of one file.

    ``chunks`` holds each chunk's ``(start, end, header_key)`` (``end``
    inclusive); ``start``/``end`` span the first chunk's start to the last
    chunk's end. A headerkey-pruned run may have gaps between chunks.
    ``sig`` is the file's ``(size, mtime_ns)`` the manifest was scanned
    from (``None`` for remote inputs, which are not checked)."""

    path: str
    start: int
    end: int
    chunks: tuple
    as_array: bool
    with_offsets: bool = False
    sig: tuple | None = None


def _pack(opts, path, chunks, sig):
    """Plan ``chunks`` (of one file, in manifest order) as partitions: one
    per run of consecutive chunks whose payload bytes fit in
    ``chunktargetbytes``. A chunk at or above the target stands alone, so a
    large file's full in_network chunks each keep their own task. Spark's
    file scan packs small files the same way (``FilePartition``,
    ``maxPartitionBytes``); this packs within a file only."""
    target = opts.chunk_target
    runs: list[list[tuple]] = []
    run_bytes = 0
    for c in chunks:
        n = c.end - c.start + 1
        if not runs or run_bytes + n > target:
            runs.append([])
            run_bytes = 0
        runs[-1].append((c.start, c.end, c.header_key))
        run_bytes += n
    flags = (opts.payload_as_array, opts.include_offsets)
    return [
        _ChunkPartition(path, run[0][0], run[-1][1], tuple(run), *flags, sig)
        for run in runs
    ]


def _chunk_payload(raw: bytes, header_key: str, as_array: bool):
    if header_key == "":
        repaired = ck.repair_header_fragment(raw)
        return [repaired] if as_array else repaired
    if as_array:
        return ck.split_elements(raw)
    return ck.wrap_array_payload(raw)


def _read_partition(part: _ChunkPartition):
    """Executor side: one open, then a ranged read + JSON repair per chunk
    -> one bronze row per chunk, emitted as a single Arrow RecordBatch
    (pyspark converts tuple rows through pickle; a pre-built batch skips
    that entirely — the payloads are MB-sized, so per-row conversion cost
    is the ingest bottleneck).

    Reference parity: JsonChunks.scala:37-102 (seek/readFully, header fixup,
    array wrap, payloadAsArray split).
    """
    import pyarrow as pa

    payloads = []
    with mrf_io.open_input(part.path) as f:
        if part.sig is not None:
            st = os.fstat(f.fileno())
            if (st.st_size, st.st_mtime_ns) != part.sig:
                raise RuntimeError(
                    f"payer-mrf: {part.path} changed since it was planned "
                    f"((size, mtime_ns) {part.sig} -> "
                    f"{(st.st_size, st.st_mtime_ns)}); cannot read bytes "
                    f"{part.start}-{part.end}"
                )
        for start, end, hk in part.chunks:
            f.seek(start)
            raw = f.read(end - start + 1)
            payloads.append(_chunk_payload(raw, hk, part.as_array))
    payload_type = pa.list_(pa.string()) if part.as_array else pa.string()
    arrays = [
        pa.array([part.path] * len(part.chunks), type=pa.string()),
        pa.array([c[2] for c in part.chunks], type=pa.string()),
        pa.array(payloads, type=payload_type),
    ]
    names = ["file_name", "header_key", "json_payload"]
    if part.with_offsets:
        arrays.append(pa.array([c[0] for c in part.chunks], type=pa.int64()))
        names.append("chunk_start")
    yield pa.RecordBatch.from_arrays(arrays, names=names)


class _Options:
    def __init__(self, options: dict):
        self._o = {str(k).lower(): v for k, v in options.items()}

    def get(self, key: str, default=None):
        return self._o.get(key.lower(), default)

    @property
    def path(self) -> str:
        p = self.get("path")
        if not p:
            raise ValueError("payer-mrf: .load(path) is required")
        return p

    @property
    def payload_as_array(self) -> bool:
        return str(self.get("payloadasarray", "false")).lower() == "true"

    @property
    def buffersize(self) -> int:
        return int(self.get("buffersize", ck.DEFAULT_READ_SIZE))

    @property
    def chunk_target(self) -> int:
        return int(self.get("chunktargetbytes", ck.DEFAULT_CHUNK_TARGET))

    @property
    def decompress_dir(self) -> str | None:
        return self.get("decompressdir")

    @property
    def header_key(self) -> str | None:
        """Explicit partition pruning: only chunks whose header_key equals
        this value are planned/read. The IO-level equivalent of
        ``WHERE header_key = ...``."""
        return self.get("headerkey")

    @property
    def filesystem(self) -> str | None:
        """Reference-parity option (JsonMRFSource.scala:37-45): the Scala
        source used it to pick an s3a vs local Hadoop FileSystem. Here any
        ``scheme://`` path routes through pyarrow.fs automatically
        (sources/io.py), so the option is accepted as a documented no-op —
        a user porting a reference config gets identical behavior, not a
        silent failure on an unknown option."""
        return self.get("filesystem")

    @property
    def include_offsets(self) -> bool:
        """"true" -> append ``chunk_start`` (byte offset of the chunk in its
        file) to the schema. Deterministic per-chunk identity for
        retry-stable surrogate keys (silver's in_network keys hash it)."""
        return str(self.get("includeoffsets", "false")).lower() == "true"

    @property
    def max_chunks_per_batch(self) -> int:
        """0 (default) = release every known chunk in the first micro-batch.

        >0 releases at most this many chunks per micro-batch. A file is
        still scanned whole the first time a release reaches it; only the
        release is incremental. availableNow snapshots latestOffset once,
        so >0 is only safe with processingTime triggers.
        """
        return int(self.get("maxchunksperbatch", 0))

    @property
    def max_bytes_per_batch(self) -> int:
        """0 (default) = no byte cap. Admission control by PAYLOAD SIZE
        rather than chunk count: chunk byte ranges vary by orders of
        magnitude (a provider_references chunk vs a 16 MB in_network run),
        so a count cap alone gives uneven micro-batches. When set, a
        ``latestOffset`` call stops releasing chunks once the released
        bytes reach the cap (always at least one chunk, so the stream can
        never stall). Same processingTime-trigger caveat as
        ``maxchunksperbatch``.
        """
        return int(self.get("maxbytesperbatch", 0))


class PayerMrfDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        opts = _Options(self.options)
        return bronze_schema(opts.payload_as_array, opts.include_offsets)

    def reader(self, schema):
        return PayerMrfBatchReader(_Options(self.options))

    def streamReader(self, schema):
        return PayerMrfStreamReader(_Options(self.options))


# Manifest cache, evaluated in the Python planner worker. Chunk discovery
# is a deterministic pure function of the file bytes, and MRF files are
# immutable once published — but Spark constructs a fresh reader (and so
# re-plans partitions) for every action, and the silver pipeline alone
# reads the same bronze file once per header_key branch. Re-scanning a
# multi-GB file three times is pure waste; the reference scans once per
# stream (JsonMRFSource.scala:138-178). Keyed by (path, size, mtime_ns,
# chunk_target, buffersize) so any file change or chunking-parameter
# change invalidates naturally; not session-scoped, since the bytes do
# not depend on the session. A manifest is a few small tuples per
# ~chunktargetbytes of input. Both readers (and so every stream restart)
# take manifests from here.
@functools.lru_cache(maxsize=256)
def _scan_manifest(
    abspath: str, size: int, mtime_ns: int, chunk_target: int, buffersize: int
) -> tuple:
    return tuple(ck.scan_chunks(abspath, chunk_target, buffersize))


def _scan_chunks_cached(path: str, opts: _Options):
    """``(chunks, sig)``, as both readers plan ``path``: its cached
    manifest pruned to ``headerkey``, and the ``(size, mtime_ns)`` the
    cache keyed it on. Remote inputs have no ``os.stat``: they are scanned
    uncached, with ``sig`` ``None``."""
    target, buffersize = opts.chunk_target, opts.buffersize
    try:
        st = os.stat(path)
    except OSError:
        chunks, sig = ck.scan_chunks(path, target, buffersize), None
    else:
        sig = (st.st_size, st.st_mtime_ns)
        chunks = _scan_manifest(
            os.path.abspath(path), *sig, target, buffersize
        )
    hk = opts.header_key  # None = no constraint
    return [c for c in chunks if hk is None or c.header_key == hk], sig


class PayerMrfBatchReader(DataSourceReader):
    """Batch mode: full manifest -> one partition per run of consecutive
    small chunks of one file (``_pack``); one bronze row per chunk.

    Accepts a file, a directory, or a glob (a 100 TB corpus is many MRF
    files). Discovery parallelizes across files with driver threads — the
    numpy scan releases the GIL for its hot loops.
    """

    def __init__(self, opts: _Options):
        self._opts = opts

    def partitions(self):
        opts = self._opts
        paths = mrf_io.resolve_input_paths(opts.path, opts.decompress_dir)

        def scan_one(path: str):
            return _pack(opts, path, *_scan_chunks_cached(path, opts))

        if len(paths) == 1:
            return scan_one(paths[0])
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(paths))) as pool:
            return [p for parts in pool.map(scan_one, paths) for p in parts]

    def read(self, partition: _ChunkPartition):
        return _read_partition(partition)


class PayerMrfStreamReader(DataSourceStreamReader):
    """Micro-batch streaming over per-file chunk manifests.

    Offsets are ``{"files": {path: n_released}}`` — an independent chunk
    index PER FILE (the reference's LongOffset,
    JsonMRFSource.scala:51-53, generalized to a multi-file corpus). Per-file
    indices make restarts immune to the file SET changing between runs: a
    file that arrives mid-stream — even one sorting lexicographically
    before already-committed files — only adds a new key, it can never
    shift another file's committed position (a single global index would).
    Manifests come from the batch reader's stat-keyed cache
    (``_scan_chunks_cached``): a file is scanned whole the first time a
    ``latestOffset`` call reaches it, and its chunks are then released in
    deterministic sorted-path order, up to ``maxchunksperbatch`` chunks and
    ``maxbytesperbatch`` payload bytes per call. When every known file is
    released, the input is re-listed (once per call) so directory streams
    pick up late-arriving files.
    """

    def __init__(self, opts: _Options):
        self._opts = opts
        # path -> [manifest, sig, n_released]; the manifest is None until
        # the file is first reached. Insertion order is release order.
        self._files: dict[str, list] = {}

    def _entry(self, path: str, scan: bool = True) -> list:
        """``path``'s ``[manifest, sig, n_released]``, added on first sight;
        ``scan`` scans the file whole if that has not happened yet."""
        entry = self._files.setdefault(path, [None, None, 0])
        if scan and entry[0] is None:
            entry[0], entry[1] = _scan_chunks_cached(path, self._opts)
        return entry

    def _in_release_order(self):
        """Every file's entry in release order, scanned when reached; after
        the known files, the input is re-listed once for late arrivals."""
        yield from map(self._entry, list(self._files))
        opts = self._opts
        for p in mrf_io.resolve_input_paths(opts.path, opts.decompress_dir):
            self._entry(p, scan=False)
        yield from map(self._entry, list(self._files))

    def _to_file_map(self, offset: dict) -> dict[str, int]:
        if "files" not in offset:
            raise RuntimeError(
                f"payer-mrf: unsupported offset format {offset!r} — "
                'expected {"files": {path: n}}; the pre-multi-file global '
                '"index" format is no longer read — restart the stream '
                "on a fresh checkpoint location"
            )
        return dict(offset["files"])

    # -- DataSourceStreamReader protocol ------------------------------------

    def initialOffset(self):
        return {"files": {}}

    def latestOffset(self):
        """Release up to ``maxchunksperbatch`` more chunks (0: all). With
        ``maxbytesperbatch`` the release also stops once its byte ranges
        reach the cap, checked after each chunk, so at least one chunk
        always releases and the stream cannot stall."""
        opts = self._opts
        budget = opts.max_chunks_per_batch or float("inf")
        byte_budget = opts.max_bytes_per_batch or float("inf")
        n = nbytes = 0
        for entry in self._in_release_order():
            chunks, _, done = entry
            while done < len(chunks) and n < budget and nbytes < byte_budget:
                nbytes += chunks[done].end - chunks[done].start + 1
                done += 1
                n += 1
            entry[2] = done
            if n >= budget or nbytes >= byte_budget:
                break
        log.debug(
            "latestOffset: %d files known, released %d chunks / %d bytes",
            len(self._files),
            n,
            nbytes,
        )
        return {"files": {p: e[2] for p, e in self._files.items()}}

    def partitions(self, start, end):
        lo_map = self._to_file_map(start)
        hi_map = self._to_file_map(end)
        parts: list[_ChunkPartition] = []
        n_chunks = 0
        for p, hi in hi_map.items():
            # A restarted query replays its last offset as
            # partitions(latest, latest) (setLatestSeenOffset), so record
            # the release BEFORE skipping an empty range: the next
            # latestOffset must resume from here, not from chunk 0.
            entry = self._entry(p, scan=False)
            entry[2] = max(entry[2], hi)
            lo = lo_map.get(p, 0)
            if hi <= lo:
                continue
            chunks, sig, _ = self._entry(p)
            if hi > len(chunks):
                raise RuntimeError(
                    f"payer-mrf: offset {hi} beyond end of manifest for "
                    f"{p} ({len(chunks)} chunks) — file changed?"
                )
            n_chunks += hi - lo
            parts.extend(_pack(self._opts, p, chunks[lo:hi], sig))
        log.debug(
            "partitions: %d chunks -> %d partitions", n_chunks, len(parts)
        )
        return parts

    def read(self, partition: _ChunkPartition):
        return _read_partition(partition)

    def commit(self, end):
        # nothing to free: a cached manifest is one tuple per ~16 MB chunk
        self._to_file_map(end)


def register(spark) -> None:
    """Idempotently register the payer-mrf source on a session."""
    try:
        spark.dataSource.register(PayerMrfDataSource)
    except Exception as exc:  # already registered
        if "already" not in str(exc).lower():
            raise


# ---------------------------------------------------------------------------
# Convenience API
# ---------------------------------------------------------------------------


# Reader-plan cache, the read_payer_mrf twin of operators.suite.load's:
# constructing a Python DataSource reader costs a DataFrameReader py4j
# round trip plus the datasource's schema/plan handshake on every call —
# pure driver overhead the silver/TOC query family pays 1-2x per query
# construction. The cache holds the immutable DataFrame (a LOGICAL PLAN,
# no data): every action still re-runs discovery partitions and reads the
# file bytes, so nothing about bench/oracle timing semantics changes.
# Keyed by (session, path, options, input-file stat signature) so a
# rewritten fixture or changed option builds a fresh reader; unstatable
# (remote) inputs skip the cache entirely.
_READER_CACHE = SessionCache(64)


def _reader_cache_key(path: str, opt_l: dict):
    try:
        paths = mrf_io.resolve_input_paths(
            path, opt_l.get("decompressdir")
        )
        stat_sig = tuple(
            (p, st.st_size, st.st_mtime_ns)
            for p, st in zip(paths, map(os.stat, paths))
        )
    except Exception:
        return None
    return (
        path,
        tuple(sorted((k, str(v)) for k, v in opt_l.items())),
        stat_sig,
    )


def read_payer_mrf(spark, path: str, **options):
    """Batch-read MRF file(s) into the 3-column bronze DataFrame.

    Chunk discovery runs on the driver when Spark plans the read
    (``PayerMrfBatchReader.partitions``): one scan per input file, up to 8
    files at a time, each manifest cached by file stat. The DataFrame
    itself is cached per (session, path, options, input stat signature).
    """
    register(spark)
    opt_l = {str(k).lower(): v for k, v in options.items()}

    def load():
        reader = spark.read.format(FORMAT_NAME)
        for k, v in opt_l.items():
            reader = reader.option(k, v)
        return reader.load(path)

    key = _reader_cache_key(path, opt_l)
    return load() if key is None else _READER_CACHE.get(spark, key, load)


def stream_payer_mrf(spark, path: str, **options):
    """Open an MRF file as a micro-batch stream of bronze rows."""
    register(spark)
    reader = spark.readStream.format(FORMAT_NAME)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)
