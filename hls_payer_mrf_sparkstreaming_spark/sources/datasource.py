"""``payer-mrf`` Spark data source (batch + Structured Streaming).

Spark-4 Python DataSource implementation of the reference's custom source
(/root/reference/src/main/scala/com/databricks/JsonMRFSourceProvider.scala:16-64,
JsonMRFSource.scala:22-258): same name, same 3-column bronze schema, same
options — re-architected for Spark's execution model:

- Chunk discovery runs once on the driver (numpy-vectorized scanner) and
  produces a byte-range manifest; each manifest row becomes one input
  partition, so executors do an embarrassingly-parallel ``seek + read`` with
  zero shuffle — the partition count scales with file size
  (``chunktargetbytes``), not with buffer fills, so a 100 TB corpus keeps
  1000 executors busy.
- Streaming offsets are plain chunk indices; Spark owns checkpointing.
  Discovery is deterministic, so recovery just rescans the manifest.

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
    path: str
    start: int
    end: int
    header_key: str
    as_array: bool
    with_offsets: bool = False


def _read_partition(part: _ChunkPartition):
    """Executor side: ranged read + JSON repair -> one bronze row, emitted
    as an Arrow RecordBatch (pyspark converts tuple rows through pickle;
    a pre-built batch skips that entirely — the payloads are MB-sized, so
    per-row conversion cost is the ingest bottleneck).

    Reference parity: JsonChunks.scala:37-102 (seek/readFully, header fixup,
    array wrap, payloadAsArray split).
    """
    import pyarrow as pa

    with mrf_io.open_input(part.path) as f:
        f.seek(part.start)
        raw = f.read(part.end - part.start + 1)
    if part.header_key == "":
        repaired = ck.repair_header_fragment(raw)
        payload = [repaired] if part.as_array else repaired
    elif part.as_array:
        payload = ck.split_elements(raw)
    else:
        payload = ck.wrap_array_payload(raw)
    if part.as_array:
        payload_arr = pa.array([payload], type=pa.list_(pa.string()))
    else:
        payload_arr = pa.array([payload], type=pa.string())
    arrays = [
        pa.array([part.path], type=pa.string()),
        pa.array([part.header_key], type=pa.string()),
        payload_arr,
    ]
    names = ["file_name", "header_key", "json_payload"]
    if part.with_offsets:
        arrays.append(pa.array([part.start], type=pa.int64()))
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
    def manifest_file(self) -> str | None:
        """Path to a precomputed chunk-manifest (JSONL of
        ``{"path","start","end","header_key"}``). When set, ``partitions()``
        skips scanning entirely and plans straight from the manifest — this
        is how distributed discovery hands executor-scanned manifests to
        the planner (see ``build_manifest_distributed``). The path is opened
        through ``mrf_io.open_input``, so it may live on any pyarrow-fs
        scheme the data itself uses."""
        return self.get("manifestfile")

    @property
    def max_chunks_per_batch(self) -> int:
        """0 (default) = discover the whole file in the first micro-batch.

        availableNow snapshots latestOffset once, so incremental discovery
        (>0) is only safe with processingTime triggers, where it pipelines
        discovery with downstream processing like the reference's reader
        thread.
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
# ~chunktargetbytes of input.
@functools.lru_cache(maxsize=256)
def _scan_manifest(
    abspath: str, size: int, mtime_ns: int, chunk_target: int, buffersize: int
) -> tuple:
    return tuple(ck.scan_chunks(abspath, chunk_target, buffersize))


def _scan_chunks_cached(path: str, chunk_target: int, buffersize: int):
    try:
        st = os.stat(path)
    except OSError:
        return ck.scan_chunks(path, chunk_target, buffersize)
    return _scan_manifest(
        os.path.abspath(path),
        st.st_size,
        st.st_mtime_ns,
        chunk_target,
        buffersize,
    )


def _load_manifest_rows(manifest: str) -> list[dict]:
    """Read a chunk manifest: either a single JSONL file or a DIRECTORY of
    JSONL shards (the executor-written layout of
    ``build_manifest_distributed``) — local or remote (``scheme://`` dirs
    are listed through pyarrow). Shard order is irrelevant — each row is
    a self-contained (path, start, end, header_key) byte range."""
    import json

    if mrf_io.is_remote(manifest):
        import pyarrow.fs as pafs

        fs, rel = pafs.FileSystem.from_uri(manifest)
        if fs.get_file_info(rel).type == pafs.FileType.Directory:
            scheme = manifest.split("://", 1)[0]
            files = sorted(
                f"{scheme}://{i.path}"
                for i in fs.get_file_info(
                    pafs.FileSelector(rel, recursive=False)
                )
                if i.is_file
                and not os.path.basename(i.path).startswith(("_", "."))
            )
        else:
            files = [manifest]
    elif os.path.isdir(manifest):
        files = sorted(
            os.path.join(manifest, f)
            for f in os.listdir(manifest)
            if not f.startswith(("_", "."))
        )
    else:
        files = [manifest]
    rows: list[dict] = []
    for fp in files:
        with mrf_io.open_input(fp) as f:
            rows.extend(
                json.loads(line)
                for line in f.read().decode("utf-8").splitlines()
                if line
            )
    return rows


class PayerMrfBatchReader(DataSourceReader):
    """Batch mode: full manifest -> one partition per chunk.

    Accepts a file, a directory, or a glob (a 100 TB corpus is many MRF
    files). Discovery parallelizes across files with driver threads — the
    numpy scan releases the GIL for its hot loops.
    """

    def __init__(self, opts: _Options):
        self._opts = opts

    def partitions(self):
        opts = self._opts
        hk = opts.header_key  # None = no constraint
        if opts.manifest_file:
            rows = _load_manifest_rows(opts.manifest_file)
            return [
                _ChunkPartition(
                    r["path"],
                    r["start"],
                    r["end"],
                    r["header_key"],
                    opts.payload_as_array,
                    opts.include_offsets,
                )
                for r in rows
                if hk is None or r["header_key"] == hk
            ]
        paths = mrf_io.resolve_input_paths(opts.path, opts.decompress_dir)

        def scan_one(path: str):
            return [
                _ChunkPartition(
                    path,
                    c.start,
                    c.end,
                    c.header_key,
                    opts.payload_as_array,
                    opts.include_offsets,
                )
                for c in _scan_chunks_cached(
                    path, opts.chunk_target, opts.buffersize
                )
                if hk is None or c.header_key == hk
            ]

        if len(paths) == 1:
            return scan_one(paths[0])
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(paths))) as pool:
            return [p for parts in pool.map(scan_one, paths) for p in parts]

    def read(self, partition: _ChunkPartition):
        return _read_partition(partition)


class _FileScan:
    """Per-file lazy discovery state: a pulled-on-demand chunk generator,
    the released-but-uncommitted chunk rows, and the committed GC base."""

    __slots__ = ("gen", "rows", "gc", "exhausted")

    def __init__(self, gen):
        self.gen = gen
        self.rows: list[ck.Chunk] = []
        self.gc = 0
        self.exhausted = False

    def released(self) -> int:
        return self.gc + len(self.rows)


class PayerMrfStreamReader(DataSourceStreamReader):
    """Micro-batch streaming over per-file chunk manifests.

    Offsets are ``{"files": {path: n_released}}`` — an independent chunk
    index PER FILE (the reference's LongOffset,
    JsonMRFSource.scala:51-53, generalized to a multi-file corpus). Per-file
    indices make restarts immune to the file SET changing between runs: a
    file that arrives mid-stream — even one sorting lexicographically
    before already-committed files — only adds a new key, it can never
    shift another file's committed position (a single global index would).
    Discovery is pulled lazily in deterministic sorted-path order, up to
    ``maxchunksperbatch`` chunks per ``latestOffset`` call, so downstream
    processing pipelines with discovery like the reference's reader thread
    (JsonMRFSource.scala:138-178) but without shared mutable state; when
    every known file is exhausted, the input is re-listed so directory
    streams pick up late-arriving files.
    """

    def __init__(self, opts: _Options):
        self._opts = opts
        self._scans: dict[str, _FileScan] = {}  # insertion = release order
        self._order: list[_FileScan] = []  # same order, for the pull cursor
        self._cursor = 0  # first possibly-non-exhausted entry in _order
        self._listed = False

    # -- discovery ----------------------------------------------------------

    def _file_gen(self, path: str):
        hk = self._opts.header_key
        for c in ck.scan_chunks(
            path, self._opts.chunk_target, self._opts.buffersize
        ):
            if hk is None or c.header_key == hk:
                yield c

    def _list_files(self):
        paths = mrf_io.resolve_input_paths(
            self._opts.path, self._opts.decompress_dir
        )
        for p in paths:
            if p not in self._scans:
                scan = _FileScan(self._file_gen(p))
                self._scans[p] = scan
                self._order.append(scan)
        self._listed = True

    def _pull(self, n: int, max_bytes: int = 0) -> int:
        """Release up to n more chunks (n <= 0: all known + newly listed
        files, to exhaustion); returns count released. ``max_bytes > 0``
        additionally stops after the released byte ranges reach the cap
        (checked after each chunk, so at least one chunk always releases
        — progress is guaranteed even when one chunk exceeds the cap)."""
        if not self._listed:
            self._list_files()
        budget = n if n > 0 else float("inf")
        byte_budget = max_bytes if max_bytes > 0 else float("inf")
        pulled = 0
        bytes_pulled = 0
        relisted = False
        while pulled < budget and bytes_pulled < byte_budget:
            # files exhaust in release order and new ones append, so a
            # monotone cursor keeps this O(1) per chunk even for
            # thousand-file corpora
            while (
                self._cursor < len(self._order)
                and self._order[self._cursor].exhausted
            ):
                self._cursor += 1
            if self._cursor >= len(self._order):
                if relisted:
                    break
                self._list_files()  # pick up late-arriving files
                relisted = True
                continue
            scan = self._order[self._cursor]
            try:
                c = next(scan.gen)
                scan.rows.append(c)
                pulled += 1
                bytes_pulled += c.end - c.start + 1
            except StopIteration:
                scan.exhausted = True
        return pulled

    def _offset(self) -> dict:
        return {
            "files": {p: s.released() for p, s in self._scans.items()}
        }

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
        self._pull(
            self._opts.max_chunks_per_batch,
            self._opts.max_bytes_per_batch,
        )
        return self._offset()

    def partitions(self, start, end):
        lo_map = self._to_file_map(start)
        hi_map = self._to_file_map(end)
        opts = self._opts
        parts: list[_ChunkPartition] = []
        for p, hi in hi_map.items():
            lo = lo_map.get(p, 0)
            if hi <= lo:
                continue
            scan = self._scans.get(p)
            if scan is None:  # restart: re-derive this file's manifest
                scan = self._scans[p] = _FileScan(self._file_gen(p))
                self._order.append(scan)
            while scan.released() < hi and not scan.exhausted:
                try:
                    scan.rows.append(next(scan.gen))
                except StopIteration:
                    scan.exhausted = True
            if scan.released() < hi:
                raise RuntimeError(
                    f"payer-mrf: offset {hi} beyond end of manifest for "
                    f"{p} ({scan.released()} chunks) — file changed?"
                )
            if lo < scan.gc:
                raise RuntimeError(
                    f"payer-mrf: offset {lo} for {p} already committed "
                    f"(GC base {scan.gc}); restart from a checkpoint"
                )
            parts.extend(
                _ChunkPartition(
                    p,
                    c.start,
                    c.end,
                    c.header_key,
                    opts.payload_as_array,
                    opts.include_offsets,
                )
                for c in scan.rows[lo - scan.gc : hi - scan.gc]
            )
        return parts

    def read(self, partition: _ChunkPartition):
        return _read_partition(partition)

    def commit(self, end):
        # free committed manifest entries (reference JsonMRFSource.scala:226-238)
        for p, hi in self._to_file_map(end).items():
            scan = self._scans.get(p)
            if scan is not None and hi > scan.gc:
                del scan.rows[: hi - scan.gc]
                scan.gc = hi

    def stop(self):
        self._scans = {}
        self._order = []
        self._cursor = 0
        self._listed = False


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


# A corpus of this many files or more gets its chunk discovery run as a
# Spark job instead of <=8 driver threads: at 100 TB ("thousands of
# multi-GB files") driver-side scanning caps at ~8x single-file rate while
# executors sit idle — one scan task per file removes that ceiling.
DISTRIBUTED_DISCOVERY_MIN_FILES = 16


def build_manifest_distributed(
    spark,
    paths: list[str],
    manifest_path: str,
    chunk_target: int = ck.DEFAULT_CHUNK_TARGET,
    buffersize: int = ck.DEFAULT_READ_SIZE,
) -> str:
    """Run chunk discovery as a Spark job — one task per file — and write
    the manifest as a DIRECTORY of JSONL shards at ``manifest_path``,
    straight from the executors (``df.write.json``).

    The scanner (sources/chunker.py) already runs on executors for the
    read path; here it runs there for DISCOVERY too, so a many-file corpus
    scans at cluster rate instead of the driver's thread ceiling (the
    reference's discovery is driver-side single-file,
    JsonMRFSource.scala:138-178 — this is the repo's 100 TB extension).
    Manifest rows are ~100 bytes per ~chunktargetbytes of data (a 100 TB
    corpus at 8 MB chunks is ~1 GB of manifest); each scan task writes its
    own shard, so manifest bytes never pass through the driver and there
    is no driver-memory ceiling on corpus size. On a cluster point
    ``manifest_path`` at shared storage (HDFS/S3) so the planner can read
    the shards back; the Hadoop committer's ``_SUCCESS`` marker makes the
    write atomic-enough for the cache-reuse check in ``read_payer_mrf``.
    """
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    sc = spark.sparkContext

    def scan_file(path):
        # parallelism here comes from one-task-per-file: every core is
        # already scanning a different file, so the scanner's per-file
        # read-ahead/classify threads would only oversubscribe the
        # executor (32 tasks x 5 threads). Passed as an explicit arg —
        # NOT via os.environ, which in local mode would permanently
        # disable the prefetch pipeline for every later direct scan in
        # the same (driver==executor) process.
        return [
            (path, c.start, c.end, c.header_key)
            for c in ck.scan_chunks(
                path, chunk_target, buffersize, prefetch=False
            )
        ]

    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("start", LongType()),
            StructField("end", LongType()),
            StructField("header_key", StringType()),
        ]
    )
    rdd = sc.parallelize(paths, len(paths)).flatMap(scan_file)
    spark.createDataFrame(rdd, schema).write.mode("overwrite").json(
        manifest_path
    )
    return manifest_path


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
            (p, os.stat(p).st_size, os.stat(p).st_mtime_ns) for p in paths
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

    When ``path`` resolves to ``DISTRIBUTED_DISCOVERY_MIN_FILES`` or more
    files (directory / glob corpora), chunk discovery automatically runs
    as a Spark job (``build_manifest_distributed``) and the planner reads
    the resulting manifest instead of re-scanning driver-side. Override
    with ``distributeddiscovery="true"``/``"false"``; an explicit
    ``manifestfile=`` option always wins.
    """
    register(spark)
    opt_l = {str(k).lower(): v for k, v in options.items()}
    dd = str(opt_l.pop("distributeddiscovery", "auto")).lower()
    if "manifestfile" not in opt_l and dd != "false":
        paths = mrf_io.resolve_input_paths(
            path, opt_l.get("decompressdir")
        )
        if dd == "true" or len(paths) >= DISTRIBUTED_DISCOVERY_MIN_FILES:
            import hashlib
            import tempfile

            chunk_target = int(
                opt_l.get("chunktargetbytes", ck.DEFAULT_CHUNK_TARGET)
            )
            buffersize = int(opt_l.get("buffersize", ck.DEFAULT_READ_SIZE))
            try:
                # the cache key needs local stat(); remote corpora should
                # pass manifestfile= (or distributeddiscovery=false) and
                # manage manifest placement on their own storage
                sig = hashlib.md5(
                    repr(
                        [
                            (p, os.stat(p).st_size, os.stat(p).st_mtime_ns)
                            for p in paths
                        ]
                        + [chunk_target, buffersize]
                    ).encode()
                ).hexdigest()[:16]
            except OSError:
                sig = None
            if sig is not None:
                mdir = os.path.join(
                    tempfile.gettempdir(), "payer_mrf_manifests"
                )
                os.makedirs(mdir, exist_ok=True)
                mpath = os.path.join(mdir, f"manifest_{sig}")
                # sig covers file content; _SUCCESS guards against a
                # half-written shard dir from an interrupted earlier job
                if not os.path.exists(os.path.join(mpath, "_SUCCESS")):
                    build_manifest_distributed(
                        spark, paths, mpath, chunk_target, buffersize
                    )
                opt_l["manifestfile"] = mpath

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
