"""Filesystem abstraction for the payer-mrf source.

Local paths use builtin ``open``; any ``scheme://`` path goes through
``pyarrow.fs.FileSystem.from_uri`` (s3://, hdfs://, gs:// ... all give
seekable input files), so executor-side ranged reads work on cloud storage.
Replaces the reference's executor-side ``FileSystem.get(new Configuration)``
(JsonChunks.scala:106-108) which silently ignored session Hadoop conf.
"""

from __future__ import annotations

import gzip
import os
import shutil
from typing import BinaryIO

_GZ_COPY_BUFFER = 16 * 1024 * 1024


def _strip_file_scheme(path: str) -> str:
    if path.startswith("file://"):
        return path[len("file:") :]
    if path.startswith("file:"):
        return path[len("file:") :]
    return path


def open_input(path: str) -> BinaryIO:
    """Open a seekable binary reader for a local or remote path."""
    p = _strip_file_scheme(path)
    if "://" in p:
        import pyarrow.fs as pafs

        fs, rel = pafs.FileSystem.from_uri(p)
        return fs.open_input_file(rel)
    return open(p, "rb")


def decompress_gz(path: str, target_dir: str | None = None) -> str:
    """One-time driver-side pre-pass: ``.gz`` -> sibling uncompressed file
    (gzip is not splittable/seekable, executors need ranged reads — same
    strategy as reference JsonMRFSourceProvider.scala:38-46).

    ``target_dir`` overrides the output directory (the source directory may
    be read-only). Idempotent: an existing up-to-date output is reused.

    Remote ``scheme://...json.gz`` inputs stream-decompress into
    ``target_dir`` (default: a per-machine temp dir) in one pass — no full
    compressed copy ever lands on disk. On a cluster, point ``target_dir``
    (the ``decompressdir`` source option) at SHARED storage; the default
    local temp dir only works single-node, since executors must be able to
    do ranged reads on the result.
    """
    p = _strip_file_scheme(path)
    if "://" in p:
        import tempfile

        import pyarrow.fs as pafs

        fs, rel = pafs.FileSystem.from_uri(p)
        base = os.path.basename(rel)
        out_name = (
            base[: -len(".gz")] if base.endswith(".gz") else base + ".json"
        )
        out_dir = target_dir or os.path.join(
            tempfile.gettempdir(), "payer_mrf_decompressed"
        )
        out_path = os.path.join(out_dir, out_name)
        info = fs.get_file_info(rel)
        if os.path.exists(out_path) and (
            info.mtime is None
            or os.path.getmtime(out_path) >= info.mtime.timestamp()
        ):
            return out_path
        os.makedirs(out_dir, exist_ok=True)
        tmp = out_path + ".tmp"
        # compression=None: pyarrow would otherwise auto-decompress by
        # extension and our gzip wrapper would see plain bytes
        with fs.open_input_stream(rel, compression=None) as raw, gzip.GzipFile(
            fileobj=raw, mode="rb"
        ) as src, open(tmp, "wb") as dst:
            shutil.copyfileobj(src, dst, _GZ_COPY_BUFFER)
        os.replace(tmp, out_path)
        return out_path
    base = os.path.basename(p)
    out_name = base[: -len(".gz")] if base.endswith(".gz") else base + ".json"
    out_dir = target_dir or os.path.dirname(p)
    out_path = os.path.join(out_dir, out_name)
    if os.path.exists(out_path) and os.path.getmtime(out_path) >= os.path.getmtime(p):
        return out_path
    os.makedirs(out_dir, exist_ok=True)
    tmp = out_path + ".tmp"
    with gzip.open(p, "rb") as src, open(tmp, "wb") as dst:
        shutil.copyfileobj(src, dst, _GZ_COPY_BUFFER)
    os.replace(tmp, out_path)
    return out_path


def resolve_input_path(path: str, decompress_dir: str | None = None) -> str:
    """Normalize a user path: validate extension, run the gz pre-pass."""
    p = _strip_file_scheme(path)
    if p.endswith(".gz"):
        return decompress_gz(p, decompress_dir)
    if not p.endswith(".json"):
        raise ValueError(
            f"payer-mrf source supports .json / .json.gz inputs, got: {path}"
        )
    return p


def resolve_input_paths(
    path: str, decompress_dir: str | None = None
) -> list[str]:
    """Expand a user path into concrete input files, deterministically
    ordered.

    Accepts a single file, a directory (all ``*.json`` / ``*.json.gz``
    inside, non-recursive), or a glob pattern — a 100 TB corpus is many MRF
    files, and offsets must be stable across restarts, hence the sort.
    """
    import glob as _glob

    p = _strip_file_scheme(path)
    if "://" in p:
        import pyarrow.fs as pafs

        fs, rel = pafs.FileSystem.from_uri(p)
        info = fs.get_file_info(rel)
        if info.type == pafs.FileType.Directory:
            scheme = p.split("://", 1)[0]
            listed = fs.get_file_info(
                pafs.FileSelector(rel, recursive=False)
            )
            cands = sorted(
                f"{scheme}://{i.path}"
                for i in listed
                if i.is_file
                and (i.path.endswith(".json") or i.path.endswith(".json.gz"))
            )
            if not cands:
                raise ValueError(
                    f"payer-mrf: no .json/.json.gz files in {path}"
                )
        else:
            cands = [p]
    elif os.path.isdir(p):
        cands = sorted(
            q
            for q in _glob.glob(os.path.join(p, "*"))
            if q.endswith(".json") or q.endswith(".json.gz")
        )
        if not cands:
            raise ValueError(f"payer-mrf: no .json/.json.gz files in {path}")
    elif any(ch in p for ch in "*?["):
        cands = sorted(_glob.glob(p))
        if not cands:
            raise ValueError(f"payer-mrf: glob matched no files: {path}")
    else:
        cands = [p]
    # A prior gz pre-pass writes a.json next to a.json.gz (default
    # decompress_dir is the source dir): both candidates would resolve to
    # the same a.json and double every row on a re-read. Prefer the .gz
    # candidate (resolve_input_path reuses its up-to-date decompressed
    # sibling) and drop the bare .json twin, then dedupe resolved paths.
    listed = set(cands)
    cands = [q for q in cands if not (q.endswith(".json") and q + ".gz" in listed)]
    resolved = [resolve_input_path(q, decompress_dir) for q in cands]
    return list(dict.fromkeys(resolved))
