"""Structured Streaming operators and the exactly-once sink layout they
share."""

from __future__ import annotations

import hashlib
import os


def batch_dir(out_dir: str, checkpoint_dir: str, batch_id: int) -> str:
    """Per-micro-batch output directory, namespaced by checkpoint lineage.

    Every ``foreachBatch`` sink in this package writes each micro-batch
    with OVERWRITE into its own hive-partition directory
    ``out_dir/batch_id=<ck>_<n>``, so a retried or restarted micro-batch
    REPLACES its output instead of appending it twice. Readers see an
    extra ``batch_id`` lineage column.

    ``batch_id`` is only unique WITHIN one checkpoint lineage: a rerun of
    the same input against a fresh checkpoint restarts at 0, and a bare
    ``batch_id=0`` overwrite would clobber the first run's output. Keying
    the partition value by a digest of the checkpoint path makes the
    overwrite idempotent exactly where Structured Streaming's own
    exactly-once contract applies (retries and restarts of the SAME
    query/checkpoint) while a different checkpoint writes disjoint
    directories and can never destroy earlier output.
    """
    tok = hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:8]
    return os.path.join(out_dir, f"batch_id={tok}_{batch_id}")
