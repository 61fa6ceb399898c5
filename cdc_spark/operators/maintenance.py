"""Table maintenance: small-file compaction and layout rewrite.

At 100 TB the silent killer is file-count, not byte-count: a CDC
pipeline writing a micro-batch per trigger produces thousands of
KB-sized parquet files per day, and every downstream scan pays
per-file open/footer costs (plus driver-side listing memory). The
reference never faces this — its sink is a terminal log
(`examples/pgoutput/main.go:429-445`) — but any real deployment of the
deck's sync-to-analytics-DB pattern (CDC_small.pdf slides 33-37) does.

Compaction here is expressed as a *versioned rewrite*: read the
fragmented buckets, repartition them to the byte-budgeted file count,
and publish as a new immutable version through the state table's
one commit path, the same atomic pointer swap the streaming sink
uses. Readers never see a half-compacted table, and the
pre-compaction version stays readable (time travel / audit).
"""

from __future__ import annotations

import math
import os

from cdc_spark.streaming.state import BucketedStateTable


def dir_file_stats(path: str) -> dict:
    """Parquet data-file census for one table/version directory.

    Local-FS walk; on a cluster the same numbers come from the
    FileSystem listing API (or the table format's manifest), with the
    identical decision shape downstream.
    """
    sizes = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                sizes.append(os.path.getsize(os.path.join(root, f)))
    n = len(sizes)
    total = sum(sizes)
    return {
        "n_files": n,
        "total_bytes": total,
        "avg_file_bytes": total // n if n else 0,
    }


def needs_compaction(
    stats: dict,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 8,
) -> bool:
    """Compact when there are enough files to matter AND the average
    file is under a quarter of target — the classic post-streaming
    fragmentation signature. One big file or a handful of right-sized
    ones never triggers a rewrite."""
    return (
        stats["n_files"] >= min_files
        and stats["avg_file_bytes"] < target_file_bytes // 4
    )


def compact_buckets(
    state: BucketedStateTable,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 8,
) -> int | None:
    """Compact fragmented buckets of a ``BucketedStateTable``.

    A micro-batch sink accretes files per touched bucket (one file set
    per apply); this folds every bucket whose file census trips
    ``needs_compaction`` — or that holds an insert-only generation
    list — into byte-budgeted files, publishing a new version whose
    manifest points compacted buckets at the new directories and
    inherits the rest untouched: the same O(touched)-not-O(state)
    discipline as the apply path, applied to maintenance.

    The fragmented buckets are read together with the manifest's
    schema (no footer inference; buckets written before a schema
    evolution null-fill the newer columns) and
    ``repartitionByRange(n, bucket, *keys)`` makes output partitions
    contiguous in bucket order, so almost every partition holds a
    single bucket and the bucket-partitioned write does not
    re-fragment (total files ≈ ceil(bytes/target) + one boundary file
    per bucket). A table built with ``one_file_per_bucket`` keeps its
    one file per bucket instead. The rows are committed through
    ``overwrite_buckets`` with ``compaction: True`` in the manifest,
    so the version carries the applied-LSN watermark and ``batch_id``
    over, and an apply racing the compaction wins cleanly (the
    compaction rolls back with ``ConcurrentWriteError``).

    Returns the new version, or the current one when nothing needs
    compaction. Data is byte-for-byte equivalent; only layout changes.
    """
    v, man = state._current()
    if v is None:
        raise ValueError("cannot compact an empty state table")
    frag: dict[int, int] = {}  # bucket -> bytes
    for b in man["buckets"]:
        # a generation list is censused together — compaction is
        # exactly what folds it back to one directory
        per_dir = [dir_file_stats(d) for d in state._dirs(man, [b])]
        n_files = sum(s["n_files"] for s in per_dir)
        total = sum(s["total_bytes"] for s in per_dir)
        stats = {
            "n_files": n_files,
            "total_bytes": total,
            "avg_file_bytes": total // n_files if n_files else 0,
        }
        if len(per_dir) > 1 or needs_compaction(
            stats,
            target_file_bytes=target_file_bytes,
            min_files=min_files,
        ):
            frag[int(b)] = total
    if not frag:
        return v

    n_out = max(len(frag), math.ceil(sum(frag.values()) / target_file_bytes))
    rows = state._read_dirs(man, state._dirs(man, frag)).repartitionByRange(
        n_out, state._bucket_expr(), *state.keys
    )
    return state.overwrite_buckets(
        rows, frag, version=v, extra_meta={"compaction": True}
    )
