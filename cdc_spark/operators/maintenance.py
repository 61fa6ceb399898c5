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

from cdc_spark.streaming.state import BucketedStateTable, generations


def census(sizes) -> dict:
    """File census (count, bytes, mean size) of a bucket or a version,
    from the byte sizes its manifest records for its files."""
    sizes = list(sizes)
    total = sum(sizes)
    return {
        "n_files": len(sizes),
        "total_bytes": total,
        "avg_file_bytes": total // len(sizes) if sizes else 0,
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
    per apply); this folds every bucket whose census trips
    ``needs_compaction`` — or whose list names more than one version,
    as insert-only appends leave it — into byte-budgeted files,
    publishing a new version that lists them under the compacted
    buckets and inherits the rest untouched: the same
    O(touched)-not-O(state) discipline as the apply path, applied to
    maintenance. The census is the current manifest's, no listing: a
    file spanning several buckets counts its bytes in proportion to
    each bucket's rows in it. A bucket that shares a file with a
    compacted bucket is compacted with it, so every file compaction
    reads is replaced whole.

    The fragmented buckets are read together with the manifest's
    schema (no footer inference; files written before a schema
    evolution null-fill the newer columns) and
    ``repartitionByRange(n, bucket, *keys)`` makes output partitions
    contiguous in bucket order, so each new file covers a narrow
    bucket range — how single-bucket reads get cheap again after wide
    micro-batch files (total files ≈ max(buckets, ceil(bytes/target))).
    The rows are committed through ``overwrite_buckets`` with
    ``compaction: True`` in the manifest, so the version carries the
    applied-LSN watermark and ``batch_id`` over, and an apply racing
    the compaction wins cleanly (the compaction rolls back with
    ``ConcurrentWriteError``).

    Returns the new version, or the current one when nothing needs
    compaction. Data is byte-for-byte equivalent; only layout changes.
    """
    v, man = state._current()
    if v is None:
        raise ValueError("cannot compact an empty state table")
    files = man["files"]
    frag = {
        b
        for b, listed in man["buckets"].items()
        if generations(listed) > 1
        or needs_compaction(
            census(
                files[rel]["bytes"] * files[rel]["counts"][b]
                // files[rel]["rows"]
                for rel in listed
            ),
            target_file_bytes=target_file_bytes,
            min_files=min_files,
        )
    }
    # close over shared files: every bucket listing a file a compacted
    # bucket lists is compacted too, so each file read here leaves the
    # manifest whole (its stale rows and its version pin with it)
    while True:
        shared = {rel for b in frag for rel in man["buckets"][b]}
        grown = frag | {
            b
            for b, listed in man["buckets"].items()
            if shared.intersection(listed)
        }
        if grown == frag:
            break
        frag = grown
    if not frag:
        return v

    live = state._live_files(man, frag)
    read_bytes = sum(files[rel]["bytes"] for rel in live)
    n_out = max(len(frag), math.ceil(read_bytes / target_file_bytes))
    rows = state._read(man, frag).repartitionByRange(
        n_out, state._bucket_expr(), *state.keys
    )
    return state.overwrite_buckets(
        rows, frag, version=v, extra_meta={"compaction": True}
    )
