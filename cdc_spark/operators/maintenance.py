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
and publish as a new immutable version via the same atomic pointer
swap the streaming sink uses. Readers never see a half-compacted
table, and the pre-compaction version stays readable (time travel /
audit).
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import functions as F

from cdc_spark.streaming.state import BucketedStateTable, _fsync_replace


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
    ``needs_compaction`` into byte-budgeted files, publishing a new
    version whose manifest points compacted buckets at the new
    directories and inherits the rest untouched — the same
    O(touched)-not-O(state) discipline as the apply path, applied to
    maintenance.

    One Spark job: the fragmented buckets are read together and
    ``repartitionByRange(n, __bucket, *keys)`` makes output partitions
    contiguous in bucket order, so almost every partition holds a
    single bucket and ``partitionBy`` does not re-fragment (total
    files ≈ ceil(bytes/target) + one boundary file per bucket).

    Returns the new version, or the current one when nothing needs
    compaction. Data is byte-for-byte equivalent; only layout changes.
    """
    v = state.current_version()
    if v is None:
        raise ValueError("cannot compact an empty state table")
    man = state._load_manifest(v)
    frag: dict[str, dict] = {}
    for b, rel in man["buckets"].items():
        # a bucket entry may be a generation LIST (insert-only appends,
        # round 14): census every generation together — compaction is
        # exactly what folds the list back to one directory
        rels = state._rels(rel)
        stats_list = [
            dir_file_stats(os.path.join(state.path, r)) for r in rels
        ]
        stats = {
            "n_files": sum(s["n_files"] for s in stats_list),
            "total_bytes": sum(s["total_bytes"] for s in stats_list),
        }
        stats["avg_file_bytes"] = (
            stats["total_bytes"] // stats["n_files"]
            if stats["n_files"]
            else 0
        )
        if len(rels) > 1 or needs_compaction(
            stats,
            target_file_bytes=target_file_bytes,
            min_files=min_files,
        ):
            frag[b] = stats
    if not frag:
        return v

    total = sum(s["total_bytes"] for s in frag.values())
    n_out = max(len(frag), math.ceil(total / target_file_bytes))
    dirs = [
        os.path.join(state.path, r)
        for b in frag
        for r in state._rels(man["buckets"][b])
    ]
    df = state.spark.read.option("mergeSchema", "true").parquet(*dirs)
    out = df.withColumn("__bucket", state._bucket_expr())

    v_new = v + 1
    target = state._version_dir(v_new)
    (
        out.repartitionByRange(
            n_out, F.col("__bucket"), *[F.col(k) for k in state.keys]
        )
        .write.partitionBy("__bucket")
        .mode("overwrite")
        .parquet(target)
    )
    written = {
        name.split("=", 1)[1]: f"v{v_new}/{name}"
        for name in os.listdir(target)
        if name.startswith("__bucket=")
    }
    buckets = dict(man["buckets"])
    buckets.update(written)
    manifest = {
        "version": v_new,
        "n_buckets": man["n_buckets"],
        "keys": man["keys"],
        "schema": man["schema"],
        "buckets": buckets,
        "touched": sorted(int(b) for b in written),
        "compaction": True,
    }
    _fsync_replace(
        os.path.join(target, "MANIFEST.json.tmp"),
        os.path.join(target, "MANIFEST.json"),
        json.dumps(manifest, indent=1),
    )
    # same optimistic-concurrency commit as the apply path: an apply
    # racing this compaction wins cleanly, the compaction rolls back
    state._commit_pointer(v, v_new)
    return v_new
