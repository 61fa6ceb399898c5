"""Hash-bucketed versioned state: changed-bucket-only incremental apply.

The reference applies each decoded change to its sink continuously
(``examples/pgoutput/main.go:115-130`` — per-row apply as messages
arrive). The distributed analog must NOT rewrite the whole
materialized table per micro-batch: at 100 TB of state, apply cost has
to be O(touched buckets), not O(state). This module provides
Delta-MERGE-shaped semantics without Delta jars:

- state is hash-bucketed by key: ``pmod(xxhash64(keys), n_buckets)``;
- each version writes one flat parquet file per write task, sorted
  by the ``__bucket`` column it carries; a MANIFEST maps each bucket
  id → the files holding its live rows, plus each file's rows per
  bucket and bytes.
  A file can span buckets, so a read filters each file to the
  requested buckets that still list it. Untouched buckets are
  *inherited*: their lists keep naming older files, which are never
  rewritten (byte-identical by construction, asserted in tests);
- a micro-batch rewrites only the buckets its keys hash into (a
  truncate dirties every bucket — it wipes all keys);
- a version commits in one atomic step: data and an fsync'd manifest
  go to a writer-private staging directory ``v{n}.{token}``, renamed
  onto ``v{n}``; the rename fails if another writer committed ``v{n}``
  first. The current version is the highest ``v{n}`` whose manifest
  loads, so a crash mid-write never leaves a half-written version;
- immutable versions double as the audit trail: ``read(version=...)``
  time-travels. A snapshot table (a rollup, a published audit
  snapshot) is the ``n_buckets=1`` case: ``overwrite_buckets(rows,
  [0])`` replaces the whole content as one new version.

Sizing: pick ``n_buckets`` so a bucket is a few tens of GB at the
target scale (100 TB / 4096 ≈ 25 GB). A batch touching k distinct
buckets costs k bucket rewrites; the worst case (keys spread over all
buckets) degenerates to a full MERGE, which is what any engine pays.
"""

from __future__ import annotations

import errno
import json
import os
import shutil
import uuid
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from cdc_spark.cdc.merge import apply_changes

_BUCKET = "__bucket"

# Generation cap for insert-only appends (round 14): an
# ``apply(..., insert_only=True)`` APPENDS the batch's files to each
# touched bucket's list — O(batch) written bytes, the LSM discipline
# for the commonest CDC-dedup shape (probe, anti-join, insert the
# provably-new keys). When a touched bucket's list names
# MAX_GENERATIONS distinct versions the apply takes the merge path,
# which folds it back to one version's files — bounded read
# amplification, coarse compaction.
MAX_GENERATIONS = 8


def generations(files: Sequence[str]) -> int:
    """Distinct versions a bucket's file list names (``vK/...``)."""
    return len({rel.split("/", 1)[0] for rel in files})


class TouchedInfo(NamedTuple):
    """What one change batch touches — the result of the single 1-row
    scan :meth:`BucketedStateTable.scan` runs, or a caller's own
    equivalent (which then skips the scan)."""

    buckets: set
    has_truncate: bool
    # high LSN of the batch (the applied-LSN watermark); None when the
    # caller does not track it
    max_lsn: int | None = None
    # any op other than c/r: such a batch cannot take the insert-only
    # append path (conservative default for caller-built records)
    has_non_insert: bool = True


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this writer's version (or a later one)
    between this writer's read and its commit. The loser removes only
    its own staging directory; retry the apply against the new current
    version. One writer per table is the supported regime — a
    Structured Streaming sink serializes batches per checkpoint; this
    guard turns a misconfigured second pipeline into a clean error
    instead of silent lost updates."""


def local_fs_path(path: str) -> str:
    """The state layer's single filesystem seam (round 14).

    Manifests, the commit's directory rename, commit-time file stats
    and staged shard moves all use plain local-file IO (``open``/
    ``os.rename``/``shutil``). That is correct in this harness — every
    state path is a local temp directory by design — but silently
    WRONG against object storage: ``os.listdir("s3://…")`` raises, and
    no atomic directory rename exists to commit with. This function is
    the one place that assumption lives:
    accepts a bare local path or a ``file:`` URI (normalized to the
    bare path), and fails loudly for any other scheme — an object-
    store deployment must route this seam through the Hadoop FS API
    instead of getting wrong results from ``os`` calls on a URI."""
    scheme, sep, rest = path.partition("://")
    if sep:
        if scheme != "file":
            raise NotImplementedError(
                "BucketedStateTable file IO is local-filesystem only; "
                f"got scheme {scheme!r} in {path!r} — this seam needs a "
                "Hadoop-FS-backed implementation for object storage"
            )
        # file://host/p or file:///p -> /p (no remote-host support)
        host, slash, tail = rest.partition("/")
        if host not in ("", "localhost"):
            raise NotImplementedError(
                f"file: URI with remote host {host!r} in {path!r}"
            )
        return "/" + tail if slash else "/"
    if path.startswith("file:"):
        return path[len("file:") :]
    return path


@contextmanager
def _local_checkpoints() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Evaluate-once scope for the frames an apply reads repeatedly.

    Yields ``checkpoint(df)``, which returns ``df.localCheckpoint(
    eager=False)``: no job runs, and the first action over the result
    (the apply's 1-row touched-bucket scan for a change batch) stores
    its partitions on the executors while it computes them. Every
    later read — the IVM delta fold, the pre-image key semi-join, the
    state merge — reads those blocks instead of re-running the batch's
    source, so each change row is evaluated once per apply. That pays
    for a source that is costly to re-run (rows built in Python, a
    decode). A parquet-backed batch is not helped: the scan job used
    to read only its key, op and lsn columns and now copies whole
    rows, which measured slower for wide batches. Not ``persist()``:
    see the note in ``merge.apply_changes``.

    On exit every checkpoint taken in the scope drops its blocks at
    once; left to garbage collection, a long stream would hold every
    batch's blocks. The blocks live on executors, not in reliable
    storage, and nothing can recompute them: a lost executor makes
    the apply raise instead of rebuilding the rows from lineage. A
    stream replays the failed batch (the ``batch_id`` guard keeps the
    replay exactly-once); any other caller must retry the apply
    itself. ``checkpoint`` may be called from a worker thread."""
    held: list[DataFrame] = []

    def checkpoint(df: DataFrame) -> DataFrame:
        ck = df.localCheckpoint(eager=False)
        held.append(ck)
        return ck

    try:
        yield checkpoint
    finally:
        for ck in held:
            # the checkpoint's plan is the LogicalRDD over the marked RDD
            ck._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _fsync_write(path: str, payload: str) -> None:
    with open(path, "w") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())


def _fsync_dir(path: str) -> None:
    """fsync a directory, so a rename into it survives a crash."""
    dfd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _fsync_replace(tmp: str, dst: str, payload: str) -> None:
    """Durable pointer write: fsync the file, atomic rename, fsync the
    directory so the rename itself survives a crash."""
    _fsync_write(tmp, payload)
    os.replace(tmp, dst)
    _fsync_dir(os.path.dirname(dst) or ".")


class BucketedStateTable:
    """Materialized CDC state, hash-bucketed, with incremental apply."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        *,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.path = local_fs_path(path)  # the one FS-assumption seam
        self.keys = list(keys)
        self.n_buckets = n_buckets
        os.makedirs(self.path, exist_ok=True)

    # --- layout -------------------------------------------------------

    def _version_dir(self, v: int) -> str:
        return os.path.join(self.path, f"v{v}")

    def _manifest_path(self, v: int) -> str:
        return os.path.join(self._version_dir(v), "MANIFEST.json")

    def _load_manifest(self, v: int) -> dict:
        with open(self._manifest_path(v)) as fh:
            return json.load(fh)

    @staticmethod
    def _live_files(man: dict, bucket_ids=None) -> dict[str, frozenset | None]:
        """Files the named buckets (every bucket when None) of manifest
        ``man`` list, each mapped to the buckets a read of it keeps —
        None when all its rows are wanted and live (each bucket it
        holds rows of wants and lists it)."""
        wanted = None if bucket_ids is None else {str(b) for b in bucket_ids}
        live: dict[str, set[str]] = {}
        for b, files in man["buckets"].items():
            if wanted is None or b in wanted:
                for rel in files:
                    live.setdefault(rel, set()).add(b)
        return {
            rel: None
            if man["files"][rel]["counts"].keys() <= bs
            else frozenset(int(b) for b in bs)
            for rel, bs in live.items()
        }

    def _versions(self) -> list[int]:
        """Numbers of the ``v{n}`` directories, ascending. A staging
        directory ``v{n}.{token}`` is not one."""
        return sorted(
            int(name[1:])
            for name in os.listdir(self.path)
            if name.startswith("v") and name[1:].isdigit()
        )

    def _committed(self) -> Iterator[tuple[int, dict]]:
        """(version, manifest) of each committed version, newest first.
        A version directory whose manifest does not load never
        committed."""
        for v in reversed(self._versions()):
            try:
                man = self._load_manifest(v)
            except (FileNotFoundError, json.JSONDecodeError):
                continue
            yield v, man

    def current_version(self) -> int | None:
        return self._current()[0]

    def _current(self) -> tuple[int | None, dict | None]:
        """(current version, its manifest): the newest committed
        version — one listing and, as a rule, one manifest load."""
        return next(self._committed(), (None, None))

    def _manifest(self, version: int | None = None) -> dict | None:
        """Manifest of ``version``, or of the current version (None on
        an empty table)."""
        if version is None:
            return self._current()[1]
        return self._load_manifest(version)

    # --- bucketing ----------------------------------------------------

    def _bucket_expr(self):
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in self.keys]),
            F.lit(self.n_buckets),
        ).cast("int")

    def scan(
        self, changes: DataFrame, *, lsn_col: str = "lsn", op_col: str = "op"
    ) -> TouchedInfo:
        """One bounded 1-row job: which buckets does this batch touch,
        does it truncate (truncate wipes every key, so every bucket is
        dirty), what is its high LSN (the reference's standby ack
        position, main.go:61-74), and does it carry any op besides
        c/r? A global aggregate — collect_set is capped at n_buckets —
        gets map-side partials and a single-row exchange, ~3x cheaper
        per micro-batch than a grouped shuffle."""
        op = F.col(op_col)
        info = changes.agg(
            F.collect_set(self._bucket_expr()).alias("bs"),
            F.max(op == "t").alias("has_t"),
            F.max(F.col(lsn_col)).alias("mx"),
            F.max(~op.isin("c", "r")).alias("non_ins"),
        ).first()
        return TouchedInfo(
            set(info["bs"] or ()),
            bool(info["has_t"]),
            info["mx"],
            bool(info["non_ins"]),
        )

    # --- read / time travel ------------------------------------------

    def read(
        self, version: int | None = None, *, session=None
    ) -> DataFrame | None:
        """``session`` reparents the scan (e.g. onto a foreachBatch
        micro-batch session so it can compose with the batch frame in
        one SQL text); default is the table's own session."""
        man = self._manifest(version)
        if man is None:
            return None
        return self._read(man, session=session)

    def read_as_of_lsn(self, lsn: int) -> DataFrame | None:
        """Snapshot-consistent read at a replication position: the
        newest version whose applied-LSN watermark is ≤ ``lsn`` (the
        state as it stood when that WAL position had been applied).
        Version manifests double as the LSN→version index — a driver-
        side scan of manifest files, no Spark job; versions predating
        LSN tracking (no watermark recorded) are skipped."""
        for _, man in self._committed():
            applied = man.get("applied_lsn")
            if applied is not None and applied <= lsn:
                return self._read(man)
        return None

    def version_diff(
        self, v_old: int, v_new: int, *, include_old: bool = False
    ) -> DataFrame | None:
        """Reconstruct the change feed between two committed versions
        (the Delta-CDF shape without Delta): one row per key whose
        image differs, tagged ``op`` 'c' (created), 'u' (updated) or
        'd' (deleted), carrying the v_new image (null values on 'd').

        ``include_old=True`` additionally emits each value column's
        v_old image as ``old_<col>`` (Delta CDF's preimage/postimage
        pair) — what a downstream consumer needs to maintain an
        aggregate from the feed alone: delta = f(new) - f(old), no
        read of the base state.

        Manifests double as the change index: a bucket whose file list
        is identical in both manifests was *inherited* through every
        intermediate apply, so none of its keys changed — only buckets
        whose list differs are read and full-outer-diffed.
        Cost is O(changed buckets), not O(state), exactly the apply
        path's discipline applied to auditing. The reference's analog
        is replaying the WAL between two LSNs (``main.go:66-136``);
        here the versioned layout lets us *derive* that feed from
        state alone.
        """
        man_a = self._load_manifest(v_old)
        man_b = self._load_manifest(v_new)
        ba, bb = man_a["buckets"], man_b["buckets"]
        changed = sorted(
            (b for b in set(ba) | set(bb) if ba.get(b) != bb.get(b)),
            key=int,
        )
        old = self._read(man_a, changed)
        new = self._read(man_b, changed)
        vcols = [
            f.name
            for f in new.schema.fields
            if f.name not in self.keys and f.name != _BUCKET
        ]
        # schema evolution between the two versions: a column added
        # after v_old is absent from the old read — its old image is
        # null by definition (the widening rule apply() uses)
        new_types = {f.name: f.dataType for f in new.schema.fields}
        old_img = {
            c: (
                F.col(c)
                if c in old.columns
                else F.lit(None).cast(new_types[c])
            )
            for c in vcols
        }
        o = old.select(
            *self.keys,
            *[old_img[c].alias(f"__old_{c}") for c in vcols],
            F.lit(True).alias("__in_old"),
        )
        n = new.select(
            *self.keys, *vcols, F.lit(True).alias("__in_new")
        )
        j = o.join(n, on=self.keys, how="full_outer")
        differs = F.lit(False)
        for c in vcols:
            differs = differs | ~F.col(c).eqNullSafe(F.col(f"__old_{c}"))
        op = (
            F.when(F.col("__in_old").isNull(), F.lit("c"))
            .when(F.col("__in_new").isNull(), F.lit("d"))
            .when(differs, F.lit("u"))
        )
        old_cols = (
            [F.col(f"__old_{c}").alias(f"old_{c}") for c in vcols]
            if include_old
            else []
        )
        return (
            j.select(op.alias("op"), *self.keys, *vcols, *old_cols)
            .where(F.col("op").isNotNull())
        )

    def read_buckets(
        self, bucket_ids, version: int | None = None
    ) -> DataFrame | None:
        """Bucket-pruned read: only files the named buckets list are
        opened — the I/O analog of partition pruning, O(touched
        buckets) regardless of table size."""
        man = self._manifest(version)
        if man is None:
            return None
        return self._read(man, bucket_ids)

    def _read(self, man: dict, bucket_ids=None, session=None) -> DataFrame:
        """Live rows of the named buckets (every bucket when None):
        files needing the same bucket filter share one scan."""
        spark = session or self.spark
        schema = StructType.fromJson(man["schema"])
        groups: dict[frozenset | None, list[str]] = {}
        for rel, keep in self._live_files(man, bucket_ids).items():
            groups.setdefault(keep, []).append(os.path.join(self.path, rel))
        if not groups:
            return spark.createDataFrame([], schema)
        # The manifest records the table's current schema, so the scan
        # needs no footer-based inference (one listing+schema job per
        # read saved — that fixed cost dominates small micro-batch
        # applies). Files written before a schema evolution may lack
        # newer columns; an explicit user schema makes the parquet
        # reader fill those with null, which is exactly what
        # mergeSchema=true derived by scanning every footer.
        scan = StructType(
            [*schema.fields, StructField(_BUCKET, IntegerType())]
        )
        parts = []
        for keep, paths in groups.items():
            df = spark.read.schema(scan).parquet(*paths)
            if keep is not None:
                df = df.where(F.col(_BUCKET).isin(sorted(keep)))
            parts.append(df.drop(_BUCKET))
        return reduce(DataFrame.union, parts)

    def row_count(self, version: int | None = None) -> int | None:
        """Exact row count of a committed version from its manifest
        alone — no Spark job, no data read (round 13: ``read().count()``
        scanned the whole state for one integer). The commit records
        each file's rows per bucket, and a bucket's live rows are its
        rows in the files it lists, so this equals ``read().count()``
        always — also for a file whose sibling buckets were rewritten
        since."""
        man = self._manifest(version)
        if man is None:
            return None
        return sum(
            man["files"][rel]["counts"][b]
            for b, files in man["buckets"].items()
            for rel in files
        )

    # --- incremental apply -------------------------------------------

    def apply(
        self,
        changes: DataFrame,
        payload: Sequence[str],
        *,
        lsn_col: str = "lsn",
        op_col: str = "op",
        touched_info: TouchedInfo | None = None,
        batch_id: int | None = None,
        insert_only: bool = False,
    ) -> int | None:
        """Merge one batch of typed changes; rewrite only touched
        buckets. Returns the new version (or the current one for an
        empty batch). ``touched_info`` lets a caller that already
        scanned the batch (:meth:`scan`) skip the scan here; an apply
        that scans itself evaluates the batch once
        (:func:`_local_checkpoints`).

        ``insert_only=True`` is the caller's GUARANTEE that no change
        key exists in the current state (e.g. the batch was anti-joined
        against a membership probe first — the dd13 shape). The apply
        then APPENDS the batch's files to the touched buckets' lists
        instead of reading and rewriting bucket contents: written bytes
        are O(batch), never O(touched bucket contents) — at tens-of-GB
        buckets that is the difference between appending megabytes and
        rewriting terabytes per probe batch. Reads union a bucket's
        files (read/read_buckets/version_diff/row_count all do). The
        apply takes the merge path instead — folding the touched
        buckets to one version's files again — when a touched bucket
        already holds ``MAX_GENERATIONS`` generations, when the
        batch truncates, and when it carries any op other than c/r (a
        delete or update must reach the stored row, which an append
        cannot). A violated guarantee — a c/r for a key already stored
        — leaves both images in the bucket, and ``read()`` returns the
        key twice: the caller owns the contract (this table stores
        final images, so it cannot re-check without the probe the
        caller already ran).

        ``batch_id`` (a foreachBatch epoch id) upgrades at-least-once
        replay to exactly-once apply: the committed manifest records
        it, and re-applying the same id is a no-op — the replayed
        batch after a crash between the sink commit and the stream's
        checkpoint commit neither rewrites buckets nor burns a
        version. Every later version inherits the recorded
        ``batch_id`` and applied-LSN watermark until an apply sets
        new ones, so a compaction or a metadata-only commit after the
        batch keeps the replay a no-op.

        The guard compares against the CURRENT manifest only, so the
        state path and the streaming checkpoint form one unit: deleting
        the checkpoint restarts epoch ids at 0, and if the table's last
        manifest already records batch_id=0 from the prior run, the
        first legitimate new batch would be silently dropped. Reset
        (or retarget) both together — never just the checkpoint."""
        # the current manifest is loaded once and serves the replay
        # guard, the append check, the base read, the LSN watermark
        # and the commit
        v_cur, man = self._current()
        if (
            batch_id is not None
            and man is not None
            and man.get("batch_id") == batch_id
        ):
            return v_cur
        with _local_checkpoints() as checkpoint:
            if touched_info is None:
                changes = checkpoint(changes)  # filled by the scan job
                touched_info = self.scan(
                    changes, lsn_col=lsn_col, op_col=op_col
                )
            touched = set(touched_info.buckets)
            if not touched:
                return v_cur  # empty batch: no new version
            any_t = touched_info.has_truncate
            if any_t:
                touched = set(range(self.n_buckets))

            # insert-only append path: no base read, no merge joins —
            # the fold of the batch alone IS the buckets' delta content
            append = (
                insert_only
                and not any_t
                and not touched_info.has_non_insert
                and man is not None
                and not any(
                    generations(man["buckets"].get(str(b), ()))
                    >= MAX_GENERATIONS
                    for b in touched
                )
            )

            base = None
            if (
                man is not None
                and not append
                and any(str(b) in man["buckets"] for b in touched)
            ):
                # read base on the CHANGES frame's session: inside
                # foreachBatch the batch frame lives in a cloned
                # micro-batch session, and apply_changes' one-parse SQL
                # resolves both relations in one session — a base bound
                # to the outer session would not resolve
                base = self._read(man, touched, session=changes.sparkSession)

            if len(touched) < self.n_buckets:
                changes = changes.where(
                    self._bucket_expr().isin([int(b) for b in touched])
                )
            # mid-stream schema evolution: apply_changes widens the
            # base with nulls for payload columns it predates; the
            # committed manifest then records the widened schema, and
            # inherited old files null-backfill on read (_read)
            new_state = apply_changes(
                base,
                changes,
                self.keys,
                payload,
                lsn_col=lsn_col,
                op_col=op_col,
                # the touched-bucket scan already looked at every op:
                # skip the truncate subplan when none is present
                may_truncate=any_t,
            )

            # applied-LSN watermark: the confirmed replication
            # position (monotone across versions; the analog of the
            # standby status update the reference sends every 10s)
            prev_lsn = man.get("applied_lsn") if man is not None else None
            applied = max(
                (x for x in (prev_lsn, touched_info.max_lsn) if x is not None),
                default=None,
            )
            meta = {"batch_id": batch_id, "applied_lsn": applied}
            return self._commit_new_version(
                new_state, touched, man, meta, append=append
            )

    def vacuum(self, *, keep_last: int = 2) -> dict:
        """Version GC: drop history beyond the last ``keep_last``
        versions while never touching a file a retained manifest still
        references.

        Bucket inheritance makes naive deletion wrong: manifest vN may
        list ``vK/part-….parquet`` under bucket i for K << N (the bucket
        was never rewritten since), so a version directory stays pinned
        as long as ANY retained manifest lists one of its files — also
        when only a sibling bucket of that file is still live.
        Unreferenced, unretained version directories (superseded bucket
        rewrites) are removed whole, and so is every staging directory
        whose target is at or below the current version: its commit
        crashed, failed or lost, and can never succeed. Time travel
        shrinks to the retained window; the IVM sink's resync handles a
        vacuumed-away pre version by falling back to a full rebuild.
        O(versions) driver work, no Spark job.

        Returns ``{"removed": [...], "kept": [...]}`` (version ints).
        """
        v_cur = self.current_version()
        if v_cur is None:
            return {"removed": [], "kept": []}
        for name in os.listdir(self.path):
            n, dot, _ = name[1:].partition(".")  # staging: v{n}.{token}
            if name[:1] == "v" and dot and n.isdigit() and int(n) <= v_cur:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        versions = self._versions()
        retained = [v for v in versions if v > v_cur - keep_last]
        pinned: set[int] = set(retained)
        for v in retained:
            try:
                man = self._load_manifest(v)
            except (FileNotFoundError, json.JSONDecodeError):
                continue
            pinned.update(int(rel.split("/")[0][1:]) for rel in man["files"])
        removed = []
        for v in versions:
            if v not in pinned:
                shutil.rmtree(self._version_dir(v), ignore_errors=True)
                removed.append(v)
        return {"removed": removed, "kept": sorted(pinned)}

    def replication_progress(self) -> dict | None:
        """Confirmed replication position + commit metadata of the
        current version — the engine's standby-status surface (the
        reference acks its applied LSN upstream every 10s,
        main.go:61-74; here the manifest IS the ack record). Pure
        manifest reads, no Spark job. ``applied_lsn`` and
        ``batch_id`` are those of the last apply that set them: a
        compaction or a metadata-only commit carries both over."""
        v, man = self._current()
        if man is None:
            return None
        return {
            "version": v,
            "applied_lsn": man.get("applied_lsn"),
            "batch_id": man.get("batch_id"),
            "n_buckets": man["n_buckets"],
            "last_touched_buckets": man.get("touched", []),
        }

    def overwrite_buckets(
        self,
        new_rows: DataFrame | None,
        bucket_ids,
        *,
        version: int | None = None,
        extra_meta: dict | None = None,
    ) -> int:
        """Replace the content of the named buckets with ``new_rows``
        (which must contain only keys hashing into those buckets);
        untouched buckets are inherited. The fast path for callers
        that already computed the buckets' final rows — no merge.
        ``extra_meta`` lands in the new version's manifest (e.g. the
        row-state version a derived aggregate reflects). ``new_rows``
        None with no bucket ids is a metadata-only commit: no Spark
        job, every bucket inherited."""
        return self._commit_new_version(
            new_rows,
            {int(b) for b in bucket_ids},
            self._manifest(version),
            extra_meta,
        )

    def _commit_new_version(
        self,
        new_state: DataFrame | None,
        touched: set,
        prev: dict | None,
        extra_meta: dict | None = None,
        *,
        append: bool = False,
    ) -> int:
        """Write ``new_state`` into the touched buckets of the version
        after ``prev`` (the manifest planned against; None on an empty
        table) and commit it — the only code that writes a version.
        ``new_state`` None writes no rows (touched buckets end up
        empty) and keeps ``prev``'s schema. The manifest inherits
        ``prev``'s ``applied_lsn`` and ``batch_id``; a non-None value
        in ``extra_meta`` replaces an inherited one. Renaming this
        call's own staging directory onto ``v{n}`` commits; it raises
        ``ConcurrentWriteError`` if another writer committed first."""
        v_new = (prev["version"] if prev is not None else 0) + 1
        # never matches v\d+, so no listing takes it for a version
        stage = f"{self._version_dir(v_new)}.{uuid.uuid4().hex}"
        written = {}
        if new_state is None:
            os.makedirs(stage)
            schema = prev["schema"]
        else:
            # no shuffle, no partitionBy: a write costs per file, so
            # each task writes ONE file, sorted by bucket (compaction
            # narrows wide files when single-bucket reads matter)
            out = new_state.withColumn(_BUCKET, self._bucket_expr())
            out = out.sortWithinPartitions(_BUCKET)
            out.write.parquet(stage)
            schema = json.loads(new_state.schema.json())
            written = self._file_stats(stage, v_new)

        # an append extends the touched buckets' lists, a rewrite
        # replaces them; a new file is listed under the touched
        # buckets it holds rows of
        prev_buckets = prev["buckets"] if prev is not None else {}
        buckets = {
            b: list(files)
            for b, files in prev_buckets.items()
            if append or int(b) not in touched
        }
        for rel, f in written.items():
            for b in sorted(f["counts"], key=int):
                if int(b) in touched:
                    buckets.setdefault(b, []).append(rel)
        known = {**(prev["files"] if prev is not None else {}), **written}
        files = {rel: known[rel] for fs in buckets.values() for rel in fs}
        manifest = {
            "version": v_new,
            "n_buckets": self.n_buckets,
            "keys": self.keys,
            "schema": schema,
            "buckets": buckets,
            "files": files,
            "touched": sorted(touched),
        }
        # the watermark and the epoch carry over every commit (a
        # compaction or a metadata-only commit must not reset them)
        if prev is not None:
            manifest.update(
                (k, prev[k])
                for k in ("applied_lsn", "batch_id")
                if prev.get(k) is not None
            )
        manifest.update(
            (k, v) for k, v in (extra_meta or {}).items() if v is not None
        )
        _fsync_write(
            os.path.join(stage, "MANIFEST.json"),
            json.dumps(manifest, indent=1),
        )
        # a committed version >= v_new: this writer planned against a
        # stale one. Checked before the rename, this also catches a
        # target vacuum removed; after it, a later writer building on
        # this commit would look the same.
        lost = (self.current_version() or 0) >= v_new
        if not lost:
            try:
                os.rename(stage, self._version_dir(v_new))
            except OSError as e:
                # a committed version is never empty: the target exists
                if e.errno not in (errno.ENOTEMPTY, errno.EEXIST):
                    raise
                lost = True
        if lost:
            shutil.rmtree(stage, ignore_errors=True)
            raise ConcurrentWriteError(
                f"state table {self.path}: version {v_new} was committed "
                "by another writer first — re-read and retry"
            )
        _fsync_dir(self.path)
        return v_new

    def _file_stats(self, d: str, v: int) -> dict[str, dict]:
        """Each data file in ``d`` (to commit as version ``v``) with rows
        → its row count per bucket, total rows and bytes: one pyarrow
        read of the file's sorted, run-length-encoded ``__bucket``
        column, no Spark job. '_' and '.' names are metadata, as for a
        scan."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        out = {}
        for name in sorted(os.listdir(d)):
            if name.startswith(("_", ".")):
                continue
            path = os.path.join(d, name)
            col = pq.read_table(path, columns=[_BUCKET])[_BUCKET]
            if not len(col):
                continue
            out[f"v{v}/{name}"] = {
                "counts": {
                    str(vc["values"]): vc["counts"]
                    for vc in pc.value_counts(col).to_pylist()
                },
                "rows": len(col),
                "bytes": os.path.getsize(path),
            }
        return out
