"""Continuously-maintained materialized aggregate over CDC state.

Pairs :class:`~cdc_spark.streaming.state.BucketedStateTable` (the row
store the reference's apply loop maintains, ``main.go:115-130``) with
the delta folds of :mod:`cdc_spark.cdc.ivm`: each micro-batch updates
BOTH the row state and a per-group aggregate in O(batch), and the
aggregate is itself stored as a bucketed state table keyed by the
group columns — so the aggregate write is also a changed-bucket-only
rewrite, never a full-table one.

Per batch the work is:

1. the aggregate is synced to the row state's current version
   (``_sync_with_state``; a no-op unless a crash or a replayed
   ``batch_id`` left it behind);
2. one 1-row scan of the batch (``BucketedStateTable.scan``): touched
   buckets, truncate flag, high LSN. The same job materializes the
   batch, so every later step reads stored blocks
   (``state._local_checkpoints``);
3. bucket-pruned read of the row-state buckets the batch touches,
   semi-joined to the batch's keys → pre-images;
4. ``agg_delta_from_batch`` folds the batch with the row-state merge's
   own fold text and emits −pre / +post per key → per-group counter
   deltas (exact split-long fixed point, so base ⊕ delta ≡ full
   recompute bit for bit), concurrently with the normal incremental
   row-state apply, which reuses the scan record;
5. the affected groups' aggregate rows are read bucket-pruned, merged
   with the delta, and the touched aggregate buckets are rewritten
   through ``overwrite_buckets`` as one file per write task (a few
   files, no shuffle: a group-cardinality table is small) — groups
   whose row count reaches zero are simply not written, so the
   aggregate table never carries empty groups;
6. the batch's and the delta's checkpoint blocks are released.

State size appears nowhere: both sides cost O(batch + touched
buckets). A truncate in the batch degrades to O(state) by necessity
(every key dies): steps 3–5 are replaced by the row-state apply,
which rewrites every bucket, and the resync of step 1 against the
new version, whose pre/post diff of every bucket is the delta.
"""

from __future__ import annotations

import json

from collections.abc import Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_spark.cdc.ivm import (
    agg_delta,
    agg_delta_from_batch,
    base_agg,
    finish_agg,
    merge_agg,
)
from cdc_spark.streaming.state import BucketedStateTable, _local_checkpoints

_BUCKET = "__bucket"


class IncrementalAggregate:
    """A materialized per-group aggregate maintained by CDC deltas."""

    def __init__(
        self,
        state: BucketedStateTable,
        agg_path: str,
        group_cols: Sequence[str],
        measures: Mapping[str, Column],
        *,
        scale: int = 6,
        n_buckets: int = 16,
    ):
        self.state = state
        self.group_cols = list(group_cols)
        self.measures = dict(measures)
        self.scale = scale
        self.table = BucketedStateTable(
            state.spark, agg_path, self.group_cols, n_buckets=n_buckets
        )
        self._payload = ["__n"]
        for alias in self.measures:
            self._payload += [f"__hi_{alias}", f"__lo_{alias}"]

    # -----------------------------------------------------------------
    def apply(
        self,
        changes: DataFrame,
        payload: Sequence[str],
        *,
        lsn_col: str = "lsn",
        op_col: str = "op",
        batch_id: int | None = None,
    ) -> int | None:
        """Apply one change batch to the row state AND the aggregate.

        Returns the new row-state version. One bounded 1-row scan job
        per batch (``BucketedStateTable.scan``): its record is passed
        down, so the row-state apply does not scan again. That job
        also materializes the batch, so each change row is evaluated
        once per apply (``state._local_checkpoints``).
        """
        st = self.state
        v_cur, man = st._current()
        # catch the aggregate up first: a crash (or a failed batch)
        # between the row-state commit and the aggregate merge left it
        # behind, also on the batch a replay now skips
        self._sync_with_state(v_cur)
        if (
            batch_id is not None
            and man is not None
            and man.get("batch_id") == batch_id
        ):
            return v_cur  # exactly-once replay skip

        with _local_checkpoints() as checkpoint:
            changes = checkpoint(changes)  # filled by the scan job
            touched_info = st.scan(changes, lsn_col=lsn_col, op_col=op_col)
            if not touched_info.buckets:
                return v_cur
            if touched_info.has_truncate:
                # truncate: every key dies, so the row-state apply
                # rewrites every bucket, and the resync's pre/post
                # diff of all buckets is this batch's delta — O(state)
                # by necessity
                v_new = st.apply(
                    changes,
                    payload,
                    lsn_col=lsn_col,
                    op_col=op_col,
                    touched_info=touched_info,
                    batch_id=batch_id,
                )
                self._sync_with_state(v_new)
                return v_new

            # common path: ONE fold computes both sides of the delta.
            # Pre-images come from a bucket-pruned read semi-joined to
            # the batch's keys; the batch's per-key post-images are
            # derived in the same join (the merge's own fold text —
            # exactly what the state write persists, since
            # apply_changes is per-key), so the new version is never
            # read back and the pre buckets are scanned once.
            # The pre read lives on the CHANGES frame's session, which
            # the one-parse fold SQL needs (see BucketedStateTable.apply).
            pre = None
            if man is not None:
                pre = st._read(
                    man, touched_info.buckets, session=changes.sparkSession
                ).join(
                    changes.select(*st.keys).distinct(),
                    on=st.keys,
                    how="left_semi",
                )
            delta = agg_delta_from_batch(
                pre,
                changes,
                st.keys,
                payload,
                self.group_cols,
                self.measures,
                lsn_col=lsn_col,
                op_col=op_col,
                scale=self.scale,
            )

            # the delta is group-cardinality-sized but its subtree reads
            # the pre-image buckets; downstream actions (agg bucket
            # scan, the writes) would each re-evaluate it — checkpoint
            # once, then every consumer reads the tiny result. The
            # checkpoint reads v_cur's immutable files, so it is
            # independent of the row-state write: its analysis +
            # materialization run in a worker thread CONCURRENTLY with
            # the row-state apply (Spark schedules jobs from separate
            # threads fine), overlapping the two dominant per-batch
            # latencies — Catalyst analysis of the fold plan and the
            # bucket-rewrite write job — instead of paying them
            # serially.
            def _materialize_delta():
                d = checkpoint(delta)
                return d, self._delta_buckets(d)

            with ThreadPoolExecutor(max_workers=1) as pool:
                fut = pool.submit(_materialize_delta)
                v_new = st.apply(
                    changes,
                    payload,
                    lsn_col=lsn_col,
                    op_col=op_col,
                    touched_info=touched_info,
                    batch_id=batch_id,
                )
                delta_ck, bucket_ids = fut.result()
            self._merge_delta(
                delta_ck, row_version=v_new, bucket_ids=bucket_ids
            )
            return v_new

    # --- agg/state consistency ---------------------------------------
    def _sync_with_state(self, v_cur: int | None) -> None:
        """Bring the aggregate up to the row state's version ``v_cur``.

        The row state and the aggregate are two tables with no shared
        commit, so a crash (or a failed batch) between the row-state
        commit and the aggregate merge must not leave the aggregate
        silently stale forever. Every aggregate version records the
        row-state version it reflects (``row_version``); on divergence
        the missed transitions are replayed as one pre/post diff of
        exactly the buckets those transitions touched (the state
        manifests record them) — O(missed touched buckets), not
        O(state). Replaying a batch whose effects are already in the
        row state then folds a zero delta, so the combination gives
        effectively-once aggregate maintenance on top of an
        at-least-once stream. A truncating batch is folded the same
        way: it touched every bucket."""
        if v_cur is None:
            return
        v_agg = self.table.current_version()
        rv = (
            None
            if v_agg is None
            else self.table._load_manifest(v_agg).get("row_version")
        )
        if rv == v_cur:
            return
        try:
            if rv is None:
                # cold start (adopting an existing row state) or a
                # pre-upgrade aggregate with no recorded row_version:
                # there is no anchor to diff from, and a zero-delta
                # "adopt v_cur" would stamp a possibly-stale aggregate
                # as in sync
                raise FileNotFoundError("no row_version anchor")
            missed: set[int] = set()
            for w in range(rv + 1, v_cur + 1):
                missed |= {int(b) for b in self.state._load_manifest(w)["touched"]}
            pre = self.state.read_buckets(sorted(missed), version=rv)
            post = self.state.read_buckets(sorted(missed), version=v_cur)
        except (FileNotFoundError, json.JSONDecodeError):
            # no anchor, or a pre version garbage-collected or torn:
            # rebuild outright with one full aggregation
            content = base_agg(
                self.state.read(version=v_cur),
                self.group_cols,
                self.measures,
                scale=self.scale,
            )
            self.table.overwrite_buckets(
                content,
                range(self.table.n_buckets),
                extra_meta={"row_version": v_cur},
            )
            return
        with _local_checkpoints() as checkpoint:
            delta = checkpoint(
                agg_delta(
                    pre, post, self.group_cols, self.measures, scale=self.scale
                )
            )
            self._merge_delta(delta, row_version=v_cur)

    def _delta_buckets(self, delta: DataFrame) -> list[int]:
        """Materialize the (checkpointed) delta and return the agg
        buckets it lands in — the one job that forces the checkpoint."""
        dd = delta.withColumn(_BUCKET, self.table._bucket_expr())
        binfo = dd.agg(F.collect_set(F.col(_BUCKET)).alias("bs")).first()
        return sorted(binfo["bs"] or ())

    def _merge_delta(
        self,
        delta: DataFrame,
        *,
        row_version: int | None,
        bucket_ids: list[int] | None = None,
    ) -> None:
        """Fold a per-group delta into the stored aggregate.

        The touched agg buckets' new content is computed directly —
        carried-over rows of unaffected groups plus the merged rows of
        affected ones (dead groups simply not written) — and committed
        through ``overwrite_buckets``: one write job, no generic merge
        machinery on a table whose rows we already fully know."""
        gc = self.group_cols
        at = self.table
        v_agg = at.current_version()
        if bucket_ids is None:
            bucket_ids = self._delta_buckets(delta)
        meta = {"row_version": row_version}
        if not bucket_ids:
            # nothing to fold, but the row_version watermark must still
            # advance or every later apply would re-diff these versions
            if v_agg is not None:
                at.overwrite_buckets(None, (), version=v_agg, extra_meta=meta)
            return
        groups = delta.select(*gc)
        if v_agg is None:
            content = merge_agg(None, delta, gc)
        else:
            bucket_rows = at.read_buckets(bucket_ids, version=v_agg)
            affected = bucket_rows.join(groups, on=gc, how="left_semi")
            keep = bucket_rows.join(groups, on=gc, how="left_anti")
            content = keep.unionByName(merge_agg(affected, delta, gc))
        at.overwrite_buckets(
            content, bucket_ids, version=v_agg, extra_meta=meta
        )

    # -----------------------------------------------------------------
    def read(
        self, *, count_alias: str = "n_rows", version: int | None = None
    ) -> DataFrame | None:
        """User-facing aggregate: groups + count + measure doubles."""
        raw = self.table.read(version=version)
        if raw is None:
            return None
        return finish_agg(
            raw,
            self.group_cols,
            list(self.measures),
            scale=self.scale,
            count_alias=count_alias,
        )
