"""Continuously-maintained materialized aggregate over CDC state.

Pairs :class:`~cdc_spark.streaming.state.BucketedStateTable` (the row
store the reference's apply loop maintains, ``main.go:115-130``) with
the delta folds of :mod:`cdc_spark.cdc.ivm`: each micro-batch updates
BOTH the row state and a per-group aggregate, and the aggregate is
itself stored as a bucketed state table keyed by the group columns —
so the aggregate write is also a changed-bucket-only rewrite, never a
full-table one. The aggregate follows the row state's commits: it
records the row-state version it reflects (``row_version``) and only
ever reads committed versions, never the batch.

Per batch the work is:

1. the row-state apply (``BucketedStateTable.apply``) commits version
   v: replay guard, one touched-bucket scan that also materializes
   the batch, the merge of the touched buckets;
2. ``_sync_with_state(v)`` works out its anchor: the row-state
   buckets the versions after ``row_version`` touched (their manifests
   record them), read bucket-pruned at ``row_version`` (the pre image)
   and at v (the post image);
3. ``agg_delta`` diffs the two reads into per-group counter deltas
   (exact split-long fixed point, so base ⊕ delta ≡ full recompute
   bit for bit); groups that did not move net to zero and drop out;
4. the checkpointed delta's aggregate buckets are collected in one
   job, their rows are read bucket-pruned and ``merge_agg``ed with the
   delta (one full outer join), and those buckets are rewritten as one
   aggregate version stamped ``row_version`` = v (one file per write
   task, no shuffle: a group-cardinality table is small). Groups whose
   row count reaches zero are not written, so the aggregate never
   carries empty groups; a delta with no groups commits the new
   ``row_version`` alone.

That one path also covers a replayed ``batch_id`` (the row-state
apply returns the version the aggregate already reflects: no work), a
truncate (it touched every bucket, so the diff is O(state) by
necessity) and a crash between the two commits (the next apply diffs
every missed version at once). With no usable anchor (no aggregate
yet, no recorded ``row_version``, a row state behind it, a torn or
vacuumed pre version) the pre image is empty over every row bucket and
the delta, merged onto an empty aggregate, rewrites every aggregate
bucket: one full aggregation. Otherwise cost is O(touched buckets):
the resync scans the touched buckets of both versions, and partial
aggregation keeps its shuffle O(groups).
"""

from __future__ import annotations

import json
import os

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_spark.cdc.ivm import agg_delta, finish_agg, merge_agg
from cdc_spark.streaming.state import BucketedStateTable, _local_checkpoints


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
        """Apply one change batch to the row state, then bring the
        aggregate up to the version that apply returns.

        Returns the row-state version. The row-state apply evaluates
        each change row once and skips a replayed ``batch_id``; the
        aggregate reads only committed row-state versions, so a crash
        between the two commits is caught up by the next apply."""
        v = self.state.apply(
            changes, payload, lsn_col=lsn_col, op_col=op_col, batch_id=batch_id
        )
        self._sync_with_state(v)
        return v

    # --- agg/state consistency ---------------------------------------
    def _sync_with_state(self, v_cur: int | None) -> None:
        """Bring the aggregate up to the row state's version ``v_cur``.

        The row state and the aggregate are two tables with no shared
        commit. Every aggregate version records the row-state version
        it reflects (``row_version``); the transitions since then are
        folded as one pre/post diff of exactly the buckets they
        touched (the state manifests record them) — O(touched
        buckets), not O(state). So a crash (or a failed batch) between
        the two commits never leaves the aggregate silently stale,
        and a replayed batch whose effects are already in the row
        state folds nothing: effectively-once aggregate maintenance on
        top of an at-least-once stream. A truncating batch is folded
        the same way: it touched every bucket.

        Without a usable anchor (see the module notes) the pre image is
        empty over every row bucket and the delta replaces the whole
        aggregate: a zero-delta "adopt ``v_cur``" would stamp a
        possibly-stale aggregate as in sync."""
        if v_cur is None:
            return
        _, man = self.table._current()
        rv = None if man is None else man.get("row_version")
        if rv == v_cur:
            return
        post_man = self.state._load_manifest(v_cur)
        pre_man, missed = self._anchor(rv, post_man)
        pre = None if pre_man is None else self.state._read(pre_man, missed)
        post = self.state._read(post_man, missed)
        with _local_checkpoints() as checkpoint:
            delta = checkpoint(
                agg_delta(
                    pre, post, self.group_cols, self.measures, scale=self.scale
                )
            )
            self._merge_delta(
                delta, None if pre is None else man, row_version=v_cur
            )

    def _anchor(
        self, rv: int | None, post_man: dict
    ) -> tuple[dict | None, list[int] | None]:
        """(manifest of row-state version ``rv``, the row buckets the
        versions after it up to ``post_man``'s touched), or (None,
        None) when ``rv`` is no usable diff anchor."""
        v_cur = post_man["version"]
        if rv is None or rv > v_cur:
            return None, None
        try:
            mans = [self.state._load_manifest(w) for w in range(rv, v_cur)]
        except (FileNotFoundError, json.JSONDecodeError):
            return None, None
        mans.append(post_man)
        missed = sorted({int(b) for m in mans[1:] for b in m["touched"]})
        # vacuum may keep the pre version's directory (a retained
        # manifest lists its files) yet remove older files that the pre
        # manifest lists
        for rel in self.state._live_files(mans[0], missed):
            if not os.path.exists(os.path.join(self.state.path, rel)):
                return None, None
        return mans[0], missed

    def _merge_delta(
        self, delta: DataFrame, man: dict | None, *, row_version: int
    ) -> None:
        """Fold a (checkpointed) per-group delta into the aggregate
        version ``man`` and commit the next one.

        One job collects the agg buckets the delta lands in (it also
        fills the checkpoint); those buckets are read and merged with
        the delta by one full outer join (groups the delta misses carry
        over, dead groups are not written) and committed in one write
        job. ``man`` None merges onto an empty aggregate instead and
        rewrites every bucket, committed after the current version."""
        gc = self.group_cols
        at = self.table
        if man is None:
            _, man = at._current()  # planned against, never read
            bucket_ids = set(range(at.n_buckets))
            content = merge_agg(None, delta, gc)
        else:
            binfo = delta.agg(
                F.collect_set(at._bucket_expr()).alias("bs")
            ).first()
            bucket_ids = {int(b) for b in binfo["bs"] or ()}
            # nothing moved: commit the row_version alone
            content = None
            if bucket_ids:
                content = merge_agg(at._read(man, bucket_ids), delta, gc)
        at._commit_new_version(
            content, bucket_ids, man, {"row_version": row_version}
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
