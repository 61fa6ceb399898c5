"""Transactional apply: Begin/Commit barriers over the change stream.

PostgreSQL logical replication frames every transaction's changes
between Begin ('B') and Commit ('C') messages (reference decoder:
``examples/pgoutput/main.go:352-366`` — the demo prints them and
applies rows immediately, which is fine for a console sink). A real
sink must NOT expose a transaction's rows until its Commit arrives:
with micro-batching, a transaction can have its data ops land in
batch N and its COMMIT in batch N+1 (the batch boundary falls inside
the tx), and an in-flight tx that never commits (connection drop,
rollback under streamed protocol) must stay invisible forever.

``TransactionalApply`` keeps two bucketed state tables:

- **target** — the materialized table, advanced only by rows of
  committed transactions (latest-wins per key via ``apply_changes``);
- **pending** — data ops of transactions whose Commit has not been
  seen yet, hash-bucketed by ``tx_id`` so both the admit path (semi
  join against the batch's commits) and the retire path
  (changed-bucket rewrite) stay O(touched buckets).

Per batch: new data ops join the pending pool; ops whose tx_id is in
the batch's commit set (same batch or any earlier pending) move to
the target; everything else stays buffered. WAL order guarantees a
Commit never precedes its data, so the pool only drains forward.
Abort markers ('A', streamed-protocol rollbacks) drop the tx's
pending ops without applying them.

Crash contract (same as the IVM sink): the target is written before
the pending pool is cleaned; a crash in between is healed by the
streaming checkpoint replaying the batch — the recomputed admit set
is identical (pending still holds the rows, the replayed batch holds
the commits), and re-applying identical rows is content-idempotent.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_spark.streaming.state import BucketedStateTable, _local_checkpoints


def filter_committed(
    changes: DataFrame,
    *,
    tx_col: str = "tx_id",
    op_col: str = "op",
    commit_op: str = "C",
    abort_op: str = "A",
    begin_op: str = "B",
) -> DataFrame:
    """Within-batch transaction barrier: keep only data ops whose
    transaction has a commit marker in the same batch.

    The one-shot (non-buffering) form for bounded replays where the
    whole log is a single batch. Commit markers are tx-cardinality —
    the distinct set is tiny relative to the data, so AQE broadcasts
    the semi join's build side.
    """
    op = F.col(op_col)
    data = changes.where(
        (op != commit_op) & (op != abort_op) & (op != begin_op)
    )
    commits = changes.where(op == commit_op).select(tx_col).distinct()
    return data.join(commits, on=tx_col, how="left_semi")


class TransactionalApply:
    """Commit-barrier CDC apply with cross-batch transaction buffering."""

    def __init__(
        self,
        spark: SparkSession,
        target_path: str,
        pending_path: str,
        keys: Sequence[str],
        payload: Sequence[str],
        *,
        tx_col: str = "tx_id",
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.keys = list(keys)
        self.payload = list(payload)
        self.tx_col = tx_col
        self.target = BucketedStateTable(
            spark, target_path, self.keys, n_buckets=n_buckets
        )
        self.pending = BucketedStateTable(
            spark, pending_path, [tx_col], n_buckets=n_buckets
        )

    def apply_batch(
        self,
        batch: DataFrame,
        *,
        lsn_col: str = "lsn",
        op_col: str = "op",
        commit_op: str = "C",
        abort_op: str = "A",
        begin_op: str = "B",
    ) -> int | None:
        """Apply one micro-batch of interleaved data ops + tx markers.

        Returns the new target version (or the current one when no
        transaction completed this batch).
        """
        tx = self.tx_col
        op = F.col(op_col)
        # Begin markers are framing, not data: pooling them would
        # inflate pending_stats forever (an open tx's Begin never
        # drains) and apply them as null-key rows on commit.
        data = batch.where(
            (op != commit_op) & (op != abort_op) & (op != begin_op)
        )
        commits = batch.where(op == commit_op).select(tx).distinct()
        aborts = batch.where(op == abort_op).select(tx).distinct()
        finished = commits.unionByName(aborts).distinct()

        pool_old = self.pending.read()
        pool = (
            data
            if pool_old is None
            else pool_old.unionByName(data, allowMissingColumns=True)
        )
        with _local_checkpoints() as checkpoint:
            # tx-cardinality sets: checkpoint so the admit/retire plans
            # and the two writes evaluate the batch scan once, not four
            # times
            pool = checkpoint(pool)
            ready = pool.join(commits, on=tx, how="left_semi")
            still = pool.join(finished, on=tx, how="left_anti")

            v = self.target.apply(
                ready, self.payload, lsn_col=lsn_col, op_col=op_col
            )

            # pending pool: rewrite only buckets touched by this batch's
            # inserts or retirements (committed AND aborted txns leave)
            touched_tx = data.select(tx).unionByName(finished)
            binfo = touched_tx.select(
                self.pending._bucket_expr().alias("__b")
            ).agg(F.collect_set("__b").alias("bs")).first()
            bucket_ids = sorted(binfo["bs"] or ())
            if bucket_ids:
                in_touched = self.pending._bucket_expr().isin(
                    [int(b) for b in bucket_ids]
                )
                self.pending.overwrite_buckets(
                    still.where(in_touched), bucket_ids
                )
        return v

    def state(self, **kw) -> DataFrame | None:
        """The committed-only materialized table."""
        return self.target.read(**kw)

    def pending_stats(self) -> DataFrame | None:
        """Observability: buffered (uncommitted) rows per transaction —
        the stream's open-transaction watermark."""
        pool = self.pending.read()
        if pool is None:
            return None
        return pool.groupBy(self.tx_col).agg(
            F.count("*").alias("n_buffered"),
            F.min("lsn").alias("first_lsn"),
        )
