"""Transactional Begin/Commit barrier (cdc/txn.py): uncommitted
transactions stay invisible, commits spanning micro-batches admit the
buffered ops, aborts drop them."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_spark.cdc.txn import TransactionalApply, filter_committed

SCHEMA = "op string, lsn long, tx_id long, k long, v string"
PAYLOAD = ["v"]


def _mk(spark, tmp_path):
    return TransactionalApply(
        spark,
        str(tmp_path / "target"),
        str(tmp_path / "pending"),
        ["k"],
        PAYLOAD,
        n_buckets=4,
    )


def _state_rows(app):
    df = app.state()
    if df is None:
        return []
    return sorted((r.k, r.v) for r in df.collect())


def test_filter_committed_within_batch(spark):
    batch = spark.createDataFrame(
        [
            ("c", 1, 10, 1, "a"),
            ("c", 2, 11, 2, "b"),  # tx 11 never commits
            ("C", 3, 10, None, None),
        ],
        SCHEMA,
    )
    got = filter_committed(batch)
    assert sorted(r.k for r in got.collect()) == [1]


def test_cross_batch_commit_admits_buffered_ops(spark, tmp_path):
    app = _mk(spark, tmp_path)
    # batch 1: tx 10 data only (no commit yet), tx 20 complete
    b1 = spark.createDataFrame(
        [
            ("c", 1, 10, 1, "a"),
            ("c", 2, 20, 2, "b"),
            ("C", 3, 20, None, None),
        ],
        SCHEMA,
    )
    app.apply_batch(b1)
    assert _state_rows(app) == [(2, "b")]  # tx 10 invisible
    stats = {r.tx_id: r.n_buffered for r in app.pending_stats().collect()}
    assert stats == {10: 1}
    # batch 2: more tx 10 data + its commit
    b2 = spark.createDataFrame(
        [
            ("u", 4, 10, 1, "a2"),
            ("C", 5, 10, None, None),
        ],
        SCHEMA,
    )
    app.apply_batch(b2)
    assert _state_rows(app) == [(1, "a2"), (2, "b")]
    assert app.pending_stats().count() == 0


def test_never_committed_tx_stays_invisible(spark, tmp_path):
    app = _mk(spark, tmp_path)
    b = spark.createDataFrame(
        [("c", 1, 10, 1, "a"), ("c", 2, 11, 2, "b"), ("C", 3, 11, None, None)],
        SCHEMA,
    )
    app.apply_batch(b)
    app.apply_batch(spark.createDataFrame([("C", 9, 99, None, None)], SCHEMA))
    assert _state_rows(app) == [(2, "b")]
    assert {r.tx_id for r in app.pending_stats().collect()} == {10}


def test_abort_drops_pending_without_applying(spark, tmp_path):
    app = _mk(spark, tmp_path)
    app.apply_batch(
        spark.createDataFrame([("c", 1, 10, 1, "a")], SCHEMA)
    )
    app.apply_batch(
        spark.createDataFrame([("A", 2, 10, None, None)], SCHEMA)
    )
    assert _state_rows(app) == []
    assert app.pending_stats().count() == 0


def test_batch_replay_is_idempotent(spark, tmp_path):
    """The crash contract: re-applying a fully committed batch (the
    at-least-once replay after a crash between target write and
    pending cleanup) leaves the target unchanged."""
    app = _mk(spark, tmp_path)
    b1 = spark.createDataFrame(
        [("c", 1, 10, 1, "a"), ("C", 2, 10, None, None)], SCHEMA
    )
    app.apply_batch(b1)
    want = _state_rows(app)
    app.apply_batch(b1)  # replay
    assert _state_rows(app) == want


def test_delete_inside_committed_tx(spark, tmp_path):
    app = _mk(spark, tmp_path)
    b = spark.createDataFrame(
        [
            ("c", 1, 10, 1, "a"),
            ("C", 2, 10, None, None),
            ("d", 3, 11, 1, None),
            ("c", 4, 11, 2, "b"),
            ("C", 5, 11, None, None),
        ],
        SCHEMA,
    )
    app.apply_batch(b)
    assert _state_rows(app) == [(2, "b")]


def test_begin_markers_are_framing_not_data(spark, tmp_path):
    """Begin ('B') rows must neither pool as pending data nor apply
    as null-key rows on commit — they are framing, like Commit."""
    app = _mk(spark, tmp_path)
    # tx 10: B + data, no commit yet; tx 20: full B..C envelope
    b1 = spark.createDataFrame(
        [
            ("B", 0, 10, None, None),
            ("c", 1, 10, 1, "a"),
            ("B", 2, 20, None, None),
            ("c", 3, 20, 2, "b"),
            ("C", 4, 20, None, None),
        ],
        SCHEMA,
    )
    app.apply_batch(b1)
    # committed tx 20 applied WITHOUT a null-key row from its Begin
    assert _state_rows(app) == [(2, "b")]
    # open tx 10 buffers only its data op, not its Begin
    stats = {r.tx_id: r.n_buffered for r in app.pending_stats().collect()}
    assert stats == {10: 1}
    # within-batch form drops Begins too
    got = filter_committed(b1)
    assert sorted(r.k for r in got.collect()) == [2]


def test_apply_batch_releases_pool_checkpoint(spark, tmp_path):
    """The pending pool's checkpoint blocks are dropped when a batch
    returns, so a long stream does not hold one pool per batch."""
    app = _mk(spark, tmp_path)

    def stored():
        return {
            i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    before = stored()
    for i in range(3):
        app.apply_batch(
            spark.createDataFrame(
                [("c", 2 * i + 1, 10 + i, i, "a"), ("C", 2 * i + 2, 10 + i, None, None)],
                SCHEMA,
            )
        )
        assert stored() <= before
    assert _state_rows(app) == [(0, "a"), (1, "a"), (2, "a")]
