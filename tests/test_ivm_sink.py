"""IncrementalAggregate (streaming/ivm_sink.py): the continuously
maintained aggregate must equal a full recompute over the row state
after every batch, and its storage must inherit untouched buckets.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cdc_spark.streaming.ivm_sink import IncrementalAggregate
from cdc_spark.streaming.state import BucketedStateTable

SCHEMA = "op string, lsn long, k long, grp string, v double"
PAYLOAD = ["grp", "v"]


def _mk(spark, tmp_path, n_buckets=8):
    st = BucketedStateTable(
        spark, str(tmp_path / "rows"), ["k"], n_buckets=n_buckets
    )
    return IncrementalAggregate(
        st,
        str(tmp_path / "agg"),
        ["grp"],
        {"sum_v": F.col("v")},
        n_buckets=4,
    )


def _agg_rows(inc):
    df = inc.read()
    return sorted(
        (r["grp"], r["n_rows"], round(r["sum_v"], 6)) for r in df.collect()
    )


def _recompute(inc):
    state = inc.state.read()
    rows = (
        state.groupBy("grp")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("v").cast("decimal(30,6)"))
            .cast("double")
            .alias("sum_v"),
        )
        .collect()
    )
    return sorted((r["grp"], r["n_rows"], round(r["sum_v"], 6)) for r in rows)


def test_multi_batch_equals_recompute(spark, tmp_path):
    inc = _mk(spark, tmp_path)
    batches = [
        [("c", 1, 1, "a", 1.5), ("c", 2, 2, "a", 2.5), ("c", 3, 3, "b", 4.0)],
        [("u", 4, 1, "b", 1.5), ("c", 5, 4, "c", 9.0)],  # group migration
        [("d", 6, 2, None, None), ("u", 7, 3, "b", 5.0)],
        [("d", 8, 4, None, None)],  # group c vanishes entirely
    ]
    for rows in batches:
        inc.apply(spark.createDataFrame(rows, SCHEMA), PAYLOAD)
        assert _agg_rows(inc) == _recompute(inc)
    # final state: k1->b(1.5), k3->b(5.0); groups a and c gone
    assert _agg_rows(inc) == [("b", 2, 6.5)]


def test_agg_table_inherits_untouched_buckets(spark, tmp_path):
    inc = _mk(spark, tmp_path)
    # many groups spread across the 4 agg buckets
    b1 = [("c", i, i, f"g{i}", float(i)) for i in range(1, 21)]
    inc.apply(spark.createDataFrame(b1, SCHEMA), PAYLOAD)
    v1 = inc.table.current_version()
    man1 = inc.table._load_manifest(v1)
    # touch exactly one group -> at most one agg bucket rewritten
    inc.apply(
        spark.createDataFrame([("u", 100, 1, "g1", 42.0)], SCHEMA), PAYLOAD
    )
    v2 = inc.table.current_version()
    man2 = inc.table._load_manifest(v2)
    inherited = [
        b for b in man1["buckets"] if man2["buckets"][b] == man1["buckets"][b]
    ]
    assert len(man2["touched"]) == 1
    assert len(inherited) == len(man1["buckets"]) - 1
    # inherited buckets list only files of earlier versions, on disk
    for b in inherited:
        for rel in man2["buckets"][b]:
            assert not rel.startswith(f"v{v2}/")
            assert os.path.isfile(os.path.join(inc.table.path, rel))
    assert _agg_rows(inc) == _recompute(inc)


def test_truncate_rebuilds_aggregate(spark, tmp_path):
    inc = _mk(spark, tmp_path)
    inc.apply(
        spark.createDataFrame(
            [("c", 1, 1, "a", 1.0), ("c", 2, 2, "b", 2.0)], SCHEMA
        ),
        PAYLOAD,
    )
    inc.apply(
        spark.createDataFrame(
            [("t", 10, None, None, None), ("c", 11, 5, "z", 7.5)], SCHEMA
        ),
        PAYLOAD,
    )
    assert _agg_rows(inc) == [("z", 1, 7.5)]
    assert _agg_rows(inc) == _recompute(inc)


def test_schema_evolution_widens_pre_images(spark, tmp_path):
    """A batch carrying a column added by a migration (the reference's
    002_user_field) folds against pre-images that predate it: the
    missing column reads as null, the aggregate equals the recompute,
    and rows the batch did not rewrite carry a null ``phone``."""
    inc = _mk(spark, tmp_path)
    inc.apply(
        spark.createDataFrame(
            [
                ("c", 1, 1, "a", 1.0),
                ("c", 2, 2, "a", 2.0),
                ("c", 3, 3, "b", 4.0),
            ],
            SCHEMA,
        ),
        PAYLOAD,
    )
    wide = "op string, lsn long, k long, grp string, v double, phone string"
    inc.apply(
        spark.createDataFrame(
            [("u", 4, 1, "b", None, "555"), ("c", 5, 4, "a", 8.0, "556")],
            wide,
        ),
        [*PAYLOAD, "phone"],
    )
    assert _agg_rows(inc) == _recompute(inc)
    assert _agg_rows(inc) == [("a", 2, 10.0), ("b", 2, 5.0)]
    rows = {r.k: (r.grp, r.v, r.phone) for r in inc.state.read().collect()}
    assert rows == {
        1: ("b", 1.0, "555"),
        2: ("a", 2.0, None),
        3: ("b", 4.0, None),
        4: ("a", 8.0, "556"),
    }


def test_cold_start_first_batch(spark, tmp_path):
    inc = _mk(spark, tmp_path)
    inc.apply(
        spark.createDataFrame([("c", 1, 1, "a", 0.25)], SCHEMA), PAYLOAD
    )
    assert _agg_rows(inc) == [("a", 1, 0.25)]


def test_empty_batch_is_noop(spark, tmp_path):
    inc = _mk(spark, tmp_path)
    inc.apply(
        spark.createDataFrame([("c", 1, 1, "a", 1.0)], SCHEMA), PAYLOAD
    )
    v = inc.state.current_version()
    inc.apply(spark.createDataFrame([], SCHEMA), PAYLOAD)
    assert inc.state.current_version() == v
    assert _agg_rows(inc) == [("a", 1, 1.0)]


def test_pipeline_attach_aggregate(spark, tmp_path):
    """End-to-end through CdcStreamPipeline.attach_aggregate."""
    import json as _json

    from cdc_spark.cdc.registry import SchemaRegistry
    from cdc_spark.streaming.pipeline import CdcStreamPipeline

    reg = SchemaRegistry()
    reg.announce(
        "public",
        "acct",
        [("id", "bigint", True), ("seg", "text"), ("bal", "double precision")],
    )
    pipe = CdcStreamPipeline(
        spark,
        reg,
        "public",
        "acct",
        keys=["id"],
        payload=["seg", "bal"],
        state_path=str(tmp_path / "rows"),
        dialect="pgoutput_json",
        n_buckets=8,
    )
    agg = pipe.attach_aggregate(
        str(tmp_path / "agg"), ["seg"], {"bal_sum": F.col("bal")}
    )

    def doc(op, lsn, id_, seg=None, bal=None):
        d = {"op": op, "schema": "public", "table": "acct", "lsn": lsn,
             "tx_id": 0}
        if op == "d":
            d["key"] = {"id": str(id_)}
        else:
            d["after"] = {"id": str(id_), "seg": seg, "bal": str(bal)}
        return _json.dumps(d)

    src = str(tmp_path / "src")
    os.makedirs(src)
    lines = [
        doc("c", 1, 1, "gold", 10.0),
        doc("c", 2, 2, "iron", 3.5),
        doc("u", 3, 1, "gold", 12.0),
        doc("d", 4, 2),
    ]
    with open(os.path.join(src, "part-0.txt"), "w") as fh:
        fh.write("\n".join(lines))
    q = pipe.start(src, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    rows = sorted(
        (r["seg"], r["n_rows"], r["bal_sum"]) for r in agg.read().collect()
    )
    assert rows == [("gold", 1, 12.0)]


def test_resync_after_state_only_commit(spark, tmp_path):
    """Crash consistency: a row-state commit whose aggregate merge never
    ran (crash between the two) must be caught up on the next apply —
    the aggregate records the row-state version it reflects and replays
    the missed transitions as a bucket-pruned pre/post diff."""
    inc = _mk(spark, tmp_path)
    inc.apply(
        spark.createDataFrame(
            [("c", 1, 1, "a", 1.0), ("c", 2, 2, "b", 2.0)], SCHEMA
        ),
        PAYLOAD,
    )
    # simulate the crash: apply a batch to the ROW STATE ONLY
    inc.state.apply(
        spark.createDataFrame(
            [("u", 3, 1, "a", 10.0), ("c", 4, 3, "b", 5.0)], SCHEMA
        ),
        PAYLOAD,
    )
    assert _agg_rows(inc) != _recompute(inc)  # agg is stale right now
    # the next apply's diff spans the missed version and its own
    inc.apply(
        spark.createDataFrame([("c", 5, 4, "c", 7.0)], SCHEMA), PAYLOAD
    )
    assert _agg_rows(inc) == _recompute(inc)


def test_replayed_batch_folds_zero_delta(spark, tmp_path):
    """At-least-once replay: re-applying a fully committed batch leaves
    the aggregate unchanged (the row-state version it commits holds the
    same rows, so the diff cancels)."""
    inc = _mk(spark, tmp_path)
    b1 = [("c", 1, 1, "a", 1.0), ("c", 2, 2, "b", 2.0)]
    b2 = [("u", 3, 1, "a", 4.0), ("d", 4, 2, None, None)]
    inc.apply(spark.createDataFrame(b1, SCHEMA), PAYLOAD)
    inc.apply(spark.createDataFrame(b2, SCHEMA), PAYLOAD)
    want = _agg_rows(inc)
    inc.apply(spark.createDataFrame(b2, SCHEMA), PAYLOAD)  # replay
    assert _agg_rows(inc) == want
    assert _agg_rows(inc) == _recompute(inc)


def test_adopt_existing_state_backfills(spark, tmp_path):
    """Attaching an IncrementalAggregate to a row state that already
    has data must backfill the aggregate, batch included, in one
    aggregate version."""
    st = BucketedStateTable(spark, str(tmp_path / "rows"), ["k"], n_buckets=8)
    st.apply(
        spark.createDataFrame(
            [("c", 1, 1, "a", 1.0), ("c", 2, 2, "a", 2.0)], SCHEMA
        ),
        PAYLOAD,
    )
    inc = IncrementalAggregate(
        st, str(tmp_path / "agg"), ["grp"], {"sum_v": F.col("v")}, n_buckets=4
    )
    inc.apply(
        spark.createDataFrame([("c", 3, 3, "b", 9.0)], SCHEMA), PAYLOAD
    )
    assert _agg_rows(inc) == [("a", 2, 3.0), ("b", 1, 9.0)]
    assert _agg_rows(inc) == _recompute(inc)
    assert inc.table._versions() == [1]
    assert inc.table._load_manifest(1)["row_version"] == 2


def test_pre_upgrade_agg_without_row_version_rebuilds(spark, tmp_path):
    """An agg manifest with no row_version (written by pre-upgrade
    code) has no diff anchor: sync must FULL-REBUILD, not adopt the
    current row version with a zero delta (which would stamp a stale
    aggregate as in sync)."""
    import json

    inc = _mk(spark, tmp_path)
    inc.apply(
        spark.createDataFrame(
            [("c", 1, 1, "a", 1.0), ("c", 2, 2, "b", 2.0)], SCHEMA
        ),
        PAYLOAD,
    )
    # simulate pre-upgrade metadata: strip row_version from the manifest
    v_agg = inc.table.current_version()
    mp = inc.table._manifest_path(v_agg)
    man = json.load(open(mp))
    man.pop("row_version", None)
    json.dump(man, open(mp, "w"))
    # advance the ROW STATE ONLY (the agg is now stale with no anchor)
    inc.state.apply(
        spark.createDataFrame([("u", 3, 1, "a", 10.0)], SCHEMA), PAYLOAD
    )
    inc._sync_with_state(inc.state.current_version())
    assert _agg_rows(inc) == _recompute(inc)


def test_torn_state_manifest_triggers_rebuild(spark, tmp_path):
    """A torn (half-written) row-state manifest in the replay window
    must fall back to the full rebuild, not crash the sync."""
    inc = _mk(spark, tmp_path)
    inc.apply(
        spark.createDataFrame(
            [("c", 1, 1, "a", 1.0), ("c", 2, 2, "b", 2.0)], SCHEMA
        ),
        PAYLOAD,
    )
    # two state-only commits; tear the INTERMEDIATE one's manifest
    inc.state.apply(
        spark.createDataFrame([("u", 3, 1, "a", 10.0)], SCHEMA), PAYLOAD
    )
    v_mid = inc.state.current_version()
    inc.state.apply(
        spark.createDataFrame([("c", 4, 3, "c", 5.0)], SCHEMA), PAYLOAD
    )
    v_cur = inc.state.current_version()
    with open(inc.state._manifest_path(v_mid), "w") as fh:
        fh.write('{"touched": [')
    # replaying the missed window hits the torn v_mid manifest; the
    # sync must fall back to the full rebuild from the intact v_cur
    inc._sync_with_state(v_cur)
    assert _agg_rows(inc) == _recompute(inc)


def _counted(spark, rows):
    """A change batch whose every row evaluation bumps an accumulator
    (a Python UDF over the key), to count how often an apply re-runs
    the batch's source."""
    seen = spark.sparkContext.accumulator(0)

    def count(k):
        seen.add(1)
        return k

    df = spark.createDataFrame(rows, SCHEMA).withColumn(
        "k", F.udf(count, "long")("k")
    )
    return df, seen


def _stored_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.mark.parametrize(
    "rows",
    [
        [("u", 3, 1, "b", 5.0), ("c", 4, 3, "a", 7.0), ("d", 5, 2, None, None)],
        [("t", 3, None, None, None), ("c", 4, 3, "a", 7.0)],
    ],
    ids=["common", "truncate"],
)
def test_apply_evaluates_each_change_once(spark, tmp_path, rows):
    """The row-state apply's touched-bucket scan materializes the
    batch and its merge reads the stored blocks; the aggregate reads
    only committed versions. So the source runs once per row per
    apply."""
    inc = _mk(spark, tmp_path)
    inc.apply(
        spark.createDataFrame(
            [("c", 1, 1, "a", 1.0), ("c", 2, 2, "b", 2.0)], SCHEMA
        ),
        PAYLOAD,
    )
    batch, seen = _counted(spark, rows)
    inc.apply(batch, PAYLOAD)
    assert seen.value == len(rows)
    assert _agg_rows(inc) == _recompute(inc)


def test_apply_releases_checkpoint_blocks(spark, tmp_path):
    """The batch's and the delta's checkpoint blocks are dropped when
    an apply returns — a common batch, a truncate and a catch-up after
    a row-state-only commit — so a long stream does not hold every
    batch's blocks until a GC."""
    inc = _mk(spark, tmp_path)
    before = _stored_rdds(spark)
    inc.apply(
        spark.createDataFrame(
            [("c", 1, 1, "a", 1.0), ("c", 2, 2, "b", 2.0)], SCHEMA
        ),
        PAYLOAD,
    )
    assert _stored_rdds(spark) <= before
    inc.apply(
        spark.createDataFrame([("u", 3, 1, "b", 4.0)], SCHEMA), PAYLOAD
    )
    assert _stored_rdds(spark) <= before
    inc.apply(
        spark.createDataFrame(
            [("t", 4, None, None, None), ("c", 5, 3, "a", 7.0)], SCHEMA
        ),
        PAYLOAD,
    )
    assert _stored_rdds(spark) <= before
    # a row-state-only commit: the next apply resyncs the aggregate
    inc.state.apply(
        spark.createDataFrame([("c", 6, 4, "c", 1.0)], SCHEMA), PAYLOAD
    )
    inc.apply(
        spark.createDataFrame([("c", 7, 5, "c", 2.0)], SCHEMA), PAYLOAD
    )
    assert _stored_rdds(spark) <= before
    assert _agg_rows(inc) == _recompute(inc)
