"""Binary pgoutput wire dialect: golden frames → canonical envelope.

Frames are synthesized with the module's encoders (same layout the
reference decodes in examples/pgoutput/main.go:338-409; spec:
postgresql.org/docs/current/protocol-logicalrep-message-formats.html)
and mirror the reference's events/*.json insert/update/delete story.
"""

from __future__ import annotations

import gc
import uuid
import weakref

import pytest
from pyspark.sql import functions as F

import cdc_spark.cdc.pgoutput_wire as W
from cdc_spark.cdc.envelope import CANONICAL_FIELDS, split_dead_letter
from cdc_spark.cdc.merge import apply_changes
from cdc_spark.cdc.registry import SchemaRegistry
from cdc_spark.streaming.state import BucketedStateTable

REL = 16385
COLS = [
    (True, "id", 23, 0xFFFFFFFF),
    (False, "firstname", 25, 0xFFFFFFFF),
    (False, "lastname", 25, 0xFFFFFFFF),
]


def _df(spark, frames):
    return spark.createDataFrame(
        [(i, bytearray(f)) for i, f in enumerate(frames)],
        "ord long, value binary",
    )


@pytest.fixture(scope="module")
def golden(spark):
    """The reference fixtures' story: insert Johny Rambo, update to
    Kowalski, delete — plus a second surviving key."""
    frames = [
        W.encode_begin(1000, 1_000_000, 501),
        W.encode_relation(REL, "public", "users", ord("d"), COLS),
        W.encode_insert(REL, [("t", "1"), ("t", "Johny"), ("t", "Rambo")]),
        W.encode_insert(REL, [("t", "2"), ("t", "Jane"), ("t", "Doe")]),
        W.encode_commit(1001, 1002, 1_000_001),
        W.encode_begin(2000, 2_000_000, 502),
        W.encode_update(
            REL,
            [("t", "1"), ("t", "Johny"), ("t", "Kowalski")],
            old=[("t", "1")],
            old_kind="K",
        ),
        W.encode_delete(REL, [("t", "2")], "K"),
        W.encode_commit(2001, 2002, 2_000_001),
    ]
    return W.parse_pgoutput_binary(_df(spark, frames), order_col="ord")


def test_canonical_shape(golden):
    assert list(golden.columns) == list(CANONICAL_FIELDS)
    assert golden.schema.simpleString() == (
        "struct<op:string,src_schema:string,src_table:string,lsn:bigint,"
        "tx_id:bigint,commit_ts:timestamp,key:map<string,string>,"
        "before:map<string,string>,after:map<string,string>,"
        "col_types:map<string,string>,origin:string,replica_identity:string>"
    )
    rows = {
        (r.op, r.key["id"]): r for r in golden.collect()
    }
    ins = rows[("c", "1")]
    assert ins.src_schema == "public" and ins.src_table == "users"
    assert ins.after == {"id": "1", "firstname": "Johny", "lastname": "Rambo"}
    assert ins.tx_id == 501
    upd = rows[("u", "1")]
    assert upd.after["lastname"] == "Kowalski"
    assert upd.before == {"id": "1"}  # replica identity K: key-only image
    assert upd.tx_id == 502
    dele = rows[("d", "2")]
    assert dele.after is None and dele.key == {"id": "2"}


def test_golden_merge_roundtrip(spark, golden):
    """Decode → typed materialize → merge ≡ the reference fixtures'
    final table state."""
    reg = SchemaRegistry()
    reg.announce(
        "public",
        "users",
        [("id", "integer", True), ("firstname", "text"), ("lastname", "text")],
    )
    typed = reg.materialize(golden, "public", "users")
    state = apply_changes(None, typed, ["id"], ["firstname", "lastname"])
    got = {(r.id, r.firstname, r.lastname) for r in state.collect()}
    assert got == {(1, "Johny", "Kowalski")}


def test_unchanged_toast_vs_real_null(spark):
    """flag 'u' → column absent (unchanged); flag 'n' → present null
    (real NULL) — and materialize keeps them distinguishable."""
    frames = [
        W.encode_relation(REL, "public", "users", ord("d"), COLS),
        W.encode_insert(REL, [("t", "1"), ("t", "A"), ("t", "B")]),
        W.encode_update(REL, [("t", "1"), ("u", None), ("n", None)]),
    ]
    out = W.parse_pgoutput_binary(_df(spark, frames), order_col="ord")
    upd = out.where(F.col("op") == "u").collect()[0]
    assert "firstname" not in upd.after          # unchanged TOAST
    assert "lastname" in upd.after               # real NULL:
    assert upd.after["lastname"] is None         #   present, null

    reg = SchemaRegistry()
    reg.announce(
        "public",
        "users",
        [("id", "integer", True), ("firstname", "text"), ("lastname", "text")],
    )
    typed = reg.materialize(out, "public", "users")
    state = apply_changes(None, typed, ["id"], ["firstname", "lastname"])
    r = state.collect()[0]
    # the merge chain: insert(A,B) then update(u, n) → firstname keeps
    # A (unchanged), lastname … null is genuinely folded as unchanged
    # at merge level (documented caveat) but materialize itself must
    # yield NULL for the update row:
    u_row = typed.where(F.col("op") == "u").collect()[0]
    assert u_row.lastname is None
    assert r.firstname == "A"


def test_origin_per_transaction(spark):
    frames = [
        W.encode_relation(REL, "public", "users", ord("d"), COLS),
        W.encode_begin(1000, 1, 1),
        W.encode_origin(1000, "region-a"),
        W.encode_insert(REL, [("t", "1"), ("t", "a"), ("t", "b")]),
        W.encode_commit(1001, 1002, 2),
        W.encode_begin(2000, 3, 2),
        W.encode_insert(REL, [("t", "2"), ("t", "c"), ("t", "d")]),
        W.encode_commit(2001, 2002, 4),
    ]
    out = W.parse_pgoutput_binary(_df(spark, frames), order_col="ord")
    by_key = {r.key["id"]: r.origin for r in out.collect()}
    assert by_key == {"1": "region-a", "2": None}  # origin resets at B


def test_truncate_explodes_per_relation(spark):
    rel2 = REL + 1
    frames = [
        W.encode_relation(REL, "public", "users", ord("d"), COLS),
        W.encode_relation(rel2, "public", "accounts", ord("d"), COLS),
        W.encode_truncate([REL, rel2], 1),
    ]
    out = W.parse_pgoutput_binary(_df(spark, frames), order_col="ord")
    got = {(r.op, r.src_table) for r in out.collect()}
    assert got == {("t", "users"), ("t", "accounts")}


def test_malformed_frame_dead_letters(spark):
    frames = [
        W.encode_relation(REL, "public", "users", ord("d"), COLS),
        b"Zjunk",
        b"I\x00\x00",  # truncated insert
        W.encode_insert(REL, [("t", "1"), ("t", "a"), ("t", "b")]),
    ]
    out = W.parse_pgoutput_binary(_df(spark, frames), order_col="ord")
    good, dead = split_dead_letter(out)
    assert good.count() == 1
    assert dead.count() == 2


def test_type_announcement_feeds_registry(spark):
    mood_oid = 90001
    cols = COLS + [(False, "mood", mood_oid, 0xFFFFFFFF)]
    frames = [
        W.encode_type(mood_oid, "public", "mood"),
        W.encode_relation(REL, "public", "users", ord("d"), cols),
    ]
    dec = W.decode_frames(_df(spark, frames), order_col="ord")
    reg = SchemaRegistry()
    W.announce_to_registry(reg, dec)
    spec = {c.name: c.pg_type for c in reg.current("public", "users").columns}
    assert spec["id"] == "integer"
    assert spec["mood"] == "mood"  # in-band 'Y' name, not the raw oid


def test_relation_announcements_view(spark):
    frames = [W.encode_relation(REL, "public", "users", ord("d"), COLS)]
    dec = W.decode_frames(_df(spark, frames), order_col="ord")
    rows = W.relation_announcements(dec).collect()
    assert [(r.col_name, r.is_key) for r in rows] == [
        ("id", True),
        ("firstname", False),
        ("lastname", False),
    ]


def test_schema_evolution_midstream(spark):
    """A second 'R' frame with an extra column re-resolves subsequent
    tuples — the RelationSet.Add behavior (main.go:425-427), as an
    as-of association instead of mutable state."""
    cols2 = COLS + [(False, "email", 25, 0xFFFFFFFF)]
    frames = [
        W.encode_relation(REL, "public", "users", ord("d"), COLS),
        W.encode_insert(REL, [("t", "1"), ("t", "a"), ("t", "b")]),
        W.encode_relation(REL, "public", "users", ord("d"), cols2),
        W.encode_insert(
            REL, [("t", "2"), ("t", "c"), ("t", "d"), ("t", "e@x")]
        ),
    ]
    out = W.parse_pgoutput_binary(_df(spark, frames), order_col="ord")
    by_key = {r.key["id"]: r.after for r in out.collect()}
    assert "email" not in by_key["1"]
    assert by_key["2"]["email"] == "e@x"


def test_partition_col_resolves_context_per_source_partition(spark):
    """Two source partitions interleaved by ``ord``, each with its own
    transaction and its own announcement of the same relation id: every
    change takes xid, commit time, relation and columns from its own
    partition, never from the other partition's nearer frames."""
    rows = [
        (0, W.encode_begin(10, 100, 7)),
        (1, W.encode_begin(20, 200, 8)),
        (0, W.encode_relation(REL, "public", "users", ord("d"), COLS)),
        (1, W.encode_relation(REL, "public", "accts", ord("d"), COLS[:2])),
        (0, W.encode_insert(REL, [("t", "1"), ("t", "a"), ("t", "b")])),
        (1, W.encode_insert(REL, [("t", "2"), ("t", "c")])),
        (0, W.encode_commit(11, 12, 101)),
        (1, W.encode_commit(21, 22, 201)),
    ]
    raw = spark.createDataFrame(
        [(i, p, bytearray(f)) for i, (p, f) in enumerate(rows)],
        "ord long, part int, value binary",
    )
    out = W.parse_pgoutput_binary(raw, order_col="ord", partition_col="part")
    got = {
        r.part: (r.tx_id, r.ts, r.src_table, r.after)
        for r in out.selectExpr("*", "unix_micros(commit_ts) AS ts").collect()
    }
    assert got == {
        0: (7, W.PG_EPOCH_US + 100, "users",
            {"id": "1", "firstname": "a", "lastname": "b"}),
        1: (8, W.PG_EPOCH_US + 200, "accts", {"id": "2", "firstname": "c"}),
    }


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs run)."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "test_pgoutput_wire")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_slice_decodes_each_frame_once(spark, tmp_path):
    """A bounded slice's announce → parse → materialize → state apply
    runs the Python decode once: the announce's one job fills the
    decode checkpoint, and the parse and the apply read its blocks."""
    seen = spark.sparkContext.accumulator(0)

    def count(v):
        seen.add(1)
        return v

    frames = [
        W.encode_begin(1000, 1_000_000, 501),
        W.encode_relation(REL, "public", "users", ord("d"), COLS),
        W.encode_insert(REL, [("t", "1"), ("t", "A"), ("t", "B")]),
        W.encode_insert(REL, [("t", "2"), ("t", "C"), ("t", "D")]),
        W.encode_update(REL, [("t", "1"), ("t", "A"), ("t", "Z")]),
        W.encode_delete(REL, [("t", "2")], "K"),
        W.encode_commit(1001, 1002, 1_000_001),
    ]
    raw = _df(spark, frames).withColumn(
        "value", F.udf(count, "binary")("value")
    )
    reg = SchemaRegistry()
    _, jobs = _jobs(
        spark,
        lambda: W.announce_to_registry(
            reg, W.decode_frames(raw, order_col="ord")
        ),
    )
    assert jobs == 1
    assert seen.value == len(frames)
    changes = W.parse_pgoutput_binary(raw, order_col="ord")
    typed = reg.materialize(changes, "public", "users")
    state = BucketedStateTable(spark, str(tmp_path / "s"), ["id"], n_buckets=4)
    state.apply(typed, ["firstname", "lastname"])
    assert seen.value == len(frames)
    assert [tuple(r) for r in state.read().collect()] == [(1, "A", "Z")]


def _lazy_merge(spark):
    """The cdc10 shape: ``raw`` is local, the result is lazy."""
    raw = _df(
        spark,
        [
            W.encode_relation(REL, "public", "users", ord("d"), COLS),
            W.encode_insert(REL, [("t", "1"), ("t", "A"), ("t", "B")]),
            W.encode_update(REL, [("t", "1"), ("t", "A"), ("t", "Z")]),
        ],
    )
    reg = SchemaRegistry()
    W.announce_to_registry(reg, W.decode_frames(raw, order_col="ord"))
    typed = reg.materialize(
        W.parse_pgoutput_binary(raw, order_col="ord"), "public", "users"
    )
    return apply_changes(None, typed, ["id"], ["firstname", "lastname"])


def test_lazy_result_outlives_its_raw_frame(spark):
    """The memo releases nothing when ``raw`` dies: a lazy result
    built on the decode still evaluates afterwards."""
    out = _lazy_merge(spark)
    gc.collect()
    assert [tuple(r) for r in out.collect()] == [(1, "A", "Z")]


def test_memo_holds_raw_weakly(spark):
    gc.collect()
    n_before = len(W._decoded)
    raw = _df(spark, [W.encode_relation(REL, "public", "users", 1, COLS)])
    decoded = W.decode_frames(raw, order_col="ord")
    assert W.decode_frames(raw, order_col="ord") is decoded
    assert len(W._decoded) == n_before + 1
    ref = weakref.ref(raw)
    del raw
    gc.collect()
    assert ref() is None
    assert len(W._decoded) == n_before
    assert decoded.count() == 1


def test_streaming_decode_matches_batch_decode(spark, tmp_path):
    frames = [
        W.encode_begin(1000, 1_000_000, 501),
        W.encode_relation(REL, "public", "users", ord("d"), COLS),
        W.encode_insert(REL, [("t", "1"), ("t", "A"), ("t", "B")]),
        W.encode_commit(1001, 1002, 1_000_001),
    ]
    src = str(tmp_path / "frames")
    _df(spark, frames).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("ord long, value binary").parquet(src)
    dec = W.decode_frames(stream, order_col="ord")
    assert dec.isStreaming
    name = f"wire_{uuid.uuid4().hex}"
    q = (
        dec.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    batch = W.decode_frames(spark.read.parquet(src), order_col="ord")

    def rows(df):
        return sorted(df.collect(), key=lambda r: r["__order"])

    assert rows(spark.table(name)) == rows(batch)
    assert len(rows(batch)) == len(frames)
