"""Streaming semantics: multi-batch CDC apply, checkpoint restart,
windows + watermark late-drop, streaming dedup."""

from __future__ import annotations

import json
import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from cdc_spark.cdc.registry import SchemaRegistry
from cdc_spark.streaming.pipeline import (
    CdcStreamPipeline,
    sessionized_counts,
    stream_dedup,
    windowed_agg,
)
from cdc_spark.streaming.state import BucketedStateTable


def _users_registry() -> SchemaRegistry:
    reg = SchemaRegistry()
    reg.announce(
        "public",
        "users",
        [("id", "integer", True), ("firstname", "text"), ("lastname", "text")],
    )
    return reg


def _wal_doc(kind, values=None, keys=None):
    c = {"kind": kind, "schema": "public", "table": "users"}
    if values:
        c["columnnames"] = ["id", "firstname", "lastname"]
        c["columntypes"] = ["integer", "text", "text"]
        c["columnvalues"] = values
    if keys is not None:
        c["oldkeys"] = {
            "keynames": ["id"],
            "keytypes": ["integer"],
            "keyvalues": keys,
        }
    return json.dumps({"change": [c]})


def _write_file(src_dir, name, docs):
    # write-then-rename so the file source never sees partial files
    tmp = os.path.join(src_dir, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(docs))
    os.replace(tmp, os.path.join(src_dir, name))


@pytest.fixture()
def dirs():
    with tempfile.TemporaryDirectory() as d:
        yield {
            "src": os.path.join(d, "src"),
            "ckpt": os.path.join(d, "ckpt"),
            "state": os.path.join(d, "state"),
        }


def _pipeline(spark, dirs):
    os.makedirs(dirs["src"], exist_ok=True)
    return CdcStreamPipeline(
        spark,
        _users_registry(),
        "public",
        "users",
        keys=["id"],
        payload=["firstname", "lastname"],
        state_path=dirs["state"],
    )


def test_stream_merge_multi_batch(spark, dirs):
    pipe = _pipeline(spark, dirs)
    _write_file(
        dirs["src"],
        "b1.json",
        [
            _wal_doc("insert", [1, "Johny", "Rambo"]),
            _wal_doc("insert", [2, "Jane", "Doe"]),
        ],
    )
    _write_file(
        dirs["src"],
        "b2.json",
        [
            _wal_doc("update", [1, "Johny", "Kowalski"], keys=[1]),
            _wal_doc("delete", keys=[2]),
        ],
    )
    q = pipe.start(dirs["src"], dirs["ckpt"], max_files_per_trigger=1)
    q.awaitTermination(120)

    state = {r.id: r.lastname for r in pipe.state.read().collect()}
    assert state == {1: "Kowalski"}
    # two micro-batches → two state versions
    assert pipe.state.current_version() >= 2


def test_checkpoint_restart_no_reprocessing(spark, dirs):
    pipe = _pipeline(spark, dirs)
    _write_file(dirs["src"], "b1.json", [_wal_doc("insert", [1, "A", "B"])])
    q = pipe.start(dirs["src"], dirs["ckpt"])
    q.awaitTermination(120)
    v_after_first = pipe.state.current_version()

    # restart with the same checkpoint + one new file: only the new
    # file is processed (the reference's resume-from-acked-LSN,
    # main.go:67-74)
    _write_file(
        dirs["src"], "b2.json", [_wal_doc("update", [1, "A2", "B"], keys=[1])]
    )
    q2 = pipe.start(dirs["src"], dirs["ckpt"])
    q2.awaitTermination(120)

    state = {r.id: r.firstname for r in pipe.state.read().collect()}
    assert state == {1: "A2"}
    assert pipe.state.current_version() == v_after_first + 1


def test_versioned_state_table_swap(spark):
    with tempfile.TemporaryDirectory() as d:
        t = BucketedStateTable(spark, d, ["id"], n_buckets=1)
        assert t.read() is None
        t.overwrite_buckets(
            spark.createDataFrame([(1, "a")], "id int, v string"), [0]
        )
        t.overwrite_buckets(
            spark.createDataFrame([(2, "b")], "id int, v string"), [0]
        )
        assert t.current_version() == 2
        assert t.read().collect()[0].id == 2


def _memory_stream(spark, rows, schema):
    """availableNow parquet-source stream from literal rows."""
    d = tempfile.mkdtemp()
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.mode("overwrite").parquet(d)
    return spark.readStream.schema(df.schema).parquet(d)


def test_windowed_agg_streaming(spark):
    rows = [
        (1, "2024-01-01 00:05:00", 1.0),
        (2, "2024-01-01 00:55:00", 2.0),
        (3, "2024-01-01 01:05:00", 4.0),
    ]
    stream = _memory_stream(
        spark, rows, "id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = windowed_agg(stream, "ts", "1 hour")
    name = f"w_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {
        str(r.window_start): (r.n, r.total_value)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert out["2024-01-01 00:00:00"] == (2, 3.0)
    assert out["2024-01-01 01:00:00"] == (1, 4.0)


def test_watermark_drops_late_data(spark):
    """append-mode windowed agg: an event arriving behind the watermark
    is dropped (late-data rule, SURVEY.md §2.3 streaming row)."""
    d = tempfile.mkdtemp()
    schema = "id long, ts timestamp, value double"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    write_batch("b1", [(1, t, 1.0), (2, t + dt.timedelta(hours=3), 1.0)])

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    agg = windowed_agg(stream, "ts", "1 hour", watermark="1 hour")
    name = f"w_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp()
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        # late event: 00:30 is far behind watermark (03:00 - 1h)
        write_batch("b2", [(3, t + dt.timedelta(minutes=30), 100.0)])
        q.processAllAvailable()
        write_batch(
            "b3", [(4, t + dt.timedelta(hours=5), 1.0)]
        )  # push watermark → finalize windows
        q.processAllAvailable()
    finally:
        q.stop()
    vals = {
        str(r.window_start): r.total_value
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    # the 00:00 window must NOT include the late event's 100.0
    assert vals.get("2024-01-01 00:00:00") == 1.0


def test_stream_dedup(spark):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    stream = _memory_stream(
        spark,
        [(1, t, "a"), (1, t, "a-dup"), (2, t, "b")],
        "id long, ts timestamp, v string",
    )
    dedup = stream_dedup(stream, ["id"], "ts")
    name = f"d_{uuid.uuid4().hex[:8]}"
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"SELECT id FROM {name}").collect()
    assert sorted(r.id for r in rows) == [1, 2]


def test_session_window_streaming(spark):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    rows = [
        (1, t, 1.0),
        (1, t + dt.timedelta(minutes=10), 1.0),   # same session
        (1, t + dt.timedelta(hours=2), 1.0),      # new session
        (2, t, 1.0),
    ]
    stream = _memory_stream(spark, rows, "user_id long, ts timestamp, value double")
    sess = sessionized_counts(stream, "ts", "30 minutes", ["user_id"])
    name = f"s_{uuid.uuid4().hex[:8]}"
    q = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        f"SELECT user_id, COUNT(*) AS n FROM {name} GROUP BY user_id"
    ).collect()
    sessions = {r.user_id: r.n for r in out}
    assert sessions == {1: 2, 2: 1}


def test_continuous_rollup_incremental_equals_batch(spark):
    """multi-batch incremental rollup == from-scratch aggregate."""
    import datetime as dt

    from cdc_spark.streaming.rollup import ContinuousRollup

    d = tempfile.mkdtemp()
    schema = "event_id long, ts timestamp, event_type string, value double"
    t = dt.datetime(2024, 1, 1)

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    write_batch(
        [
            (1, t, "click", 1.5),
            (2, t + dt.timedelta(minutes=30), "click", 2.5),
            (3, t + dt.timedelta(hours=1), "view", 4.0),
        ]
    )
    write_batch(
        [
            (4, t + dt.timedelta(minutes=10), "click", 10.0),  # reopens bucket 0
            (5, t + dt.timedelta(hours=2), "view", 1.0),
        ]
    )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    rollup = ContinuousRollup(
        spark,
        tempfile.mkdtemp(),
        dims=["event_type"],
    )
    q = rollup.start(stream, tempfile.mkdtemp())
    q.awaitTermination(180)
    assert rollup.state.current_version() >= 2  # incremental merges ran

    got = {
        (str(r.bucket_start), r.event_type): (r.n, r.sum_value, r.avg_value)
        for r in rollup.read().collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == (3, 14.0, round(14.0 / 3, 6))
    assert got[("2024-01-01 01:00:00", "view")] == (1, 4.0, 4.0)
    assert got[("2024-01-01 02:00:00", "view")] == (1, 1.0, 1.0)


def test_continuous_rollup_replayed_epoch_is_noop(spark, tmp_path):
    """A replayed epoch (a crash between the sink commit and the
    stream's checkpoint commit) must not fold its partials twice."""
    import datetime as dt

    from cdc_spark.streaming.rollup import ContinuousRollup

    rollup = ContinuousRollup(spark, str(tmp_path / "rollup"))
    t = dt.datetime(2024, 1, 1)
    batch = spark.createDataFrame(
        [(t, 1.0), (t + dt.timedelta(minutes=30), 2.0)],
        "ts timestamp, value double",
    )

    def n_sum():
        r = rollup.read().first()
        return (r.n, r.sum_value)

    rollup.apply_batch(batch, 0)
    rollup.apply_batch(batch, 0)  # the replay
    assert n_sum() == (2, 3.0)
    assert rollup.state.current_version() == 1
    rollup.apply_batch(batch, 1)  # a new epoch still folds
    assert n_sum() == (4, 6.0)


def test_continuous_rollup_keeps_one_version(spark, tmp_path):
    """Each epoch replaces the whole rollup, so superseded versions
    are dropped: five epochs leave one version directory."""
    import datetime as dt

    from cdc_spark.streaming.rollup import ContinuousRollup

    rollup = ContinuousRollup(spark, str(tmp_path / "rollup"))
    t = dt.datetime(2024, 1, 1)
    for epoch in range(5):
        rollup.apply_batch(
            spark.createDataFrame(
                [(t, float(epoch))], "ts timestamp, value double"
            ),
            epoch,
        )
    assert rollup.state._versions() == [5]
    assert (rollup.read().first().n, rollup.read().first().sum_value) == (5, 10.0)


def test_multi_table_stream_routing(spark):
    """one change stream carrying two tables; each pipeline materializes
    only its own table (registry-scoped decode), states independent."""
    import tempfile as tf

    reg = SchemaRegistry()
    reg.announce(
        "public", "users",
        [("id", "integer", True), ("firstname", "text"), ("lastname", "text")],
    )
    reg.announce(
        "public", "accounts",
        [("acct_id", "integer", True), ("balance", "text")],
    )

    def doc(table, names, values):
        return json.dumps({"change": [{
            "kind": "insert", "schema": "public", "table": table,
            "columnnames": names,
            "columntypes": ["integer"] + ["text"] * (len(names) - 1),
            "columnvalues": values,
        }]})

    src = tf.mkdtemp()
    _write_file(src, "b1.json", [
        doc("users", ["id", "firstname", "lastname"], [1, "A", "B"]),
        doc("accounts", ["acct_id", "balance"], [7, "100.00"]),
        doc("users", ["id", "firstname", "lastname"], [2, "C", "D"]),
    ])

    users_pipe = CdcStreamPipeline(
        spark, reg, "public", "users", ["id"],
        ["firstname", "lastname"], tf.mkdtemp(),
    )
    accts_pipe = CdcStreamPipeline(
        spark, reg, "public", "accounts", ["acct_id"],
        ["balance"], tf.mkdtemp(),
    )
    q1 = users_pipe.start(src, tf.mkdtemp())
    q2 = accts_pipe.start(src, tf.mkdtemp())
    q1.awaitTermination(120)
    q2.awaitTermination(120)

    assert users_pipe.state.read().count() == 2
    accts = accts_pipe.state.read().collect()
    assert len(accts) == 1 and accts[0].balance == "100.00"


def test_stream_stream_interval_join_matches_batch(spark):
    """st07's watermarked self-join equals the batch range join at
    sf0.001 (same pairs, same per-user counts)."""
    from cdc_spark.queries.streaming_queries import st07_stream_stream_join
    from cdc_spark.queries.temporal_queries import q26_range_join

    sf = "/root/testdata/sf0.001"
    stream_out = {
        r.user_id: r.n_pairs for r in st07_stream_stream_join(spark, sf).collect()
    }
    batch_out = {
        r.user_id: r.n_pairs for r in q26_range_join(spark, sf).collect()
    }
    assert stream_out == batch_out and stream_out


def test_watermark_accepts_timestamp_ntz_event_time(spark):
    """The driver's session reads parquet TIMESTAMP(NANOS) as
    TIMESTAMP_NTZ (pyspark 4.1 default; the nanosAsLong legacy conf is
    a no-op when set post-startup), which withWatermark rejects
    outright. normalize_event_time must canonicalize NTZ → TIMESTAMP so
    every watermark-bearing operator still runs — regression for the
    round-3 st02/st03/st07 gate failures."""
    rows = [
        (1, "2024-01-01 00:05:00", 1.0),
        (1, "2024-01-01 00:06:00", 1.0),  # dup key for dedup path
        (2, "2024-01-01 00:55:00", 2.0),
        (3, "2024-01-01 01:05:00", 4.0),
    ]
    base = spark.createDataFrame(rows, "id long, ts string, value double")
    ntz = base.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    d = tempfile.mkdtemp()
    ntz.coalesce(1).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(ntz.schema).parquet(d)
    assert dict(stream.dtypes)["ts"] == "timestamp_ntz"

    def run(df, mode):
        name = f"ntz_{uuid.uuid4().hex[:8]}"
        q = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.sql(f"SELECT * FROM {name}").collect()

    # windowed agg (st01/st02-shaped), session windows, and
    # dropDuplicatesWithinWatermark (st03-shaped) all watermark on ts
    agg = {
        str(r.window_start): (r.n, r.total_value)
        for r in run(windowed_agg(stream, "ts", "1 hour"), "complete")
    }
    assert agg["2024-01-01 00:00:00"] == (3, 4.0)
    assert agg["2024-01-01 01:00:00"] == (1, 4.0)

    sessions = run(
        sessionized_counts(stream, "ts", "10 minutes", ["id"]), "complete"
    )
    assert {(r.id, r.n_events) for r in sessions} == {(1, 2), (2, 1), (3, 1)}

    deduped = run(stream_dedup(stream, ["id"], "ts"), "append")
    assert sorted(r.id for r in deduped) == [1, 2, 3]


def test_running_totals_tws_requires_protobuf(spark, tmp_path):
    """transformWithState needs google.protobuf (absent in this
    container); run the operator when available, else assert the
    plan still BUILDS (API wiring is right) and skip execution."""
    import importlib.util

    from cdc_spark.streaming.stateful import running_totals_tws

    src = tmp_path / "events_in"
    src.mkdir()
    spark.createDataFrame(
        [(1, 10.5), (1, 2.25), (2, 7.0)], "user_id long, value double"
    ).write.parquet(str(src / "batch0.parquet"))
    stream = spark.readStream.schema("user_id long, value double").parquet(
        str(src)
    )
    out = running_totals_tws(stream)  # plan construction must succeed
    assert set(out.schema.fieldNames()) == {
        "user_id", "n_events", "total_value",
    }
    try:
        has_protobuf = (
            importlib.util.find_spec("google.protobuf") is not None
        )
    except ModuleNotFoundError:  # no 'google' namespace package at all
        has_protobuf = False
    if not has_protobuf:
        import pytest

        pytest.skip("google.protobuf not available in this container")
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_test")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = {
            r.user_id: r
            for r in spark.sql(
                "SELECT * FROM tws_test ORDER BY n_events DESC"
            ).collect()
        }
        assert rows[1].n_events == 2 and rows[1].total_value == 12.75
        assert rows[2].n_events == 1 and rows[2].total_value == 7.0
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def _feed_pipe(spark, dirs, cdf_path):
    return CdcStreamPipeline(
        spark,
        _users_registry(),
        "public",
        "users",
        keys=["id"],
        payload=["firstname", "lastname"],
        state_path=dirs["state"],
        cdf_path=cdf_path,
    )


def _doc_batch(spark, *docs):
    return spark.createDataFrame([(d,) for d in docs], "value string")


def _dir_stamp(d):
    """(name, inode, mtime_ns) of every entry in ``d``: a rewrite of the
    directory changes it."""
    return sorted(
        (e.name, e.inode(), e.stat().st_mtime_ns) for e in os.scandir(d)
    )


def _feed_replay_equals_state(spark, pipe, cdf):
    from cdc_spark.cdc.merge import apply_changes

    replayed = apply_changes(
        None,
        spark.read.parquet(cdf),
        ["id"],
        ["firstname", "lastname"],
        lsn_col="version",
        op_col="op",
        may_truncate=False,
    )
    got = {(r.id, r.firstname, r.lastname) for r in replayed.collect()}
    want = {
        (r.id, r.firstname, r.lastname) for r in pipe.state.read().collect()
    }
    assert got == want
    return got


def test_cdf_publication_backfills_after_crash(spark, dirs):
    """Publication is not atomic with the state commit: a crash after
    state.apply() but before or during the feed's publication must not
    lose that version's feed forever. _publish_cdf derives its work
    list from the version=N dirs on disk, so the NEXT publish backfills
    the hole, rewriting a torn ``_stage-v{N}`` the crash left, and
    replaying the feed still reproduces the state (the st14/st16
    closure)."""
    os.makedirs(dirs["src"], exist_ok=True)
    cdf = os.path.join(os.path.dirname(dirs["state"]), "cdf")
    pipe = _feed_pipe(spark, dirs, cdf)

    pipe.apply_batch(
        _doc_batch(spark, _wal_doc("insert", [1, "A", "B"])), 0
    )
    assert pipe._published_versions() == {1}

    # crash window: v2 commits to state, and its publication dies
    # after some task files landed
    saved = pipe.cdf_path
    pipe.cdf_path = None
    pipe.apply_batch(
        _doc_batch(spark, _wal_doc("update", [1, "A2", "B"], keys=[1])), 1
    )
    pipe.cdf_path = saved
    torn = os.path.join(cdf, "_stage-v2")
    os.makedirs(os.path.join(torn, "_temporary"))
    with open(os.path.join(torn, "part-00000-torn.parquet"), "wb") as fh:
        fh.write(b"PAR1 torn")
    assert pipe._published_versions() == {1}  # v2 is the hole
    assert spark.read.parquet(cdf).count() == 1  # readers skip the stage

    # next batch publishes v3 AND backfills v2
    pipe.apply_batch(
        _doc_batch(spark, _wal_doc("insert", [2, "C", "D"])), 2
    )
    assert pipe._published_versions() == {1, 2, 3}
    assert not os.path.exists(torn)
    assert _feed_replay_equals_state(spark, pipe, cdf) == {
        (1, "A2", "B"),
        (2, "C", "D"),
    }


def test_cdf_backfill_on_restart_with_no_new_data(spark, dirs):
    """Crash-then-idle: versions committed but unpublished, checkpoint
    already past those batches, NO new files arrive — pipeline start
    itself must heal the feed."""
    os.makedirs(dirs["src"], exist_ok=True)
    cdf = os.path.join(os.path.dirname(dirs["state"]), "cdf2")

    def make_pipe(cdf_path):
        return CdcStreamPipeline(
            spark,
            _users_registry(),
            "public",
            "users",
            keys=["id"],
            payload=["firstname", "lastname"],
            state_path=dirs["state"],
            cdf_path=cdf_path,
        )

    # run 1 WITHOUT publication (simulates the crash window for every
    # batch), checkpoint commits the batches
    pipe1 = make_pipe(None)
    _write_file(dirs["src"], "b1.json", [_wal_doc("insert", [1, "A", "B"])])
    q = pipe1.start(dirs["src"], dirs["ckpt"])
    q.awaitTermination(120)
    assert pipe1.state.current_version() >= 1

    # run 2 with publication enabled and nothing new to process
    pipe2 = make_pipe(cdf)
    q2 = pipe2.start(dirs["src"], dirs["ckpt"])
    q2.awaitTermination(120)
    assert pipe2._published_versions() == set(
        range(1, pipe2.state.current_version() + 1)
    )


def test_cdf_file_uri_publishes_each_version_once(spark, dirs):
    """A ``file://`` cdf_path goes through the filesystem seam: the
    second batch publishes version 2 only and leaves version 1's files
    as they are."""
    cdf = os.path.join(os.path.dirname(dirs["state"]), "cdf_uri")
    pipe = _feed_pipe(spark, dirs, "file://" + cdf)
    pipe.apply_batch(
        _doc_batch(spark, _wal_doc("insert", [1, "A", "B"])), 0
    )
    v1 = _dir_stamp(os.path.join(cdf, "version=1"))
    pipe.apply_batch(
        _doc_batch(spark, _wal_doc("insert", [2, "C", "D"])), 1
    )
    assert _dir_stamp(os.path.join(cdf, "version=1")) == v1
    assert pipe._published_versions() == {1, 2}
    assert _feed_replay_equals_state(spark, pipe, cdf) == {
        (1, "A", "B"),
        (2, "C", "D"),
    }


def test_rocksdb_state_store_provider(spark, dirs):
    """Production state-store backend: the same windowed aggregation
    runs with the RocksDB provider (bounded-memory state at scale,
    changelog checkpointing ecosystem) and must produce identical
    results to the default HDFS-backed store."""
    os.makedirs(dirs["src"], exist_ok=True)
    with open(os.path.join(dirs["src"], "a.txt"), "w") as fh:
        fh.write("x\ny\nx\nz\nx\n")

    def run(tag, provider):
        reader = (
            spark.readStream.format("text")
            .load(dirs["src"])
            .groupBy("value")
            .count()
        )
        name = f"t_rocks_{tag}_{uuid.uuid4().hex[:6]}"
        w = (
            reader.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option(
                "checkpointLocation",
                os.path.join(dirs["ckpt"], tag),
            )
        )
        saved = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None
        )
        if provider:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", provider
            )
        try:
            q = w.trigger(availableNow=True).start()
            q.awaitTermination(120)
        finally:
            if provider:
                if saved:
                    spark.conf.set(
                        "spark.sql.streaming.stateStore.providerClass",
                        saved,
                    )
                else:
                    spark.conf.unset(
                        "spark.sql.streaming.stateStore.providerClass"
                    )
        return {
            (r["value"], r["count"])
            for r in spark.table(name).collect()
        }

    base = run("hdfs", None)
    rocks = run(
        "rocks",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    assert base == rocks == {("x", 3), ("y", 1), ("z", 1)}


def test_st32_dpp_wide_batch_path_matches_static(spark, monkeypatch):
    """Force every micro-batch down the production-wide path (cap=0):
    the state probe must prune via runtime DPP (the in-query
    dynamicpruningexpression assert fires if not) and the per-shard
    new/dup counts must be bit-identical to the static IN-list path."""
    from cdc_spark.queries import streaming_queries as sq

    sf = "/root/testdata/sf0.001"
    base = {
        (r.batch_id, r.n_new, r.n_dup)
        for r in sq.st32_streaming_semantic_dedup(spark, sf).collect()
    }
    monkeypatch.setattr(sq, "_ST32_ISIN_CAP", 0)
    wide = {
        (r.batch_id, r.n_new, r.n_dup)
        for r in sq.st32_streaming_semantic_dedup(spark, sf).collect()
    }
    assert wide == base and len(base) == 5
