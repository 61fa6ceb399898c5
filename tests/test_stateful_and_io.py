"""applyInPandasWithState, rate source, multi-sink fan-out, IO formats."""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import functions as F

from cdc_spark.cdc.outbox import fan_out, route_outbox
from cdc_spark.streaming.stateful import running_counts


def test_apply_in_pandas_with_state_accumulates(spark):
    """custom stateful operator: counts accumulate across micro-batches."""
    d = tempfile.mkdtemp()
    schema = "user_id long, event_id long, value double"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    write_batch([(1, 1, 10.0), (1, 2, 20.0), (2, 3, 5.0)])
    write_batch([(1, 4, 30.0)])

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    out = running_counts(stream)
    name = f"st_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # update mode emits one row per key per batch; the LAST emission per
    # key carries the accumulated state
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    final = {}
    for r in rows:  # memory sink appends in batch order
        final[r.user_id] = (r.n_events, r.last_value)
    assert final[1] == (3, 30.0)
    assert final[2] == (1, 5.0)


def test_rate_source_smoke(spark):
    """the rate source drives a real streaming plan (tests' stand-in
    for an unbounded source)."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .load()
    )
    agg = stream.groupBy().agg(F.count("*").alias("n"))
    name = f"r_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            rows = spark.sql(f"SELECT n FROM {name}").collect()
            if rows and rows[0].n > 0:
                n = rows[0].n
                break
            time.sleep(0.5)
        assert n > 0
    finally:
        q.stop()


def test_multi_sink_fanout_writes(spark):
    """deck slides 36-37: one change stream, N independent sinks."""
    events = spark.createDataFrame(
        [(1, "user"), (2, "order"), (3, "user")],
        "event_id long, aggregatetype string",
    )
    routed = route_outbox(
        events, "aggregatetype", {"user": "t.user", "order": "t.order"}
    )
    sinks = fan_out(routed)
    base = tempfile.mkdtemp()
    for topic, df in sinks.items():
        df.write.mode("overwrite").parquet(
            os.path.join(base, topic.replace(".", "_"))
        )
    assert spark.read.parquet(os.path.join(base, "t_user")).count() == 2
    assert spark.read.parquet(os.path.join(base, "t_order")).count() == 1


def test_io_format_roundtrips(spark):
    """source/sink format coverage: parquet, orc, json, csv round-trip."""
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, s string, v double"
    )
    base = tempfile.mkdtemp()
    p = os.path.join(base, "t.parquet")
    o = os.path.join(base, "t.orc")
    j = os.path.join(base, "t.json")
    c = os.path.join(base, "t.csv")
    df.write.parquet(p)
    df.write.orc(o)
    df.write.json(j)
    df.write.option("header", True).csv(c)
    assert spark.read.parquet(p).count() == 2
    assert spark.read.orc(o).count() == 2
    assert spark.read.json(j, schema=df.schema).count() == 2
    got = spark.read.option("header", True).schema(df.schema).csv(c)
    assert {r.s for r in got.collect()} == {"a", "b"}


def test_kafka_connectors_configure_without_broker(spark):
    """Kafka source/sink constructors build valid plans/writers; only
    .load()/.start() needs a broker + kafka package (not in this
    container) — assert the construction path and option plumbing."""
    from cdc_spark.sources.connectors import file_change_stream, kafka_sink

    # file transport (the harness twin of the kafka path) end-to-end
    import tempfile as tf

    d = tf.mkdtemp()
    with open(os.path.join(d, "a.json"), "w") as fh:
        fh.write('{"x": 1}')
    stream = file_change_stream(spark, d, max_files_per_trigger=1)
    assert stream.isStreaming and stream.columns == ["value"]

    # kafka writer builder accepts a routed frame without a broker
    routed = spark.createDataFrame(
        [("t.user", "payload")], "topic string, value string"
    )
    writer = kafka_sink(routed, "broker:9092", tf.mkdtemp())
    assert writer is not None  # .start() would need the kafka package


def test_compaction_reduces_files_preserves_content(spark, tmp_path):
    from cdc_spark.operators.maintenance import (
        census,
        compact_buckets,
        needs_compaction,
    )
    from cdc_spark.streaming.state import BucketedStateTable

    state = BucketedStateTable(
        spark, str(tmp_path / "tbl"), ["id"], n_buckets=1
    )
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    # fragmented: 64 tiny files
    v1 = state.overwrite_buckets(df.repartition(64), [0])

    def version_census(v):
        files = state._load_manifest(v)["files"].values()
        return census(f["bytes"] for f in files)

    stats = version_census(v1)
    assert stats["n_files"] == 64
    assert needs_compaction(stats, target_file_bytes=1 << 20)

    v2 = compact_buckets(state, target_file_bytes=1 << 20)
    stats2 = version_census(v2)
    assert stats2["n_files"] < 8
    assert not needs_compaction(stats2, target_file_bytes=1 << 20)

    # content identical, both versions readable (time travel intact)
    assert state.read().exceptAll(df).count() == 0
    assert df.exceptAll(state.read()).count() == 0
    assert state.read(version=v1).count() == 10_000

    # sorted layout: each file covers a narrow disjoint id range
    files = state.read().select(
        F.input_file_name().alias("f"), "id"
    ).groupBy("f").agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
    rows = sorted(files.collect(), key=lambda r: r.lo)
    for a, b in zip(rows, rows[1:]):
        assert a.hi < b.lo  # disjoint → parquet footer stats prune files


def test_sessionizer_folds_chunks_in_global_time_order():
    """Rows for one key can span multiple Arrow chunks inside a single
    micro-batch; gap detection must sort ACROSS chunks, not per chunk,
    or a spurious gap splits one session into two."""
    import pandas as pd

    from cdc_spark.streaming.stateful import timeout_sessionizer

    class FakeState:
        hasTimedOut = False
        exists = False

        def update(self, v):
            self.value = v

        def setTimeoutTimestamp(self, ts):
            pass

    fn = timeout_sessionizer(gap_us=1000)
    state = FakeState()
    # chunk boundary splits [100, 200] around 5000; per-chunk folding
    # would close (100,100) then absorb 200 into the 5000 session
    chunks = iter(
        [
            pd.DataFrame({"ts_us": [100, 5000]}),
            pd.DataFrame({"ts_us": [200]}),
        ]
    )
    out = list(fn((7,), chunks, state))
    assert len(out) == 1
    closed = out[0]
    assert closed["start_us"].tolist() == [100]
    assert closed["end_us"].tolist() == [200]
    assert closed["n_events"].tolist() == [2]
    assert state.value == (5000, 5000, 1)  # open tail session


def test_kafka_frames_match_producer_contract(spark):
    """The produced frame layout must be exactly what the Kafka sink
    accepts (binary key/value, string topic) — the misbuilt-frame
    failure that otherwise only surfaces against a live broker."""
    import pytest

    from cdc_spark.sources.connectors import (
        kafka_frames,
        validate_kafka_frames,
    )

    routed = spark.createDataFrame(
        [("t.user", '{"op":"c"}', "41")],
        "topic string, value string, key string",
    )
    frames = kafka_frames(routed, key_col="key")
    assert {f.name: f.dataType.simpleString() for f in frames.schema} == {
        "key": "binary",
        "value": "binary",
        "topic": "string",
    }
    # round-trip: binary payloads decode back to the source strings
    row = frames.select(
        frames.key.cast("string").alias("k"),
        frames.value.cast("string").alias("v"),
        "topic",
    ).first()
    assert (row.k, row.v, row.topic) == ("41", '{"op":"c"}', "t.user")

    # malformed frames are rejected at build time
    with pytest.raises(ValueError, match="require a `value`"):
        validate_kafka_frames(routed.select("topic"))
    with pytest.raises(ValueError, match="`topic` must be"):
        validate_kafka_frames(
            spark.createDataFrame([(1, "x")], "topic int, value string")
        )
    with pytest.raises(ValueError, match="`partition` must be"):
        validate_kafka_frames(
            spark.createDataFrame(
                [("x", 1)], "value string, partition long"
            )
        )


def test_wire_decode_warns_on_multipartition_without_partition_col(spark):
    """A physically multi-partition bounded input with no partition_col
    funnels the fill-forward window through one reducer — warn, and
    stay silent when partition_col is given."""
    import warnings as W

    import cdc_spark.cdc.pgoutput_wire as wire

    rel = 77
    frames = [
        wire.encode_relation(rel, "public", "t", 1, [(True, "id", 23, 0)]),
        wire.encode_begin(100, 1_000_000, 9),
        wire.encode_insert(rel, [("t", "1")]),
        wire.encode_commit(101, 102, 1_000_001),
    ]
    df = spark.createDataFrame(
        [(i, 0, bytearray(f)) for i, f in enumerate(frames)],
        "ord long, part int, value binary",
    ).repartition(4)
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        wire.parse_pgoutput_binary(df, order_col="ord")
    assert any("one reducer" in str(w.message).lower() for w in caught)
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        wire.parse_pgoutput_binary(df, order_col="ord", partition_col="part")
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]
