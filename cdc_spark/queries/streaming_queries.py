"""Streaming operators run through the correctness gate.

Each query executes a REAL Structured Streaming query (availableNow
trigger, memory sink) over the events parquet read as a stream, then
returns the sink contents — proving the streaming plans produce the
same answers as their batch twins, which is exactly what the oracle
SQL asserts.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_spark.catalog import (
    load_table,
    normalize_event_time,
    table_path,
    table_schema,
)
from cdc_spark.queries.base import await_stream, dsum_sql, register
from cdc_spark.streaming.pipeline import (
    sessionized_counts,
    stream_dedup,
    windowed_agg,
)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch = load_table(spark, sf_dir, "events")
    # the streaming file source requires a directory; expose the single
    # parquet file through a temp dir symlink (testdata is read-only)
    stream_dir = tempfile.mkdtemp(prefix="events_stream_")
    os.symlink(
        table_path(sf_dir, "events"),
        os.path.join(stream_dir, "events.parquet"),
    )
    schema = table_schema(spark, sf_dir, "events")
    raw = spark.readStream.schema(schema).parquet(stream_dir)
    # same bigint/timestamp_ntz → TIMESTAMP canonicalization the batch
    # catalog applies (watermarks reject TIMESTAMP_NTZ event time)
    raw = normalize_event_time(raw, "ts")
    assert raw.schema == batch.schema
    return raw


def _run_to_memory(df: DataFrame, mode: str = "complete") -> DataFrame:
    spark = df.sparkSession
    name = f"q_{uuid.uuid4().hex[:10]}"
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "st01_stream_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           {dsum_sql('value')} AS total_value
    FROM events GROUP BY 1, 2
    """,
    note="REAL streaming query (availableNow → memory sink): tumbling "
    "1h window agg matches its batch twin exactly",
    tags=("streaming", "window"),
)
def st01_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return _run_to_memory(agg, "complete")


@register(
    "st02_stream_sessions",
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               epoch_us(ts) - epoch_us(LAG(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               )) AS gap_us
        FROM events
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM g GROUP BY user_id
    """,
    note="REAL streaming session_window(30 min) — session count per "
    "user matches the batch lag/gap sessionization",
    tags=("streaming", "session"),
)
def st02_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    sess = sessionized_counts(stream, "ts", "30 minutes", ["user_id"])
    out = _run_to_memory(sess, "complete")
    return out.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
    )


@register(
    "st04_stream_static_join",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    note="REAL stream-static join: event stream enriched against the "
    "static customer dim (join strategy per micro-batch left to AQE — "
    "customer grows with SF, so no forced broadcast), then aggregated",
    tags=("streaming", "join"),
)
def st04_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    joined = stream.join(
        cust, stream.user_id == cust.c_custkey
    )
    out = _run_to_memory(
        joined.select("c_mktsegment", "user_id"), "append"
    )
    return out.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "st03_stream_dedup",
    oracle="""
    SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS n_unique
    FROM events
    """,
    note="REAL streaming dropDuplicatesWithinWatermark over the event "
    "stream (bounded state): output cardinality = distinct keys",
    tags=("streaming", "dedup"),
)
def st03_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    dedup = stream_dedup(stream, ["event_id"], "ts", watermark="1 hour")
    out = _run_to_memory(dedup.select("event_id"), "append")
    return out.agg(
        F.count("*").alias("n"),
        F.countDistinct("event_id").alias("n_unique"),
    )


@register(
    "st05_continuous_rollup",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS bucket_start,
           event_type,
           COUNT(*) AS n,
           {dsum_sql('value')} AS sum_value,
           -- fixed-point half-up, not ROUND(x,6): engines disagree on
           -- ROUND at exact half-way doubles (q61 class, sf1 catch)
           FLOOR({dsum_sql('value')} / COUNT(*) * 1e6 + 0.5) / 1e6
               AS avg_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
    note="hypertable-style continuous rollup: incrementally-maintained "
    "hourly aggregates via foreachBatch partial-merge — equals the "
    "from-scratch batch aggregate exactly",
    tags=("streaming", "rollup"),
)
def st05_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.streaming.rollup import ContinuousRollup

    stream = _events_stream(spark, sf_dir)
    rollup = ContinuousRollup(
        spark,
        tempfile.mkdtemp(prefix="rollup_"),
        ts_col="ts",
        bucket="1 hour",
        dims=["event_type"],
        value_col="value",
    )
    q = rollup.start(stream, tempfile.mkdtemp(prefix="ckpt_"))
    await_stream(q)
    return rollup.read()


@register(
    "st07_stream_stream_join",
    oracle="""
    SELECT c.user_id,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT c.event_id) AS n_clicks_matched
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 5 MINUTE
    GROUP BY c.user_id
    """,
    note="REAL stream-stream interval self-join: watermarked click and "
    "purchase streams joined on key + 5-minute event-time range; the "
    "time bound lets Spark expire join state (bounded memory at scale) "
    "— matches the batch range join exactly",
    tags=("streaming", "join", "range"),
)
def st07_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (clicks.user_id == purchases.p_user_id)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (
            purchases.purchase_ts
            <= clicks.click_ts + F.expr("INTERVAL 5 MINUTES")
        ),
        "inner",
    )
    out = _run_to_memory(joined.select("user_id", "click_id"), "append")
    return out.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("click_id").alias("n_clicks_matched"),
    )


@register(
    "st06_stateful_running_counts",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(arg_max(value, event_id), 4) AS last_value
    FROM events GROUP BY user_id
    """,
    note="applyInPandasWithState custom stateful operator: per-key "
    "running count + last-value register over the event stream. "
    "Update-mode emissions are cumulative, so the final emission per "
    "key (the one with max n_events) IS the batch aggregate — gated "
    "against COUNT(*)/arg_max over the whole log",
    tags=("streaming", "stateful"),
)
def st06_stateful_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.streaming.stateful import running_counts

    stream = _events_stream(spark, sf_dir).select(
        "user_id", "event_id", "value"
    )
    out = _run_to_memory(running_counts(stream), "update")
    # the last (cumulative) emission per key carries the final state;
    # n_events strictly increases per emission, so max_by is unique
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max_by("last_value", "n_events"), 4).alias("last_value"),
    )


@register(
    "st08_cdc_pipeline_bucketed",
    oracle="""
    WITH ch AS (
        SELECT CASE event_type WHEN 'signup' THEN 'c'
                               WHEN 'error' THEN 'd'
                               ELSE 'u' END AS op,
               event_id AS lsn, user_id, event_type, value
        FROM events
    ),
    ranked AS (
        SELECT *,
               MAX(CASE WHEN op = 'd' THEN lsn END)
                   OVER (PARTITION BY user_id) AS last_del
        FROM ch
    ),
    live AS (
        SELECT * FROM ranked
        WHERE op IN ('c','u')
          AND (last_del IS NULL OR lsn > last_del)
    )
    SELECT user_id,
           arg_max(event_type, lsn) AS event_type,
           ROUND(arg_max(value, lsn), 4) AS value
    FROM live GROUP BY user_id
    """,
    note="REAL end-to-end streaming CDC: events serialized as "
    "pgoutput-JSON lines → readStream text → envelope parse → registry "
    "materialize → incremental apply into a BucketedStateTable "
    "(changed-bucket-only rewrite) — final state equals the one-shot "
    "merge over the whole log",
    tags=("streaming", "cdc", "state"),
)
def st08_cdc_pipeline_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.cdc.registry import SchemaRegistry
    from cdc_spark.streaming.pipeline import CdcStreamPipeline

    events = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    docs = events.select(
        F.to_json(
            F.struct(
                op.alias("op"),
                F.lit("public").alias("schema"),
                F.lit("user_state").alias("table"),
                F.col("event_id").alias("lsn"),
                F.lit(0).alias("tx_id"),
                F.when(
                    op != "d",
                    F.map_from_arrays(
                        F.array(
                            F.lit("user_id"),
                            F.lit("event_type"),
                            F.lit("value"),
                        ),
                        F.array(
                            F.col("user_id").cast("string"),
                            F.col("event_type"),
                            F.round("value", 4).cast("string"),
                        ),
                    ),
                ).alias("after"),
                F.when(
                    op == "d",
                    F.map_from_arrays(
                        F.array(F.lit("user_id")),
                        F.array(F.col("user_id").cast("string")),
                    ),
                ).alias("key"),
            )
        ).alias("value")
    )
    src_dir = tempfile.mkdtemp(prefix="st08_src_")
    docs.coalesce(2).write.mode("overwrite").text(src_dir)

    reg = SchemaRegistry()
    reg.announce(
        "public",
        "user_state",
        [
            ("user_id", "bigint", True),
            ("event_type", "text"),
            ("value", "double precision"),
        ],
    )
    pipe = CdcStreamPipeline(
        spark,
        reg,
        "public",
        "user_state",
        keys=["user_id"],
        payload=["event_type", "value"],
        state_path=tempfile.mkdtemp(prefix="st08_state_"),
        dialect="pgoutput_json",
        n_buckets=16,
    )
    q = pipe.start(src_dir, tempfile.mkdtemp(prefix="st08_ckpt_"))
    await_stream(q)
    return pipe.state.read()


@register(
    "st09_stream_ivm_agg",
    oracle="""
    WITH ch AS (
        SELECT CASE event_type WHEN 'signup' THEN 'c'
                               WHEN 'error' THEN 'd'
                               ELSE 'u' END AS op,
               event_id AS lsn, user_id, event_type,
               ROUND(value, 4) AS value
        FROM events
    ),
    ranked AS (
        SELECT *,
               MAX(CASE WHEN op = 'd' THEN lsn END)
                   OVER (PARTITION BY user_id) AS last_del
        FROM ch
    ),
    live AS (
        SELECT * FROM ranked
        WHERE op IN ('c','u')
          AND (last_del IS NULL OR lsn > last_del)
    ),
    state AS (
        SELECT user_id,
               arg_max(event_type, lsn) AS last_type,
               arg_max(value, lsn) AS last_value
        FROM live GROUP BY user_id
    )
    SELECT last_type,
           COUNT(*) AS n_users,
           CAST(SUM(CAST(last_value AS DECIMAL(30,6))) AS DOUBLE)
               AS sum_value
    FROM state GROUP BY last_type
    """,
    note="streaming IVM: 3 lsn-ordered micro-batches (maxFilesPerTrigger"
    "=1 over mtime-ordered files) each fold their touched-key delta into "
    "a bucketed materialized aggregate (streaming/ivm_sink.py) — the "
    "continuously-maintained aggregate equals the full recompute over "
    "the whole log",
    tags=("streaming", "cdc", "ivm"),
)
def st09_stream_ivm_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.cdc.registry import SchemaRegistry
    from cdc_spark.streaming.pipeline import CdcStreamPipeline

    events = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    docs = events.select(
        F.col("event_id").alias("lsn"),
        F.to_json(
            F.struct(
                op.alias("op"),
                F.lit("public").alias("schema"),
                F.lit("user_state").alias("table"),
                F.col("event_id").alias("lsn"),
                F.lit(0).alias("tx_id"),
                F.when(
                    op != "d",
                    F.map_from_arrays(
                        F.array(
                            F.lit("user_id"),
                            F.lit("event_type"),
                            F.lit("value"),
                        ),
                        F.array(
                            F.col("user_id").cast("string"),
                            F.col("event_type"),
                            F.round("value", 4).cast("string"),
                        ),
                    ),
                ).alias("after"),
                F.when(
                    op == "d",
                    F.map_from_arrays(
                        F.array(F.lit("user_id")),
                        F.array(F.col("user_id").cast("string")),
                    ),
                ).alias("key"),
            )
        ).alias("value"),
    )
    # three lsn-range files with increasing mtimes: the file source
    # (ordered by timestamp) replays them as lsn-ordered micro-batches
    mx = docs.agg(F.max("lsn")).first()[0] or 0
    src_dir = tempfile.mkdtemp(prefix="st09_src_")
    bounds = [(None, mx // 3), (mx // 3, 2 * mx // 3), (2 * mx // 3, None)]
    for i, (lo, hi) in enumerate(bounds):
        part = docs
        if lo is not None:
            part = part.where(F.col("lsn") > lo)
        if hi is not None:
            part = part.where(F.col("lsn") <= hi)
        tmp = tempfile.mkdtemp(prefix=f"st09_part{i}_")
        part.select("value").coalesce(1).write.mode("overwrite").text(tmp)
        [f] = [n for n in os.listdir(tmp) if n.startswith("part-")]
        dst = os.path.join(src_dir, f"{i:02d}.txt")
        os.rename(os.path.join(tmp, f), dst)
        os.utime(dst, (1000 * (i + 1), 1000 * (i + 1)))

    reg = SchemaRegistry()
    reg.announce(
        "public",
        "user_state",
        [
            ("user_id", "bigint", True),
            ("event_type", "text"),
            ("value", "double precision"),
        ],
    )
    pipe = CdcStreamPipeline(
        spark,
        reg,
        "public",
        "user_state",
        keys=["user_id"],
        payload=["event_type", "value"],
        state_path=tempfile.mkdtemp(prefix="st09_state_"),
        dialect="pgoutput_json",
        n_buckets=16,
    )
    agg = pipe.attach_aggregate(
        tempfile.mkdtemp(prefix="st09_agg_"),
        ["event_type"],
        {"sum_value": F.col("value")},
    )
    q = pipe.start(
        src_dir,
        tempfile.mkdtemp(prefix="st09_ckpt_"),
        max_files_per_trigger=1,
    )
    await_stream(q)
    out = agg.read(count_alias="n_users")
    return out.select(
        F.col("event_type").alias("last_type"), "n_users", "sum_value"
    )


@register(
    "st10_stream_outer_join",
    oracle="""
    WITH c AS (
        SELECT user_id, event_id AS click_id, ts AS cts
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'
    ),
    cut AS (
        SELECT least(
                   (SELECT max(ts) FROM events WHERE event_type = 'click'),
                   (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
               - INTERVAL 70 MINUTE AS cutoff
    ),
    j AS (
        SELECT c.user_id, c.click_id, p.pts
        FROM c CROSS JOIN cut
        LEFT JOIN p
          ON c.user_id = p.user_id
         AND p.pts >= c.cts
         AND p.pts <= c.cts + INTERVAL 5 MINUTE
        WHERE c.cts <= cut.cutoff
    )
    SELECT user_id,
           COUNT(pts) AS n_pairs,
           COUNT(DISTINCT CASE WHEN pts IS NULL THEN click_id END)
               AS n_unmatched
    FROM j GROUP BY user_id
    """,
    note="REAL stream-stream LEFT OUTER interval join: unmatched "
    "clicks emit with nulls once the watermark passes their join "
    "horizon (state eviction -> no-data batch emission). Both engine "
    "output and oracle are restricted to clicks a safe margin below "
    "the final watermark, where outer emission is guaranteed and "
    "boundary semantics cannot differ",
    tags=("streaming", "join", "outer"),
)
def st10_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (clicks.user_id == purchases.p_user_id)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (
            purchases.purchase_ts
            <= clicks.click_ts + F.expr("INTERVAL 5 MINUTES")
        ),
        "left_outer",
    )
    out = _run_to_memory(
        joined.select("user_id", "click_id", "click_ts", "purchase_ts"),
        "append",
    )
    # same cutoff the oracle applies: min(last click, last purchase)
    # minus watermark delay minus a 10-minute safety margin — below it
    # every click's outer result is guaranteed emitted
    batch = load_table(spark, sf_dir, "events")
    cut = (
        batch.agg(
            (
                F.least(
                    F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                    F.max(
                        F.when(F.col("event_type") == "purchase", F.col("ts"))
                    ),
                )
                - F.expr("INTERVAL 70 MINUTES")
            ).alias("cutoff")
        )
    )
    kept = out.crossJoin(F.broadcast(cut)).where(
        F.col("click_ts") <= F.col("cutoff")
    )
    return kept.groupBy("user_id").agg(
        F.count("purchase_ts").alias("n_pairs"),
        F.countDistinct(
            F.when(F.col("purchase_ts").isNull(), F.col("click_id"))
        ).alias("n_unmatched"),
    )


@register(
    "st11_timeout_sessions",
    oracle="""
    WITH g AS (
        SELECT user_id, ts, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    )) > 1800000000 OR LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) IS NULL THEN 1 ELSE 0 END AS is_start
        FROM events
    ),
    s AS (
        SELECT user_id, ts_us,
               SUM(is_start) OVER (
                   PARTITION BY user_id ORDER BY ts_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sess
        FROM g
    ),
    sess AS (
        SELECT user_id, sess,
               MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
               COUNT(*) AS n_events
        FROM s GROUP BY user_id, sess
    ),
    wm AS (
        SELECT MAX(epoch_us(ts)) - 1800000000 AS final_wm FROM events
    )
    SELECT user_id, start_us, end_us, n_events
    FROM sess, wm
    WHERE end_us + 1800000000 < final_wm
    """,
    note="REAL custom stateful sessionization (applyInPandasWithState "
    "+ EVENT-TIME TIMEOUT): in-batch sessions close by gap logic, "
    "each key's open tail closes via setTimeoutTimestamp when the "
    "watermark passes — emitted without new events for that key. "
    "Gated on sessions strictly below the final watermark horizon, "
    "where emission is guaranteed and boundary semantics cannot "
    "differ; equals the batch lag/gap sessionization there",
    tags=("streaming", "stateful", "session", "timeout"),
)
def st11_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.streaming.stateful import gap_timeout_sessions

    stream = _events_stream(spark, sf_dir)
    sessions = gap_timeout_sessions(
        stream, "ts", "user_id", gap="30 minutes", watermark="30 minutes"
    )
    out = _run_to_memory(sessions, "append")
    # same safety cutoff as the oracle: keep sessions whose timeout
    # horizon is strictly below the final watermark — those MUST have
    # been emitted (either by gap logic or timeout eviction)
    batch = load_table(spark, sf_dir, "events")
    wm = batch.agg(
        (F.max(F.unix_micros("ts")) - F.lit(1_800_000_000)).alias("final_wm")
    )
    kept = out.crossJoin(F.broadcast(wm)).where(
        F.col("end_us") + F.lit(1_800_000_000) < F.col("final_wm")
    )
    return kept.select("user_id", "start_us", "end_us", "n_events")


@register(
    "st12_incremental_snapshot_stream",
    oracle="""
    WITH ch AS (
        SELECT CASE event_type WHEN 'signup' THEN 'c'
                               WHEN 'error' THEN 'd'
                               ELSE 'u' END AS op,
               event_id AS lsn, user_id, event_type, value
        FROM events
    ),
    latest AS (
        SELECT user_id,
               arg_max(op, lsn) AS op,
               arg_max(event_type, lsn) AS event_type,
               arg_max(value, lsn) AS value
        FROM ch GROUP BY user_id
    )
    SELECT user_id, event_type, ROUND(value, 4) AS value
    FROM latest WHERE op <> 'd'
    """,
    note="REAL streaming DBLog bootstrap: the replication slot starts "
    "MID-LOG (S = max_lsn/2) — the stream carries only the tail, and "
    "every key whose history ended before S is reachable ONLY through "
    "the watermark-windowed chunk backfills injected between "
    "micro-batches (cdc17 schedule + suppression rule). Final "
    "bucketed state must converge to the full-history latest-wins "
    "merge, which is exactly what breaks if injection, suppression, "
    "or the interleave ordering is wrong",
    tags=("streaming", "cdc", "snapshot", "state"),
)
def st12_incremental_snapshot_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_spark.streaming.state import BucketedStateTable

    events = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    ch = events.select(
        op.alias("op"),
        F.col("event_id").alias("lsn"),
        "user_id",
        "event_type",
        "value",
    )
    max_lsn, max_key = ch.agg(
        F.max("lsn"), F.max("user_id")
    ).first()
    # slot position S at 97.5% of the log: the tail is short enough
    # that a real fraction of keys have NO tail event at all — those
    # keys exist in the final state ONLY if chunk backfill works
    snap_start = (max_lsn * 39) // 40
    snap_range = max_lsn - snap_start
    n_chunks = (max_key // 5) + 1      # cdc17's 5-key chunks

    def win(c: int) -> tuple[int, int]:
        return (
            snap_start + (c * snap_range) // n_chunks,
            snap_start + ((c + 1) * snap_range) // n_chunks,
        )

    # full backfill set, precomputed with the cdc17 suppression rule
    # (chunk rows whose key saw a tail event inside the window are the
    # log's responsibility) — bounded by key count, checkpointed once
    from pyspark.sql import Window

    keyed = ch.withColumn("chunk", F.expr("user_id div 5"))
    spec = spark.createDataFrame(
        [(c, *win(c)) for c in range(n_chunks)],
        "chunk long, chunk_lo long, chunk_hi long",
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("lsn"))
    backfill = (
        keyed.join(F.broadcast(spec), "chunk")
        # a key with ANY tail event past its window-open is the log's
        # responsibility — the state fold is apply-order-resolved
        # across batches, so a backfill image must never race a later
        # log event for the same key (this is strictly wider than the
        # (lo, hi] rule cdc17 reports: it also covers events AFTER the
        # window, which the ordered log replays post-injection)
        .withColumn(
            "__tail",
            F.max(
                F.when(F.col("lsn") > F.col("chunk_lo"), 1).otherwise(0)
            ).over(Window.partitionBy("user_id")),
        )
        .where(F.col("lsn") <= F.col("chunk_hi"))
        .withColumn("__rn", F.row_number().over(w))
        .where(
            (F.col("__rn") == 1)
            & (F.col("__tail") == 0)
            & (F.col("op") != "d")
        )
        .select(
            "user_id",
            "event_type",
            "value",
            F.lit("c").alias("op"),
            "lsn",
            "chunk",
        )
        .localCheckpoint(eager=True)
    )

    # the tail: everything after the slot position, split into several
    # files so availableNow delivers multiple micro-batches
    # the log is ORDERED: three tail segments written sequentially
    # (distinct mtimes), so the oldest-first file source replays them
    # in LSN order — the assumption the DBLog interleave is defined on
    tail_dir = tempfile.mkdtemp(prefix="st12_tail_")
    seg = snap_range // 3
    cuts = [
        (snap_start, snap_start + seg),
        (snap_start + seg, snap_start + 2 * seg),
        (snap_start + 2 * seg, max_lsn),
    ]
    import time as _time

    for i, (a, b) in enumerate(cuts):
        (
            ch.where((F.col("lsn") > a) & (F.col("lsn") <= b))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(tail_dir, f"seg{i}"))
        )
        _time.sleep(1.1)

    state = BucketedStateTable(
        spark,
        tempfile.mkdtemp(prefix="st12_state_"),
        ["user_id"],
        n_buckets=16,
    )
    injected: set[int] = set()

    def on_batch(bdf: DataFrame, bid: int) -> None:
        state.apply(bdf, ["event_type", "value"], batch_id=bid)
        hwm = bdf.agg(F.max("lsn")).first()[0]
        if hwm is None:
            return
        due = {
            c
            for c in range(n_chunks)
            if c not in injected and win(c)[1] <= hwm
        }
        if due:
            injected.update(due)
            state.apply(
                backfill.where(F.col("chunk").isin(due)).drop("chunk"),
                ["event_type", "value"],
            )

    q = (
        spark.readStream.schema(ch.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(tail_dir)
        .writeStream.foreachBatch(on_batch)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="st12_ckpt_")
        )
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)

    # slot caught up: any chunk windows past the final applied LSN
    # flush now (the tail's last LSN IS max_lsn, so normally none)
    rest = set(range(n_chunks)) - injected
    if rest:
        state.apply(
            backfill.where(F.col("chunk").isin(rest)).drop("chunk"),
            ["event_type", "value"],
        )
    return state.read().select(
        "user_id", "event_type", F.round("value", 4).alias("value")
    )


@register(
    "st13_stream_scd2_enrich",
    oracle=f"""
    WITH versions AS (
        SELECT user_id, ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   AS valid_to,
               CASE WHEN value >= 34.0 THEN 'high' ELSE 'low' END AS tier
        FROM events WHERE event_type = 'purchase'
    )
    SELECT tier,
           COUNT(*) AS n,
           {dsum_sql('e.value')} AS total_value
    FROM events e JOIN versions v
      ON e.user_id = v.user_id
     AND e.ts >= v.valid_from
     AND (v.valid_to IS NULL OR e.ts < v.valid_to)
    WHERE e.event_type IN ('click', 'view')
    GROUP BY tier
    """,
    note="REAL streaming temporal enrichment against an SCD2 "
    "dimension: purchase events fold into per-user tier versions "
    "(valid_from/valid_to via LEAD — the merge.py SCD2 shape), then "
    "the click/view stream joins each event to the version valid at "
    "its event time. Because SCD2 intervals are disjoint, the as-of "
    "backward join IS a stream-static interval join (equi on user_id "
    "+ range on ts) — no window-over-stream needed, each micro-batch "
    "joins independently, and the dimension can be rebuilt/broadcast "
    "per batch at scale. Events before a user's first version drop "
    "(inner as-of)",
    tags=("streaming", "join", "scd2", "asof"),
)
def st13_stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    versions = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("valid_from"),
            F.when(F.col("value") >= 34.0, "high")
            .otherwise("low")
            .alias("tier"),
        )
        .withColumn("valid_to", F.lead("valid_from").over(
            Window.partitionBy("v_user").orderBy("valid_from")
        ))
    )
    stream = _events_stream(spark, sf_dir).where(
        F.col("event_type").isin("click", "view")
    )
    joined = stream.join(
        versions,
        (stream.user_id == versions.v_user)
        & (stream.ts >= versions.valid_from)
        & (
            versions.valid_to.isNull()
            | (stream.ts < versions.valid_to)
        ),
    )
    out = _run_to_memory(joined.select("tier", "value"), "append")
    return out.groupBy("tier").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(30,6)"))
        .cast("double")
        .alias("total_value"),
    )


@register(
    "st14_change_feed_publication",
    oracle="""
    WITH ch AS (
        SELECT CASE event_type WHEN 'signup' THEN 'c'
                               WHEN 'error' THEN 'd'
                               ELSE 'u' END AS op,
               event_id AS lsn, user_id, event_type,
               ROUND(value, 4) AS value
        FROM events
    ),
    ranked AS (
        SELECT *,
               MAX(CASE WHEN op = 'd' THEN lsn END)
                   OVER (PARTITION BY user_id) AS last_del
        FROM ch
    ),
    live AS (
        SELECT * FROM ranked
        WHERE op IN ('c','u')
          AND (last_del IS NULL OR lsn > last_del)
    )
    SELECT user_id,
           arg_max(event_type, lsn) AS event_type,
           arg_max(value, lsn) AS value
    FROM live GROUP BY user_id
    """,
    note="outbound CDC — the engine as change PRODUCER: a streaming "
    "pipeline (4 real micro-batches) publishes each committed "
    "version's net change feed from the manifest diff (O(changed "
    "buckets), no log retention needed) into a CDF directory; the "
    "gate replays the published feed through latest-wins merge "
    "(version = LSN) and the reconstruction must equal the one-shot "
    "merge over the raw log — the closure property that makes the "
    "feed safe for downstream consumers (deck slides 33-37 "
    "sync-to-search/cache patterns)",
    tags=("streaming", "cdc", "cdf", "producer"),
)
def st14_change_feed_publication(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_spark.cdc.merge import apply_changes
    from cdc_spark.cdc.registry import SchemaRegistry
    from cdc_spark.streaming.pipeline import CdcStreamPipeline

    events = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    doc_json = F.to_json(
        F.struct(
            op.alias("op"),
            F.lit("public").alias("schema"),
            F.lit("user_state").alias("table"),
            F.col("event_id").alias("lsn"),
            F.lit(0).alias("tx_id"),
            F.when(
                op != "d",
                F.map_from_arrays(
                    F.array(
                        F.lit("user_id"),
                        F.lit("event_type"),
                        F.lit("value"),
                    ),
                    F.array(
                        F.col("user_id").cast("string"),
                        F.col("event_type"),
                        F.round("value", 4).cast("string"),
                    ),
                ),
            ).alias("after"),
            F.when(
                op == "d",
                F.map_from_arrays(
                    F.array(F.lit("user_id")),
                    F.array(F.col("user_id").cast("string")),
                ),
            ).alias("key"),
        )
    )
    src_dir = tempfile.mkdtemp(prefix="st14_src_")
    # One file per key-partition (each user's whole history in one
    # micro-batch): batches then commute, so the file source's
    # mtime-based ordering cannot regress a key — the same contract a
    # key-partitioned Kafka topic gives a real deployment.
    (
        events.select(F.col("user_id"), doc_json.alias("__doc"))
        .repartition(4, F.col("user_id"))
        .select(F.col("__doc").alias("value"))
        .write.mode("overwrite")
        .text(src_dir)
    )

    reg = SchemaRegistry()
    reg.announce(
        "public",
        "user_state",
        [
            ("user_id", "bigint", True),
            ("event_type", "text"),
            ("value", "double precision"),
        ],
    )
    cdf_dir = tempfile.mkdtemp(prefix="st14_cdf_")
    pipe = CdcStreamPipeline(
        spark,
        reg,
        "public",
        "user_state",
        keys=["user_id"],
        payload=["event_type", "value"],
        state_path=tempfile.mkdtemp(prefix="st14_state_"),
        dialect="pgoutput_json",
        n_buckets=16,
        cdf_path=cdf_dir,
    )
    q = pipe.start(
        src_dir,
        tempfile.mkdtemp(prefix="st14_ckpt_"),
        max_files_per_trigger=1,
    )
    await_stream(q)

    # replay the PUBLISHED feed (not the raw log): the reconstruction
    # must equal the one-shot merge the oracle computes
    feed = spark.read.parquet(cdf_dir)
    return apply_changes(
        None,
        feed,
        ["user_id"],
        ["event_type", "value"],
        lsn_col="version",
        op_col="op",
        may_truncate=False,
    )


@register(
    "st15_stream_trending",
    oracle="""
    WITH slid AS (
        SELECT event_type,
               date_trunc('hour', ts) - INTERVAL (h) HOUR AS window_start
        FROM events, LATERAL unnest(generate_series(0, 1)) t(h)
    ),
    counts AS (
        SELECT window_start, event_type, COUNT(*) AS n
        FROM slid GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY window_start ORDER BY n DESC, event_type
               ) AS rnk,
               n - COALESCE(LAG(n) OVER (
                   PARTITION BY event_type ORDER BY window_start
               ), 0) AS velocity
        FROM counts
    )
    SELECT window_start, event_type, n, rnk, velocity
    FROM ranked WHERE rnk <= 3
    """,
    note="streaming trending detection: a REAL sliding-window count "
    "(2h window, 1h slide — each event lands in 2 windows) runs "
    "through the streaming engine (availableNow -> memory sink), "
    "then per-window rank and velocity (count minus previous "
    "window's count per type) pick the top-3 movers. The oracle "
    "reproduces the slide by exploding each event into its 2 "
    "windows; counts are integers and the rank carries a type "
    "tiebreak, so the composite is exact",
    tags=("streaming", "window", "trending"),
)
def st15_stream_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(
            F.window("ts", "2 hours", "1 hour"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n"
        )
    )
    out = _run_to_memory(agg, "complete")
    w_rank = Window.partitionBy("window_start").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    w_lag = Window.partitionBy("event_type").orderBy("window_start")
    ranked = out.select(
        "window_start",
        "event_type",
        "n",
        F.row_number().over(w_rank).alias("rnk"),
        (F.col("n") - F.coalesce(F.lag("n").over(w_lag), F.lit(0))).alias(
            "velocity"
        ),
    )
    return ranked.where(F.col("rnk") <= 3)


@register(
    "st16_cdf_consumer_agg",
    oracle="""
    WITH ch AS (
        SELECT CASE event_type WHEN 'signup' THEN 'c'
                               WHEN 'error' THEN 'd'
                               ELSE 'u' END AS op,
               event_id AS lsn, user_id, event_type,
               ROUND(value, 4) AS value
        FROM events
    ),
    ranked AS (
        SELECT *,
               MAX(CASE WHEN op = 'd' THEN lsn END)
                   OVER (PARTITION BY user_id) AS last_del
        FROM ch
    ),
    live AS (
        SELECT * FROM ranked
        WHERE op IN ('c','u')
          AND (last_del IS NULL OR lsn > last_del)
    ),
    state AS (
        SELECT user_id,
               arg_max(event_type, lsn) AS event_type,
               arg_max(value, lsn) AS value
        FROM live GROUP BY user_id
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_value
    FROM state GROUP BY event_type
    """,
    note="the full CDC producer->consumer chain: a pipeline publishes "
    "its change feed WITH before-images (Delta-CDF's "
    "preimage/postimage pair, version_diff include_old), and a "
    "SECOND, independent streaming job maintains a per-type "
    "count+sum aggregate from the feed ALONE — each c/u/d row "
    "explodes into signed contributions (+new, -old), one streaming "
    "aggregation, zero reads of the base state. The telescoped "
    "deltas must equal the aggregate computed from the one-shot "
    "merge of the raw log",
    tags=("streaming", "cdc", "cdf", "ivm"),
)
def st16_cdf_consumer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.cdc.registry import SchemaRegistry
    from cdc_spark.streaming.pipeline import CdcStreamPipeline

    events = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    doc_json = F.to_json(
        F.struct(
            op.alias("op"),
            F.lit("public").alias("schema"),
            F.lit("user_state").alias("table"),
            F.col("event_id").alias("lsn"),
            F.lit(0).alias("tx_id"),
            F.when(
                op != "d",
                F.map_from_arrays(
                    F.array(
                        F.lit("user_id"), F.lit("event_type"), F.lit("value")
                    ),
                    F.array(
                        F.col("user_id").cast("string"),
                        F.col("event_type"),
                        F.round("value", 4).cast("string"),
                    ),
                ),
            ).alias("after"),
            F.when(
                op == "d",
                F.map_from_arrays(
                    F.array(F.lit("user_id")),
                    F.array(F.col("user_id").cast("string")),
                ),
            ).alias("key"),
        )
    )
    src_dir = tempfile.mkdtemp(prefix="st16_src_")
    (
        events.select(F.col("user_id"), doc_json.alias("__doc"))
        .repartition(4, F.col("user_id"))
        .select(F.col("__doc").alias("value"))
        .write.mode("overwrite")
        .text(src_dir)
    )
    reg = SchemaRegistry()
    reg.announce(
        "public",
        "user_state",
        [
            ("user_id", "bigint", True),
            ("event_type", "text"),
            ("value", "double precision"),
        ],
    )
    cdf_dir = tempfile.mkdtemp(prefix="st16_cdf_")
    pipe = CdcStreamPipeline(
        spark,
        reg,
        "public",
        "user_state",
        keys=["user_id"],
        payload=["event_type", "value"],
        state_path=tempfile.mkdtemp(prefix="st16_state_"),
        dialect="pgoutput_json",
        n_buckets=16,
        cdf_path=cdf_dir,
    )
    q = pipe.start(
        src_dir,
        tempfile.mkdtemp(prefix="st16_ckpt_"),
        max_files_per_trigger=1,
    )
    await_stream(q)

    # the INDEPENDENT consumer: a real streaming job over the feed
    feed_schema = (
        "op string, user_id bigint, event_type string, value double, "
        "old_event_type string, old_value double, version int"
    )
    feed = spark.readStream.schema(feed_schema).parquet(cdf_dir)
    contrib = feed.select(
        F.explode(
            F.filter(
                F.array(
                    F.when(
                        F.col("op").isin("c", "u"),
                        F.struct(
                            F.col("event_type").alias("t"),
                            F.lit(1).alias("dn"),
                            F.col("value").alias("dv"),
                        ),
                    ),
                    F.when(
                        F.col("op").isin("d", "u"),
                        F.struct(
                            F.col("old_event_type").alias("t"),
                            F.lit(-1).alias("dn"),
                            (-F.col("old_value")).alias("dv"),
                        ),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("c")
    ).select("c.t", "c.dn", "c.dv")
    agg = contrib.groupBy(F.col("t").alias("event_type")).agg(
        F.sum("dn").alias("n"),
        F.sum(F.col("dv").cast("decimal(30,4)"))
        .cast("double")
        .alias("total_value"),
    )
    out = _run_to_memory(agg, "complete")
    return out.where(F.col("n") != 0)


@register(
    "st17_stream_schema_evolution",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'Johny', 'Kowalski', '555-0199'),
        (2, 'Jane', 'Doe', NULL),
        (3, 'Joe', 'Fresh', '555-0100')
    ) AS t(id, firstname, lastname, phone_number)
    """,
    note="the reference's migration-002 story (ALTER TABLE ADD COLUMN "
    "on a live table, 002_user_field.up.sql) under REAL streaming: "
    "batch 2's wal2json docs carry a fourth column, the registry "
    "LEARNS the widened relation in-band from the batch's observed "
    "column announcements (no pre-declared schema), and the bucketed "
    "state widens mid-stream — inherited pre-migration buckets "
    "null-backfill on read, post-migration rows carry the new "
    "column. Gated against literals",
    tags=("streaming", "cdc", "schema"),
)
def st17_stream_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import json as _json

    from cdc_spark.cdc.envelope import parse_wal2json
    from cdc_spark.cdc.registry import SchemaRegistry
    from cdc_spark.streaming.state import BucketedStateTable

    def doc(names, values, keys=None, kind="insert"):
        c = {
            "kind": kind,
            "schema": "public",
            "table": "users",
            "columnnames": names,
            "columntypes": ["integer"] + ["text"] * (len(names) - 1),
            "columnvalues": values,
        }
        if keys is not None:
            c["oldkeys"] = {
                "keynames": ["id"],
                "keytypes": ["integer"],
                "keyvalues": keys,
            }
        return _json.dumps({"change": [c]})

    v1 = ["id", "firstname", "lastname"]
    v2 = v1 + ["phone_number"]
    batches = [
        [doc(v1, [1, "Johny", "Rambo"]), doc(v1, [2, "Jane", "Doe"])],
        [  # post-migration: the relation announcement rides in-band
            doc(v2, [1, "Johny", "Kowalski", "555-0199"], keys=[1],
                kind="update"),
            doc(v2, [3, "Joe", "Fresh", "555-0100"]),
        ],
    ]
    src_dir = tempfile.mkdtemp(prefix="st17_src_")
    ordn = 0
    for i, lines in enumerate(batches):
        path = os.path.join(src_dir, f"b{i}.txt")
        with open(path, "w") as fh:
            for line in lines:
                fh.write(f"{ordn}|{line}\n")
                ordn += 1
        os.utime(path, (1_700_000_000 + 60 * i,) * 2)

    reg = SchemaRegistry()
    state = BucketedStateTable(
        spark, tempfile.mkdtemp(prefix="st17_state_"), ["id"], n_buckets=8
    )
    meta_cols = {"op", "lsn", "tx_id", "commit_ts", "id"}

    def apply_batch(batch_df, epoch_id):
        raw = batch_df.select(
            F.split("value", "\\|", 2)[0].cast("long").alias("ord"),
            F.split("value", "\\|", 2)[1].alias("value"),
        )
        if raw.isEmpty():
            return
        parsed = raw.transform(
            lambda df: parse_wal2json(df, lsn_col="ord")
        )
        # in-band relation learning: each distinct observed column set
        # (bounded — one per schema version in the batch) upserts the
        # registry, exactly the reference's catalog swap on a Relation
        # message (main.go:425-427)
        seen = (
            parsed.where(F.col("col_types").isNotNull())
            .select(F.to_json("col_types").alias("j"))
            .distinct()
            .collect()
        )
        for r in sorted(rr["j"] for rr in seen):
            cols = _json.loads(r)  # insertion-ordered
            reg.announce(
                "public",
                "users",
                [(n, t, n == "id") for n, t in cols.items()],
            )
        typed = reg.materialize(parsed, "public", "users")
        payload = [c for c in typed.columns if c not in meta_cols]
        state.apply(typed, payload, batch_id=epoch_id)

    q = (
        spark.readStream.format("text")
        .schema("value string")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="st17_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    return state.read()


@register(
    "st18_stream_file_sink",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {dsum_sql('value')} AS total_value
    FROM events GROUP BY event_type
    """,
    note="REAL streaming FILE sink: the event stream appends parquet "
    "through Spark's transactional file sink (_spark_metadata commit "
    "log — readers see only files of committed batches, the "
    "exactly-once contract for file-based downstream consumers, "
    "unlike raw directory writes where a crashed task leaks partial "
    "files). The sink directory is read back as a batch table and "
    "aggregated; totals must equal the source exactly",
    tags=("streaming", "sink", "files"),
)
def st18_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    out_dir = tempfile.mkdtemp(prefix="st18_sink_")
    q = (
        stream.select("event_id", "event_type", "value")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="st18_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    # the commit log must exist — it IS the exactly-once mechanism
    if not os.path.isdir(os.path.join(out_dir, "_spark_metadata")):
        raise AssertionError("file sink wrote no _spark_metadata commit log")
    sunk = spark.read.parquet(out_dir)
    return sunk.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(30,6)"))
        .cast("double")
        .alias("total_value"),
    )


@register(
    "st19_late_data_drop",
    oracle="""
    SELECT * FROM (VALUES
        (TIMESTAMP '2024-01-01 02:00:00', 2),
        (TIMESTAMP '2024-01-01 05:00:00', 1),
        (TIMESTAMP '2024-01-01 09:00:00', 2),
        (TIMESTAMP '2024-01-01 11:00:00', 2)
    ) AS t(window_start, n)
    """,
    note="late-data DROP semantics, exercised for real: batch 1 "
    "advances the watermark to 08:00, batch 2 (a 09:30 filler) "
    "leaves it there while the early windows finalize, and batch 3 "
    "delivers a 02:30 straggler into a window the watermark passed "
    "two batches ago — Spark MUST drop it (a straggler sharing its "
    "batch with the eviction would still be counted, which is why "
    "the three-batch construction matters), asserted via the state "
    "operator's numRowsDroppedByWatermark counter. The oracle "
    "encodes the streaming contract literally: the straggler is "
    "absent from its window, on-time rows all present",
    tags=("streaming", "watermark", "late-data"),
)
def st19_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    def ts(h, m=0):
        return _dt.datetime(2024, 1, 1, h, m)

    batches = [
        [ts(2, 10), ts(2, 40), ts(5, 15), ts(9, 0)],  # watermark -> 08:00
        [ts(9, 30)],                                  # windows finalize
        [ts(2, 30), ts(11, 5), ts(11, 45)],           # straggler + tail
    ]
    src_dir = tempfile.mkdtemp(prefix="st19_src_")
    for i, rows in enumerate(batches):
        path = os.path.join(src_dir, f"b{i}.txt")
        with open(path, "w") as fh:
            for t in rows:
                fh.write(t.isoformat() + "\n")
        os.utime(path, (1_700_000_000 + 60 * i,) * 2)

    stream = (
        spark.readStream.format("text")
        .schema("value string")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
        .select(F.to_timestamp("value").alias("ts"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )
    name = f"q_{uuid.uuid4().hex[:10]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for pr in q.recentProgress
        for op in (pr.get("stateOperators") or [])
    )
    if dropped != 1:
        raise AssertionError(
            f"expected exactly the one straggler dropped, got {dropped}"
        )
    out = spark.sql(f"SELECT * FROM {name}")
    # the 11:00 window stays open (final watermark 10:45 < 12:00);
    # reconstruct it from the on-time tail rows, exactly what a
    # downstream reconciler does for the open horizon
    final_wm = ts(10, 45)
    tail = (
        spark.createDataFrame(
            [(t,) for t in batches[2] if t > final_wm], "ts timestamp"
        )
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )
    return out.unionByName(tail)


from cdc_spark.queries.similarity_queries import _pq_adc_oracle as __pq_oracle


@register(
    "st20_stream_vector_index_ingest",
    oracle=__pq_oracle(),
    note="vector index maintained BY A STREAM (the embedding-pipeline "
    "serving loop): the corpus arrives as a file stream in rate-"
    "limited micro-batches; each batch encodes against the frozen "
    "integer PQ codebook inside foreachBatch and APPENDS its codes "
    "to the persisted index — O(batch) per trigger, existing code "
    "files never touched, file-source checkpointing gives "
    "exactly-once batch admission. After the stream drains, a probe "
    "against the stream-built index hash-matches the one-shot "
    "encoding of the whole corpus (ss15's oracle)",
    tags=("streaming", "similarity", "pq", "index", "incremental"),
)
def st20_stream_vector_index_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_spark.operators.ivf import PqIndex, pq_codebook

    emb = load_table(spark, sf_dir, "embeddings")
    codebook = pq_codebook(
        emb, "embedding", "vec_id", dim=64, m=8, k=16, scale=64
    )
    # seed an EMPTY index carrying only the frozen codebook
    idx = PqIndex.build(
        spark,
        tempfile.mkdtemp(prefix="st20_pqidx_"),
        emb.limit(0),
        "embedding",
        "vec_id",
        codebook=codebook,
        scale=64,
    )
    # the streaming file source requires a directory (testdata is a
    # single read-only file): expose it through a temp-dir symlink
    stream_dir = tempfile.mkdtemp(prefix="st20_src_")
    os.symlink(
        table_path(sf_dir, "embeddings"),
        os.path.join(stream_dir, "embeddings.parquet"),
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, epoch_id: idx.add(batch)
        )
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="st20_ckpt_")
        )
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    probe = (
        emb.where(F.col("vec_id") == 0).first()["embedding"]
    )
    return idx.topk(probe, k=10)


@register(
    "st21_state_store_inspection",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    note="streaming-state OBSERVABILITY (the Spark 4 State Data "
    "Source): after a checkpointed streaming aggregation runs, the "
    "checkpoint's state store is read back as a plain batch "
    "DataFrame — per-key state rows straight from the operator's "
    "RocksDB/HDFS store files, no query restart. The "
    "debugging/repair surface a 100 TB streaming deployment needs "
    "(inspect skewed keys, audit state size, validate upgrades); "
    "gated by the state itself hash-matching the batch aggregation "
    "of the same input",
    tags=("streaming", "state", "observability"),
)
def st21_state_store_inspection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    agg = stream.groupBy("event_type").count()
    ckpt = tempfile.mkdtemp(prefix="st21_ckpt_")
    name = f"st21_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("n"),
    )


@register(
    "st22_stream_scd2_build",
    oracle="""
    WITH ch AS (
        SELECT CASE WHEN event_type = 'signup' THEN 'c'
                    WHEN event_type = 'error' THEN 'd'
                    ELSE 'u' END AS op,
               event_id AS lsn, user_id, event_type, value
        FROM events
    ),
    v AS (
        SELECT *,
               LEAD(lsn) OVER (PARTITION BY user_id ORDER BY lsn)
                   AS valid_to
        FROM ch
    )
    SELECT user_id, event_type,
           ROUND(value, 4) AS value,
           lsn AS valid_from, valid_to,
           CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
    FROM v WHERE op IN ('c', 'u')
    """,
    note="SCD2 history built INCREMENTALLY by a stream (cdc12 is the "
    "one-shot batch reconstruction; this is the warehouse-dimension "
    "maintenance loop): the log arrives in four lsn-ordered "
    "micro-batches; each batch bucket-prunes the CURRENT open "
    "intervals of only its touched users (dd13's probe discipline), "
    "unions them with the batch as pseudo-changes, closes intervals "
    "via one per-user lead window over that O(batch) frame, APPENDS "
    "closed versions to an immutable per-epoch directory "
    "(overwrite-idempotent under replay) and latest-wins-applies the "
    "new open intervals. Closed ∪ current after the stream drains "
    "must equal cdc12's whole-log reconstruction",
    tags=("streaming", "cdc", "scd2", "state"),
)
def st22_stream_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cdc_spark.streaming.state import BucketedStateTable

    events = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    changes = events.select(
        op.alias("op"),
        F.col("event_id").alias("lsn"),
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
    )
    max_lsn = changes.agg(F.max("lsn")).first()[0]

    # four lsn-quartile files with strictly increasing mtimes: the
    # file source replays them as four ordered micro-batches, so a
    # user's history SPANS batches (the case that exercises the
    # incremental close/open fold)
    src_dir = tempfile.mkdtemp(prefix="st22_src_")
    doc = F.to_json(F.struct("op", "lsn", "user_id", "event_type", "value"))
    lo = -1
    for i in (1, 2, 3, 4):
        hi = max_lsn * i // 4
        part = changes.where((F.col("lsn") > lo) & (F.col("lsn") <= hi))
        # Spark-written, ONE file per quartile (no driver-side row
        # collect): a quartile split across files could split a
        # user's changes into unordered micro-batches — at scale the
        # slicing would be per KEY partition (st14's construction)
        # instead of per time slice
        stage = tempfile.mkdtemp(prefix="st22_stage_")
        part.select(doc.alias("value")).coalesce(1).write.mode(
            "overwrite"
        ).text(stage)
        (src_file,) = [
            n for n in os.listdir(stage) if n.startswith("part-")
        ]
        dst = os.path.join(src_dir, f"b{i}.json")
        os.replace(os.path.join(stage, src_file), dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        lo = hi

    n_buckets = 16
    state = BucketedStateTable(
        spark,
        tempfile.mkdtemp(prefix="st22_cur_"),
        ["user_id"],
        n_buckets=n_buckets,
    )
    closed_dir = tempfile.mkdtemp(prefix="st22_closed_")
    batch_schema = (
        "op string, lsn bigint, user_id bigint, event_type string,"
        " value double"
    )

    def fold(raw, epoch_id):
        batch = raw.select(
            F.from_json(F.col("value"), batch_schema).alias("c")
        ).select("c.*")
        touched_row = batch.select(
            F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).alias("b")
        ).agg(F.collect_set("b")).first()
        touched = touched_row[0] if touched_row else []
        cur = state.read_buckets(touched) if touched else None
        if cur is not None:
            # open intervals of touched users re-enter as pseudo-changes
            pseudo = cur.join(
                batch.select("user_id").distinct(), "user_id", "left_semi"
            ).select(
                F.lit("u").alias("op"),
                F.col("valid_from").alias("lsn"),
                "user_id",
                "event_type",
                "value",
            )
            frame = batch.unionByName(pseudo)
        else:
            frame = batch
        w = Window.partitionBy("user_id").orderBy("lsn")
        timed = frame.withColumn("valid_to", F.lead("lsn").over(w))
        closed = timed.where(
            F.col("valid_to").isNotNull() & F.col("op").isin("c", "u")
        ).select(
            "user_id", "event_type", "value",
            F.col("lsn").alias("valid_from"), "valid_to",
        )
        closed.write.mode("overwrite").parquet(
            os.path.join(closed_dir, f"epoch={epoch_id}")
        )
        tail = timed.where(F.col("valid_to").isNull()).select(
            "op", "lsn", "user_id", "event_type", "value",
            F.col("lsn").alias("valid_from"),
        )
        state.apply(
            tail, ["event_type", "value", "valid_from"], batch_id=epoch_id
        )

    q = (
        spark.readStream.format("text")
        .schema("value string")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="st22_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)

    closed = spark.read.parquet(closed_dir).select(
        "user_id", "event_type", "value", "valid_from", "valid_to"
    )
    current = state.read().select(
        "user_id", "event_type", "value", "valid_from",
        F.lit(None).cast("long").alias("valid_to"),
    )
    hist = closed.unionByName(current)
    return hist.select(
        "user_id", "event_type", "value", "valid_from", "valid_to",
        F.when(F.col("valid_to").isNull(), 1).otherwise(0).alias(
            "is_current"
        ),
    )


@register(
    "st23_stream_watchlist_alerts",
    oracle="""
    WITH wl AS (
        SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
        WHERE vec_id IN (0, 7, 13)
    )
    SELECT wl.probe_id, e.vec_id,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                        wl.pe::DOUBLE[]), 4) AS sim
    FROM embeddings e, wl
    WHERE ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                       wl.pe::DOUBLE[]), 4) >= 0.15
    """,
    note="near-duplicate ALERTING on ingest (the content-moderation / "
    "canary shape): vectors arrive as a stream; every micro-batch "
    "scores each item against a 3-probe WATCHLIST embedded as "
    "literals (bounded collect, broadcast by constant folding — no "
    "join node, ss05's trick) and emits (probe, item, sim) alerts "
    "above the radius threshold. Stateless per-batch transform — "
    "append-mode output, no state store, scales as O(batch x "
    "watchlist); the drained alert set hash-matches the batch "
    "cross-score",
    tags=("streaming", "similarity", "alerting", "radius"),
)
def st23_stream_watchlist_alerts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    watch = [
        (r.vec_id, r.embedding)
        for r in emb.where(F.col("vec_id").isin(0, 7, 13))
        .select("vec_id", "embedding")
        .collect()
    ]

    stream_dir = tempfile.mkdtemp(prefix="st23_src_")
    os.symlink(
        table_path(sf_dir, "embeddings"),
        os.path.join(stream_dir, "embeddings.parquet"),
    )
    stream = spark.readStream.schema(emb.schema).parquet(stream_dir)

    alerts = stream.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(pid).alias("probe_id"),
                        F.round(
                            cosine(
                                F.col("embedding"),
                                F.array(*[F.lit(float(x)) for x in pe]),
                            ),
                            4,
                        ).alias("sim"),
                    )
                    for pid, pe in watch
                ]
            )
        ).alias("a"),
    ).select("a.probe_id", "vec_id", "a.sim").where(
        F.col("sim") >= 0.15
    )
    name = f"st23_{uuid.uuid4().hex[:8]}"
    q = (
        alerts.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="st23_ck_")
        )
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    return spark.table(name)


@register(
    "st24_stream_partitioned_sink",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {dsum_sql('value')} AS total_value
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
    note="PARTITIONED streaming file sink: partitionBy(event_type) "
    "through the transactional _spark_metadata sink, so each "
    "micro-batch lands hive-layout event_type=X/ files atomically — "
    "the streaming half of the partition-pruned lake layout io04 "
    "reads. Proof of pruning, not just layout: each partition value "
    "is read back via its DIRECTORY path (never scanning siblings), "
    "and the per-partition totals must equal the source exactly — "
    "at 100 TB this is what lets downstream consumers subscribe to "
    "one partition of a feed without paying for the rest",
    tags=("streaming", "sink", "partitioned", "files"),
)
def st24_stream_partitioned_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = _events_stream(spark, sf_dir)
    out_dir = tempfile.mkdtemp(prefix="st24_sink_")
    q = (
        stream.select("event_id", "event_type", "value")
        .where(F.col("event_type").isin("click", "purchase"))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="st24_ckpt_")
        )
        .partitionBy("event_type")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    if not os.path.isdir(os.path.join(out_dir, "_spark_metadata")):
        raise AssertionError("file sink wrote no _spark_metadata log")
    parts = []
    for et in ("click", "purchase"):
        pdir = os.path.join(out_dir, f"event_type={et}")
        if not os.path.isdir(pdir):
            raise AssertionError(f"missing partition dir {pdir}")
        # per-partition read: only this directory's files are listed
        part = spark.read.parquet(pdir)
        parts.append(
            part.agg(
                F.lit(et).alias("event_type"),
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(30,6)"))
                .cast("double")
                .alias("total_value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "st25_rocksdb_state_backend",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           {dsum_sql('value')} AS total_value
    FROM events GROUP BY 1, 2
    """,
    note="the PRODUCTION streaming state backend, driver-gated (not "
    "just test-verified): the st01 tumbling aggregation re-run with "
    "RocksDBStateStoreProvider — per-key state lives off-heap in "
    "RocksDB with incremental checkpointing, the bounded-memory "
    "requirement for 100 TB streaming state where the default "
    "HDFS-backed store holds every key on-heap. The provider is "
    "asserted active on the query's own progress (not trusted from "
    "conf), and results must equal the batch oracle exactly — "
    "backend choice cannot change semantics",
    tags=("streaming", "state-backend", "rocksdb", "window"),
)
def st25_rocksdb_state_backend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import json as _json

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    try:
        prev = spark.conf.get(key)
    except Exception:  # unset in a fresh session
        prev = None
    spark.conf.set(key, rocks)
    try:
        stream = _events_stream(spark, sf_dir)
        agg = stream.withWatermark("ts", "0 seconds").groupBy(
            F.window("ts", "1 hour"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_value"),
        )
        name = f"q_{uuid.uuid4().hex[:10]}"
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="st25_")
            )
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q)
        # the backend must actually have been RocksDB for this query
        progress = q.lastProgress
        providers = _json.dumps(progress, default=str) if progress else ""
        # RocksDB surfaces as rocksdb* custom metrics on the state
        # operator — the default HDFS-backed store reports none
        if "rocksdb" not in providers.lower():
            raise AssertionError(
                "RocksDB state store was not active for the query"
            )
        return spark.sql(f"SELECT * FROM {name}").select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@register(
    "st26_rate_limited_backfill",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {dsum_sql('value')} AS total_value,
           CAST(8 AS BIGINT) AS n_batches
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
    note="source rate limiting — the bounded-memory backfill story: a "
    "100 TB historical directory replayed through Structured "
    "Streaming must NOT arrive as one giant micro-batch (executor "
    "memory, shuffle spill, and checkpoint recovery granularity all "
    "scale with batch size). The source is laid out as 8 files, read "
    "with ``maxFilesPerTrigger=1`` under ``Trigger.AvailableNow`` — "
    "which, unlike the legacy once trigger, RESPECTS source rate "
    "limits while still draining to completion. Asserted in-query: "
    "exactly 8 non-empty micro-batches, each no larger than the "
    "biggest source file; the batch count is also hash-gated as an "
    "output column. Restart-safe by construction (file-source "
    "offsets checkpoint per batch, so a crash resumes at file "
    "granularity, not from zero)",
    tags=("streaming", "rate-limit", "backfill", "source"),
)
def st26_rate_limited_backfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    src_dir = tempfile.mkdtemp(prefix="st26_src_")
    events.repartition(8).write.mode("overwrite").parquet(src_dir)
    n_files = sum(
        1 for f in os.listdir(src_dir) if f.endswith(".parquet")
    )
    if n_files != 8:
        raise AssertionError(f"expected 8 source files, got {n_files}")
    out_dir = tempfile.mkdtemp(prefix="st26_out_")
    batch_rows: list[int] = []

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        if n:
            batch_rows.append(n)
            batch_df.write.mode("append").parquet(out_dir)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_sink)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="st26_ckpt_")
        )
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    if len(batch_rows) != 8:
        raise AssertionError(
            f"rate limit ignored: {len(batch_rows)} micro-batches "
            f"(sizes {batch_rows}) instead of 8"
        )
    biggest_file = (
        spark.read.parquet(src_dir)
        .groupBy(F.input_file_name())
        .count()
        .agg(F.max("count"))
        .first()[0]
    )  # one bounded job: 8 groups
    if max(batch_rows) > biggest_file:
        raise AssertionError(
            "a micro-batch exceeded the largest source file: "
            f"{max(batch_rows)} > {biggest_file}"
        )
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_value"),
            F.lit(len(batch_rows)).cast("long").alias("n_batches"),
        )
    )


_ST27_K = 64


@register(
    "st27_streaming_kmv_cardinality",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT
            CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                 AS BIGINT) AS _h
        FROM events
    ),
    topk AS (SELECT _h FROM h ORDER BY _h LIMIT {_ST27_K}),
    m AS (
        SELECT MAX(_h) AS kth_hash,
               CAST(COUNT(*) AS BIGINT) AS n_hashes
        FROM topk
    ),
    ex AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM events
    )
    SELECT m.n_hashes, m.kth_hash,
           ROUND(CASE WHEN m.n_hashes < {_ST27_K}
                 THEN CAST(m.n_hashes AS DOUBLE)
                 ELSE {float(_ST27_K - 1)!r} * {float(1 << 60)!r}
                      / CAST(m.kth_hash AS DOUBLE) END, 4) AS est_users,
           ex.exact_users,
           CAST(6 AS BIGINT) AS n_batches
    FROM m, ex
    """,
    note="streaming KMV cardinality maintenance — the mergeable-sketch "
    "property in motion: a live distinct-user monitor over a 100 TB "
    "firehose keeps exactly k=64 hash rows of state, each "
    "micro-batch folding its own bounded top-k (TakeOrdered, no "
    "global window) into the persisted sketch at O(batch + k) cost "
    "— the corpus is never re-read and state never grows. Because "
    "KMV union is LOSSLESS for the final k-minimum set, the "
    "streaming result is bit-identical to the batch sketch, so the "
    "oracle is plain SQL over all events (no tolerance band); "
    "exact_users is the eval column, batch count (6 one-file "
    "micro-batches under availableNow) hash-gated like st26",
    tags=("streaming", "sketch", "approx", "incremental"),
)
def st27_streaming_kmv_cardinality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_spark.operators.dedup import portable_hash60
    from cdc_spark.streaming.state import BucketedStateTable

    events = load_table(spark, sf_dir, "events").select("user_id")
    src_dir = tempfile.mkdtemp(prefix="st27_src_")
    events.repartition(6).write.mode("overwrite").parquet(src_dir)
    # the sketch is a snapshot table: each fold commits a new version
    # by one rename (a replayed epoch commits nothing), then drops the
    # superseded one, so the stored state stays k rows
    sketch = BucketedStateTable(
        spark, tempfile.mkdtemp(prefix="st27_state_"), ["_h"], n_buckets=1
    )
    n_batches = [0]

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        batch_sk = (
            batch_df.select(
                portable_hash60(
                    F.col("user_id").cast("string")
                ).alias("_h")
            )
            .distinct()
            .orderBy("_h")
            .limit(_ST27_K)
        )
        base = sketch.read(session=batch_df.sparkSession)
        if base is not None:
            batch_sk = (
                base.unionByName(batch_sk)
                .distinct()
                .orderBy("_h")
                .limit(_ST27_K)
            )
        sketch.overwrite_buckets(
            batch_sk, [0], extra_meta={"batch_id": batch_id}
        )
        sketch.vacuum(keep_last=1)
        if not batch_df.isEmpty():
            n_batches[0] += 1

    q = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(_fold)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="st27_ckpt_")
        )
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    if n_batches[0] != 6:
        raise AssertionError(
            f"expected 6 one-file micro-batches, got {n_batches[0]}"
        )
    sk = sketch.read().agg(
        F.max("_h").alias("kth_hash"),
        F.count("*").alias("n_hashes"),
    )
    exact = events.agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    est = (
        F.lit(float(_ST27_K - 1))
        * F.lit(float(1 << 60))
        / F.col("kth_hash").cast("double")
    )
    return sk.crossJoin(F.broadcast(exact)).select(
        "n_hashes",
        "kth_hash",
        F.round(
            F.when(
                F.col("n_hashes") < _ST27_K,
                F.col("n_hashes").cast("double"),
            ).otherwise(est),
            4,
        ).alias("est_users"),
        "exact_users",
        F.lit(6).cast("long").alias("n_batches"),
    )


_ST28_K = 128
_ST28_Q = (("p25", 1, 4), ("p50", 1, 2), ("p90", 9, 10))
_ST28_VALUES = ", ".join(
    f"('{lab}', {num}, {den})" for lab, num, den in _ST28_Q
)


@register(
    "st28_streaming_quantile_sketch",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) AS _h
        FROM documents
    ),
    samp AS (
        SELECT doc_id, n_chars FROM h ORDER BY _h, doc_id
        LIMIT {_ST28_K}
    ),
    sr AS (
        SELECT n_chars,
               row_number() OVER (ORDER BY n_chars, doc_id) AS rn
        FROM samp
    ),
    sn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM samp),
    q(quantile, num, den) AS (VALUES {_ST28_VALUES}),
    est AS (
        SELECT q.quantile,
               CAST(FLOOR((q.num * sn.n + q.den - 1) / q.den)
                    AS BIGINT) AS sample_rank
        FROM q, sn
    )
    SELECT est.quantile, est.sample_rank,
           sr.n_chars AS est_chars,
           CAST(6 AS BIGINT) AS n_batches
    FROM est JOIN sr ON sr.rn = est.sample_rank
    """,
    note="streaming quantile-sketch maintenance — q106's bottom-k "
    "sample kept live over a firehose exactly as st27 keeps KMV: "
    "each micro-batch folds its own bounded top-k (TakeOrdered, "
    "O(batch + k)) into k=128 persisted sample rows, state never "
    "grows, corpus never re-read. Bottom-k union is LOSSLESS, so "
    "the streamed sample — and therefore every rank-interpolated "
    "quantile read off it — is bit-identical to the batch sketch; "
    "oracle is plain batch SQL over all documents, no tolerance "
    "band. The live length-distribution monitor a 100 TB ingest "
    "watches for drift; batch count hash-gated like st26/st27",
    tags=("streaming", "sketch", "approx", "sampling", "incremental"),
)
def st28_streaming_quantile_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_spark.operators.dedup import portable_hash60
    from cdc_spark.operators.sketches import sample_quantiles
    from cdc_spark.streaming.state import BucketedStateTable

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    src_dir = tempfile.mkdtemp(prefix="st28_src_")
    docs.repartition(6).write.mode("overwrite").parquet(src_dir)
    sample = BucketedStateTable(
        spark, tempfile.mkdtemp(prefix="st28_state_"), ["doc_id"], n_buckets=1
    )
    n_batches = [0]

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        batch_sk = batch_df.select(
            "doc_id",
            "n_chars",
            portable_hash60(F.col("doc_id").cast("string")).alias("_h"),
        ).orderBy("_h", "doc_id").limit(_ST28_K)
        base = sample.read(session=batch_df.sparkSession)
        if base is not None:
            batch_sk = (
                base.unionByName(batch_sk)
                .orderBy("_h", "doc_id")
                .limit(_ST28_K)
            )
        sample.overwrite_buckets(
            batch_sk, [0], extra_meta={"batch_id": batch_id}
        )
        sample.vacuum(keep_last=1)
        if not batch_df.isEmpty():
            n_batches[0] += 1

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(_fold)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="st28_ckpt_")
        )
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    if n_batches[0] != 6:
        raise AssertionError(
            f"expected 6 one-file micro-batches, got {n_batches[0]}"
        )
    return sample_quantiles(
        sample.read(), "n_chars", "doc_id", _ST28_Q
    ).select(
        "quantile",
        "sample_rank",
        F.col("est").alias("est_chars"),
        F.lit(6).cast("long").alias("n_batches"),
    )


_ST29_D, _ST29_W, _ST29_PROBES = 4, 256, 5


@register(
    "st29_streaming_cms_maintenance",
    oracle=f"""
    WITH counters AS (
        SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT t.j AS j,
                   CAST('0x' || substr(md5(CAST(t.j AS VARCHAR) || ':'
                        || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % {_ST29_W} AS bucket
            FROM events, range({_ST29_D}) t(j)
        )
        GROUP BY j, bucket
    ),
    probes AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_n
        FROM events GROUP BY user_id
        ORDER BY true_n DESC, user_id LIMIT {_ST29_PROBES}
    ),
    pb AS (
        SELECT p.user_id, p.true_n, t.j AS j,
               CAST('0x' || substr(md5(CAST(t.j AS VARCHAR) || ':'
                    || CAST(p.user_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % {_ST29_W} AS bucket
        FROM probes p, range({_ST29_D}) t(j)
    )
    SELECT pb.user_id, pb.true_n,
           MIN(c.cnt) AS cms_n,
           CAST(6 AS BIGINT) AS n_batches
    FROM pb JOIN counters c ON pb.j = c.j AND pb.bucket = c.bucket
    GROUP BY pb.user_id, pb.true_n
    ORDER BY pb.true_n DESC, pb.user_id
    """,
    note="streaming count-min maintenance — the third streaming "
    "sketch beside st27 (KMV) and st28 (bottom-k quantiles), and "
    "the exact maintenance loop q110's join-size planner reads "
    "from: each micro-batch builds its own d=4 x w=256 grid "
    "(map-side combined, corpus-independent) and FOLDS it into the "
    "persisted grid by cell-wise ADD — CMS merge is counter "
    "addition, so the streamed grid is bit-identical to the batch "
    "grid over all data and the oracle is plain SQL, no tolerance "
    "band. State is <= d*w rows forever; per-trigger cost "
    "O(batch + d*w). Top-5 hot keys probed against the final grid "
    "(always >= truth); batch count hash-gated like st26-st28",
    tags=("streaming", "sketch", "approx", "incremental"),
)
def st29_streaming_cms_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_spark.operators.dedup import portable_hash60
    from cdc_spark.operators.sketches import countmin_counters
    from cdc_spark.streaming.state import BucketedStateTable

    events = load_table(spark, sf_dir, "events").select("user_id")
    src_dir = tempfile.mkdtemp(prefix="st29_src_")
    events.repartition(6).write.mode("overwrite").parquet(src_dir)
    grid = BucketedStateTable(
        spark,
        tempfile.mkdtemp(prefix="st29_state_"),
        ["j", "bucket"],
        n_buckets=1,
    )
    n_batches = [0]

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        batch_grid = countmin_counters(
            batch_df, "user_id", _ST29_D, _ST29_W
        )
        base = grid.read(session=batch_df.sparkSession)
        if base is not None:
            batch_grid = (
                base.unionByName(batch_grid)
                .groupBy("j", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
        grid.overwrite_buckets(
            batch_grid, [0], extra_meta={"batch_id": batch_id}
        )
        grid.vacuum(keep_last=1)
        if not batch_df.isEmpty():
            n_batches[0] += 1

    q = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(_fold)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="st29_ckpt_")
        )
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    if n_batches[0] != 6:
        raise AssertionError(
            f"expected 6 one-file micro-batches, got {n_batches[0]}"
        )
    counters = grid.read()
    probes = (
        events.groupBy("user_id")
        .agg(F.count("*").alias("true_n"))
        .orderBy(F.desc("true_n"), F.asc("user_id"))
        .limit(_ST29_PROBES)
    )
    pb = probes.select(
        "user_id",
        "true_n",
        F.explode(
            F.array(*[F.lit(j) for j in range(_ST29_D)])
        ).alias("j"),
    ).withColumn(
        "bucket",
        portable_hash60(
            F.concat_ws(
                ":",
                F.col("j").cast("string"),
                F.col("user_id").cast("string"),
            )
        )
        % _ST29_W,
    )
    return (
        counters.join(F.broadcast(pb), ["j", "bucket"])
        .groupBy("user_id", "true_n")
        .agg(F.min("cnt").alias("cms_n"))
        .select(
            "user_id",
            "true_n",
            "cms_n",
            F.lit(6).cast("long").alias("n_batches"),
        )
        .orderBy(F.desc("true_n"), F.asc("user_id"))
    )


_ST30_D, _ST30_W, _ST30_SHARDS, _ST30_DEN = 4, 256, 6, 20
_ST30_KEY = (
    "CASE WHEN user_id % 4 = 0 THEN user_id ELSE user_id % 7 END"
)


@register(
    "st30_streaming_heavy_hitters",
    oracle=f"""
    WITH keyed AS (
        SELECT {_ST30_KEY} AS hot_key, event_id FROM events
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM keyed),
    sharded AS (
        SELECT hot_key,
               CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % {_ST30_SHARDS} AS shard
        FROM keyed
    ),
    shard_tot AS (
        SELECT shard, COUNT(*) AS st FROM sharded GROUP BY shard
    ),
    cand AS (
        SELECT DISTINCT l.hot_key
        FROM (
            SELECT shard, hot_key, COUNT(*) AS c
            FROM sharded GROUP BY shard, hot_key
        ) l JOIN shard_tot s ON l.shard = s.shard
        WHERE {_ST30_DEN} * l.c >= s.st
    ),
    counters AS (
        SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (
            SELECT t.j AS j,
                   CAST('0x' || substr(md5(CAST(t.j AS VARCHAR) || ':'
                        || CAST(hot_key AS VARCHAR)), 1, 15) AS BIGINT)
                       % {_ST30_W} AS bucket
            FROM keyed, range({_ST30_D}) t(j)
        )
        GROUP BY j, bucket
    ),
    pb AS (
        SELECT c.hot_key, t.j AS j,
               CAST('0x' || substr(md5(CAST(t.j AS VARCHAR) || ':'
                    || CAST(c.hot_key AS VARCHAR)), 1, 15) AS BIGINT)
                   % {_ST30_W} AS bucket
        FROM cand c, range({_ST30_D}) t(j)
    ),
    est AS (
        SELECT pb.hot_key, MIN(co.cnt) AS est_n
        FROM pb JOIN counters co
            ON pb.j = co.j AND pb.bucket = co.bucket
        GROUP BY pb.hot_key
    ),
    exact AS (
        SELECT k.hot_key, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM keyed k JOIN cand USING (hot_key)
        GROUP BY k.hot_key
    )
    SELECT est.hot_key, est.est_n, exact.exact_n,
           CAST({_ST30_SHARDS} AS BIGINT) AS n_batches
    FROM est
    JOIN exact ON est.hot_key = exact.hot_key
    CROSS JOIN tot t
    WHERE {_ST30_DEN} * est.est_n >= t.n
    ORDER BY est.est_n DESC, est.hot_key
    """,
    note="streaming heavy hitters - q112's extractor as a "
    "maintenance loop, the fourth streaming sketch beside "
    "st27/st28/st29. Each micro-batch IS the pigeonhole shard "
    "(source files are written one per deterministic md5 shard of "
    "event_id, so the oracle recomputes the exact batch "
    "decomposition - round-robin repartition would make candidate "
    "sets irreproducible): the batch folds its d=4 x w=256 CMS "
    "grid into the persisted grid by cell-wise ADD and appends its "
    "local candidates (keys with 20*batch_cnt >= batch_total, "
    "<= 20 rows per batch by the q112 counting argument). "
    "Pigeonhole over batches guarantees the accumulated candidate "
    "set is a superset of every key with global share >= 1/20; "
    "read time point-estimates candidates against the final grid "
    "(never undercounts => no false negatives) - state is "
    "d*w + 20*batches rows forever, per-trigger cost "
    "O(batch + d*w + 20). exact_n grades precision; batch count "
    "hash-gated like st26-st29",
    tags=("streaming", "sketch", "approx", "incremental", "skew"),
)
def st30_streaming_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_spark.operators.dedup import (
        portable_hash60,
        portable_hash60_sql,
    )

    events = load_table(spark, sf_dir, "events")
    keyed = events.select(
        F.when(F.col("user_id") % 4 == 0, F.col("user_id"))
        .otherwise(F.col("user_id") % 7)
        .alias("hot_key"),
        "event_id",
    )
    src_dir = tempfile.mkdtemp(prefix="st30_src_")
    # one FILE per deterministic shard: each micro-batch then holds
    # exactly one shard's rows, so the oracle can recompute the
    # per-batch candidate extraction. ONE job writes all shards
    # (round 13: the per-shard where+coalesce loop re-scanned and
    # re-hashed the events table _ST30_SHARDS times): hash-repartition
    # by shard puts every shard value in exactly one task, partitionBy
    # then writes exactly one file per shard directory, and the files
    # are moved into the flat source layout. Shard contents, schema
    # and batch decomposition are identical to the per-shard loop.
    sharded = keyed.withColumn(
        "shard",
        portable_hash60(F.col("event_id").cast("string")) % _ST30_SHARDS,
    )
    stage_dir = tempfile.mkdtemp(prefix="st30_stage_")
    (
        sharded.repartition(_ST30_SHARDS, "shard")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(stage_dir)
    )
    import glob as _glob
    import shutil as _shutil

    from cdc_spark.streaming.state import BucketedStateTable, local_fs_path

    # the staged-shard rearrangement below is plain local-file IO —
    # route both directories through the state layer's one FS seam so
    # a non-local path fails loudly instead of corrupting the layout
    stage_dir = local_fs_path(stage_dir)
    src_dir = local_fs_path(src_dir)
    for s in range(_ST30_SHARDS):
        parts = _glob.glob(os.path.join(stage_dir, f"shard={s}", "part-*"))
        if parts:
            if len(parts) != 1:
                raise AssertionError(
                    f"shard {s}: expected one file, got {len(parts)}"
                )
            _shutil.move(
                parts[0], os.path.join(src_dir, f"shard-{s}.parquet")
            )
        else:
            # an empty shard still owes its micro-batch (the n_batches
            # assert counts _ST30_SHARDS) — write an empty one-file
            # frame exactly as the old per-shard loop did
            spark.createDataFrame([], keyed.schema).coalesce(
                1
            ).write.mode("append").parquet(src_dir)
    _shutil.rmtree(stage_dir, ignore_errors=True)
    # Retry-idempotent fold: foreachBatch replays a micro-batch after
    # a failure with the SAME batch_id. The whole per-batch state —
    # merged CMS grid rows AND the accumulated candidate set — is ONE
    # unified relation kept in a snapshot table: each fold commits a
    # new version by one rename (a replayed epoch commits nothing),
    # then drops the superseded one. Empty micro-batches (an empty
    # shard file) still commit a version and count toward n_batches —
    # skipping them would trip the shard assertion below.
    #
    # Round 13 (guide §1.2 "the distributed algorithm" + §2.4): the
    # fold is ONE Spark action per trigger. The per-key counts feed
    # the grid cells, the batch total (a broadcast 1-row aggregate)
    # and the candidate filter inside one plan, so the per-key
    # exchange is built once and reused; previously the fold ran 4-5
    # driver actions per micro-batch (checkpoint, emptiness probe,
    # grid write, candidate append) and the trigger cadence paid each
    # one's scheduling floor. State stays d·w + ≤DEN·batches rows.
    sketch = BucketedStateTable(
        spark, tempfile.mkdtemp(prefix="st30_state_"), ["kind"], n_buckets=1
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        pk = batch_df.groupBy("hot_key").agg(F.count("*").alias("c"))
        batch_grid = (
            pk.selectExpr(
                "hot_key",
                "c",
                "explode(sequence(0, {d})) AS j".format(d=_ST30_D - 1),
            )
            .selectExpr(
                "c",
                "j",
                "pmod({h}, {w}) AS bucket".format(
                    h=portable_hash60_sql(
                        "concat_ws(':', CAST(j AS STRING), "
                        "CAST(hot_key AS STRING))"
                    ),
                    w=_ST30_W,
                ),
            )
            .groupBy("j", "bucket")
            .agg(F.sum("c").alias("cnt"))
        )
        # local candidate extraction: <= _ST30_DEN keys per batch (the
        # q112 counting argument); the batch total is a broadcast 1-row
        # aggregate INSIDE the plan, not a driver collect
        bt = pk.agg(F.sum("c").alias("__bt"))
        batch_cand = (
            pk.crossJoin(F.broadcast(bt))
            .where(F.lit(_ST30_DEN) * F.col("c") >= F.col("__bt"))
            .select("hot_key")
        )
        grid, cand_rows = batch_grid, batch_cand
        pdf = sketch.read(session=batch_df.sparkSession)
        if pdf is not None:
            grid = (
                pdf.where(F.col("kind") == "g")
                .select("j", "bucket", "cnt")
                .unionByName(batch_grid)
                .groupBy("j", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
            cand_rows = (
                pdf.where(F.col("kind") == "c")
                .select("hot_key")
                .unionByName(batch_cand)
            )
        unified = grid.select(
            F.lit("g").alias("kind"),
            "j",
            "bucket",
            "cnt",
            F.lit(None).cast("long").alias("hot_key"),
        ).unionByName(
            cand_rows.select(
                F.lit("c").alias("kind"),
                F.lit(None).cast("int").alias("j"),
                F.lit(None).cast("long").alias("bucket"),
                F.lit(None).cast("long").alias("cnt"),
                "hot_key",
            )
        )
        # AQE is disabled inside streaming micro-batches, so the fold's
        # shuffles keep the full session partition count and the write
        # would emit one near-empty file per task. The unified state is
        # a BOUNDED sketch (d·w + ≤DEN·batches rows at any corpus
        # size), so one file per version is the right layout at every
        # scale — coalesce(1) is O(state), not O(batch).
        sketch.overwrite_buckets(
            unified.coalesce(1), [0], extra_meta={"batch_id": batch_id}
        )
        sketch.vacuum(keep_last=1)

    q = (
        spark.readStream.schema(keyed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(_fold)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="st30_ckpt_")
        )
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    # one committed version per folded micro-batch
    n_batches = sketch.current_version()
    if n_batches != _ST30_SHARDS:
        raise AssertionError(
            f"expected {_ST30_SHARDS} one-shard micro-batches, "
            f"got {n_batches}"
        )
    unified = sketch.read()
    counters = unified.where(F.col("kind") == "g").select(
        "j", "bucket", "cnt"
    )
    cand = (
        unified.where(F.col("kind") == "c")
        .select("hot_key")
        .distinct()
        .limit(_ST30_SHARDS * _ST30_DEN)  # provable bound, never cuts
    )
    # global total from the grid itself, not a fresh corpus scan: every
    # keyed row increments exactly one bucket of each CMS row, so the
    # j=0 row's cell sum IS the stream's row count (the standard CMS
    # row-sum invariant) — one 1024-row scan replaces a full pass over
    # events (guide §2.3: shuffle/scan metadata, not payloads)
    total = (
        counters.where(F.col("j") == 0)
        # coalesce: SUM over zero rows is NULL where count(*) was 0
        # (r13 ADVICE) — identical on every non-empty stream
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n"))
    )
    pb = cand.select(
        "hot_key",
        F.explode(
            F.array(*[F.lit(j) for j in range(_ST30_D)])
        ).alias("j"),
    ).withColumn(
        "bucket",
        portable_hash60(
            F.concat_ws(
                ":",
                F.col("j").cast("string"),
                F.col("hot_key").cast("string"),
            )
        )
        % _ST30_W,
    )
    est = (
        counters.join(F.broadcast(pb), ["j", "bucket"])
        .groupBy("hot_key")
        .agg(F.min("cnt").alias("est_n"))
    )
    exact = (
        keyed.join(F.broadcast(cand), "hot_key")
        .groupBy("hot_key")
        .agg(F.count("*").cast("long").alias("exact_n"))
    )
    return (
        est.join(exact, "hot_key")
        .crossJoin(F.broadcast(total))
        .where(F.lit(_ST30_DEN) * F.col("est_n") >= F.col("n"))
        .select(
            "hot_key",
            "est_n",
            "exact_n",
            F.lit(_ST30_SHARDS).cast("long").alias("n_batches"),
        )
        .orderBy(F.desc("est_n"), F.asc("hot_key"))
    )


@register(
    "st31_salted_stream_enrichment",
    oracle=f"""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('e.value')} AS total
    FROM events e
    JOIN nation n
      ON n.n_nationkey = CASE WHEN e.user_id % 2 = 0
                              THEN 7 ELSE e.user_id % 25 END
    GROUP BY n.n_name
    """,
    note="salted_join in its STATED regime (q113's docstring case): a "
    "REAL stream-static enrichment where ~50% of events ride one hot "
    "nationkey. AQE's runtime skew-split never sees this plan - "
    "adaptive execution is disabled inside streaming micro-batches - "
    "so the compile-time replicate-and-salt is the only rescue: the "
    "stream side gets a content-derived salt in [0,16), the 25-row "
    "dim is replicated 16x, and the hot key spreads across 16 tasks "
    "in EVERY micro-batch. Broadcast is suppressed for the run (a "
    "25-row dim would broadcast at test scale and erase the "
    "demonstration); the streaming query's own executed plan "
    "(explainInternal after the run) is asserted to shuffle-join on "
    "the salted keys with no BroadcastHashJoin. Drained via append "
    "memory sink, aggregated batch-side; oracle is the plain join",
    tags=("streaming", "join", "skew"),
)
def st31_salted_stream_enrichment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_spark.operators.skew import salted_join
    from cdc_spark.queries.base import dsum

    stream = _events_stream(spark, sf_dir).select(
        F.when(F.col("user_id") % 2 == 0, F.lit(7))
        .otherwise(F.col("user_id") % 25)
        .cast("int")
        .alias("n_nationkey"),
        "value",
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"), "n_name"
    )
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        joined = salted_join(
            stream, nation, "n_nationkey", salt=16,
            salt_cols=["n_nationkey", "value"],
        )
        name = f"q_{uuid.uuid4().hex[:10]}"
        q = (
            joined.select("n_name", "value")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="st31_")
            )
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q)
        plan = q._jsq.explainInternal(True)
        if "__salt" not in plan:
            raise AssertionError(
                "salted join keys missing from the streaming plan"
            )
        if "BroadcastHashJoin" in plan:
            raise AssertionError(
                "dim broadcast despite suppression - the salted "
                "stream-static shuffle-join did not compile"
            )
        return (
            spark.sql(f"SELECT * FROM {name}")
            .groupBy("n_name")
            .agg(
                F.count("*").cast("long").alias("n"),
                dsum("value").alias("total"),
            )
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_ST32_SHARDS, _ST32_THRESH, _ST32_DIM = 5, 0.45, 64


def _st32_oracle() -> str:
    """DuckDB twin of the streaming semantic near-dup detector: the
    sized-cell partition (dd12's COUNT(*)-derived plane clamp with
    index-gated literals), the md5 shard decomposition (micro-batch =
    shard, st30's trick), and the 'seen a similar vector before'
    predicate — a vector is a duplicate iff some vector EARLIER in
    processing order ((shard, vec_id) lexicographic) shares its cell
    within the cosine threshold."""
    from cdc_spark.operators.similarity import hyperplanes

    lo, hi, target, seed = 4, 24, 125, 11
    terms = []
    for i, plane in enumerate(hyperplanes(_ST32_DIM, hi, seed)):
        arr = "[" + ",".join(repr(x) for x in plane) + "]"
        terms.append(
            f"(CASE WHEN {i} < kk.planes AND "
            f"list_dot_product(embedding::DOUBLE[], {arr}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    bucket = "\n          + ".join(terms)
    return f"""
    WITH kk AS (
        SELECT GREATEST({lo}, LEAST({hi},
               CAST(CEIL(LOG2(COUNT(*) / {target}.0)) AS INT))) AS planes
        FROM embeddings
    ),
    b AS (
        SELECT vec_id, embedding,
               {bucket} AS bucket,
               CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % {_ST32_SHARDS} AS shard
        FROM embeddings CROSS JOIN kk
    ),
    dup AS (
        SELECT DISTINCT a.vec_id
        FROM b a JOIN b e
          ON a.bucket = e.bucket
         AND (e.shard < a.shard
              OR (e.shard = a.shard AND e.vec_id < a.vec_id))
         AND ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                   e.embedding::DOUBLE[]), 4) >= {_ST32_THRESH}
    )
    SELECT CAST(b.shard AS BIGINT) AS batch_id,
           CAST(COUNT(*) FILTER (WHERE d.vec_id IS NULL) AS BIGINT)
               AS n_new,
           CAST(COUNT(*) FILTER (WHERE d.vec_id IS NOT NULL) AS BIGINT)
               AS n_dup
    FROM b LEFT JOIN dup d ON b.vec_id = d.vec_id
    GROUP BY b.shard
    ORDER BY batch_id
    """


# static-pruning literal budget: a batch touching more distinct cells
# than this prunes the state via runtime DPP (broadcast batch) instead
# of compiling a literal IN-list
_ST32_ISIN_CAP = 1024
# fold the per-batch state partitions into a fresh compacted version
# every K micro-batches, keeping per-trigger listings O(cells)
_ST32_COMPACT_EVERY = 2


def _st32_assert_bucket_pruned(df: DataFrame, *, dynamic: bool) -> None:
    """The dd14 mechanism assert (inputFiles ignores pushed filters,
    so read the compiled plan): every parquet state scan must carry a
    bucket PartitionFilter — static (IN-list) or runtime
    (``dynamicpruningexpression``, the io24 mechanism) — so the probe
    is pruned to the batch's own touched cells at planning time."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    chunks = plan.split("PartitionFilters: [")
    if len(chunks) < 2:
        raise AssertionError("state probe plans no PartitionFilters")
    needle = "dynamicpruningexpression" if dynamic else "bucket"
    for c in chunks[1:]:
        head = c[: c.find("]") + 1]
        if needle not in head:
            raise AssertionError(
                f"a state scan does not prune on bucket ({needle}):\n"
                + c[:200]
            )


@register(
    "st32_streaming_semantic_dedup",
    oracle=_st32_oracle(),
    note="streaming SemDeDup-style near-dup DETECTION — the "
    "embeddings analog of dd13's continuous corpus membership and "
    "the maintenance loop dd12's batch pass implies: vectors arrive "
    "in micro-batches (one per deterministic md5 shard of vec_id, "
    "st30's reproducible decomposition; shard files are NAMED and "
    "mtime-sequenced so the file source's (modTime, path) order IS "
    "shard order — batch_id indexes the shard sequence, asserted "
    "against the data every batch), each batch is assigned to SIZED "
    "cells (semantic_dedup_planes over the provisioned corpus count "
    "— 2^planes cells ~ n/125, the dd12 clamp), and a vector is "
    "flagged duplicate iff some earlier-processed vector shares its "
    "cell within cosine 0.45 — candidates are per-cell only, never "
    "cross-cell, so per-trigger work is |batch| x cell occupancy. "
    "State is ONE hive-layout table vectors/shard=N/bucket=M (a "
    "single FileScan, so pruning covers every state file at once; "
    "live shards enter the scan at LISTING time, so superseded "
    "partitions are never even listed); each batch's probe reads "
    "only its own touched cells — a narrow "
    "batch (<= 1024 cells) via a static PartitionFilter, a "
    "production-wide batch via runtime dynamic partition pruning on "
    "the broadcast batch itself (no literal list, no driver-side "
    "cell collect — the io24 lever), both asserted in the compiled "
    "plan. Effects are batch-versioned and overwrite-idempotent "
    "with done-markers written last (st30's replay discipline; an "
    "EMPTY micro-batch still publishes its empty result and its "
    f"marker). Every {_ST32_COMPACT_EVERY} batches maintenance "
    "FOLDS the accumulated shard partitions into a fresh compacted "
    "partition (staged outside the state root, then ONE rename onto "
    "shard=-upto, upto strictly increasing so the live compacted "
    "partition is the most negative one; then the superseded "
    "partitions are VACUUMED — the versioned publish + budgeted "
    "rewrite from operators/maintenance.py) and the state "
    "root provably shrinks to one live partition — asserted "
    "in-stream — so per-trigger listings stay O(cells), not "
    "O(batches). Oracle recomputes cells, shards and the "
    "earlier-in-order predicate in one self-join",
    tags=("streaming", "dedup", "semantic", "embedding", "incremental"),
)
def st32_streaming_semantic_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    from cdc_spark.operators.dedup import portable_hash60
    from cdc_spark.operators.similarity import (
        cosine,
        hyperplanes,
        lsh_bucket,
        semantic_dedup_planes,
    )
    from cdc_spark.streaming.state import commit_dir

    emb = load_table(spark, sf_dir, "embeddings")
    # provisioned-capacity sizing: one count job before the stream
    # starts, exactly how a production deployment sizes its codebook
    planes = hyperplanes(
        _ST32_DIM, semantic_dedup_planes(emb.count()), 11
    )
    shard = (
        portable_hash60(F.col("vec_id").cast("string")) % _ST32_SHARDS
    ).cast("long")

    src_dir = tempfile.mkdtemp(prefix="st32_src_")
    sharded = emb.select("vec_id", "embedding").withColumn("s", shard)
    # deterministic processing order (round-10 advice): one NAMED file
    # per non-empty shard with strictly increasing mtimes, so the file
    # source's (modTime, path) ordering equals shard order and
    # batch_id indexes shard_seq — no same-mtime path-tiebreak hazard
    # from random part-file names. Empty shards write no file (they
    # contribute no oracle row either); the bounded 5-row count
    # aggregate decides which.
    cnts = {
        int(r.s): r.cnt
        for r in sharded.groupBy("s").agg(F.count("*").alias("cnt")).collect()
    }
    shard_seq = [s for s in range(_ST32_SHARDS) if cnts.get(s, 0) > 0]
    for i, s in enumerate(shard_seq):
        tmp = os.path.join(src_dir, f"_tmp_{s}")
        sharded.where(F.col("s") == s).drop("s").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        parts = [
            f
            for f in os.listdir(tmp)
            if f.startswith("part-") and f.endswith(".parquet")
        ]
        if len(parts) != 1:
            raise AssertionError(
                f"shard {s}: expected 1 part file, got {parts}"
            )
        dst = os.path.join(src_dir, f"shard_{s:02d}.parquet")
        os.replace(os.path.join(tmp, parts[0]), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000 + i * 60, 1_000_000 + i * 60))

    state_dir = tempfile.mkdtemp(prefix="st32_state_")
    vec_root = os.path.join(state_dir, "vectors")
    done_dir = os.path.join(state_dir, "done")
    os.makedirs(done_dir, exist_ok=True)
    os.makedirs(vec_root, exist_ok=True)

    def _compacted_upto() -> int:
        """vectors/shard=-upto holds every vector of shards < upto; the
        live compacted partition is the most negative one (0: none)."""
        return -min([0, *(int(d[6:]) for d in os.listdir(vec_root))])

    def _probe_shards() -> list[int]:
        """Live state partitions a probe must read: the compacted
        pseudo-shard plus only the post-compaction batch shards —
        O(K), never O(batches)."""
        upto = _compacted_upto()
        ids = [-upto] if upto else []
        for p in sorted(int(x) for x in os.listdir(done_dir)):
            if p >= upto and os.path.isdir(
                os.path.join(vec_root, f"shard={p}")
            ):
                ids.append(p)
        return ids

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark_ = batch_df.sparkSession
        if int(batch_id) >= len(shard_seq):
            raise AssertionError(
                f"batch {batch_id} beyond the {len(shard_seq)} source files"
            )
        my_shard = shard_seq[int(batch_id)]
        marker = os.path.join(done_dir, str(my_shard))
        if os.path.exists(marker):
            return  # replayed micro-batch: already folded
        res_path = os.path.join(state_dir, f"res_{my_shard}")
        if batch_df.isEmpty():
            # st30's discipline: an empty batch still publishes its
            # (empty) result and its done-marker — the final
            # trigger-count assert and res listing stay consistent.
            # Our own source writes no empty files, so this is the
            # defensive path for replayed/compacted sources.
            spark_.createDataFrame(
                [], "batch_id long, n_new long, n_dup long"
            ).repartition(1).write.mode("overwrite").parquet(res_path)
            open(marker, "w").close()
            return
        b = (
            batch_df.withColumn(
                "bucket", lsh_bucket(F.col("embedding"), planes)
            )
            .withColumn("s", shard)
            .localCheckpoint(eager=True)  # reused 5x below
        )
        batch_shards = sorted(
            int(r.s) for r in b.select("s").distinct().collect()
        )
        if batch_shards != [my_shard]:
            raise AssertionError(
                f"batch {batch_id} carries shards {batch_shards}, expected "
                f"[{my_shard}] — source ordering broke"
            )
        live = _probe_shards()
        dup = None
        if live:
            # ONE scan of the hive-layout state table: shard pruning
            # happens at LISTING time (explicit kv-dir roots under a
            # shared basePath — only the live partitions' files enter
            # the file index), which matters twice over — no
            # superseded dir is ever listed, and the scan carries no
            # static shard filter expression, which would block the
            # runtime-DPP insertion on bucket (measured: a static
            # IN-filter on one partition column suppresses
            # dynamicpruningexpression on another)
            prior = spark_.read.option("basePath", vec_root).parquet(
                *[os.path.join(vec_root, f"shard={p}") for p in live]
            )
            # bounded collect: decides static-vs-dynamic bucket
            # pruning only, capped at _ST32_ISIN_CAP+1 rows
            touched = [
                int(r.bucket)
                for r in b.select("bucket")
                .distinct()
                .limit(_ST32_ISIN_CAP + 1)
                .collect()
            ]
            if len(touched) <= _ST32_ISIN_CAP:
                pruned = prior.where(F.col("bucket").isin(touched))
                _st32_assert_bucket_pruned(pruned, dynamic=False)
                pv = pruned.select(
                    F.col("embedding").alias("pe"), "bucket"
                )
                dup = (
                    b.join(pv, "bucket")
                    .where(
                        F.round(
                            cosine(F.col("embedding"), F.col("pe")), 4
                        )
                        >= _ST32_THRESH
                    )
                    .select("vec_id")
                    .distinct()
                )
            else:
                # production-wide batch: broadcast the batch itself and
                # let runtime dynamic partition pruning prune the state
                # scan — no literal list, no driver-side cell collect.
                # The between() is true by construction (cells live in
                # [0, 2^planes)) and is what marks the broadcast side
                # as selective for the DPP planner rule (io24's lever).
                bb = F.broadcast(
                    b.select(
                        "vec_id",
                        F.col("embedding").alias("be"),
                        "bucket",
                    ).where(
                        F.col("bucket").between(0, (1 << len(planes)) - 1)
                    )
                )
                dup = (
                    prior.select(
                        F.col("embedding").alias("pe"), "bucket"
                    )
                    .join(bb, "bucket")
                    .where(
                        F.round(cosine(F.col("be"), F.col("pe")), 4)
                        >= _ST32_THRESH
                    )
                    .select("vec_id")
                    .distinct()
                )
                _st32_assert_bucket_pruned(dup, dynamic=True)
        x, y = b.alias("x"), b.alias("y")
        internal = (
            x.join(
                y,
                (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("y.vec_id") < F.col("x.vec_id")),
            )
            .where(
                F.round(
                    cosine(F.col("x.embedding"), F.col("y.embedding")), 4
                )
                >= _ST32_THRESH
            )
            .select(F.col("x.vec_id").alias("vec_id"))
            .distinct()
        )
        dup = internal if dup is None else dup.unionByName(internal).distinct()
        n = b.count()
        n_dup = dup.count()
        # batch-versioned, overwrite-idempotent effects; marker LAST
        spark_.createDataFrame(
            [(my_shard, n - n_dup, n_dup)],
            "batch_id long, n_new long, n_dup long",
        ).coalesce(1).write.mode("overwrite").parquet(res_path)
        b.select("vec_id", "embedding", "bucket").write.partitionBy(
            "bucket"
        ).mode("overwrite").parquet(
            os.path.join(vec_root, f"shard={my_shard}")
        )
        open(marker, "w").close()
        # maintenance: every K batches fold the live partitions into a
        # fresh compacted partition, staged outside vectors/ and
        # renamed onto pseudo-shard -upto, then vacuum the superseded
        # partitions (operators/maintenance.py's versioned publish —
        # readers never see a half-fold; a crash before the rename
        # just defers the fold to the next cycle, replay skips at the
        # marker above; a crash mid-vacuum leaves partitions the
        # probe no longer reads, which the next vacuum removes)
        done_now = sorted(int(x) for x in os.listdir(done_dir))
        if len(done_now) % _ST32_COMPACT_EVERY == 0:
            fold_ids = _probe_shards()
            if len(fold_ids) > 1:
                upto = my_shard + 1
                live = f"shard=-{upto}"
                stage = os.path.join(state_dir, f"_stage-{upto}")
                spark_.read.option("basePath", vec_root).parquet(
                    *[
                        os.path.join(vec_root, f"shard={p}")
                        for p in fold_ids
                    ]
                ).select("vec_id", "embedding", "bucket").write.partitionBy(
                    "bucket"
                ).mode("overwrite").parquet(stage)
                commit_dir(stage, os.path.join(vec_root, live))
                for d in os.listdir(vec_root):
                    if d != live:
                        shutil.rmtree(os.path.join(vec_root, d))
                # the listing provably SHRANK: the state root now
                # holds exactly one live partition dir (the fresh
                # compacted one), so the next probe lists O(cells)
                # files no matter how many batches ran
                left = os.listdir(vec_root)
                if left != [live] or _probe_shards() != [-upto]:
                    raise AssertionError(
                        f"compaction did not shrink the state listing: "
                        f"{len(fold_ids)} partitions -> {left}"
                    )

    q = (
        spark.readStream.schema(
            emb.select("vec_id", "embedding").schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(_fold)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="st32_ckpt_")
        )
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    done = sorted(int(x) for x in os.listdir(done_dir))
    if done != shard_seq:
        raise AssertionError(
            f"expected one micro-batch per non-empty shard {shard_seq}, "
            f"got {done}"
        )
    return (
        spark.read.parquet(
            *[os.path.join(state_dir, f"res_{s}") for s in done]
        )
        .orderBy("batch_id")
    )
