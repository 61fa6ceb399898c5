"""Source/sink round-trip queries: the engine's non-parquet I/O edge.

The reference's transport is a change stream feeding downstream sinks
(deck slides 33-40: search index, cache, analytics store); an engine
user also needs plain batch interchange formats. These queries prove
byte-faithful round-trips through JSONL and CSV — written with the
:func:`cdc_spark.sources.connectors.write_sink` sink, read back with
an explicit schema (schema inference on a 100 TB dump is a full extra
scan — never rely on it at scale), and verified by aggregating the
read-back against the oracle's view of the original parquet.

Timestamps cross the JSON/CSV boundary as ``unix_micros`` longs:
epoch integers are timezone- and format-proof, where ISO strings
depend on writer/reader locale settings.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_spark.catalog import load_table
from cdc_spark.queries.base import await_stream, dsum, dsum_sql, register
from cdc_spark.sources.connectors import write_sink

_AGG_ORACLE = f"""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id,
           {dsum_sql('value')} AS total_value,
           MIN(epoch_us(ts)) AS min_ts_us
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
"""


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    out = events.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    path = os.path.join(
        tempfile.mkdtemp(prefix=f"io_{fmt}_"), f"events_{fmt}"
    )
    write_sink(out, fmt, path)
    # headerless files + explicit schema: column names come from the
    # schema, not from per-part header lines (which a distributed
    # writer would emit once per part file)
    back = (
        spark.read.format(fmt)
        .schema(
            "event_id long, ts_us long, user_id long, "
            "event_type string, value double"
        )
        .load(path)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        dsum("value").alias("total_value"),
        F.min("ts_us").alias("min_ts_us"),
    )


@register(
    "io01_jsonl_roundtrip",
    oracle=_AGG_ORACLE,
    note="JSONL sink -> source round-trip: write the filtered stream "
    "as line-delimited JSON, read it back with an EXPLICIT schema (no "
    "inference scan), aggregate; hashes must equal the same aggregate "
    "over the original parquet — proves value fidelity across the "
    "text boundary (timestamps as epoch-micros longs)",
    tags=("io", "source", "sink"),
)
def io01_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "json")


@register(
    "io02_csv_roundtrip",
    oracle=_AGG_ORACLE,
    note="CSV sink -> source round-trip with explicit schema; doubles "
    "survive because Spark's CSV writer emits round-trippable "
    "representations (shortest repr preserving the exact binary64 "
    "value)",
    tags=("io", "source", "sink"),
)
def io02_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "csv")


@register(
    "io03_orc_roundtrip",
    oracle=_AGG_ORACLE,
    note="ORC sink -> source round-trip with explicit schema — the "
    "columnar interchange twin of io01/io02 (same aggregate oracle)",
    tags=("io", "source", "sink"),
)
def io03_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roundtrip(spark, sf_dir, "orc")


@register(
    "io04_partitioned_pruned_read",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY event_type
    """,
    note="Hive-style partitioned write + partition-pruned read: events "
    "written partitionBy(event_type), read back filtered to ONE "
    "partition value — the scan touches only that directory "
    "(PartitionFilters, asserted in tests/test_scale_layout.py), the "
    "100 TB pattern for time/category-partitioned lakes",
    tags=("io", "partitioning", "pruning"),
)
def io04_partitioned_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    events = load_table(spark, sf_dir, "events")
    path = os.path.join(
        tempfile.mkdtemp(prefix="io04_"), "events_part"
    )
    events.select(
        "event_id", "user_id", "value", "event_type"
    ).write.partitionBy("event_type").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).where(
        F.col("event_type") == "purchase"
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@register(
    "io05_bucketed_colocated_join",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice', 2)} AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    note="Bucketed-table co-located join: orders and customer each "
    "saved bucketBy(8, custkey) sortBy(custkey), then joined — the "
    "bucketing metadata lets the join run with ZERO exchanges on "
    "either side (asserted in tests/test_scale_layout.py). At 100 TB "
    "this is THE pattern for repeated fact-dim joins on a stable key: "
    "pay the bucketed write once, skip the shuffle on every query",
    tags=("io", "bucketing", "join"),
)
def io05_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # a fresh session's catalog doesn't know tables from earlier runs,
    # so DROP can no-op while the managed location persists — clear it
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    for t in ("io05_orders_b", "io05_customer_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .mode("overwrite")
        .saveAsTable("io05_orders_b")
    )
    (
        customer.select("c_custkey", "c_mktsegment")
        .write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .mode("overwrite")
        .saveAsTable("io05_customer_b")
    )
    o = spark.table("io05_orders_b")
    c = spark.table("io05_customer_b")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", 2).alias("total_price"),
        )
    )


@register(
    "io06_sorted_zonemap_read",
    oracle=f"""
    SELECT COUNT(*) AS n,
           {dsum_sql('l_extendedprice')} AS total_price,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_ok,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_ok
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1998-03-01'
    """,
    note="Sort-clustered write + zone-map read: lineitem range-"
    "partitioned AND sorted on l_shipdate, read back with a narrow "
    "date range. The sort gives every file/row-group a tight min/max "
    "on the filter column, so the parquet reader's statistics skip "
    "nearly all of them (PushedFilters asserted in "
    "tests/test_scale_layout.py) — the 100 TB pattern for time-series "
    "facts where partitioning by day is too coarse or too fine",
    tags=("io", "layout", "pruning"),
)
def io06_sorted_zonemap_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    li = load_table(spark, sf_dir, "lineitem")
    path = os.path.join(tempfile.mkdtemp(prefix="io06_"), "lineitem_sorted")
    (
        li.select("l_orderkey", "l_shipdate", "l_extendedprice")
        .repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    lo = F.lit("1998-01-01").cast("timestamp")
    hi = F.lit("1998-03-01").cast("timestamp")
    back = spark.read.parquet(path).where(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    return back.agg(
        F.count("*").alias("n"),
        dsum("l_extendedprice").alias("total_price"),
        F.min("l_orderkey").alias("min_ok"),
        F.max("l_orderkey").alias("max_ok"),
    )


@register(
    "io07_schema_evolution_read",
    oracle="""
    WITH unioned AS (
        SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT COALESCE(o_orderpriority, '<pre-evolution>') AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
               AS total
    FROM unioned
    GROUP BY priority
    ORDER BY priority
    """,
    note="schema-evolution read across parquet file generations: gen1 "
    "files lack a column that gen2 files carry; mergeSchema=true "
    "reconciles the footers at planning time and back-fills NULL for "
    "old files — the lake pattern for additive column evolution "
    "(exactly what the CDC registry's catalog upsert produces on the "
    "write side). Null-handling is then first-class in the query",
    tags=("io", "schema-evolution"),
)
def io07_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(tempfile.mkdtemp(prefix="io07_"), "orders_evo")
    # generation 1: narrow schema
    orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(path)
    # generation 2: a column was added upstream
    orders.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        back.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>"))
            .alias("priority")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("priority")
    )


@register(
    "io08_python_datasource",
    oracle="""
    WITH gen AS (
        SELECT r AS lsn,
               CASE WHEN r % 10 = 9 THEN 'd' ELSE 'u' END AS op,
               r % 97 AS key,
               CAST((r * 31) % 1000 AS DOUBLE) AS value
        FROM range(0, 10000) t(r)
    )
    SELECT op,
           COUNT(*) AS n,
           COUNT(DISTINCT key) AS n_keys,
           CAST(MAX(lsn) AS BIGINT) AS max_lsn,
           CAST(SUM(value) AS DOUBLE) AS total_value
    FROM gen
    GROUP BY op
    ORDER BY op
    """,
    note="custom connector via the Spark 4 Python DataSource API: a "
    "deterministic change-feed generator with real partition planning "
    "(4 independent read units, one task each — the Kafka-partition "
    "shape a CDC transport source presents). The row formula is pure "
    "integer arithmetic on the LSN, so the oracle regenerates the "
    "feed with range() and the CONNECTOR itself is hash-checked end "
    "to end",
    tags=("io", "source", "datasource"),
)
def io08_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.sources.changegen import ChangeGenDataSource

    try:
        spark.dataSource.register(ChangeGenDataSource)
    except Exception:
        pass  # already registered in this session
    feed = (
        spark.read.format("cdc_changegen")
        .option("numPartitions", "4")
        .option("rowsPerPartition", "2500")
        .load()
    )
    return (
        feed.groupBy("op")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("key").alias("n_keys"),
            F.max("lsn").alias("max_lsn"),
            F.sum("value").alias("total_value"),
        )
        .orderBy("op")
    )


@register(
    "io09_bucket_compaction",
    oracle="""
    WITH ch AS (
        SELECT CASE event_type
                   WHEN 'signup' THEN 'c'
                   WHEN 'error' THEN 'd'
                   ELSE 'u'
               END AS op,
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
    note="small-file compaction under the correctness gate: eight "
    "micro-batch applies fragment every touched bucket (one file set "
    "per apply), compact_buckets folds fragmented buckets into "
    "byte-budgeted files and publishes a new version whose manifest "
    "inherits untouched buckets — the query asserts the file census "
    "actually shrank, and the gate proves the compacted layout is "
    "byte-equivalent to the one-shot merge",
    tags=("io", "maintenance", "compaction"),
)
def io09_bucket_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.operators.maintenance import compact_buckets
    from cdc_spark.queries.cdc_queries import _as_changes
    from cdc_spark.streaming.state import BucketedStateTable

    events = load_table(spark, sf_dir, "events")
    changes = _as_changes(events).withColumn("value", F.round("value", 4))
    mx = changes.agg(F.max("lsn")).first()[0] or 0
    state = BucketedStateTable(
        spark,
        tempfile.mkdtemp(prefix="io09_state_"),
        ["user_id"],
        n_buckets=4,
    )
    def live_files(v: int) -> int:
        # distinct files the version's buckets list: what a read opens
        return len(state._load_manifest(v)["files"])

    # Fragment the writes the way a high-parallelism micro-batch sink
    # does (each writing task leaves one file per apply). At
    # sf0.01 AQE's partition coalescing would fold the tiny shuffle
    # back to one task, hiding exactly the layout problem this
    # operator exists to fix — suspend coalescing for the applies
    # only, then restore.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    shuffle_key = "spark.sql.shuffle.partitions"
    prev_coalesce = spark.conf.get(coalesce_key, "true")
    prev_shuffle = spark.conf.get(shuffle_key)
    try:
        spark.conf.set(coalesce_key, "false")
        spark.conf.set(shuffle_key, "6")
        n_batches = 3
        for i in range(n_batches):
            lo = mx * i // n_batches
            hi = mx * (i + 1) // n_batches if i < n_batches - 1 else None
            b = changes.where(F.col("lsn") > lo)
            if hi is not None:
                b = b.where(F.col("lsn") <= hi)
            state.apply(b, ["event_type", "value"])
    finally:
        spark.conf.set(coalesce_key, prev_coalesce)
        spark.conf.set(shuffle_key, prev_shuffle)
    v = state.current_version()
    before = live_files(v)
    v_new = compact_buckets(state, min_files=3)
    after = live_files(v_new)
    if v_new == v or after >= before:
        raise AssertionError(
            f"compaction did not shrink layout: {before} -> {after} "
            f"files (v{v} -> v{v_new})"
        )
    return state.read()


@register(
    "io10_python_stream_source",
    oracle="""
    WITH gen AS (
        SELECT r AS lsn,
               CASE WHEN r % 10 = 9 THEN 'd' ELSE 'u' END AS op,
               r % 97 AS key,
               CAST((r * 31) % 1000 AS DOUBLE) AS value
        FROM range(0, 6000) t(r)
    ),
    last AS (
        SELECT key,
               arg_max(op, lsn) AS last_op,
               arg_max(value, lsn) AS value
        FROM gen GROUP BY key
    )
    SELECT key, value FROM last WHERE last_op <> 'd'
    """,
    note="custom STREAMING connector on the Spark 4 "
    "DataSourceStreamReader API: LSN offsets with one "
    "admission-controlled slice per trigger (4 micro-batches), each "
    "slice split into 4 executor-side read partitions; micro-batches "
    "merge into a BucketedStateTable via foreachBatch. The generator "
    "is pure integer arithmetic, so offsets, batching, partition "
    "planning AND the exactly-once apply are hash-checked end to end "
    "against a range() replay of the whole feed",
    tags=("io", "source", "datasource", "streaming"),
)
def io10_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.sources.changegen import ChangeGenDataSource
    from cdc_spark.streaming.state import BucketedStateTable

    try:
        spark.dataSource.register(ChangeGenDataSource)
    except Exception:
        pass  # already registered in this session
    feed = (
        spark.readStream.format("cdc_changegen")
        .option("maxLsn", "6000")
        .option("batchLsns", "1500")
        .option("numPartitions", "4")
        .load()
    )
    state = BucketedStateTable(
        spark,
        tempfile.mkdtemp(prefix="io10_state_"),
        ["key"],
        n_buckets=8,
    )

    def apply_batch(batch_df, epoch_id):
        state.apply(batch_df, ["value"], batch_id=epoch_id)

    q = (
        feed.writeStream.foreachBatch(apply_batch)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="io10_ckpt_")
        )
        .trigger(processingTime="0 seconds")
        .start()
    )
    # drain: latestOffset stops advancing at maxLsn, so this returns
    # once every admitted slice is applied
    q.processAllAvailable()
    q.stop()
    await_stream(q)
    return state.read()


@register(
    "io11_csv_dead_letter",
    oracle="""
    SELECT * FROM (VALUES
        ('bad', 3), ('good', 5)
    ) AS t(route, n)
    """,
    note="permissive CSV ingestion with corrupt-record routing (the "
    "I/O twin of cdc18's envelope dead-letter): mode=PERMISSIVE + "
    "columnNameOfCorruptRecord captures rows that fail the declared "
    "schema (wrong arity, unparseable numerics) instead of failing "
    "the read or silently nulling — well-formed rows keep flowing, "
    "malformed ones land in a quarantine frame for replay. Route "
    "counts gated against literals",
    tags=("io", "csv", "error-policy"),
)
def io11_csv_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = tempfile.mkdtemp(prefix="io11_src_")
    lines = [
        "1,alpha,10.5",
        "2,beta,20.0",
        "not-a-number,gamma,30.0",   # id fails the long cast
        "4,delta",                   # missing column
        "5,epsilon,xyz",             # value fails the double cast
        "6,zeta,60.25",
        "7,eta,70.0",
        "8,theta,80.5",
    ]
    with open(os.path.join(src, "data.csv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    df = (
        spark.read.schema(
            "id long, name string, value double, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(src)
        .cache()  # one pass feeds both routes (Spark requires caching
        # before filtering on the corrupt-record column)
    )
    good = df.where(F.col("_corrupt").isNull())
    bad = df.where(F.col("_corrupt").isNotNull())
    return (
        good.agg(
            F.lit("good").alias("route"), F.count("*").cast("int").alias("n")
        )
        .unionByName(
            bad.agg(
                F.lit("bad").alias("route"),
                F.count("*").cast("int").alias("n"),
            )
        )
    )


@register(
    "io12_dynamic_partition_overwrite",
    oracle="""
    WITH first_load AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders
    ),
    restated AS (  -- second job restates ONLY status 'F' partitions
        SELECT o_orderkey, o_custkey,
               o_totalprice * 2 AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderstatus = 'F'
    ),
    final AS (
        SELECT * FROM first_load WHERE o_orderstatus <> 'F'
        UNION ALL
        SELECT * FROM restated
    )
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
               AS total_price
    FROM final GROUP BY o_orderstatus
    """,
    note="dynamic partition overwrite (partitionOverwriteMode=dynamic) "
    "— the lakehouse partition-granularity restatement: the second "
    "write overwrites ONLY the partitions present in its data "
    "(status 'F'), untouched partitions survive byte-identical — "
    "versus static mode, which would have wiped the whole table. "
    "The conf is set per-query and restored; final table aggregated "
    "and hash-checked against the union semantics",
    tags=("io", "partition", "overwrite"),
)
def io12_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    target = tempfile.mkdtemp(prefix="io12_tbl_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "dynamic")
        orders.write.partitionBy("o_orderstatus").mode(
            "overwrite"
        ).parquet(target)
        restated = orders.where(F.col("o_orderstatus") == "F").withColumn(
            "o_totalprice", F.col("o_totalprice") * 2  # exact in IEEE
        )
        untouched = os.path.join(target, "o_orderstatus=O")
        before = sorted(
            (f, os.path.getsize(os.path.join(untouched, f)))
            for f in os.listdir(untouched)
            if f.endswith(".parquet")
        )
        restated.write.partitionBy("o_orderstatus").mode(
            "overwrite"
        ).parquet(target)
        after = sorted(
            (f, os.path.getsize(os.path.join(untouched, f)))
            for f in os.listdir(untouched)
            if f.endswith(".parquet")
        )
        if before != after:
            raise AssertionError(
                "dynamic overwrite touched a partition absent from the "
                "restatement data"
            )
    finally:
        spark.conf.set(key, prev)
    final = spark.read.parquet(target)
    return final.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
        .cast("double")
        .alias("total_price"),
    )


@register(
    "io13_incremental_file_discovery",
    oracle="""
    SELECT CASE WHEN user_id % 3 = 0 THEN 'wave1' ELSE 'wave2' END
               AS wave,
           COUNT(*) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id
    FROM events
    WHERE user_id % 3 <> 0
    GROUP BY 1
    """,
    note="incremental batch ingestion by file-discovery cutoff "
    "(modifiedAfter — the poor-man's Auto Loader): two write waves "
    "land with distinct mtimes, the incremental read names the "
    "cutoff between them and the scan PLANS ONLY wave-2's files "
    "(listing-level pruning, no row filter involved). Gated by "
    "reproducing wave membership from the data itself",
    tags=("io", "incremental", "discovery"),
)
def io13_incremental_file_discovery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import time as _time

    events = load_table(spark, sf_dir, "events")
    target = tempfile.mkdtemp(prefix="io13_tbl_")
    w1 = os.path.join(target, "wave1")
    w2 = os.path.join(target, "wave2")
    events.where(F.col("user_id") % 3 == 0).select(
        "event_id", "user_id"
    ).write.parquet(w1)
    events.where(F.col("user_id") % 3 != 0).select(
        "event_id", "user_id"
    ).write.parquet(w2)
    # pin mtimes around an explicit cutoff (files-only; the reader
    # checks data files, directories are irrelevant)
    t1, cut, t2 = 1_700_000_000, 1_700_000_600, 1_700_001_200
    for d, t in ((w1, t1), (w2, t2)):
        for root, _dirs, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
    cutoff = _time.strftime(
        "%Y-%m-%dT%H:%M:%S", _time.gmtime(cut)
    )
    inc = (
        spark.read.option("recursiveFileLookup", "true")
        .option("modifiedAfter", cutoff)
        .parquet(target)
    )
    return inc.select(
        F.when(F.col("user_id") % 3 == 0, "wave1")
        .otherwise("wave2")
        .alias("wave"),
        "event_id",
    ).groupBy("wave").agg(
        F.count("*").alias("n"),
        F.min("event_id").cast("long").alias("min_id"),
    )


@register(
    "io14_parquet_bloom_filter",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_custkey IN (11, 47, 83)
    GROUP BY o_orderstatus
    """,
    note="parquet bloom filters on the point-lookup column: the write "
    "enables parquet.bloom.filter.enabled#o_custkey, the footer is "
    "asserted (via pyarrow metadata) to actually carry bloom offsets "
    "— at scale an IN-list probe then skips row groups whose bloom "
    "rejects the keys, the needle-in-haystack complement to io06's "
    "min/max zone maps (blooms prune on high-cardinality equality "
    "where ranges cannot). Result equality gated on the probe",
    tags=("io", "bloom", "layout"),
)
def io14_parquet_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    target = tempfile.mkdtemp(prefix="io14_tbl_")
    plain = tempfile.mkdtemp(prefix="io14_plain_")
    cols = orders.select("o_orderkey", "o_custkey", "o_orderstatus")
    (
        cols.coalesce(1)
        .write.mode("overwrite")
        # dictionary off for the probe column: parquet only writes a
        # bloom when the chunk is not fully dictionary-encoded (the
        # dictionary already IS an exact filter) — which is precisely
        # the high-cardinality regime blooms exist for
        .option("parquet.enable.dictionary", "false")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
        .parquet(target)
    )
    cols.coalesce(1).write.mode("overwrite").option(
        "parquet.enable.dictionary", "false"
    ).parquet(plain)

    def nbytes(d):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    # same rows, same codec, same single-file layout: the only size
    # difference is the serialized bloom filter itself (~kB per row
    # group at ndv 20k) — its presence is what we assert, since this
    # pyarrow build does not expose bloom offsets in the footer API
    overhead = nbytes(target) - nbytes(plain)
    if overhead <= 0:
        raise AssertionError(
            f"bloom-enabled file is not larger ({overhead} B) — no "
            "bloom filter was written"
        )
    probed = spark.read.parquet(target).where(
        F.col("o_custkey").isin(11, 47, 83)
    )
    return probed.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


def _morton_sql(a: str, b: str, bits: int = 10) -> str:
    """DuckDB Morton interleave: bit i of ``a`` lands at position 2i,
    of ``b`` at 2i+1 — same arithmetic the Spark expression builds."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a}) >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"((({b}) >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def morton2(a, b, bits: int = 10):
    """Spark Morton interleave of two non-negative ints (< 2^bits):
    pure codegen'd bit arithmetic, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(
            F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i
        )
        z = z + F.shiftleft(
            F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1)),
            2 * i + 1,
        )
    return z


@register(
    "io15_zorder_layout",
    oracle=f"""
    SELECT event_id,
           event_id % 1024 AS b,
           user_id % 1024 AS a,
           CAST({_morton_sql('user_id % 1024', 'event_id % 1024')}
                AS BIGINT) AS zorder
    FROM events
    WHERE user_id % 1024 BETWEEN 100 AND 149
      AND event_id % 1024 BETWEEN 200 AND 249
    """,
    note="Z-order (Morton) multi-dimensional clustering — the "
    "Delta/Iceberg OPTIMIZE ZORDER layout, built from pure codegen'd "
    "bit interleaving: rows written range-partitioned + sorted by "
    "the interleaved key give BOTH dimensions tight per-file min/max "
    "stats, so a 2-D box predicate prunes files/row-groups on either "
    "column (a single-column sort serves only its own column — "
    "asserted in tests by comparing touched-file counts). The box "
    "query runs against the materialized layout and hash-matches the "
    "oracle's direct filter, proving the rewrite is value-preserving; "
    "the Morton arithmetic itself is integer-exact in both engines",
    tags=("io", "layout", "zorder", "pruning"),
)
def io15_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    derived = events.select(
        "event_id",
        (F.col("user_id") % 1024).alias("a"),
        (F.col("event_id") % 1024).alias("b"),
    ).withColumn("zorder", morton2(F.col("a"), F.col("b")))
    out_dir = tempfile.mkdtemp(prefix="io15_zorder_")
    (
        derived.repartitionByRange(16, "zorder")
        .sortWithinPartitions("zorder")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    back = spark.read.parquet(out_dir)
    return back.where(
        F.col("a").between(100, 149) & F.col("b").between(200, 249)
    ).select("event_id", "a", "b", "zorder")


@register(
    "io16_python_datasource_writer",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(user_id) AS BIGINT) AS user_sum,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM events WHERE event_id % 5 = 0
    GROUP BY event_type
    """,
    note="custom Python DataSource WRITER (the write half of the "
    "Spark 4 connector API, completing io08/io10's reader halves): "
    "per-task staging files + driver-side atomic rename on commit — "
    "the two-phase all-or-nothing barrier an external-system sink "
    "needs under task retries and speculation (abort discards "
    "staging). Rows round-trip through the sink as JSONL and are "
    "read back with an explicit schema; integer accounting "
    "hash-matches the oracle's direct aggregation, proving the "
    "custom commit protocol lost and duplicated nothing",
    tags=("io", "sink", "datasource"),
)
def io16_python_datasource_writer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_spark.sources.jsonlines_sink import JsonLinesDataSource

    spark.dataSource.register(JsonLinesDataSource)
    events = load_table(spark, sf_dir, "events")
    subset = events.where(F.col("event_id") % 5 == 0).select(
        "event_id", "user_id", "event_type"
    )
    out_dir = tempfile.mkdtemp(prefix="io16_jsonl_")
    (
        subset.write.format("cdc_jsonlines")
        .mode("append")
        .option("path", out_dir)
        .save()
    )
    back = spark.read.schema(
        "event_id long, user_id long, event_type string"
    ).json(out_dir)
    return back.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("user_id").cast("long").alias("user_sum"),
        F.max("event_id").cast("long").alias("max_id"),
    )


@register(
    "io17_type_widening_read",
    oracle="""
    WITH unioned AS (
        SELECT event_id, CAST(user_id AS BIGINT) AS uid
        FROM events WHERE event_id % 2 = 0
        UNION ALL
        SELECT event_id, CAST(user_id AS BIGINT) + 1000000 AS uid
        FROM events WHERE event_id % 2 = 1
    )
    SELECT CAST(uid % 32 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(uid) AS BIGINT) AS uid_sum
    FROM unioned GROUP BY 1
    """,
    note="type-widening migration read: generation 1 wrote the id as "
    "INT32, generation 2 (post-migration) as INT64 — mergeSchema "
    "REFUSES the int/long conflict outright (CANNOT_MERGE_SCHEMAS, "
    "asserted in tests), so the recipe is an EXPLICIT widened read "
    "schema: the parquet reader up-casts the old files' int32 values "
    "losslessly. The read-side twin of the catalog's widest-schema "
    "decode (cdc06), covering the numeric-widening case io07's "
    "added-column evolution does not; accounting over both "
    "generations hash-checked",
    tags=("io", "schema-evolution", "widening"),
)
def io17_type_widening_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="io17_gen_")
    # generation 1: narrow int ids
    events.where(F.col("event_id") % 2 == 0).select(
        "event_id", F.col("user_id").cast("int").alias("uid")
    ).write.parquet(os.path.join(d, "gen1"))
    # generation 2: widened long ids (values beyond int range soon)
    events.where(F.col("event_id") % 2 == 1).select(
        "event_id", (F.col("user_id") + 1000000).cast("long").alias("uid")
    ).write.parquet(os.path.join(d, "gen2"))

    both = spark.read.schema("event_id long, uid long").parquet(
        os.path.join(d, "gen1"), os.path.join(d, "gen2")
    )
    return both.groupBy(
        (F.col("uid") % 32).cast("long").alias("bucket")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("uid").cast("long").alias("uid_sum"),
    )


@register(
    "io18_write_audit_publish",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
               AS total_price
    FROM orders WHERE o_orderkey % 3 <> 0
    GROUP BY o_orderstatus
    """,
    note="write-audit-publish (the Iceberg/dbt WAP pattern on the "
    "engine's own state table): new snapshots STAGE into a directory "
    "outside the published one-bucket BucketedStateTable, an audit "
    "(null keys, duplicate keys, row-count floor) runs against the "
    "staged files, and only a passing snapshot is published through "
    "overwrite_buckets — readers never see unaudited data. The gated "
    "run stages a CORRUPT snapshot (null + duplicate keys) whose audit "
    "must fail leaving the published version untouched (asserted), "
    "then a clean snapshot that publishes; the read-through-pointer "
    "result hash-matches the clean snapshot's aggregation",
    tags=("io", "wap", "audit", "publish"),
)
def io18_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.streaming.state import BucketedStateTable

    orders = load_table(spark, sf_dir, "orders")
    d = tempfile.mkdtemp(prefix="io18_wap_")
    vt = BucketedStateTable(
        spark, os.path.join(d, "published"), ["o_orderkey"], n_buckets=1
    )
    # baseline publish
    vt.overwrite_buckets(orders.where(F.col("o_orderkey") % 7 == 0), [0])
    v_before = vt.current_version()

    def stage_and_audit(df, name):
        target = os.path.join(d, "staged", name)
        df.write.mode("overwrite").parquet(target)
        staged = spark.read.parquet(target)
        checks = staged.agg(
            F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias(
                "null_keys"
            ),
            (F.count("*") - F.countDistinct("o_orderkey")).alias(
                "dup_keys"
            ),
            F.count("*").alias("n"),
        ).first()
        ok = (
            checks.null_keys == 0
            and checks.dup_keys == 0
            and checks.n > 0
        )
        if ok:
            vt.overwrite_buckets(staged, [0])
        return ok

    # corrupt snapshot: a null key and a duplicated key sneak in
    base = orders.where(F.col("o_orderkey") % 3 != 0)
    corrupt = base.unionByName(
        base.limit(1).select(
            F.lit(None).cast("long").alias("o_orderkey"),
            *[c for c in base.columns if c != "o_orderkey"],
        )
    ).unionByName(base.limit(1))
    if stage_and_audit(corrupt, "corrupt"):
        raise AssertionError("audit passed a corrupt snapshot")
    if vt.current_version() != v_before:
        raise AssertionError("failed audit moved the published pointer")

    # clean snapshot publishes
    if not stage_and_audit(base, "clean"):
        raise AssertionError("audit rejected a clean snapshot")

    published = vt.read()
    return published.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("total_price"),
    )


@register(
    "io19_python_stream_sink",
    oracle="""
    WITH gen AS (
        SELECT r AS lsn,
               CASE WHEN r % 10 = 9 THEN 'd' ELSE 'u' END AS op,
               r % 97 AS key,
               CAST((r * 31) % 1000 AS DOUBLE) AS value
        FROM range(0, 6000) t(r)
    )
    SELECT op,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(lsn) AS BIGINT) AS lsn_sum,
           CAST(SUM(key) AS BIGINT) AS key_sum
    FROM gen GROUP BY op
    """,
    note="custom Python STREAMING sink (DataSourceStreamWriter) — the "
    "fourth quadrant of the connector API (io08 batch read, io10 "
    "stream read, io16 batch write): the change-generator STREAM "
    "flows through writeStream.format into per-micro-batch staged "
    "files, committed with the batch id woven into the published "
    "names so a replayed batch overwrites itself instead of "
    "duplicating rows (sink-side idempotence beneath checkpoint "
    "replay). The sunk feed reads back and hash-matches the "
    "generator formula — connector source AND sink verified in one "
    "pipeline with zero built-in formats in the middle",
    tags=("io", "sink", "datasource", "streaming"),
)
def io19_python_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.sources.changegen import ChangeGenDataSource
    from cdc_spark.sources.jsonlines_sink import JsonLinesDataSource

    for ds in (ChangeGenDataSource, JsonLinesDataSource):
        try:
            spark.dataSource.register(ds)
        except Exception:
            pass
    out_dir = tempfile.mkdtemp(prefix="io19_sink_")
    feed = (
        spark.readStream.format("cdc_changegen")
        .option("maxLsn", "6000")
        .option("batchLsns", "1500")
        .option("numPartitions", "4")
        .load()
    )
    q = (
        feed.writeStream.format("cdc_jsonlines")
        .option("path", out_dir)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="io19_ck_")
        )
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    await_stream(q)

    back = spark.read.schema(
        "lsn long, op string, key long, value double"
    ).json(out_dir)
    return back.groupBy("op").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("lsn").cast("long").alias("lsn_sum"),
        F.sum("key").cast("long").alias("key_sum"),
    )


@register(
    "io20_max_records_per_file",
    oracle="""
    WITH src AS (SELECT * FROM orders WHERE o_orderkey % 4 = 0),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
                   AS total
        FROM src
    )
    SELECT n_rows,
           CAST(CEIL(n_rows / 5000.0) AS BIGINT) AS n_files,
           total
    FROM stats
    """,
    note="file-size targeting on write (the small-files knob): "
    "maxRecordsPerFile caps every output file at 5000 rows, so one "
    "fat task cannot emit a multi-GB file and a skewed partition "
    "splits into right-sized files for downstream scan parallelism — "
    "the write-side half of the small-file story whose read-side "
    "compaction io09 gates. The query writes, re-reads, and reports "
    "actual file count (asserted equal to ceil(rows/cap)) plus a "
    "content checksum proving the split lost nothing",
    tags=("io", "write", "small-files"),
)
def io20_max_records_per_file(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    src = orders.where(F.col("o_orderkey") % 4 == 0)
    path = os.path.join(tempfile.mkdtemp(prefix="io20_"), "capped")
    (
        src.repartition(1)  # worst case: ONE fat task, cap must split it
        .write.option("maxRecordsPerFile", 5000)
        .mode("overwrite")
        .parquet(path)
    )
    n_files = len(
        [f for f in os.listdir(path) if f.startswith("part-")]
    )
    back = spark.read.parquet(path)
    return back.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.lit(n_files).cast("long").alias("n_files"),
        F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
        .cast("double")
        .alias("total"),
    )


@register(
    "io21_codec_matrix_roundtrip",
    oracle="""
    WITH src AS (
        SELECT * FROM lineitem WHERE l_orderkey % 8 = 0
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6)))
                    AS DOUBLE) AS total
        FROM src
    )
    SELECT codec, n_rows, total
    FROM agg, (VALUES ('gzip'), ('snappy'), ('zstd')) AS c(codec)
    ORDER BY codec
    """,
    note="compression codec matrix (the 100 TB storage-cost knob): "
    "the same slice writes as snappy, zstd and gzip parquet, each "
    "reads back to an identical decimal checksum — codec choice is "
    "proven lossless and swappable per table. At scale zstd trades "
    "~2x smaller files for decode CPU against snappy's scan speed; "
    "the engine supports retuning that per dataset with no "
    "correctness risk, which this entry pins",
    tags=("io", "codec", "roundtrip"),
)
def io21_codec_matrix_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    li = load_table(spark, sf_dir, "lineitem")
    src = li.where(F.col("l_orderkey") % 8 == 0)
    base = tempfile.mkdtemp(prefix="io21_")
    outs = []
    for codec in ("gzip", "snappy", "zstd"):
        path = os.path.join(base, codec)
        src.write.option("compression", codec).mode(
            "overwrite"
        ).parquet(path)
        back = spark.read.parquet(path)
        outs.append(
            back.agg(
                F.lit(codec).alias("codec"),
                F.count("*").cast("long").alias("n_rows"),
                F.sum(F.col("l_extendedprice").cast("decimal(30,6)"))
                .cast("double")
                .alias("total"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("codec")


@register(
    "io22_nested_column_pruning",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
    FROM orders
    GROUP BY priority
    """,
    note="nested-column pruning: orders rewritten as a parquet table "
    "with a 3-field STRUCT payload; the query selects ONE nested "
    "field and the scan's ReadSchema must contain only that leaf "
    "(asserted in-query — the plan is the proof, not the layout). "
    "At 100 TB wide nested payloads (headers, properties, features) "
    "dominate storage; reading one leaf instead of the struct is "
    "the same order-of-magnitude lever as column pruning on flat "
    "tables, and it only works if expressions stay declarative "
    "(a UDF over the whole struct defeats it)",
    tags=("io", "nested", "pruning"),
)
def io22_nested_column_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    path = os.path.join(tempfile.mkdtemp(prefix="io22_"), "nested")
    nested = orders.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderstatus").alias("status"),
        ).alias("payload"),
    )
    nested.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    out = back.groupBy(
        F.col("payload.priority").alias("priority")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("payload.custkey").cast("long").alias("cust_sum"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the scan must read ONLY the two referenced leaves — a ReadSchema
    # carrying `status` means nested pruning regressed
    if "status" in plan:
        raise AssertionError(
            "nested-column pruning failed: scan reads unused leaf"
        )
    return out


@register(
    "io23_cbo_stats_broadcast",
    oracle="""
    WITH dim AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 100 = 0
    ),
    joined AS (
        SELECT o.o_custkey, o.o_totalprice
        FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
    )
    SELECT CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
               AS fact_rows,
           CAST((SELECT COUNT(*) FROM dim) AS BIGINT) AS dim_rows,
           CAST(1 AS BIGINT) AS planned_broadcast,
           CAST(COUNT(*) AS BIGINT) AS n_joined,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
               AS joined_total
    FROM joined
    """,
    note="cost-based optimizer stats surface: ANALYZE TABLE COMPUTE "
    "STATISTICS writes row/size stats into the catalog, CBO reads "
    "them, and the dim side of an UN-HINTED join gets broadcast from "
    "STATS ALONE (auto-broadcast threshold deliberately too small "
    "for a stats-less guess; the plan is asserted in-query). At "
    "100 TB this is the difference between Catalyst choosing plans "
    "from evidence and from defaults — table-level stats are what "
    "make join reordering and broadcast selection trustworthy. "
    "Analyzed row counts come back exactly from the catalog and are "
    "hash-checked beside the join checksum",
    tags=("io", "cbo", "statistics", "catalog"),
)
def io23_cbo_stats_broadcast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    fact_t, dim_t = "io23_fact", "io23_dim"
    # fixed names, cleaned at START (the io05 pattern): the returned
    # frame is lazy, so the tables must outlive this function
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    for t in (fact_t, dim_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.cbo.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        orders = load_table(spark, sf_dir, "orders")
        customer = load_table(spark, sf_dir, "customer")
        orders.select("o_custkey", "o_totalprice").write.saveAsTable(
            fact_t
        )
        customer.where(F.col("c_custkey") % 100 == 0).select(
            "c_custkey"
        ).write.saveAsTable(dim_t)
        spark.sql(f"ANALYZE TABLE {fact_t} COMPUTE STATISTICS")
        spark.sql(f"ANALYZE TABLE {dim_t} COMPUTE STATISTICS")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(1 << 20)
        )

        def catalog_rows(t: str) -> int:
            stat = (
                spark.sql(f"DESCRIBE TABLE EXTENDED {t}")
                .where(F.col("col_name") == "Statistics")
                .first()
            )
            return int(stat["data_type"].split("bytes,")[1].split()[0])

        joined = spark.table(fact_t).join(
            spark.table(dim_t),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        planned_broadcast = int("BroadcastHashJoin" in plan)
        if not planned_broadcast:
            raise AssertionError(
                "CBO stats did not produce a broadcast join:\n"
                + plan[:1500]
            )
        return joined.agg(
            F.lit(catalog_rows(fact_t)).cast("long").alias("fact_rows"),
            F.lit(catalog_rows(dim_t)).cast("long").alias("dim_rows"),
            F.lit(planned_broadcast).cast("long").alias(
                "planned_broadcast"
            ),
            F.count("*").cast("long").alias("n_joined"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("joined_total"),
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@register(
    "io24_dynamic_partition_pruning",
    oracle="""
    WITH fact AS (
        SELECT o_orderkey, o_totalprice,
               CAST(strftime(o_orderdate, '%Y%m') AS BIGINT) AS ym
        FROM orders
    ),
    dim AS (
        SELECT DISTINCT ym,
               'Y' || CAST(ym // 100 AS VARCHAR) AS yr_tag
        FROM fact
    )
    SELECT f.ym,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(f.o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
               AS revenue
    FROM fact f JOIN dim d ON f.ym = d.ym
    WHERE d.yr_tag = 'Y1996'
    GROUP BY f.ym
    """,
    note="dynamic partition pruning — THE 100 TB star-join lever: the "
    "fact table is laid out partitioned by month, the dim filter is "
    "on an opaque attribute (yr_tag, materialized to parquet so "
    "Catalyst canNOT constant-propagate it onto the join key — the "
    "static-pruning shortcut is deliberately closed), and at runtime "
    "the broadcast dim's join keys become a "
    "``dynamicpruningexpression`` in the fact scan's "
    "PartitionFilters: 12 of ~80 month directories are read, the "
    "rest never open. Asserted in-query: the dynamic filter must be "
    "present AND no static equality on ym may have leaked in. "
    "Without DPP a 100 TB fact scan reads every partition to join "
    "a 12-month dim slice",
    tags=("io", "partition", "dpp", "join"),
)
def io24_dynamic_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = tempfile.mkdtemp(prefix="io24_")
    fact_path = os.path.join(base, "fact")
    # distinctive basename: the plan guardrail whitelists this dir as a
    # bounded broadcast side (one row per distinct calendar month —
    # ~#months regardless of fact size, see tests/test_plan_guardrails.py)
    dim_path = os.path.join(base, "dim_ym_calendar")
    orders = load_table(spark, sf_dir, "orders")
    fact = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyyMM").cast("long").alias("ym"),
    )
    # cluster by the partition key before the partitioned write (guide
    # §6): without it every writer task opens a file in every ym
    # directory — here the single-row-group scan wrote all ~80 month
    # files from ONE task, sequentially. Same 80-file layout, measured
    # 1.55 -> 0.96 s at sf0.1; at scale this is the REBALANCE-by-
    # partition-key discipline that avoids tasks x partitions files.
    fact.repartition("ym").write.partitionBy("ym").mode(
        "overwrite"
    ).parquet(fact_path)
    # the dim goes THROUGH parquet so yr_tag reaches the planner as an
    # opaque stored column: the only route from the dim filter to the
    # fact partitions is the runtime dynamic-pruning subquery
    fact.select("ym").distinct().select(
        "ym",
        F.concat(
            F.lit("Y"), (F.col("ym") / F.lit(100)).cast("long")
        ).alias("yr_tag"),
    ).write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path).where(F.col("yr_tag") == "Y1996")
    fact_r = spark.read.parquet(fact_path)
    out = (
        # explicit broadcast: the 100 TB star join never sort-merges a
        # 12-row dim, and DPP's zero-cost path is broadcast REUSE — the
        # hint keeps the proof independent of the auto-broadcast conf
        fact_r.join(F.broadcast(dim), "ym")
        .groupBy("ym")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln for ln in plan.splitlines()
        if "FileScan" in ln and "fact" in ln
    ]
    if not any("dynamicpruningexpression" in ln for ln in scan_lines):
        raise AssertionError(
            "fact scan has no dynamic-pruning partition filter:\n"
            + "\n".join(scan_lines)
        )
    if any("= 1996" in ln or "= Y1996" in ln for ln in scan_lines):
        raise AssertionError(
            "static filter leaked onto the fact scan — the proof no "
            "longer exercises DPP:\n" + "\n".join(scan_lines)
        )
    return out


@register(
    "io25_nested_schema_evolution",
    oracle="""
    WITH unioned AS (
        SELECT event_type,
               user_id AS amount,
               CAST(NULL AS BIGINT) AS sess
        FROM events WHERE event_id % 2 = 0
        UNION ALL
        SELECT event_type,
               user_id AS amount,
               user_id % 7 AS sess
        FROM events WHERE event_id % 2 = 1
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(amount) AS BIGINT) AS sum_amount,
           CAST(COUNT(sess) AS BIGINT) AS n_with_sess,
           CAST(COALESCE(SUM(sess), 0) AS BIGINT) AS sum_sess
    FROM unioned
    GROUP BY event_type
    ORDER BY event_type
    """,
    note="NESTED schema evolution — the struct-internal case io07's "
    "flat add-column does not cover: gen-2 files add a leaf INSIDE "
    "an existing struct column; mergeSchema=true must merge the "
    "struct footers field-by-field (not treat the widened struct as "
    "a conflicting type) and back-fill NULL at the leaf for gen-1 "
    "rows. The read projects meta.amount + meta.sess only, so "
    "nested-leaf pruning (io22) still applies across generations. "
    "This is what a CDC registry's in-place struct widening "
    "produces on disk over time",
    tags=("io", "schema-evolution", "nested"),
)
def io25_nested_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    events = load_table(spark, sf_dir, "events")
    path = os.path.join(tempfile.mkdtemp(prefix="io25_"), "events_evo")
    # generation 1: struct with one leaf
    events.where(F.col("event_id") % 2 == 0).select(
        "event_type",
        F.struct(F.col("user_id").alias("amount")).alias("meta"),
    ).write.mode("overwrite").parquet(path)
    # generation 2: the struct grew a leaf upstream
    events.where(F.col("event_id") % 2 == 1).select(
        "event_type",
        F.struct(
            F.col("user_id").alias("amount"),
            (F.col("user_id") % 7).alias("sess"),
        ).alias("meta"),
    ).write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("meta.amount").cast("long").alias("sum_amount"),
            F.count("meta.sess").cast("long").alias("n_with_sess"),
            F.coalesce(F.sum("meta.sess"), F.lit(0))
            .cast("long")
            .alias("sum_sess"),
        )
        .orderBy("event_type")
    )


@register(
    "io26_runtime_bloom_join_filter",
    oracle=f"""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('l.l_extendedprice')} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """,
    note="runtime bloom-filter join injection - the OTHER 100 TB "
    "shuffle lever beside io24's DPP: when a selective dim filter "
    "feeds a SHUFFLE join (dim too big to broadcast), Spark builds a "
    "bloom_filter_agg over the creation side's join keys and injects "
    "bloom_filter_might_contain(xxhash64(key)) as a pre-shuffle "
    "filter on the fact side, so ~75% of fact rows here never enter "
    "the exchange (at 100 TB: never leave the scan stage). Asserted "
    "in-query on the compiled plan - both the creation-side "
    "bloom_filter_agg and the probe-side might_contain must be "
    "present - under the documented production knobs "
    "(applicationSideScanSizeThreshold floors the fact size that "
    "qualifies; broadcast disabled to force the shuffle-join regime "
    "the feature exists for). Session confs are restored before "
    "returning; the compiled plan keeps the bloom, so the gate "
    "EXECUTES the filtered join. Bloom is semantically transparent: "
    "the oracle is the plain join",
    tags=("io", "join", "bloom", "pushdown"),
)
def io26_runtime_bloom_join_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = tempfile.mkdtemp(prefix="io26_")
    fact_path = os.path.join(base, "fact")
    dim_path = os.path.join(base, "orders_side")
    load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    ).write.mode("overwrite").parquet(fact_path)
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    ).write.mode("overwrite").parquet(dim_path)

    keys = (
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter."
        "creationSideThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set(keys[0], "true")
        # test-scale stand-ins for the production thresholds: a 100 TB
        # fact passes the 10 GB default on its own
        spark.conf.set(keys[1], "0")
        spark.conf.set(keys[2], "-1")
        spark.conf.set(keys[3], "-1")
        # ... and the CREATION side must scale with the data too: the
        # 10 MB default declined the bloom once the filtered dim side
        # crossed it (caught by the round-12 sf10 gate — the assert
        # fired at x100 data, exactly the coverage-dependent-assert
        # class the gate exists for). A multi-MB selective dim
        # filtering a 60 M-row fact is precisely when production
        # WANTS the bloom, so the stand-in mirrors raising the knob
        # on a real cluster.
        spark.conf.set(keys[4], "1GB")
        fact = spark.read.parquet(fact_path)
        dim = spark.read.parquet(dim_path).where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        out = (
            fact.join(dim, fact.l_orderkey == dim.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count("*").cast("long").alias("n"),
                dsum("l_extendedprice").alias("revenue"),
            )
        )
        # compiling the plan NOW (confs active) pins the bloom into
        # this Dataset's cached queryExecution; later conf restore
        # cannot un-inject it
        plan = out._jdf.queryExecution().executedPlan().toString()
        if "bloom_filter_agg" not in plan:
            raise AssertionError(
                "no creation-side bloom_filter_agg in plan"
            )
        if "might_contain" not in plan:
            raise AssertionError(
                "no probe-side bloom_filter_might_contain in plan"
            )
        return out
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
