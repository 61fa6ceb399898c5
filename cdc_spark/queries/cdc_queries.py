"""CDC operators exposed through the driver's correctness gate.

Each query exercises a CDC-core operator on the driver's synthetic
tables (the `events` table doubles as a change stream: event_id is
the LSN total order, user_id the key) or on golden-equivalent literal
documents, with an exact SQL oracle.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_spark.catalog import load_table
from cdc_spark.cdc.envelope import parse_wal2json
from cdc_spark.cdc.merge import apply_changes, latest_by_key, scd2_history
from cdc_spark.cdc.outbox import route_outbox
from cdc_spark.cdc.registry import SchemaRegistry
from cdc_spark.cdc.snapshot import snapshot_diff
from cdc_spark.queries.base import await_stream, register

# Map event_type → CDC op so `events` becomes a deterministic change
# stream: signup creates, click/view/purchase update, error deletes.
_OP_SQL = """
    CASE event_type
        WHEN 'signup' THEN 'c'
        WHEN 'error' THEN 'd'
        ELSE 'u'
    END
"""


def _as_changes(events: DataFrame) -> DataFrame:
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    return events.select(
        op.alias("op"),
        F.col("event_id").alias("lsn"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
    )


@register(
    "cdc01_golden_replay",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'Johny', 'Kowalski'),
        (3, 'Joe', 'Fresh')
    ) AS t(id, firstname, lastname)
    """,
    note="wal2json parse → typed decode → latest-wins merge, the reference "
    "fixtures' insert/update/delete story plus a second key",
    tags=("cdc", "merge"),
)
def cdc01_golden_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    def doc(kind, values=None, keys=None):
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

    docs = [
        doc("insert", [1, "Johny", "Rambo"]),
        doc("insert", [2, "Jane", "Doe"]),
        doc("update", [1, "Johny", "Kowalski"], keys=[1]),
        doc("delete", keys=[2]),
        doc("insert", [3, "Joe", "Fresh"]),
    ]
    raw = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "seq long, value string"
    )
    reg = SchemaRegistry()
    reg.announce(
        "public",
        "users",
        [("id", "integer", True), ("firstname", "text"), ("lastname", "text")],
    )
    typed = reg.materialize(
        parse_wal2json(raw, lsn_col="seq"), "public", "users"
    )
    return apply_changes(None, typed, ["id"], ["firstname", "lastname"])


@register(
    "cdc02_events_merge",
    oracle=f"""
    WITH ch AS (
        SELECT {_OP_SQL} AS op, event_id AS lsn, user_id, event_type, value
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
           arg_max(event_type, lsn) AS last_type,
           ROUND(arg_max(value, lsn), 4) AS last_value,
           COUNT(*) AS n_changes
    FROM live GROUP BY user_id
    """,
    note="CDC apply over the events stream: latest-wins state per user "
    "with delete tombstones (error events)",
    tags=("cdc", "merge"),
)
def cdc02_events_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    changes = _as_changes(events)

    # state columns: last_type/last_value; count of live changes folded in
    w_del = F.max(F.when(F.col("op") == "d", F.col("lsn"))).over(
        Window.partitionBy("user_id")
    )
    tagged = changes.withColumn("last_del", w_del)
    live = tagged.where(
        F.col("op").isin("c", "u")
        & (F.col("last_del").isNull() | (F.col("lsn") > F.col("last_del")))
    )
    return live.groupBy("user_id").agg(
        F.expr("max_by(event_type, lsn)").alias("last_type"),
        F.round(F.expr("max_by(value, lsn)"), 4).alias("last_value"),
        F.count("*").alias("n_changes"),
    )


@register(
    "cdc03_snapshot_diff",
    oracle="""
    WITH snap2 AS (
        SELECT c_custkey,
               c_name,
               CASE WHEN c_custkey % 7 = 0
                    THEN ROUND(c_acctbal + 100.0, 2)
                    ELSE c_acctbal END AS c_acctbal
        FROM customer
        WHERE c_custkey % 13 <> 0
        UNION ALL
        SELECT c_custkey + 1000000, CONCAT('new_', c_name), 0.0
        FROM customer WHERE c_custkey % 11 = 0
    )
    SELECT op, c_custkey AS key_custkey FROM (
        SELECT COALESCE(n.c_custkey, o.c_custkey) AS c_custkey,
               CASE WHEN o.c_custkey IS NULL THEN 'c'
                    WHEN n.c_custkey IS NULL THEN 'd'
                    WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal
                      OR o.c_name IS DISTINCT FROM n.c_name THEN 'u'
               END AS op
        FROM customer o FULL OUTER JOIN snap2 n USING (c_custkey)
    ) WHERE op IS NOT NULL
    """,
    note="query-based (polling) CDC: snapshot diff emitting c/u/d events "
    "(deck slide 9) — full-outer join, null-safe compare",
    tags=("cdc", "diff"),
)
def cdc03_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    modified = cust.where(F.col("c_custkey") % 13 != 0).select(
        "c_custkey",
        "c_name",
        F.when(
            F.col("c_custkey") % 7 == 0, F.round(F.col("c_acctbal") + 100.0, 2)
        )
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    inserted = cust.where(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_name")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
    )
    snap2 = modified.unionByName(inserted)
    diff = snapshot_diff(cust, snap2, ["c_custkey"])
    return diff.select("op", F.col("c_custkey").alias("key_custkey"))


@register(
    "cdc04_log_compaction",
    oracle="""
    SELECT user_id, event_id, event_type, ROUND(value, 4) AS value
    FROM (
        SELECT user_id, event_id, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    note="log compaction: newest record per key (deck slide 48)",
    tags=("cdc", "compaction"),
)
def cdc04_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    latest = latest_by_key(events, ["user_id"], order_col="event_id")
    return latest.select(
        "user_id", "event_id", "event_type", F.round("value", 4).alias("value")
    )


@register(
    "cdc05_outbox_route",
    oracle="""
    SELECT CASE event_type
               WHEN 'signup'   THEN 'user.events'
               WHEN 'purchase' THEN 'order.events'
               WHEN 'error'    THEN 'ops.alerts'
               ELSE 'activity.events'
           END AS topic,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
    note="outbox router: aggregate-type → topic fan-out (deck slide 40)",
    tags=("cdc", "outbox"),
)
def cdc05_outbox_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    routed = route_outbox(
        events,
        "event_type",
        {
            "signup": "user.events",
            "purchase": "order.events",
            "error": "ops.alerts",
            "click": "activity.events",
            "view": "activity.events",
        },
        default_topic="activity.events",
    )
    return routed.groupBy("topic").agg(F.count("*").alias("n"))


@register(
    "cdc06_schema_evolution",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'Johny', 'Kowalski', '555-0199'),
        (2, 'Jane', 'Doe', NULL)
    ) AS t(id, firstname, lastname, phone_number)
    """,
    note="mid-stream schema evolution (migrations 001→002): v1 rows "
    "null-backfilled, v2 rows carry the new column",
    tags=("cdc", "schema"),
)
def cdc06_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        return json.dumps({"change": [c]})

    v1 = ["id", "firstname", "lastname"]
    v2 = v1 + ["phone_number"]
    docs = [
        doc(v1, [1, "Johny", "Rambo"]),
        doc(v1, [2, "Jane", "Doe"]),
        # ALTER TABLE adds phone_number → new Relation announcement
        doc(v2, [1, "Johny", "Kowalski", "555-0199"], keys=[1], kind="update"),
    ]
    raw = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "seq long, value string"
    )
    reg = SchemaRegistry()
    reg.announce(
        "public", "users", [("id", "integer", True)] + [(c, "text") for c in v1[1:]]
    )
    reg.announce(
        "public", "users", [("id", "integer", True)] + [(c, "text") for c in v2[1:]]
    )
    typed = reg.materialize(parse_wal2json(raw, lsn_col="seq"), "public", "users")
    return apply_changes(
        None, typed, ["id"], ["firstname", "lastname", "phone_number"]
    )


@register(
    "cdc07_dedup_at_least_once",
    oracle="""
    SELECT COUNT(*) AS n_delivered, COUNT(DISTINCT event_id) AS n_unique
    FROM (SELECT event_id FROM events UNION ALL SELECT event_id FROM events)
    """,
    note="at-least-once delivery dedup: replayed stream collapses by key",
    tags=("cdc", "dedup"),
)
def cdc07_dedup_at_least_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("event_id")
    redelivered = events.unionByName(events)  # simulated redelivery
    return redelivered.agg(
        F.count("*").alias("n_delivered"),
        F.countDistinct("event_id").alias("n_unique"),
    )


@register(
    "cdc08_wide_type_decode",
    oracle="""
    SELECT CAST(1 AS INTEGER) AS id,
           TRUE AS flag,
           CAST(42 AS SMALLINT) AS small,
           CAST(9007199254740993 AS BIGINT) AS big,
           CAST(1.5 AS REAL) AS f4,
           CAST(2.25 AS DOUBLE) AS f8,
           'hello' AS t,
           'vc' AS vc,
           TIMESTAMP '2020-09-15 00:00:00' AS d,
           TIMESTAMP '2020-09-15 11:58:28.988414' AS ts_plain,
           'a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11' AS uid,
           '{"a": 1}' AS js,
           '192.168.0.1/24' AS net
    """,
    note="A5 wide-type fixture: one row through the full PG type surface "
    "(bool/int2/4/8/float4/8/text/varchar/date/timestamp/uuid/json/"
    "inet) via registry typed decode — the reference's OID dispatch "
    "(main.go:474-566) as one try_cast projection",
    tags=("cdc", "types"),
)
def cdc08_wide_type_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = [
        ("id", "integer", "1"),
        ("flag", "boolean", "true"),
        ("small", "smallint", "42"),
        ("big", "bigint", "9007199254740993"),
        ("f4", "real", "1.5"),
        ("f8", "double precision", "2.25"),
        ("t", "text", "hello"),
        ("vc", "character varying(16)", "vc"),
        ("d", "date", "2020-09-15"),
        ("ts_plain", "timestamp without time zone",
         "2020-09-15 11:58:28.988414"),
        ("uid", "uuid", "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11"),
        ("js", "json", '{"a": 1}'),
        ("net", "inet", "192.168.0.1/24"),
    ]
    doc = json.dumps(
        {
            "change": [
                {
                    "kind": "insert",
                    "schema": "public",
                    "table": "wide",
                    "columnnames": [c[0] for c in cols],
                    "columntypes": [c[1] for c in cols],
                    "columnvalues": [c[2] for c in cols],
                }
            ]
        }
    )
    raw = spark.createDataFrame([(0, doc)], "seq long, value string")
    reg = SchemaRegistry()
    reg.announce(
        "public",
        "wide",
        [(c[0], c[1], c[0] == "id") for c in cols],
    )
    typed = reg.materialize(
        parse_wal2json(raw, lsn_col="seq"), "public", "wide",
        include_meta=False,
    )
    # pandas renders Spark DateType as date objects but DuckDB DATE as
    # datetime64 — emit the date as midnight timestamp for a stable
    # cross-engine hash (the decode above still exercises DateType)
    return typed.withColumn("d", F.col("d").cast("timestamp"))


@register(
    "cdc09_pipeline_e2e",
    oracle=f"""
    WITH ch AS (
        SELECT {_OP_SQL} AS op, event_id AS lsn, user_id, value
        FROM events
    ),
    ranked AS (
        SELECT *, MAX(CASE WHEN op = 'd' THEN lsn END)
                      OVER (PARTITION BY user_id) AS last_del
        FROM ch
    ),
    state AS (
        SELECT user_id, ROUND(arg_max(value, lsn), 4) AS last_value
        FROM ranked
        WHERE op IN ('c','u') AND (last_del IS NULL OR lsn > last_del)
        GROUP BY user_id
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_users,
           CAST(SUM(CAST(last_value AS DECIMAL(18,6))) AS DOUBLE)
               AS total_last_value
    FROM state JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    note="end-to-end composition: change stream → latest-wins merge "
    "state → dim enrichment (AQE-chosen strategy) → segment aggregate (the full "
    "sync-to-analytics path, deck slides 33-37)",
    tags=("cdc", "e2e"),
)
def cdc09_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    changes = _as_changes(events)
    state = apply_changes(
        None, changes, ["user_id"], ["event_type", "value"]
    ).select("user_id", F.round("value", 4).alias("last_value"))
    cust = load_table(spark, sf_dir, "customer")
    return (
        state.join(cust, state.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.col("last_value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_last_value"),
        )
    )


@register(
    "cdc10_pgoutput_binary",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'Johny', 'Kowalski', 502, 'region-b'),
        (3, 'Joe', 'Fresh', 503, NULL)
    ) AS t(id, firstname, lastname, tx_id, origin)
    """,
    note="binary pgoutput wire decode (tag dispatch, big-endian fields, "
    "tupledata n/u/t, Relation/Type/Origin context) -> canonical envelope "
    "-> typed merge; frames mirror the reference fixtures' story "
    "(main.go:338-409) plus TOAST, replica-identity K, origin and a "
    "mid-stream type announcement",
    tags=("cdc", "wire"),
)
def cdc10_pgoutput_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    import cdc_spark.cdc.pgoutput_wire as W

    rel = 16385
    cols = [
        (True, "id", 23, 0xFFFFFFFF),
        (False, "firstname", 25, 0xFFFFFFFF),
        (False, "lastname", 25, 0xFFFFFFFF),
    ]
    frames = [
        # tx 501: snapshot-equivalent inserts
        W.encode_begin(1000, 1_000_000, 501),
        W.encode_type(90001, "public", "citext"),
        W.encode_relation(rel, "public", "users", ord("d"), cols),
        W.encode_insert(rel, [("t", "1"), ("t", "Johny"), ("t", "Rambo")]),
        W.encode_insert(rel, [("t", "2"), ("t", "Jane"), ("t", "Doe")]),
        W.encode_commit(1001, 1002, 1_000_001),
        # tx 502 (replayed from another origin): update + delete;
        # the update's firstname arrives as unchanged TOAST ('u')
        W.encode_begin(2000, 2_000_000, 502),
        W.encode_origin(2000, "region-b"),
        W.encode_update(
            rel,
            [("t", "1"), ("u", None), ("t", "Kowalski")],
            old=[("t", "1")],
            old_kind="K",
        ),
        W.encode_delete(rel, [("t", "2")], "K"),
        W.encode_commit(2001, 2002, 2_000_001),
        # tx 503: late insert of a new key
        W.encode_begin(3000, 3_000_000, 503),
        W.encode_insert(rel, [("t", "3"), ("t", "Joe"), ("t", "Fresh")]),
        W.encode_commit(3001, 3002, 3_000_001),
    ]
    raw = spark.createDataFrame(
        [(i, bytearray(f)) for i, f in enumerate(frames)],
        "ord long, value binary",
    )
    parsed = W.parse_pgoutput_binary(raw, order_col="ord")

    reg = SchemaRegistry()
    W.announce_to_registry(reg, W.decode_frames(raw, order_col="ord"))
    typed = reg.materialize(parsed, "public", "users")
    # carry tx_id/origin through the merge as extra payload columns to
    # gate the transaction/origin context resolution, not just tuples
    typed = typed.join(
        parsed.select("lsn", "origin"), on="lsn", how="left"
    )
    return apply_changes(
        None,
        typed,
        ["id"],
        ["firstname", "lastname", "tx_id", "origin"],
    ).select(
        "id",
        "firstname",
        "lastname",
        F.col("tx_id").cast("int").alias("tx_id"),
        "origin",
    )


@register(
    "cdc11_incremental_apply",
    oracle=f"""
    WITH ch AS (
        SELECT {_OP_SQL} AS op, event_id AS lsn, user_id, event_type, value
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
    note="incremental bucketed-state apply: the change stream split "
    "into 3 lsn-ordered micro-batches applied sequentially into a "
    "BucketedStateTable (changed-bucket-only rewrite) must equal the "
    "one-shot merge over the whole log",
    tags=("cdc", "incremental", "state"),
)
def cdc11_incremental_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cdc_spark.streaming.state import BucketedStateTable

    events = load_table(spark, sf_dir, "events")
    changes = _as_changes(events).withColumn(
        "value", F.round("value", 4)
    )
    mx = changes.agg(F.max("lsn")).first()[0] or 0
    state = BucketedStateTable(
        spark,
        tempfile.mkdtemp(prefix="cdc11_state_"),
        ["user_id"],
        n_buckets=16,
    )
    bounds = [(None, mx // 3), (mx // 3, 2 * mx // 3), (2 * mx // 3, None)]
    for lo, hi in bounds:
        b = changes
        if lo is not None:
            b = b.where(F.col("lsn") > lo)
        if hi is not None:
            b = b.where(F.col("lsn") <= hi)
        state.apply(b, ["event_type", "value"])
    return state.read()


@register(
    "cdc13_ivm_agg",
    oracle=f"""
    WITH ch AS (
        SELECT {_OP_SQL} AS op, event_id AS lsn, user_id, event_type,
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
    note="incremental view maintenance: a materialized per-group "
    "aggregate (count + exact sum) maintained by folding only the "
    "tail batch's touched-key pre/post delta into the base aggregate "
    "(cdc_spark/cdc/ivm.py) — O(batch) apply, yet bit-identical to "
    "the oracle's full recompute over the whole log",
    tags=("cdc", "ivm", "incremental"),
)
def cdc13_ivm_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.cdc.ivm import (
        agg_delta,
        base_agg,
        finish_agg,
        merge_agg,
    )

    events = load_table(spark, sf_dir, "events")
    changes = _as_changes(events).withColumn("value", F.round("value", 4))

    # Split the log 80/20 at a data-derived lsn threshold — a 1-row
    # broadcast aggregate, no collect (the merge.py t_agg pattern).
    t_agg = changes.agg(
        (F.max("lsn") * F.lit(0.8)).cast("long").alias("__t")
    )
    tagged = changes.crossJoin(F.broadcast(t_agg))
    head = tagged.where(F.col("lsn") <= F.col("__t")).drop("__t")
    batch = tagged.where(F.col("lsn") > F.col("__t")).drop("__t")

    keys, payload, gcols = ["user_id"], ["event_type", "value"], ["event_type"]
    measures = {"sum_value": F.col("value")}

    base_state = apply_changes(None, head, keys, payload)
    agg0 = base_agg(base_state, gcols, measures)

    touched = batch.select(*keys).distinct()
    pre = base_state.join(touched, on=keys, how="left_semi")
    post = apply_changes(pre, batch, keys, payload)
    delta = agg_delta(pre, post, gcols, measures)

    out = finish_agg(
        merge_agg(agg0, delta, gcols),
        gcols,
        ["sum_value"],
        count_alias="n_users",
    )
    return out.select(
        F.col("event_type").alias("last_type"), "n_users", "sum_value"
    )


@register(
    "cdc12_scd2_history",
    oracle=f"""
    WITH ch AS (
        SELECT {_OP_SQL} AS op, event_id AS lsn, user_id, event_type, value
        FROM events
    ),
    v AS (
        SELECT *,
               LEAD(lsn) OVER (PARTITION BY user_id ORDER BY lsn) AS valid_to
        FROM ch
    )
    SELECT user_id,
           event_type,
           ROUND(value, 4) AS value,
           lsn AS valid_from,
           valid_to,
           CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
    FROM v
    WHERE op IN ('c', 'u')
    """,
    note="SCD Type-2 reconstruction: every upsert becomes a version row "
    "with a half-open [valid_from, valid_to) LSN interval; deletes close "
    "intervals without emitting rows; is_current marks the live version",
    tags=("cdc", "scd2", "temporal"),
)
def cdc12_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    changes = _as_changes(events)
    return scd2_history(
        changes, ["user_id"], ["event_type", "value"]
    ).select(
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
        "valid_from",
        "valid_to",
        "is_current",
    )


@register(
    "cdc14_txn_barrier",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE (o_orderkey % 101) % 9 <> 0
    GROUP BY o_orderstatus
    """,
    note="transactional Begin/Commit barrier (main.go:352-366): data "
    "ops buffer in a tx-bucketed pending pool until their COMMIT "
    "marker arrives — including transactions whose commit lands in a "
    "LATER micro-batch — and never-committed transactions stay "
    "invisible; the admitted state equals a plain filter on the "
    "committed-tx set",
    tags=("cdc", "transaction", "state"),
)
def cdc14_txn_barrier(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cdc_spark.cdc.txn import TransactionalApply

    orders = load_table(spark, sf_dir, "orders")
    tx = (F.col("o_orderkey") % 101).cast("long")
    data = orders.select(
        F.lit("c").alias("op"),
        F.col("o_orderkey").alias("lsn"),
        tx.alias("tx_id"),
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderstatus",
    )
    committed = (
        data.select("tx_id")
        .distinct()
        .where(F.col("tx_id") % 9 != 0)
    )
    commit_rows = committed.select(
        F.lit("C").alias("op"),
        (F.col("tx_id") + 10_000_000).alias("lsn"),
        "tx_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("long").alias("o_custkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("string").alias("o_orderstatus"),
    )
    # WAL-ordered batching: a COMMIT never precedes its data. Batch 1
    # carries tx_id < 50's data but only the EVEN committed markers;
    # the odd ones commit in batch 2 — the cross-batch buffering case.
    applier = TransactionalApply(
        spark,
        tempfile.mkdtemp(prefix="cdc14_target_"),
        tempfile.mkdtemp(prefix="cdc14_pending_"),
        ["o_orderkey"],
        ["o_custkey", "o_totalprice", "o_orderstatus"],
        n_buckets=16,
    )
    b1 = data.where(F.col("tx_id") < 50).unionByName(
        commit_rows.where((F.col("tx_id") < 50) & (F.col("tx_id") % 2 == 0))
    )
    b2 = data.where(F.col("tx_id") >= 50).unionByName(
        commit_rows.where((F.col("tx_id") >= 50) | (F.col("tx_id") % 2 != 0))
    )
    applier.apply_batch(b1)
    applier.apply_batch(b2)
    return (
        applier.state()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_price"),
        )
    )


@register(
    "cdc15_replication_progress",
    oracle=f"""
    WITH ch AS (
        SELECT {_OP_SQL} AS op, event_id AS lsn, user_id FROM events
    ),
    ranked AS (
        SELECT *,
               MAX(CASE WHEN op = 'd' THEN lsn END)
                   OVER (PARTITION BY user_id) AS last_del
        FROM ch
    ),
    live AS (
        SELECT DISTINCT user_id FROM ranked
        WHERE op IN ('c','u')
          AND (last_del IS NULL OR lsn > last_del)
    )
    SELECT (SELECT MAX(lsn) FROM ch) AS applied_lsn,
           (SELECT COUNT(*) FROM live) AS n_live_rows,
           3 AS n_batches
    """,
    note="replication-progress surface (main.go:61-74 standby acks): "
    "the applied-LSN watermark is folded into the touched-bucket scan "
    "at zero extra job cost and committed in every manifest; "
    "progress() is pure manifest reads — the lag monitor never "
    "launches a Spark job",
    tags=("cdc", "monitoring", "state"),
)
def cdc15_replication_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cdc_spark.streaming.state import BucketedStateTable

    events = load_table(spark, sf_dir, "events")
    changes = _as_changes(events)
    mx = changes.agg(F.max("lsn")).first()[0] or 0
    state = BucketedStateTable(
        spark,
        tempfile.mkdtemp(prefix="cdc15_state_"),
        ["user_id"],
        n_buckets=16,
    )
    bounds = [(None, mx // 3), (mx // 3, 2 * mx // 3), (2 * mx // 3, None)]
    n_batches = 0
    for lo, hi in bounds:
        b = changes
        if lo is not None:
            b = b.where(F.col("lsn") > lo)
        if hi is not None:
            b = b.where(F.col("lsn") <= hi)
        state.apply(b, ["event_type", "value"], batch_id=n_batches)
        n_batches += 1
    prog = state.replication_progress()  # pure manifest reads, no job
    # the live-row count stays inside the returned plan (one hash agg
    # over the bucketed state) instead of a driver-side .count()
    return state.read().agg(
        F.lit(int(prog["applied_lsn"])).cast("long").alias("applied_lsn"),
        F.count(F.lit(1)).cast("long").alias("n_live_rows"),
        F.lit(n_batches).cast("int").alias("n_batches"),
    )


@register(
    "cdc16_maxwell_roundtrip",
    oracle="""
    WITH base AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 0 THEN NULL
                    WHEN c_custkey % 3 = 0
                        THEN ROUND(CAST(c_acctbal AS DECIMAL(18,2)) + 100, 2)
                    ELSE ROUND(CAST(c_acctbal AS DECIMAL(18,2)), 2)
               END AS bal
        FROM customer
    )
    SELECT COUNT(*) AS n, COUNT(DISTINCT c_custkey) AS n_keys,
           CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM base WHERE bal IS NOT NULL
    """,
    note="Maxwell (MySQL-binlog ecosystem) dialect round-trip: rows → "
    "to_json(maxwell doc) → parse_maxwell → canonical merge. Inserts "
    "for every customer, then partial-old updates (+100) for custkey%3 "
    "and deletes (data = old image, Maxwell quirk) for custkey%10 — "
    "the merged state equals the plain CASE filter",
    tags=("cdc", "maxwell", "envelope"),
)
def cdc16_maxwell_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.cdc.envelope import parse_maxwell
    from cdc_spark.queries.base import dsum

    cust = load_table(spark, sf_dir, "customer")
    bal = F.round(F.col("c_acctbal").cast("decimal(18,2)"), 2).cast("string")
    row_map = F.map_from_arrays(
        F.array(F.lit("c_custkey"), F.lit("c_acctbal")),
        F.array(F.col("c_custkey").cast("string"), bal),
    )
    bal_new = F.round(
        F.col("c_acctbal").cast("decimal(18,2)") + 100, 2
    ).cast("string")
    upd_map = F.map_from_arrays(
        F.array(F.lit("c_custkey"), F.lit("c_acctbal")),
        F.array(F.col("c_custkey").cast("string"), bal_new),
    )
    old_map = F.map_from_arrays(
        F.array(F.lit("c_acctbal")), F.array(bal)
    )

    def doc(typ, data, old, lsn):
        return F.to_json(
            F.struct(
                F.lit("shop").alias("database"),
                F.lit("customer").alias("table"),
                F.lit(typ).alias("type"),
                F.lit(1700000000).cast("long").alias("ts"),
                F.col("c_custkey").cast("long").alias("xid"),
                F.lit(True).alias("commit"),
                data.alias("data"),
                old.alias("old"),
                lsn.cast("long").alias("seq"),
            )
        )

    nil = F.lit(None).cast("map<string,string>")
    inserts = cust.select(
        doc("insert", row_map, nil, F.col("c_custkey")).alias("value")
    )
    updates = cust.where(F.col("c_custkey") % 3 == 0).select(
        doc(
            "update", upd_map, old_map, F.col("c_custkey") + 10_000_000
        ).alias("value")
    )
    deletes = cust.where(F.col("c_custkey") % 10 == 0).select(
        # Maxwell quirk: a delete's `data` is the OLD row image
        doc(
            "delete", row_map, nil, F.col("c_custkey") + 20_000_000
        ).alias("value")
    )
    raw = inserts.unionByName(updates).unionByName(deletes)
    raw = raw.withColumn(
        "seq", F.get_json_object("value", "$.seq").cast("long")
    )
    parsed = parse_maxwell(raw, lsn_col="seq", key_names=["c_custkey"])
    typed = parsed.select(
        "op",
        "lsn",
        F.try_element_at(
            F.coalesce("after", "key"), F.lit("c_custkey")
        ).cast("long").alias("c_custkey"),
        F.try_element_at("after", F.lit("c_acctbal"))
        .cast("double")
        .alias("c_acctbal"),
    )
    merged = apply_changes(None, typed, ["c_custkey"], ["c_acctbal"])
    return merged.agg(
        F.count("*").alias("n"),
        F.countDistinct("c_custkey").alias("n_keys"),
        dsum("c_acctbal", 2).alias("total_bal"),
    )


@register(
    "cdc17_incremental_snapshot",
    oracle=f"""
    WITH ch AS (
        SELECT {_OP_SQL} AS op, event_id AS lsn, user_id, event_type, value
        FROM events
    ),
    bounds AS (
        SELECT MAX(lsn) AS max_lsn, MAX(user_id) AS max_key FROM ch
    ),
    keyed AS (
        SELECT ch.*, user_id // 5 AS chunk,
               (max_key // 5) + 1 AS n_chunks,
               max_lsn // 2 AS snap_start,
               max_lsn - (max_lsn // 2) AS snap_range
        FROM ch, bounds
    ),
    windowed AS (
        SELECT *,
               snap_start + (chunk * snap_range) // n_chunks AS chunk_lo,
               snap_start + ((chunk + 1) * snap_range) // n_chunks AS chunk_hi
        FROM keyed
    ),
    per_key AS (
        SELECT user_id, chunk, chunk_lo, chunk_hi,
               arg_max(op, lsn)         AS snap_op,
               arg_max(event_type, lsn) AS snap_type,
               arg_max(value, lsn)      AS snap_value,
               MAX(lsn)                 AS snap_lsn,
               MAX(CASE WHEN lsn > chunk_lo THEN 1 ELSE 0 END) AS in_window
        FROM windowed
        WHERE lsn <= chunk_hi
        GROUP BY user_id, chunk, chunk_lo, chunk_hi
    )
    SELECT user_id, chunk, chunk_lo, chunk_hi,
           snap_type, ROUND(snap_value, 4) AS snap_value, snap_lsn
    FROM per_key
    WHERE snap_op <> 'd' AND in_window = 0
    """,
    note="DBLog-style incremental snapshot (Netflix DBLog / Debezium "
    "watermark algorithm): the key space is split into 50-key chunks, "
    "each chunk read inside its own [lo, hi] LSN watermark window "
    "(windows laid out over the second half of the log); a chunk row "
    "is emitted as backfill ONLY if no log event for that key landed "
    "inside the window — the log apply supersedes it (the dedup rule "
    "that makes snapshot+stream interleave exactly-once). Windows are "
    "pure integer arithmetic over two scalar aggregates, broadcast as "
    "a 1-row join; the per-key fold is one shuffle on user_id",
    tags=("cdc", "snapshot", "backfill"),
)
def cdc17_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ch = _as_changes(events)

    bounds = ch.agg(
        F.max("lsn").alias("__max_lsn"), F.max("user_id").alias("__max_key")
    )
    # chunking + watermark-window layout, all integer arithmetic so any
    # engine recomputes identical bounds (no float division anywhere)
    keyed = ch.join(F.broadcast(bounds)).select(
        "*",
        F.expr("user_id div 5").alias("chunk"),
        F.expr("(__max_key div 5) + 1").alias("n_chunks"),
        F.expr("__max_lsn div 2").alias("snap_start"),
        F.expr("__max_lsn - (__max_lsn div 2)").alias("snap_range"),
    )
    windowed = keyed.select(
        "*",
        F.expr("snap_start + (chunk * snap_range) div n_chunks").alias(
            "chunk_lo"
        ),
        F.expr(
            "snap_start + ((chunk + 1) * snap_range) div n_chunks"
        ).alias("chunk_hi"),
    ).where(F.col("lsn") <= F.col("chunk_hi"))

    w = Window.partitionBy("user_id").orderBy(F.desc("lsn"))
    per_key = (
        windowed.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "in_window",
            F.max(
                F.when(F.col("lsn") > F.col("chunk_lo"), 1).otherwise(0)
            ).over(Window.partitionBy("user_id")),
        )
        .where(F.col("__rn") == 1)
    )
    return per_key.where(
        (F.col("op") != "d") & (F.col("in_window") == 0)
    ).select(
        "user_id",
        "chunk",
        "chunk_lo",
        "chunk_hi",
        F.col("event_type").alias("snap_type"),
        F.round("value", 4).alias("snap_value"),
        F.col("lsn").alias("snap_lsn"),
    )


@register(
    "cdc18_dead_letter_routing",
    oracle="""
    SELECT * FROM (VALUES
        ('c', 2), ('d', 1), ('dead', 3), ('t', 1), ('u', 1)
    ) AS t(route, n)
    """,
    note="permissive error policy (the upgrade over the reference's "
    "crash-stop log.Fatal, main.go:110,120-129): malformed JSON and "
    "unknown-kind documents route to a dead-letter frame with null op "
    "instead of killing the stream; well-formed changes in the same "
    "batch keep flowing. Counts per route gated against literals",
    tags=("cdc", "error-policy"),
)
def cdc18_dead_letter_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.cdc.envelope import parse_wal2json, split_dead_letter

    def doc(kind, values=None, keys=None):
        c = {"kind": kind, "schema": "public", "table": "users"}
        if values is not None:
            c["columnnames"] = ["id", "v"]
            c["columntypes"] = ["integer", "text"]
            c["columnvalues"] = values
        if keys is not None:
            c["oldkeys"] = {
                "keynames": ["id"],
                "keytypes": ["integer"],
                "keyvalues": keys,
            }
        return json.dumps({"change": [c]})

    docs = [
        doc("insert", [1, "a"]),
        doc("insert", [2, "b"]),
        doc("update", [1, "c"], keys=[1]),
        doc("delete", keys=[2]),
        doc("truncate"),
        "{this is not json at all",          # malformed -> dead
        '{"change": [{"kind": "message"}]}',  # unknown kind -> dead
        "[]",                                 # wrong shape -> dead
    ]
    raw = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "seq long, value string"
    )
    good, dead = split_dead_letter(parse_wal2json(raw, lsn_col="seq"))
    return good.groupBy(F.col("op").alias("route")).agg(
        F.count("*").cast("int").alias("n")
    ).unionByName(
        dead.agg(
            F.lit("dead").alias("route"), F.count("*").cast("int").alias("n")
        )
    )


@register(
    "cdc19_version_diff_feed",
    oracle=f"""
    WITH ch AS (
        SELECT {_OP_SQL} AS op, event_id AS lsn, user_id, event_type,
               ROUND(value, 4) AS value
        FROM events
    ),
    cut AS (SELECT MAX(event_id) // 3 AS c FROM events),
    snap AS (
        SELECT user_id,
               arg_max(event_type, lsn) AS event_type,
               arg_max(value, lsn) AS value
        FROM (
            SELECT *,
                   MAX(CASE WHEN op = 'd' THEN lsn END)
                       OVER (PARTITION BY user_id) AS last_del
            FROM ch WHERE lsn <= (SELECT c FROM cut)
        )
        WHERE op IN ('c','u') AND (last_del IS NULL OR lsn > last_del)
        GROUP BY user_id
    ),
    fin AS (
        SELECT user_id,
               arg_max(event_type, lsn) AS event_type,
               arg_max(value, lsn) AS value
        FROM (
            SELECT *,
                   MAX(CASE WHEN op = 'd' THEN lsn END)
                       OVER (PARTITION BY user_id) AS last_del
            FROM ch
        )
        WHERE op IN ('c','u') AND (last_del IS NULL OR lsn > last_del)
        GROUP BY user_id
    )
    SELECT CASE WHEN s.user_id IS NULL THEN 'c'
                WHEN f.user_id IS NULL THEN 'd'
                ELSE 'u' END AS op,
           COALESCE(f.user_id, s.user_id) AS user_id,
           f.event_type, f.value
    FROM snap s FULL OUTER JOIN fin f ON s.user_id = f.user_id
    WHERE s.user_id IS NULL OR f.user_id IS NULL
       OR f.event_type IS DISTINCT FROM s.event_type
       OR f.value IS DISTINCT FROM s.value
    """,
    note="change-data-feed reconstruction between two state versions "
    "(the Delta-CDF shape): manifests double as the change index, so "
    "only buckets whose file list differs between the "
    "versions are read and full-outer-diffed — O(changed buckets), "
    "not O(state). Oracle recomputes both snapshots from the log and "
    "diffs them in SQL",
    tags=("cdc", "time-travel", "audit"),
)
def cdc19_version_diff_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cdc_spark.streaming.state import BucketedStateTable

    events = load_table(spark, sf_dir, "events")
    # ONE materialization of the change projection for the whole replay
    # (round 13: each batch slice was checkpointed separately, so the
    # events scan + op/lsn derivation ran once for the max-lsn probe and
    # once per batch — 4 full passes; now the checkpointed log is sliced
    # by lsn per batch, so every later pass reads cached partitions).
    # A CDC log replay is bounded by the log, never by state size.
    changes = (
        _as_changes(events)
        .withColumn("value", F.round("value", 4))
        .localCheckpoint(eager=True)
    )
    mx = changes.agg(F.max("lsn")).first()[0] or 0
    state = BucketedStateTable(
        spark,
        tempfile.mkdtemp(prefix="cdc19_state_"),
        ["user_id"],
        n_buckets=16,
    )
    bounds = [(None, mx // 3), (mx // 3, 2 * mx // 3), (2 * mx // 3, None)]
    # each apply's 1-row touched-bucket scan reads its slice of the
    # checkpointed log, so bucket pruning stays exact per batch
    versions = []
    for lo, hi in bounds:
        b = changes
        if lo is not None:
            b = b.where(F.col("lsn") > lo)
        if hi is not None:
            b = b.where(F.col("lsn") <= hi)
        versions.append(state.apply(b, ["event_type", "value"]))
    return state.version_diff(versions[0], versions[-1])


@register(
    "cdc20_stream_binary_wire",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'Johny', 'Kowalski', 502),
        (3, 'Joe', 'Fresh', 503)
    ) AS t(id, firstname, lastname, tx_id)
    """,
    note="the reference's BINARY wire protocol under real Structured "
    "Streaming: base64-framed pgoutput messages stream through 3 "
    "micro-batches (file source, mtime-ordered), each batch decodes "
    "declaratively (cdc10's tag-dispatch expressions), and the "
    "transaction barrier buffers tx 502's ops until its COMMIT "
    "arrives in the NEXT batch — a pgoutput Commit frame names no "
    "xid, so the open-transaction context is carried across batches "
    "driver-side, exactly the in-memory state the reference's "
    "single-threaded loop holds (main.go:66-136). Mid-stream state "
    "is asserted (uncommitted tx invisible); the final state is "
    "gated against literals incl. TOAST fallback and per-tx ids",
    tags=("cdc", "wire", "streaming-integration", "txn"),
)
def cdc20_stream_binary_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    import base64
    import os
    import tempfile

    import cdc_spark.cdc.pgoutput_wire as W
    from cdc_spark.cdc.txn import TransactionalApply

    rel = 16385
    cols = [
        (True, "id", 23, 0xFFFFFFFF),
        (False, "firstname", 25, 0xFFFFFFFF),
        (False, "lastname", 25, 0xFFFFFFFF),
    ]
    R = W.encode_relation(rel, "public", "users", ord("d"), cols)
    batches = [
        [  # tx501 commits here; tx502's ops arrive, commit doesn't
            W.encode_begin(1000, 1_000_000, 501),
            R,
            W.encode_insert(rel, [("t", "1"), ("t", "Johny"), ("t", "Rambo")]),
            W.encode_insert(rel, [("t", "2"), ("t", "Jane"), ("t", "Doe")]),
            W.encode_commit(1001, 1002, 1_000_001),
            W.encode_begin(2000, 2_000_000, 502),
            W.encode_update(
                rel,
                [("t", "1"), ("u", None), ("t", "Kowalski")],
                old=[("t", "1")],
                old_kind="K",
            ),
            W.encode_delete(rel, [("t", "2")], "K"),
        ],
        [  # tx502's commit lands with no Begin in sight; tx503 opens
            W.encode_commit(2001, 2002, 2_000_001),
            R,  # pgoutput re-announces relations per session
            W.encode_begin(3000, 3_000_000, 503),
            W.encode_insert(rel, [("t", "3"), ("t", "Joe"), ("t", "Fresh")]),
        ],
        [W.encode_commit(3001, 3002, 3_000_001)],
    ]
    src_dir = tempfile.mkdtemp(prefix="cdc20_src_")
    ordn = 0
    for i, frames in enumerate(batches):
        path = os.path.join(src_dir, f"b{i}.txt")
        with open(path, "w") as fh:
            for f in frames:
                fh.write(f"{ordn}|{base64.b64encode(bytes(f)).decode()}\n")
                ordn += 1
        os.utime(path, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))

    reg = SchemaRegistry()
    applier = TransactionalApply(
        spark,
        tempfile.mkdtemp(prefix="cdc20_target_"),
        tempfile.mkdtemp(prefix="cdc20_pending_"),
        ["id"],
        ["firstname", "lastname", "tx_id"],
        n_buckets=8,
    )
    # the reference's in-memory open-transaction state, carried across
    # micro-batches (a pgoutput Commit frame names no xid)
    carry = {"xid": None}
    checks: list[dict] = []

    def apply_batch(batch_df, epoch_id):
        raw = batch_df.select(
            F.split("value", "\\|")[0].cast("long").alias("ord"),
            F.unbase64(F.split("value", "\\|")[1]).alias("value"),
        )
        if raw.isEmpty():
            return
        parsed = W.parse_pgoutput_binary(raw, order_col="ord")
        decoded = W.decode_frames(raw, order_col="ord")
        W.announce_to_registry(reg, decoded)
        typed = reg.materialize(parsed, "public", "users").withColumn(
            "tx_id", F.coalesce(F.col("tx_id"), F.lit(carry["xid"]))
        )
        # tx markers are bounded (a handful per batch): resolve each
        # Commit to the transaction open at its position
        markers = sorted(
            (
                (r["__order"], r["tag"], r["xid"])
                for r in decoded.where(F.col("tag").isin("B", "C"))
                .select("__order", "tag", "xid")
                .collect()
            ),
        )
        commit_rows = []
        open_xid = carry["xid"]
        for ordv, tag, xid in markers:
            if tag == "B":
                open_xid = xid
            else:
                commit_rows.append((ordv, open_xid))
                open_xid = None
        carry["xid"] = open_xid
        data = typed.select(
            "op", "lsn", F.col("tx_id").cast("long").alias("tx_id"),
            "id", "firstname", "lastname",
        )
        commits = spark.createDataFrame(
            [(int(o), int(x)) for o, x in commit_rows if x is not None],
            "lsn long, tx_id long",
        ).select(
            F.lit("C").alias("op"), "lsn", "tx_id",
            F.lit(None).cast("integer").alias("id"),
            F.lit(None).cast("string").alias("firstname"),
            F.lit(None).cast("string").alias("lastname"),
        )
        applier.apply_batch(data.unionByName(commits))
        st = applier.state()
        checks.append(
            {r["id"]: r["firstname"] for r in st.collect()} if st is not None else {}
        )

    q = (
        spark.readStream.format("text")
        .schema("value string")
        .option("maxFilesPerTrigger", 1)
        .load(src_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="cdc20_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)

    # barrier proof: after batch 1 only tx501 is visible (tx502's
    # update/delete are pending, so id=2 still present, id=1 unrenamed)
    if checks and checks[0] != {1: "Johny", 2: "Jane"}:
        raise AssertionError(
            f"uncommitted tx leaked into state after batch 1: {checks[0]}"
        )
    return applier.state().select(
        "id", "firstname", "lastname", F.col("tx_id").cast("int").alias("tx_id")
    )


@register(
    "cdc21_wal2json_v2",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'Johny', 'Kowalski', 502),
        (3, 'Joe', 'Fresh', 503)
    ) AS t(id, firstname, lastname, tx_id)
    """,
    note="wal2json FORMAT-VERSION 2 — the fifth envelope dialect: one "
    "action per document (I/U/D with per-action xid, identity = "
    "replica-identity old image), golden story equivalent to "
    "cdc01/cdc10 (insert x2, identity-keyed update + delete, late "
    "insert) parsed, registry-typed and merged; per-action xids "
    "carried through as payload to gate the v2 transaction metadata "
    "path",
    tags=("cdc", "envelope", "wal2json"),
)
def cdc21_wal2json_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.cdc.envelope import parse_wal2json_v2

    def act(action, xid, columns=None, identity=None):
        d = {
            "action": action,
            "schema": "public",
            "table": "users",
            "xid": xid,
            "timestamp": "2024-01-01 00:00:00",
        }
        if columns is not None:
            d["columns"] = [
                {"name": n, "type": t, "value": v} for n, t, v in columns
            ]
        if identity is not None:
            d["identity"] = [
                {"name": n, "type": t, "value": v} for n, t, v in identity
            ]
        return json.dumps(d)

    u = [("id", "integer"), ("firstname", "text"), ("lastname", "text")]

    def cols(*vals):
        return [(n, t, v) for (n, t), v in zip(u, vals)]

    docs = [
        act("B", 501),
        act("I", 501, columns=cols("1", "Johny", "Rambo")),
        act("I", 501, columns=cols("2", "Jane", "Doe")),
        act("C", 501),
        act("B", 502),
        act(
            "U",
            502,
            columns=cols("1", "Johny", "Kowalski"),
            identity=[("id", "integer", "1")],
        ),
        act("D", 502, identity=[("id", "integer", "2")]),
        act("C", 502),
        act("B", 503),
        act("I", 503, columns=cols("3", "Joe", "Fresh")),
        act("C", 503),
    ]
    raw = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "seq long, value string"
    )
    parsed = parse_wal2json_v2(raw, lsn_col="seq")
    reg = SchemaRegistry()
    reg.announce(
        "public",
        "users",
        [("id", "integer", True), ("firstname", "text"), ("lastname", "text")],
    )
    typed = reg.materialize(parsed, "public", "users")
    return apply_changes(
        None, typed, ["id"], ["firstname", "lastname", "tx_id"]
    ).select(
        "id", "firstname", "lastname", F.col("tx_id").cast("int").alias("tx_id")
    )


@register(
    "cdc22_bidirectional_origin_filter",
    oracle=f"""
    WITH ch AS (
        SELECT {_OP_SQL} AS op, event_id AS lsn, user_id, event_type,
               ROUND(value, 4) AS value,
               CASE WHEN user_id % 2 = 0 THEN 'site_a' ELSE 'site_b' END
                   AS origin
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
    merged AS (
        SELECT user_id,
               arg_max(event_type, lsn) AS event_type,
               arg_max(value, lsn) AS value,
               arg_max(origin, lsn) AS origin
        FROM live GROUP BY user_id
    )
    SELECT 'site_a' AS site, user_id, event_type, value, origin FROM merged
    UNION ALL
    SELECT 'site_b', user_id, event_type, value, origin FROM merged
    """,
    note="bidirectional cross-service sync with origin-based loop "
    "prevention (deck slides 36-37 + the Origin wire message the "
    "binary decoder surfaces): each site owns the keys it writes "
    "(origin tag travels with every change), replication applies "
    "only foreign-origin changes it has not itself produced, and a "
    "second replication round is asserted to be a NO-OP (the echo a "
    "naive two-way sync would ping-pong forever). Both sites "
    "converge to the identical merged state, gated per site",
    tags=("cdc", "sync", "origin"),
)
def cdc22_bidirectional_origin_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    changes = _as_changes(events).select(
        "op",
        "lsn",
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.when(F.col("user_id") % 2 == 0, "site_a")
        .otherwise("site_b")
        .alias("origin"),
    )
    payload = ["event_type", "value", "origin"]

    # each site first applies only ITS OWN writes...
    state_a = apply_changes(
        None, changes.where(F.col("origin") == "site_a"), ["user_id"], payload
    )
    state_b = apply_changes(
        None, changes.where(F.col("origin") == "site_b"), ["user_id"], payload
    )
    # ...then replication ships the full change stream both ways and
    # each side applies only FOREIGN-origin changes (the loop filter)
    state_a2 = apply_changes(
        state_a, changes.where(F.col("origin") != "site_a"), ["user_id"], payload
    ).localCheckpoint(eager=True)
    state_b2 = apply_changes(
        state_b, changes.where(F.col("origin") != "site_b"), ["user_id"], payload
    ).localCheckpoint(eager=True)

    # echo round: re-capturing site A's state and shipping it back
    # must change NOTHING — every row it holds is either site B's own
    # (filtered by origin) or already applied. Assert the no-op.
    echo = state_a2.select(
        F.lit("u").alias("op"),
        (F.col("user_id") + F.lit(10_000_000)).alias("lsn"),
        "user_id",
        *payload,
    )
    state_b3 = apply_changes(
        state_b2,
        echo.where(F.col("origin") != "site_b"),
        ["user_id"],
        payload,
    )
    diff_n = (
        state_b3.exceptAll(state_b2).count()
        + state_b2.exceptAll(state_b3).count()
    )
    if diff_n != 0:
        raise AssertionError(
            f"echo replication round changed {diff_n} rows — loop "
            "prevention failed"
        )
    return state_a2.select(F.lit("site_a").alias("site"), "*").unionByName(
        state_b2.select(F.lit("site_b").alias("site"), "*")
    )


@register(
    "cdc23_checkpoint_resume",
    oracle=f"""
    WITH ch AS (
        SELECT {_OP_SQL} AS op, event_id AS lsn, user_id, event_type,
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
    note="restart/resume exactly-once, end to end: phase 1 streams "
    "half the log into bucketed state and STOPS; more files land; a "
    "NEW pipeline object on the SAME checkpoint + state resumes and "
    "processes ONLY the new files (asserted: phase-2 input rows == "
    "the second half, no re-read of phase-1 files), and the final "
    "state equals the one-shot merge — the crash-restart contract "
    "the reference gets from replication-slot LSN acks "
    "(main.go:61-74), here from the checkpoint + epoch-guarded "
    "manifests",
    tags=("cdc", "streaming-integration", "restart", "exactly-once"),
)
def cdc23_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from cdc_spark.cdc.registry import SchemaRegistry
    from cdc_spark.streaming.pipeline import CdcStreamPipeline

    events = load_table(spark, sf_dir, "events")
    mx = events.agg(F.max("event_id")).first()[0] or 0
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
    src_dir = tempfile.mkdtemp(prefix="cdc23_src_")
    ckpt = tempfile.mkdtemp(prefix="cdc23_ckpt_")
    state_path = tempfile.mkdtemp(prefix="cdc23_state_")

    def write_half(pred, name):
        (
            events.where(pred)
            .select(F.col("user_id"), doc_json.alias("__doc"))
            .repartition(2, F.col("user_id"))
            .select(F.col("__doc").alias("value"))
            .write.mode("overwrite")
            .text(os.path.join(src_dir, name))
        )

    def announce():
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
        return reg

    def run_phase():
        pipe = CdcStreamPipeline(
            spark,
            announce(),
            "public",
            "user_state",
            keys=["user_id"],
            payload=["event_type", "value"],
            state_path=state_path,
            dialect="pgoutput_json",
            n_buckets=16,
        )
        seen = []

        def apply(batch_df, epoch_id):
            # count the SOURCE rows this phase actually processes
            # (numInputRows inflates with every re-execution of the
            # batch frame inside apply_batch, so it cannot gate this)
            seen.append(batch_df.count())
            pipe.apply_batch(batch_df, epoch_id)

        raw = (
            spark.readStream.format("text")
            .schema("value string")
            .load(os.path.join(src_dir, "*"))
        )
        q = (
            raw.writeStream.foreachBatch(apply)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q)
        return pipe, sum(seen)

    n_first = events.where(F.col("event_id") <= mx // 2).count()
    n_second = events.count() - n_first

    write_half(F.col("event_id") <= mx // 2, "w1")
    pipe1, rows1 = run_phase()
    lsn1 = (pipe1.state.replication_progress() or {}).get("applied_lsn")
    # the log grows while the pipeline is DOWN
    write_half(F.col("event_id") > mx // 2, "w2")
    pipe2, rows2 = run_phase()
    lsn2 = (pipe2.state.replication_progress() or {}).get("applied_lsn")
    if rows1 != n_first or rows2 != n_second:
        raise AssertionError(
            f"resume re-read data: phase1={rows1}/{n_first} "
            f"phase2={rows2}/{n_second}"
        )
    if lsn1 != mx // 2 or lsn2 != mx:
        raise AssertionError(
            f"applied-LSN watermark wrong: {lsn1}/{mx // 2}, {lsn2}/{mx}"
        )
    return pipe2.state.read()


@register(
    "cdc24_multi_table_demux",
    oracle=f"""
    WITH ch AS (
        SELECT {_OP_SQL} AS op, event_id AS lsn, user_id, event_type,
               ROUND(value, 4) AS value,
               CASE WHEN user_id % 2 = 0 THEN 'accounts' ELSE 'profiles'
               END AS tbl
        FROM events
    ),
    ranked AS (
        SELECT *,
               MAX(CASE WHEN op = 'd' THEN lsn END)
                   OVER (PARTITION BY tbl, user_id) AS last_del
        FROM ch
    ),
    live AS (
        SELECT * FROM ranked
        WHERE op IN ('c','u')
          AND (last_del IS NULL OR lsn > last_del)
    ),
    states AS (
        SELECT tbl, user_id,
               arg_max(event_type, lsn) AS event_type,
               arg_max(value, lsn) AS value
        FROM live GROUP BY tbl, user_id
    )
    SELECT tbl, COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_value
    FROM states GROUP BY tbl
    """,
    note="multi-relation dispatch through ONE replication stream (the "
    "reference handles every announced relation over a single slot, "
    "main.go:116-130): one change log carries two tables' events, "
    "the envelope's src_table routes each to its own bucketed state "
    "— one pass over the batch, two filtered applies, no per-table "
    "re-read of the source. Both materializations gated via their "
    "per-table aggregates",
    tags=("cdc", "demux", "multi-table"),
)
def cdc24_multi_table_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cdc_spark.streaming.state import BucketedStateTable

    events = load_table(spark, sf_dir, "events")
    changes = _as_changes(events).select(
        "op",
        "lsn",
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.when(F.col("user_id") % 2 == 0, "accounts")
        .otherwise("profiles")
        .alias("src_table"),
    ).localCheckpoint(eager=True)  # one source pass feeds both routes

    out = []
    for tbl in ("accounts", "profiles"):
        state = BucketedStateTable(
            spark,
            tempfile.mkdtemp(prefix=f"cdc24_{tbl}_"),
            ["user_id"],
            n_buckets=8,
        )
        state.apply(
            changes.where(F.col("src_table") == tbl).drop("src_table"),
            ["event_type", "value"],
        )
        out.append(
            state.read().agg(
                F.lit(tbl).alias("tbl"),
                F.count("*").alias("n_rows"),
                F.sum(F.col("value").cast("decimal(30,4)"))
                .cast("double")
                .alias("total_value"),
            )
        )
    return out[0].unionByName(out[1])


@register(
    "cdc25_tombstone_retention",
    oracle=f"""
    WITH ch AS (
        SELECT {_OP_SQL} AS op, event_id AS lsn, user_id, event_type,
               ROUND(value, 4) AS value
        FROM events
    ),
    horizon AS (
        SELECT CAST(MAX(lsn) * 0.8 AS BIGINT) AS h FROM ch
    ),
    latest AS (
        SELECT user_id,
               arg_max(op, lsn) AS last_op,
               arg_max(lsn, lsn) AS last_lsn,
               arg_max(event_type, lsn) AS event_type,
               arg_max(value, lsn) AS value
        FROM ch GROUP BY user_id
    )
    SELECT user_id,
           CASE WHEN last_op = 'd' THEN 'tombstone' ELSE 'record' END
               AS kind,
           CASE WHEN last_op = 'd' THEN NULL ELSE event_type END
               AS event_type,
           CASE WHEN last_op = 'd' THEN NULL ELSE value END AS value
    FROM latest CROSS JOIN horizon
    WHERE last_op <> 'd' OR last_lsn > h
    """,
    note="Kafka compact+delete topic semantics (the transport the "
    "deck's Debezium pipelines publish through, slides 22-27): "
    "compaction keeps the latest record per key, deletes become "
    "null-value TOMBSTONES that survive only inside the retention "
    "horizon (so lagging consumers still see them) and vanish after "
    "it — three outcomes per key (live record / retained tombstone "
    "/ fully reclaimed), all gated. One hash aggregate + a broadcast "
    "scalar horizon",
    tags=("cdc", "kafka", "compaction", "tombstone"),
)
def cdc25_tombstone_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ch = _as_changes(events).withColumn("value", F.round("value", 4))
    horizon = ch.agg(
        (F.max("lsn") * 0.8).cast("long").alias("__h")
    )
    latest = ch.groupBy("user_id").agg(
        F.max_by("op", "lsn").alias("last_op"),
        F.max("lsn").alias("last_lsn"),
        F.max_by("event_type", "lsn").alias("event_type"),
        F.max_by("value", "lsn").alias("value"),
    )
    is_del = F.col("last_op") == "d"
    return (
        latest.join(F.broadcast(horizon))
        .where(~is_del | (F.col("last_lsn") > F.col("__h")))
        .select(
            "user_id",
            F.when(is_del, "tombstone").otherwise("record").alias("kind"),
            F.when(~is_del, F.col("event_type")).alias("event_type"),
            F.when(~is_del, F.col("value")).alias("value"),
        )
    )


@register(
    "cdc26_lsn_gap_audit",
    oracle="""
    WITH seq AS (
        SELECT event_id AS lsn,
               LAG(event_id) OVER (ORDER BY event_id) AS prev_lsn
        FROM events WHERE event_id % 97 <> 13
    ),
    gaps AS (
        SELECT prev_lsn AS gap_after, lsn AS resume_at,
               lsn - prev_lsn - 1 AS n_missing
        FROM seq WHERE lsn - prev_lsn > 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(SUM(n_missing) AS BIGINT) AS total_missing,
           CAST(MIN(gap_after) AS BIGINT) AS first_gap_after,
           CAST(MAX(resume_at) AS BIGINT) AS last_resume_at
    FROM gaps
    """,
    note="replication-integrity audit: detect holes in the LSN "
    "sequence (a transport that silently skipped WAL records — the "
    "failure the reference's single-slot total order makes "
    "impossible but any Kafka-hop deployment must monitor). Every "
    "97th position is deterministically dropped to simulate loss. "
    "No global sort: operators/ordering.py lsn_gap_audit finds "
    "adjacent-row gaps within fixed id blocks (partitioned lag) and "
    "block-spanning gaps from the per-block min/max aggregate; a "
    "partition_col variant covers multi-source deployments whose "
    "offsets are independently dense",
    tags=("cdc", "audit", "integrity"),
)
def cdc26_lsn_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.operators.ordering import lsn_gap_audit

    events = load_table(spark, sf_dir, "events")
    seq = events.where(F.col("event_id") % 97 != 13).select(
        F.col("event_id").alias("lsn")
    )
    gaps = lsn_gap_audit(seq, "lsn")
    return gaps.agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum("n_missing").cast("long").alias("total_missing"),
        F.min("gap_after").cast("long").alias("first_gap_after"),
        F.max("resume_at").cast("long").alias("last_resume_at"),
    )


@register(
    "cdc27_overlap_replay_dedup",
    oracle="""
    WITH ch AS (
        SELECT event_id AS lsn, user_id, event_type, value FROM events
    )
    SELECT user_id,
           arg_max(event_type, lsn) AS last_type,
           ROUND(arg_max(value, lsn), 4) AS last_value,
           CAST(COUNT(*) AS BIGINT) AS n_applied
    FROM ch GROUP BY user_id
    """,
    note="at-least-once transport, exactly-once accounting: phase 1 "
    "applies the log up to W and records the applied-LSN watermark; "
    "the resume REPLAYS an overlapping window (the Kafka "
    "offset-behind-watermark shape the reference's standby ack "
    "avoids, main.go:61-74, but every fan-out deployment faces), and "
    "the apply filters the replayed batch to lsn > watermark before "
    "folding — the per-user applied-change COUNT is the canary: "
    "latest-wins values survive double-apply, counters do not, and "
    "the oracle's single-pass counts catch any double-fold. The "
    "watermark travels as a broadcast 1-row aggregate (the "
    "guardrail-sanctioned scalar-attach), never a driver constant "
    "baked into the plan",
    tags=("cdc", "exactly-once", "watermark", "replay"),
)
def cdc27_overlap_replay_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ch = events.select(
        F.col("event_id").alias("lsn"),
        "user_id",
        "event_type",
        "value",
    )
    # phase-1 horizon: 60% of the log (driver-side bounded collect of
    # one scalar, only to CONSTRUCT the two phases of the scenario)
    max_lsn = ch.agg(F.max("lsn")).first()[0]
    w = max_lsn * 6 // 10
    phase1 = ch.where(F.col("lsn") <= w).groupBy("user_id").agg(
        F.expr("max_by(event_type, lsn)").alias("last_type"),
        F.expr("max_by(value, lsn)").alias("last_value"),
        F.max("lsn").alias("last_lsn"),
        F.count("*").alias("n_applied"),
    )
    # the recorded applied-LSN watermark, read back FROM the state
    watermark = phase1.agg(F.max("last_lsn").alias("__applied_w"))
    # at-least-once resume: replays an overlapping slice of the log
    replay = ch.where(F.col("lsn") > w - max_lsn // 5)
    fresh = replay.join(F.broadcast(watermark)).where(
        F.col("lsn") > F.col("__applied_w")
    )
    delta = fresh.groupBy("user_id").agg(
        F.expr("max_by(event_type, lsn)").alias("d_type"),
        F.expr("max_by(value, lsn)").alias("d_value"),
        F.max("lsn").alias("d_lsn"),
        F.count("*").alias("d_n"),
    )
    merged = phase1.join(delta, "user_id", "full_outer")
    newer = F.col("d_lsn").isNotNull() & (
        F.col("last_lsn").isNull() | (F.col("d_lsn") > F.col("last_lsn"))
    )
    return merged.select(
        "user_id",
        F.when(newer, F.col("d_type"))
        .otherwise(F.col("last_type"))
        .alias("last_type"),
        F.round(
            F.when(newer, F.col("d_value")).otherwise(F.col("last_value")),
            4,
        ).alias("last_value"),
        (
            F.coalesce(F.col("n_applied"), F.lit(0))
            + F.coalesce(F.col("d_n"), F.lit(0))
        )
        .cast("long")
        .alias("n_applied"),
    )


@register(
    "cdc28_as_of_lsn_read",
    oracle="""
    WITH bounds AS (
        SELECT max(event_id) * 2 // 4 AS cutoff
        FROM events
    ),
    ch AS (
        SELECT CASE WHEN event_type = 'signup' THEN 'c'
                    WHEN event_type = 'error' THEN 'd'
                    ELSE 'u' END AS op,
               event_id AS lsn, user_id, event_type, value
        FROM events, bounds WHERE event_id <= bounds.cutoff
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
    note="AS-OF-LSN time travel gated end to end: the log applies in "
    "FOUR micro-batches (watermarks at 25/50/75/100% of the LSN "
    "range), then the state is read as of the 50% position — "
    "read_as_of_lsn resolves the newest version whose applied-LSN "
    "watermark is <= the target via a driver-side manifest scan (no "
    "Spark job for resolution) and must return EXACTLY the "
    "latest-wins merge of the log prefix, including rows later "
    "batches overwrote or deleted. The replication/audit surface of "
    "deck slide 50 (point-in-time reads against a replica), "
    "previously pytest-only, now driver-gated",
    tags=("cdc", "time-travel", "audit"),
)
def cdc28_as_of_lsn_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from cdc_spark.streaming.state import BucketedStateTable

    events = load_table(spark, sf_dir, "events")
    changes = _as_changes(events)
    max_lsn = changes.agg(F.max("lsn")).first()[0]
    quarters = [max_lsn * i // 4 for i in (1, 2, 3, 4)]

    state = BucketedStateTable(
        spark,
        tempfile.mkdtemp(prefix="cdc28_state_"),
        ["user_id"],
        n_buckets=16,
    )
    lo = -1
    for hi in quarters:
        batch = changes.where(
            (F.col("lsn") > lo) & (F.col("lsn") <= hi)
        )
        state.apply(batch, ["event_type", "value"])
        lo = hi

    asof = state.read_as_of_lsn(quarters[1])
    return asof.select(
        "user_id", "event_type", F.round("value", 4).alias("value")
    )


@register(
    "cdc29_vacuum_survivor_state",
    oracle="""
    WITH ch AS (
        SELECT CASE WHEN event_type = 'signup' THEN 'c'
                    WHEN event_type = 'error' THEN 'd'
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
    note="version GC gated end to end: the log applies in four "
    "micro-batches, vacuum(keep_last=2) drops history — bucket "
    "inheritance means a retained manifest may still reference files "
    "under a dropped version NUMBER, so deletion must be "
    "reference-pinned, not count-based — and the CURRENT state read "
    "after GC must still equal the latest-wins merge of the FULL "
    "log. History removal itself (old versions gone, pinned files "
    "intact, time-travel horizon shrunk) is asserted in "
    "tests/test_bucketed_state.py; this gate pins the invariant that "
    "GC never corrupts the live table",
    tags=("cdc", "vacuum", "gc", "maintenance"),
)
def cdc29_vacuum_survivor_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from cdc_spark.streaming.state import BucketedStateTable

    events = load_table(spark, sf_dir, "events")
    changes = _as_changes(events)
    max_lsn = changes.agg(F.max("lsn")).first()[0]

    state = BucketedStateTable(
        spark,
        tempfile.mkdtemp(prefix="cdc29_state_"),
        ["user_id"],
        n_buckets=16,
    )
    lo = -1
    for i in (1, 2, 3, 4):
        hi = max_lsn * i // 4
        state.apply(
            changes.where((F.col("lsn") > lo) & (F.col("lsn") <= hi)),
            ["event_type", "value"],
        )
        lo = hi
    gc = state.vacuum(keep_last=2)
    if not gc["removed"]:
        raise AssertionError("vacuum removed nothing — GC path untested")
    return state.read().select(
        "user_id", "event_type", F.round("value", 4).alias("value")
    )


@register(
    "cdc30_idempotent_consumer",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS cents_sum
    FROM events GROUP BY event_type
    """,
    note="stateful idempotent consumer — the production at-least-once "
    "pattern when offsets cannot be trusted (broker failover, "
    "multi-producer topics): two delivery batches OVERLAP by a "
    "quarter of the log; each batch probes a persisted "
    "processed-keys table for ONLY the buckets its keys hash into "
    "(dd13's O(batch) discipline, never a table scan), drops "
    "already-seen keys via anti join, and applies the fresh "
    "remainder. The fresh-row accounting is asserted in-query "
    "(fresh1 + fresh2 == distinct deliveries — a failed dedup "
    "inflates it); final state hash-matches the distinct-event "
    "aggregation. cdc07 is the stateless single-batch collapse; "
    "cdc27 the watermark variant — this is the key-set variant that "
    "works when deliveries are not LSN-contiguous",
    tags=("cdc", "exactly-once", "idempotency", "state"),
)
def cdc30_idempotent_consumer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from cdc_spark.streaming.state import BucketedStateTable

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        F.col("event_id"),
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    max_id = base.agg(F.max("event_id")).first()[0]
    cut_hi, cut_lo = max_id * 6 // 10, max_id * 45 // 100
    batch1 = base.where(F.col("event_id") <= cut_hi)
    batch2 = base.where(F.col("event_id") > cut_lo)  # overlaps batch1

    n_buckets = 16
    seen = BucketedStateTable(
        spark,
        tempfile.mkdtemp(prefix="cdc30_seen_"),
        ["event_id"],
        n_buckets=n_buckets,
    )

    def consume(batch):
        touched = batch.select(
            F.pmod(F.xxhash64("event_id"), F.lit(n_buckets)).alias("b")
        ).agg(F.collect_set("b")).first()[0]
        prior = seen.read_buckets(touched) if touched else None
        fresh = (
            batch
            if prior is None
            else batch.join(prior, "event_id", "left_anti")
        )
        fresh = fresh.localCheckpoint(eager=False)
        seen.apply(
            fresh.select(
                "event_id",
                "event_type",
                "cents",
                F.lit("c").alias("op"),
                F.col("event_id").alias("lsn"),
            ),
            ["event_type", "cents"],
        )
        return fresh.count()

    n1 = consume(batch1)
    n2 = consume(batch2)
    n_distinct = base.count()
    if n1 + n2 != n_distinct:
        raise AssertionError(
            f"idempotent consume leaked duplicates: {n1}+{n2} != "
            f"{n_distinct}"
        )
    return seen.read().groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents_sum"),
    )


@register(
    "cdc31_schema_compat_gate",
    oracle="""
    WITH gens AS (
        SELECT * FROM (VALUES
            (0, 'int4', 'keep',         'int4'),
            (1, 'int8', 'widen',        'int8'),
            (2, 'text', 'incompatible', 'int8'),
            (3, 'int4', 'incompatible', 'int8')
        ) AS g(gen, declared_type, decision, catalog_type_after)
    ),
    rows_per_gen AS (
        SELECT c_custkey % 4 AS gen,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        FROM customer GROUP BY 1
    )
    SELECT g.gen, g.declared_type, g.decision, g.catalog_type_after,
           CASE WHEN g.decision = 'incompatible'
                THEN 0 ELSE r.n_rows END AS n_applied,
           CASE WHEN g.decision = 'incompatible'
                THEN r.n_rows ELSE 0 END AS n_dead,
           CASE WHEN g.decision = 'incompatible'
                THEN 0 ELSE r.key_sum END AS applied_key_sum
    FROM gens g JOIN rows_per_gen r ON g.gen = r.gen
    """,
    note="schema-evolution COMPATIBILITY GATE (the policy between "
    "cdc06's trusting evolution and cdc18's dead-letter): each "
    "incoming relation announcement is classified against the "
    "catalog by the numeric widening lattice — same type applies, "
    "lossless widening (int4->int8) auto-applies and upgrades the "
    "catalog, narrowing or cross-family (int8->int4, int8->text) "
    "dead-letters the generation's rows with the catalog untouched. "
    "Decisions are per-announcement metadata (driver-side, O(1)); "
    "row routing is an all-or-nothing filter per generation, so the "
    "gate adds zero per-row cost at any scale. The reference trusts "
    "upstream DDL (main.go:447-450); multi-writer deployments "
    "cannot",
    tags=("cdc", "schema-evolution", "policy", "dead-letter"),
)
def cdc31_schema_compat_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_spark.cdc.registry import widening_decision

    customer = load_table(spark, sf_dir, "customer")
    # four generations of announcements for the same column
    announced = ["int4", "int8", "text", "int4"]
    catalog = announced[0]
    plan = []
    for gen, decl in enumerate(announced):
        decision = (
            "keep" if gen == 0 else widening_decision(catalog, decl)
        )
        if decision in ("keep", "widen"):
            catalog = decl
        plan.append((gen, decl, decision, catalog))
    gens = spark.createDataFrame(
        plan,
        "gen int, declared_type string, decision string,"
        " catalog_type_after string",
    )
    per_gen = customer.groupBy(
        (F.col("c_custkey") % 4).cast("int").alias("gen")
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
    )
    dead = F.col("decision") == "incompatible"
    return per_gen.join(F.broadcast(gens), "gen").select(
        "gen",
        "declared_type",
        "decision",
        "catalog_type_after",
        F.when(dead, F.lit(0)).otherwise(F.col("n_rows"))
        .cast("long")
        .alias("n_applied"),
        F.when(dead, F.col("n_rows")).otherwise(F.lit(0))
        .cast("long")
        .alias("n_dead"),
        F.when(dead, F.lit(0)).otherwise(F.col("key_sum"))
        .cast("long")
        .alias("applied_key_sum"),
    )


@register(
    "cdc32_arrival_disorder_metrics",
    oracle="""
    WITH ch AS (
        SELECT event_id AS lsn,
               -- deterministic synthetic arrival order: a jittered
               -- permutation standing in for a fan-out transport
               event_id + (event_id * 37 % 16) - 8 AS arrival_key
        FROM events
    ),
    ranked AS (
        SELECT lsn,
               ROW_NUMBER() OVER (ORDER BY lsn) AS lsn_rank,
               ROW_NUMBER() OVER (ORDER BY arrival_key, lsn)
                   AS arrival_rank
        FROM ch
    ),
    disp AS (
        SELECT ABS(arrival_rank - lsn_rank) AS d FROM ranked
    )
    SELECT CAST(LEAST(d, 8) AS BIGINT) AS displacement,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM disp GROUP BY 1
    """,
    note="transport-disorder metric (the ops number behind choosing "
    "reorder-buffer depth and watermark lag for an at-least-once "
    "transport): every event gets BOTH its commit rank (by LSN) and "
    "its arrival rank (by a jittered arrival key standing in for "
    "network reordering), and the histogram of |arrival - commit| "
    "displacement says how out-of-order delivery actually is. Both "
    "total ranks ride distributed_row_number — two range shuffles, "
    "broadcast offsets, no single-reducer window — so the metric "
    "itself scales to the stream that needs it; the oracle keeps "
    "its two plain ROW_NUMBERs",
    tags=("cdc", "monitoring", "ordering", "transport"),
)
def cdc32_arrival_disorder_metrics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_spark.operators.ordering import distributed_row_number

    events = load_table(spark, sf_dir, "events")
    ch = events.select(
        F.col("event_id").alias("lsn"),
        (
            F.col("event_id")
            + (F.col("event_id") * 37 % 16)
            - 8
        ).alias("arrival_key"),
    )
    by_lsn = distributed_row_number(
        ch, [F.asc("lsn")], out_col="lsn_rank"
    )
    both = distributed_row_number(
        by_lsn,
        [F.asc("arrival_key"), F.asc("lsn")],
        out_col="arrival_rank",
    )
    disp = both.select(
        F.abs(F.col("arrival_rank") - F.col("lsn_rank")).alias("d")
    )
    return disp.groupBy(
        F.least(F.col("d"), F.lit(8).cast("long"))
        .cast("long")
        .alias("displacement")
    ).agg(F.count("*").cast("long").alias("n_events"))


@register(
    "cdc33_consistent_cut_read",
    oracle="""
    WITH m AS (
        SELECT 3 * (MAX(event_id) // 5) AS cut FROM events
    ),
    ch AS (
        SELECT CASE WHEN event_type = 'signup' THEN 'c'
                    WHEN event_type = 'error' THEN 'd'
                    ELSE 'u' END AS op,
               event_id AS lsn, user_id, value,
               user_id % 3 AS tbl
        FROM events, m
        WHERE event_id <= m.cut
    ),
    ranked AS (
        SELECT *,
               MAX(CASE WHEN op = 'd' THEN lsn END)
                   OVER (PARTITION BY tbl, user_id) AS last_del
        FROM ch
    ),
    live AS (
        SELECT * FROM ranked
        WHERE op IN ('c','u')
          AND (last_del IS NULL OR lsn > last_del)
    ),
    latest AS (
        SELECT tbl, user_id,
               ROUND(arg_max(value, lsn), 4) AS value
        FROM live GROUP BY tbl, user_id
    )
    SELECT tbl,
           CAST((SELECT cut FROM m) AS BIGINT) AS cut_lsn,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS val_sum
    FROM latest GROUP BY tbl
    """,
    note="cross-table transactional consistency (the consumer-side "
    "analog of the reference's single-slot guarantee, main.go:61-74: "
    "ONE monotone confirmed LSN covers every table in the "
    "publication; once changes demux into per-table state — cdc24 — "
    "that guarantee must be re-established at read time): three "
    "demuxed tables apply the same WAL on a shared LSN grid but lag "
    "unevenly (5, 4 and 3 batches applied), and a reader joining "
    "them at 'latest' would see table 0's effects of transactions "
    "whose table-2 effects are missing. The coordinator takes the "
    "cut as the highest grid barrier ALL tables have confirmed — "
    "pure manifest bookkeeping, no Spark job — and each table serves "
    "``read_as_of_lsn(cut)`` from its version index: every cross-"
    "table invariant of the source commit order holds at the cut. "
    "Scale: the cut read opens each table's chosen manifest and "
    "nothing else; cost is O(live state), zero WAL replay",
    tags=("cdc", "consistency", "time-travel", "multi-table"),
)
def cdc33_consistent_cut_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from cdc_spark.streaming.state import BucketedStateTable

    events = load_table(spark, sf_dir, "events")
    changes = _as_changes(events)
    max_lsn = changes.agg(F.max("lsn")).first()[0]
    grid = max_lsn // 5

    tables: dict[int, BucketedStateTable] = {}
    confirmed: dict[int, int] = {}  # tbl -> highest applied grid barrier
    for tbl, n_batches in ((0, 5), (1, 4), (2, 3)):
        state = BucketedStateTable(
            spark,
            tempfile.mkdtemp(prefix=f"cdc33_t{tbl}_"),
            ["user_id"],
            n_buckets=8,
        )
        part = changes.where(F.col("user_id") % 3 == tbl)
        lo = -1
        for k in range(1, n_batches + 1):
            hi = k * grid
            state.apply(
                part.where((F.col("lsn") > lo) & (F.col("lsn") <= hi)),
                ["value"],
            )
            lo = hi
        tables[tbl] = state
        confirmed[tbl] = n_batches * grid

    # the consistent cut: highest barrier every table has confirmed
    cut = min(confirmed.values())
    per_table = []
    for tbl, state in tables.items():
        asof = state.read_as_of_lsn(cut)
        per_table.append(
            asof.select(
                F.lit(tbl).cast("long").alias("tbl"),
                F.lit(cut).cast("long").alias("cut_lsn"),
                "user_id",
                "value",
            )
        )
    allt = per_table[0].unionByName(per_table[1]).unionByName(
        per_table[2]
    )
    return allt.groupBy("tbl", "cut_lsn").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.round(F.col("value"), 4).cast("decimal(30,4)"))
        .cast("double")
        .alias("val_sum"),
    )
