"""Physical-layout levers for the 100 TB story, proven on plans:

- bucketed tables co-locate equi-joins (no shuffle exchange)
- partitioned writes prune at the scan (PartitionFilters)
- versioned state time travel (audit outcomes, deck slide 50)
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from cdc_spark.catalog import load_table
from cdc_spark.streaming.state import BucketedStateTable

SF = "/root/testdata/sf0.001"


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_shuffle(spark):
    """bucketBy(8, key) on both sides ⇒ sort-merge join reads
    co-located buckets — zero Exchange in the plan. At 100 TB this is
    the difference between joining in place and reshuffling the fact
    table every query."""
    orders = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # a fresh session's catalog doesn't know tables from earlier runs,
    # so DROP can no-op while the managed location persists — clear it
    import shutil

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_lineitem")

    joined = (
        spark.table("b_lineitem")
        .join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    # disable broadcast so the join strategy decision is about buckets
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _physical_plan(joined)
        assert "SortMergeJoin" in plan
        # bucket co-location: no shuffle below the join
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        # result is still correct
        n = joined.agg(F.sum("n")).first()[0]
        assert n == load_table(spark, SF, "lineitem").count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_partitioned_write_prunes_at_scan(spark):
    """partitionBy(event_type) ⇒ a filter on event_type never touches
    the other partitions (PartitionFilters, zero data skipped rows)."""
    events = load_table(spark, SF, "events")
    d = tempfile.mkdtemp()
    events.write.partitionBy("event_type").mode("overwrite").parquet(d)

    q = spark.read.parquet(d).where(F.col("event_type") == "purchase")
    plan = _physical_plan(q)
    assert "PartitionFilters" in plan
    assert "purchase" in plan
    # only the purchase partition directory is listed in the scan
    n_expected = events.where(F.col("event_type") == "purchase").count()
    assert q.count() == n_expected


def test_state_time_travel(spark):
    with tempfile.TemporaryDirectory() as d:
        t = BucketedStateTable(spark, d, ["id"], n_buckets=1)
        t.overwrite_buckets(
            spark.createDataFrame([(1, "v1")], "id int, v string"), [0]
        )
        t.overwrite_buckets(
            spark.createDataFrame([(1, "v2"), (2, "v2")], "id int, v string"),
            [0],
        )
        assert t.read().count() == 2
        old = t.read(version=1)
        assert old.count() == 1 and old.first().v == "v1"
        with pytest.raises(FileNotFoundError):
            t.read(version=99)


def test_io05_gated_query_joins_without_exchange(spark):
    """The GATED io05 query (not just the pattern) must run its join
    off co-located buckets: no hashpartitioning exchange on either
    join key below the SortMergeJoin."""
    from cdc_spark.queries.io_queries import io05_bucketed_colocated_join

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = io05_bucketed_colocated_join(spark, SF)
        plan = _physical_plan(out)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(o_custkey" not in plan
        assert "Exchange hashpartitioning(c_custkey" not in plan
        assert out.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_sorted_write_pushes_range_filter_to_scan(spark):
    """Sort-clustered parquet (io06 layout): the shipdate range filter
    reaches the parquet reader as PushedFilters, where sorted
    row-group min/max statistics skip non-matching groups."""
    li = load_table(spark, SF, "lineitem")
    d = tempfile.mkdtemp()
    (
        li.select("l_orderkey", "l_shipdate", "l_extendedprice")
        .repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(d)
    )
    lo = F.lit("1998-01-01").cast("timestamp")
    hi = F.lit("1998-03-01").cast("timestamp")
    q = spark.read.parquet(d).where(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    plan = _physical_plan(q)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    # column pruning: the projected read schema carries only the
    # selected columns, not the full table
    q2 = q.select("l_extendedprice")
    assert "l_orderkey" not in _physical_plan(q2).split("ReadSchema")[-1]
    n_expected = li.where(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    ).count()
    assert q.count() == n_expected


def test_filtered_vector_search_pushes_label_filter(spark):
    """ss09's metadata predicate must reach the embeddings scan as a
    pushed filter (pre-filtering): at 100 TB only label-matching row
    groups are read before any vector arithmetic runs."""
    from cdc_spark.queries.similarity_queries import ss09_filtered_topk

    out = ss09_filtered_topk(spark, SF)
    plan = _physical_plan(out)
    assert "PushedFilters" in plan
    assert "In(label" in plan
    assert out.count() > 0


def test_aqe_splits_skewed_join_partitions(spark):
    """Skew resilience via AQE: a join whose build of one hot key
    dwarfs the median partition must get split at runtime
    (OptimizeSkewedJoin) instead of serializing on one reducer —
    the safety net under every non-salted join in the engine."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    tuned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # shrink thresholds so local-scale skew triggers the optimizer
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        from pyspark.sql import functions as F

        # 300k rows, 95% on key 1; the right side is too big to
        # broadcast (forced), so the join must shuffle on the hot key
        fact = spark.range(300_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(1))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            (F.col("id") % 97).alias("payload"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("x"), F.col("id")).alias("name"),
        )
        # global agg downstream: a groupBy on the join key would pin
        # the join's output partitioning and make AQE skip the split
        joined = fact.join(dim, "k").agg(
            F.sum("payload").alias("s"), F.count("*").alias("n")
        )
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_join_strategy_hints_are_honored(spark):
    """The three join-strategy knobs a large job reaches for when the
    optimizer's stats-based choice is wrong: each hint must actually
    flip the physical operator."""
    from pyspark.sql import functions as F

    big = spark.range(50_000).select(
        (F.col("id") % 997).alias("k"), F.col("id").alias("v")
    )
    small = spark.range(997).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )

    def physical(df):
        return df._jdf.queryExecution().executedPlan().toString()

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert "SortMergeJoin" in physical(
            big.join(small.hint("merge"), "k")
        )
        assert "ShuffledHashJoin" in physical(
            big.join(small.hint("shuffle_hash"), "k")
        )
        assert "BroadcastHashJoin" in physical(
            big.join(F.broadcast(small), "k")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_rebalance_hint_plans_aqe_rebalance(spark):
    """`/*+ REBALANCE */` (the skew-safe pre-write repartition): the
    plan must carry the AQE rebalance shuffle origin rather than a
    plain round-robin exchange."""
    from pyspark.sql import functions as F

    df = spark.range(10_000).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    )
    df.createOrReplaceTempView("t_rebal")
    plan = (
        spark.sql("SELECT /*+ REBALANCE(k) */ k, v FROM t_rebal")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "RebalancePartitions" in plan or "REBALANCE" in plan


def test_runtime_bloom_filter_injected_for_selective_join(spark):
    """Spark's runtime bloom-filter injection — the shuffle-side
    row-level twin of partition pruning — must fire for a selective
    dim-filtered join: the big side's scan gets a might_contain()
    predicate built from the small side's join keys, discarding
    non-matching rows BEFORE the join shuffle. At 100 TB the
    application-side threshold (10 GB scan default) fires naturally;
    here it is lowered to prove the mechanism end to end, because a
    local test cannot stage a 10 GB table."""
    d = tempfile.mkdtemp(prefix="bloom_")
    big = spark.range(500_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    big.write.mode("overwrite").parquet(os.path.join(d, "big"))
    small = spark.range(300).select(
        F.col("id").alias("k"), F.lit("x").alias("tag")
    )
    small.write.mode("overwrite").parquet(os.path.join(d, "small"))

    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    thr = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(thr, "0")
    try:
        b = spark.read.parquet(os.path.join(d, "big"))
        s = spark.read.parquet(os.path.join(d, "small")).where(
            F.col("k") % 3 == 0
        )
        joined = b.join(s, "k")
        plan = _physical_plan(joined)
        assert "might_contain" in plan, (
            "runtime bloom filter was not injected:\n" + plan[:2000]
        )
        # and the filtered join still returns the exact result
        assert joined.count() == 100
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        spark.conf.unset(thr)
