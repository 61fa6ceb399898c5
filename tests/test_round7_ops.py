"""Round-7 hardening: sink idempotence/overwrite contracts and CDF
publication without the committer's _SUCCESS markers (the ADVICE
findings)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F


def test_jsonlines_sink_overwrite_replaces_contents(spark, tmp_path):
    """mode('overwrite') through the Python DataSource writer must
    replace the directory's published parts, not silently append."""
    from cdc_spark.sources.jsonlines_sink import JsonLinesDataSource

    spark.dataSource.register(JsonLinesDataSource)
    out = str(tmp_path / "sink")
    schema = "event_id long"
    spark.range(50).selectExpr("id AS event_id").write.format(
        "cdc_jsonlines"
    ).mode("append").option("path", out).save()
    assert spark.read.schema(schema).json(out).count() == 50

    spark.range(7).selectExpr("id AS event_id").write.format(
        "cdc_jsonlines"
    ).mode("overwrite").option("path", out).save()
    back = spark.read.schema(schema).json(out)
    assert back.count() == 7
    assert back.agg(F.sum("event_id")).first()[0] == 21

    # and append still appends
    spark.range(3).selectExpr("id AS event_id").write.format(
        "cdc_jsonlines"
    ).mode("append").option("path", out).save()
    assert spark.read.schema(schema).json(out).count() == 10


def test_stream_sink_replay_clears_stale_batch_files(tmp_path):
    """A replayed micro-batch that stages FEWER files than the
    pre-crash attempt must not leave stale higher-index files
    duplicating rows: commit publishes the batch id as a SET."""
    from cdc_spark.sources.jsonlines_sink import (
        FileStaged,
        JsonLinesStreamWriter,
    )

    out = tmp_path / "stream_sink"
    out.mkdir()
    w = JsonLinesStreamWriter({"path": str(out)})

    def stage(rows):
        p = out / f"._stage-{rows[0]['i']}.jsonl"
        p.write_text("".join(json.dumps(r) + "\n" for r in rows))
        return FileStaged(tmp=str(p), final="")

    # pre-crash attempt: 3 tasks published for batch 7
    w.commit([stage([{"i": k}]) for k in (1, 2, 3)], 7)
    assert len(list(out.glob("batch-7-*.jsonl"))) == 3

    # replay of batch 7 with different parallelism: only 1 task
    w.commit([stage([{"i": 9}])], 7)
    files = sorted(out.glob("batch-7-*.jsonl"))
    assert [f.name for f in files] == ["batch-7-0.jsonl"]
    assert json.loads(files[0].read_text()) == {"i": 9}


def test_cdf_published_once_without_success_marker(spark, tmp_path):
    """Object-store deployments often disable _SUCCESS markers. A feed
    version is published when its ``version=N`` directory exists, so
    with the markers off each version is still written once and never
    rewritten by a later publish."""
    from cdc_spark.cdc.registry import SchemaRegistry
    from cdc_spark.streaming.pipeline import CdcStreamPipeline

    reg = SchemaRegistry()
    reg.announce(
        "public", "users", [("id", "integer", True), ("name", "text")]
    )
    cdf = tmp_path / "cdf"
    pipe = CdcStreamPipeline(
        spark,
        reg,
        "public",
        "users",
        keys=["id"],
        payload=["name"],
        state_path=str(tmp_path / "state"),
        cdf_path=str(cdf),
    )

    def insert(i: int, name: str):
        doc = {
            "kind": "insert",
            "schema": "public",
            "table": "users",
            "columnnames": ["id", "name"],
            "columntypes": ["integer", "text"],
            "columnvalues": [i, name],
        }
        return spark.createDataFrame(
            [(json.dumps({"change": [doc]}),)], "value string"
        )

    def stamp(v: int):
        return sorted(
            (e.name, e.inode(), e.stat().st_mtime_ns)
            for e in os.scandir(cdf / f"version={v}")
        )

    conf = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    saved = hconf.get(conf)
    hconf.set(conf, "false")
    try:
        pipe.apply_batch(insert(1, "a"), 0)
        v1 = stamp(1)
        pipe.apply_batch(insert(2, "b"), 1)
        pipe.apply_batch(insert(2, "b"), 1)  # a replayed epoch
        pipe.apply_batch(insert(3, "c"), 2)
    finally:
        if saved is None:
            hconf.unset(conf)
        else:
            hconf.set(conf, saved)
    assert pipe._published_versions() == {1, 2, 3}
    assert stamp(1) == v1
    assert not any(
        "_SUCCESS" in os.listdir(cdf / f"version={v}") for v in (1, 2, 3)
    )
    feed = spark.read.parquet(str(cdf))
    assert sorted((r.version, r.op, r.id) for r in feed.collect()) == [
        (1, "c", 1),
        (2, "c", 2),
        (3, "c", 3),
    ]


def test_filtered_ivfpq_probe_prunes_and_reads_no_embeddings(
    spark, tmp_path
):
    """The metadata predicate must run INSIDE the pruned code scan:
    partition filters still present, embedding column never read,
    label filter pushed to the parquet scan."""
    from pyspark.sql import functions as F

    from cdc_spark.operators.ivf import (
        IvfPqIndex,
        deterministic_codebook,
        pq_codebook,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    coarse = deterministic_codebook(emb, "embedding", "vec_id", k=16)
    cb = pq_codebook(emb, "embedding", "vec_id", dim=64)
    idx = IvfPqIndex.build(
        spark,
        str(tmp_path / "idx"),
        emb,
        "embedding",
        "vec_id",
        coarse=coarse,
        codebook=cb,
        meta_cols=("label",),
    )
    q = emb.where(F.col("vec_id") == 0).first()["embedding"]
    df = idx.topk(q, k=10, n_probe=8, where=F.col("label") == 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan
    assert "embedding" not in plan
    assert "label" in plan  # predicate reached the code scan
    got = {r.vec_id for r in df.collect()}
    # every returned id must satisfy the predicate
    allowed = {
        r.vec_id
        for r in emb.where(F.col("label") == 3)
        .select("vec_id")
        .collect()
    }
    assert got <= allowed and len(got) == 10


def test_widening_decision_lattice():
    from cdc_spark.cdc.registry import widening_decision as w

    assert w("int4", "int4") == "keep"
    assert w("int2", "int4") == "widen"
    assert w("int4", "int8") == "widen"
    assert w("int8", "float8") == "widen"
    assert w("int2", "float8") == "widen"
    # narrowing and cross-family must both refuse
    assert w("int8", "int4") == "incompatible"
    assert w("float8", "int8") == "incompatible"
    assert w("int8", "text") == "incompatible"
    assert w("text", "int8") == "incompatible"
    assert w("text", "text") == "keep"


def test_salted_join_matches_plain_join(spark):
    """salted_join must be multiset-identical to the plain join for
    every supported how — including NULL keys (never match, survive
    left joins once) and a hot key — and reject right/full loudly."""
    import pytest
    from pyspark.sql import functions as F

    from cdc_spark.operators.skew import salted_join

    ev = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet"
    ).select(
        F.when(F.col("user_id") % 3 == 0, F.lit(None))
        .otherwise(F.col("user_id") % 7)
        .cast("int")
        .alias("k"),
        "event_id",
    )
    dim = spark.range(5).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("g"), F.col("id")).alias("tag"),
    )
    key = lambda t: tuple(str(x) for x in t)  # noqa: E731
    for how in ("inner", "left", "left_semi", "left_anti"):
        got = sorted(
            map(tuple, salted_join(ev, dim, "k", salt=8, how=how).collect()),
            key=key,
        )
        want = sorted(map(tuple, ev.join(dim, "k", how).collect()), key=key)
        assert got == want, how
    with pytest.raises(ValueError, match="right/full"):
        salted_join(ev, dim, "k", how="full")


def test_salted_join_salt_cols_and_guards(spark):
    """Round-10 hardening: explicit salt_cols, MapType columns skipped
    from the default hash (xxhash64 rejects maps at analysis time),
    and a pre-existing __salt column rejected loudly."""
    import pytest
    from pyspark.sql import functions as F

    from cdc_spark.operators.skew import salted_join

    left = spark.range(200).select(
        (F.col("id") % 3).cast("int").alias("k"),
        F.col("id").alias("rid"),
        F.create_map(F.lit("a"), F.col("id")).alias("m"),
    )
    dim = spark.range(3).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("g"), F.col("id")).alias("tag"),
    )
    want = sorted(
        (r.k, r.rid, r.tag)
        for r in left.drop("m").join(dim, "k", "inner").collect()
    )
    # default salt_cols: the map column is skipped, join still exact
    got = sorted(
        (r.k, r.rid, r.tag)
        for r in salted_join(left, dim, "k", salt=4).drop("m").collect()
    )
    assert got == want
    # explicit salt_cols
    got2 = sorted(
        (r.k, r.rid, r.tag)
        for r in salted_join(
            left, dim, "k", salt=4, salt_cols=["rid"]
        ).drop("m").collect()
    )
    assert got2 == want
    # explicit high-entropy salt_cols actually spread a hot key
    spread = (
        salted_join(left, dim, "k", salt=4, salt_cols=["rid"])
        .drop("m")
        .count()
    )
    assert spread == len(want)
    # pre-existing __salt rejected on either side
    with pytest.raises(ValueError, match="__salt"):
        salted_join(left.withColumn("__salt", F.lit(1)), dim, "k")
    with pytest.raises(ValueError, match="__salt"):
        salted_join(left, dim.withColumn("__salt", F.lit(1)), "k")
