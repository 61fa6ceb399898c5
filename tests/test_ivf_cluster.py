"""IVF ANN recall + connected-components clustering semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_spark.catalog import load_table
from cdc_spark.operators.cluster import connected_components, dedup_keep_canonical
from cdc_spark.operators.ivf import ivf_assign, ivf_topk, train_codebook
from cdc_spark.operators.similarity import cosine_topk

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


@pytest.fixture(scope="module")
def codebook(spark, emb):
    return train_codebook(emb, "embedding", "vec_id", k=16, iterations=2)


def test_codebook_deterministic_and_normalized(spark, emb, codebook):
    again = train_codebook(emb, "embedding", "vec_id", k=16, iterations=2)
    assert codebook == again
    for c in codebook:
        norm = sum(x * x for x in c) ** 0.5
        assert abs(norm - 1.0) < 1e-9


def test_ivf_assignment_covers_corpus(spark, emb, codebook):
    assigned = ivf_assign(emb, "embedding", codebook)
    n = assigned.count()
    assert n == emb.count()
    clusters = assigned.groupBy("cluster").count()
    assert clusters.count() > 1  # codebook actually separates the data


def test_ivf_recall_vs_bruteforce(spark, emb, codebook):
    hits = total = 0
    for qid in [0, 1, 2, 3, 4]:
        q = emb.where(F.col("vec_id") == qid).first().embedding
        exact = {
            r.vec_id
            for r in cosine_topk(emb, "embedding", "vec_id", q, k=10).collect()
        }
        approx = {
            r.vec_id
            for r in ivf_topk(
                emb, "embedding", "vec_id", q, codebook, k=10, n_probe=4
            ).collect()
        }
        hits += len(exact & approx)
        total += len(exact)
    recall = hits / total
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"


def test_connected_components_chain_and_islands(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    comps = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs).collect()
    }
    assert comps[1] == comps[2] == comps[3] == 1
    assert comps[10] == comps[11] == 10
    assert comps[20] == comps[21] == comps[22] == comps[23] == 20


def test_dedup_keep_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], "id_a long, id_b long"
    )
    kept = {
        r.doc_id for r in dedup_keep_canonical(docs, pairs, "doc_id").collect()
    }
    # clusters {0,3,5}→keep 0 and {1,2}→keep 1; singleton 4 kept
    assert kept == {0, 1, 4}


def test_codebook_clamps_k_to_corpus(spark):
    tiny = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    cb = train_codebook(tiny, "embedding", "vec_id", k=16, iterations=1)
    assert len(cb) == 5  # clamped, no IndexError


def test_components_raise_when_budget_too_small(spark):
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(13)], "id_a long, id_b long"
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=2)
    comps = connected_components(chain, max_iterations=20)
    assert comps.select("cluster_id").distinct().count() == 1


def test_ivf_index_persist_query_parity(spark, emb, codebook, tmp_path):
    """Persisted index answers == in-memory ivf_topk (same codebook),
    and probe queries open only the probed clusters' files."""
    from cdc_spark.operators.ivf import IvfIndex

    idx = IvfIndex.build(
        spark, str(tmp_path / "ivf"), emb, "embedding", "vec_id",
        k=16, iterations=2,
    )
    assert idx.centroids == codebook
    q = emb.where(F.col("vec_id") == 3).first().embedding
    want = [
        (r.vec_id, r.cosine_sim)
        for r in ivf_topk(
            emb, "embedding", "vec_id", q, codebook, k=10, n_probe=4
        ).collect()
    ]
    topk_df = idx.topk(q, k=10, n_probe=4)
    got = [(r.vec_id, r.cosine_sim) for r in topk_df.collect()]
    assert got == want
    # partition pruning: the probe predicate must land in the scan's
    # PartitionFilters (directory-level pruning, not a post-scan filter)
    plan = topk_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and any("cluster" in l for l in part_lines), plan


def test_ivf_index_incremental_add(spark, emb, tmp_path):
    from cdc_spark.operators.ivf import IvfIndex

    half1 = emb.where(F.col("vec_id") % 2 == 0)
    half2 = emb.where(F.col("vec_id") % 2 == 1)
    idx = IvfIndex.build(
        spark, str(tmp_path / "ivf2"), half1, "embedding", "vec_id",
        k=8, iterations=2,
    )
    n1 = idx.corpus().count()
    idx.add(half2)
    assert idx.corpus().count() == n1 + half2.count()
    # reloaded index sees the appended vectors with the same codebook
    idx2 = IvfIndex(spark, str(tmp_path / "ivf2"))
    assert idx2.centroids == idx.centroids
    q = emb.where(F.col("vec_id") == 1).first().embedding
    ids = {r.vec_id for r in idx2.topk(q, k=5, n_probe=8).collect()}
    assert 1 in ids  # the appended query vector finds itself


def test_ivf_assign_arrow_matches_hof(spark):
    """The Arrow (numpy int64 matmul) assignment path must be
    bit-identical to the JVM HOF argmax — same half-up quantization,
    same first-max tiebreak — at a centroid count in its regime."""
    from pyspark.sql import functions as F

    from cdc_spark.operators.ivf import deterministic_codebook, ivf_assign

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = deterministic_codebook(
        emb, "embedding", "vec_id", k=96, scale=64
    )
    hof = {
        (r.vec_id, r.cluster)
        for r in ivf_assign(
            emb, "embedding", cents, scale=64, method="hof"
        ).select("vec_id", "cluster").collect()
    }
    arrow = {
        (r.vec_id, r.cluster)
        for r in ivf_assign(
            emb, "embedding", cents, scale=64, method="arrow"
        ).select("vec_id", "cluster").collect()
    }
    assert arrow == hof
    # explicit 'auto' picks arrow at k>=64 and hof below — both still
    # exact; the DEFAULT stays 'hof' so index builds remain pure-JVM
    # unless the caller opts into the executor pandas dependency
    auto = {
        (r.vec_id, r.cluster)
        for r in ivf_assign(emb, "embedding", cents, scale=64, method="auto")
        .select("vec_id", "cluster")
        .collect()
    }
    assert auto == hof


def test_spread_skips_repartition_when_input_is_wide(spark):
    """Round 14: the index builders' pre-encode repartition fires only
    when the input is narrower than session parallelism. The guard
    reads logical-plan statistics (no job, no df.rdd — which compiles
    the Python RDD pipeline and can execute AQE stages)."""
    from cdc_spark.operators.ivf import _spread

    emb = load_table(
        spark, "/root/testdata/sf0.001", "embeddings"
    ).select("vec_id", "embedding")
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    try:
        # narrow case (default 128 MiB splits, 1-file corpus): the
        # spread must add a round-robin exchange
        narrow = _spread(emb)
        plan = narrow._jdf.queryExecution().executedPlan().toString()
        assert "Exchange RoundRobinPartitioning" in plan
        assert narrow is not emb

        # wide case (1-byte splits make the same input count as
        # thousands of scan splits): the spread must be a no-op —
        # no extra exchange on a production-width scan
        spark.conf.set(key, "1")
        wide = _spread(emb)
        assert wide is emb

        # byte-unit values are read as the scan planner reads them:
        # "1k" splits make the input wide, "128m" keeps it narrow
        spark.conf.set(key, "1k")
        assert _spread(emb) is emb
        spark.conf.set(key, "128m")
        assert _spread(emb) is not emb
    finally:
        spark.conf.set(key, prev)
