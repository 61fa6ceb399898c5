"""Dedup operators over `documents` — queries + oracles.

Every entry carries a full SQL oracle: the gated MinHash-LSH and
SimHash variants use the md5-derived portable shingle hash
(``operators.dedup.portable_hash60``), so DuckDB recomputes the
signatures / fingerprints / banding bit-for-bit — the approximate
structure itself is hash-checked, not just the exact verify. The
xxhash64 fast path stays the operator default; tests validate its
recall against the exact methods.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_spark.catalog import load_table
from cdc_spark.operators.dedup import (
    _MERSENNE,
    _minhash_params,
    aligned_duplicate_spans,
    common_ngram_doc_stats,
    containment_pairs,
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signature,
    simhash,
    simhash_pairs,
)
from cdc_spark.operators.similarity import (
    embedding_near_dup_pairs_lsh,
    hyperplanes,
    multiprobe_for_planes,
    multiprobe_sizing,
    semantic_dedup_planes,
)
from cdc_spark.queries.base import register

_EMB_DIM = 64  # TESTDATA.md: embeddings.embedding is FLOAT[64] at every SF


def _lsh_neardup_oracle(
    *,
    dim: int = _EMB_DIM,
    n_tables: int = 14,
    n_planes: int = 4,
    seed: int = 11,
    threshold: float = 0.4,
    sample_cap: int = 2000,
) -> str:
    """DuckDB twin of ``embedding_near_dup_pairs_lsh``.

    The hyperplanes are deterministic (seeded), so the oracle embeds
    the SAME plane literals and recomputes the bucket signatures in
    SQL — the LSH candidate generation itself is hash-checked, not
    just the exact-cosine verify.

    ``sample_cap`` mirrors dd05's bounded deterministic sample: the
    recall-baseline demo runs on at most ~cap vectors (md5-uniform
    1-in-m keep, m = ceil(n/cap) recomputed from COUNT(*) here), so
    the deliberately permissive fixed-k pipeline stays gateable at
    EVERY scale factor — at small SFs m = 1 and the sample is the
    whole corpus."""

    def bucket_expr(t: int) -> str:
        terms = []
        for i, plane in enumerate(hyperplanes(dim, n_planes, seed + 1000 * t)):
            arr = "[" + ",".join(repr(x) for x in plane) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr})"
                f" >= 0 THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms)

    banded = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, embedding, {t} AS tbl, {bucket_expr(t)} AS bucket"
        f" FROM sampled"
        for t in range(n_tables)
    )
    return f"""
    WITH mm AS (
        SELECT GREATEST(1, CAST(CEIL(COUNT(*) / {sample_cap}.0) AS BIGINT))
               AS m
        FROM embeddings
    ),
    sampled AS (
        SELECT vec_id, embedding FROM embeddings CROSS JOIN mm
        WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % m = 0
    ),
    banded AS (
        {banded}
    ),
    pairs AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
               a.embedding AS ea, b.embedding AS eb
        FROM banded a JOIN banded b
          ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           ROUND(list_cosine_similarity(ea::DOUBLE[], eb::DOUBLE[]), 4)
               AS cosine_sim
    FROM pairs
    WHERE ROUND(list_cosine_similarity(ea::DOUBLE[], eb::DOUBLE[]), 4)
          >= {threshold}
    """


@register(
    "dd01_exact_dedup",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents  -- simulated re-crawl
    )
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM corpus GROUP BY text
    """,
    note="exact dedup by content hash (sha2-256 shuffle key, min-id keeper) "
    "over a corpus with one simulated re-crawl",
    tags=("dedup",),
)
def dd01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(recrawl)
    return exact_dedup(corpus, "text", "doc_id")


@register(
    "dd02_ngram_jaccard",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(l) - 2, 0)),
                   i -> array_to_string(l[i:i+2], ' '))) AS s
        FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
    FROM common
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
    """,
    note="exact token-3-gram Jaccard near-dup pairs (explode + shingle "
    "equi-join; O(shared-shingle pairs), not O(n^2))",
    tags=("dedup", "jaccard"),
)
def dd02_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "text", "doc_id", k_shingle=3, threshold=0.8)


_PHASH60 = "CAST('0x' || substr(md5({s}),1,15) AS BIGINT)"

_SHINGLE_CTES = """
    toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    shm AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(l) - 2, 0)),
                   i -> array_to_string(l[i:i+2], ' '))) AS s
        FROM toks
    )"""


def _minhash_lsh_oracle(
    *,
    num_hashes: int = 32,
    seed: int = 7,
    bands: int = 8,
    rows_per_band: int = 4,
    threshold: float = 0.8,
) -> str:
    """DuckDB twin of the PORTABLE MinHash+LSH+verify pipeline.

    Embeds the same seeded permutation literals and the md5-derived
    shingle hash, so signatures, band buckets AND the exact verify are
    all recomputed — the banding is hash-checked end to end."""
    params = _minhash_params(num_hashes, seed)
    p = _MERSENNE
    mins = ",\n               ".join(
        f"MIN((h * {a} + {b}) % {p}) AS m{j}"
        for j, (a, b) in enumerate(params)
    )
    band_rows = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(
            f"m{b * rows_per_band + r}::VARCHAR"
            for r in range(rows_per_band)
        )
        + " AS bucket FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH {_SHINGLE_CTES},
    h AS (
        -- NOT distinct: the permutation min is duplicate-insensitive
        SELECT doc_id, {_PHASH60.format(s='s')} % {p} AS h FROM shm
    ),
    sig AS (
        SELECT doc_id,
               {mins}
        FROM h GROUP BY doc_id
    ),
    banded AS (
        {band_rows}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ),
    -- verify joins on the hashed shingle, mirroring hash_shingles=True:
    -- distinct on the raw shingle FIRST, then hash (exactly the Spark
    -- evaluation order, so even a collision would fold identically)
    shd AS (SELECT DISTINCT doc_id, s FROM shm),
    shh AS (SELECT doc_id, {_PHASH60.format(s='s')} AS hs FROM shd),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM shh a JOIN shh b ON a.hs = b.hs AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT cm.id_a, cm.id_b,
           ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
    FROM common cm
    JOIN cand ON cm.id_a = cand.id_a AND cm.id_b = cand.id_b
    JOIN sizes sa ON cm.id_a = sa.doc_id
    JOIN sizes sb ON cm.id_b = sb.doc_id
    WHERE c * 1.0 / (sa.n + sb.n - c) >= {threshold}
    """


def _simhash_oracle(
    *, bits: int = 60, bands: int = 4, max_hamming: int = 3
) -> str:
    """DuckDB twin of the PORTABLE SimHash pipeline: same md5-derived
    60-bit shingle hash, same sign-vote fold, same bit-slice banding.

    ``fp``/``banded`` are MATERIALIZED (round-13 sf10 catch): without
    the hint DuckDB re-inlines the whole 26M-shingle md5 pipeline
    into every reference — four band projections plus BOTH sides of
    the candidate self-join — and the duplicated pipelines spilled
    >70 GB at 500 k documents before dying on disk. Materialized, fp
    is 500 k fixed-width rows, banded 4x that, and the self-join
    streams 16.4 M candidates through the Hamming filter (the dd20
    oracle discipline: bound what feeds a join, stream what doesn't).
    Semantically neutral — re-gated hash-identical at sf0.001/0.01."""
    width = bits // bands
    mask = (1 << width) - 1
    votes = ",\n               ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    fp = "\n               + ".join(
        f"(CASE WHEN v{b} >= 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    band_rows = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, simhash, {i} AS band,"
        f" (simhash >> {i * width}) & {mask} AS slice FROM fp"
        for i in range(bands)
    )
    return f"""
    WITH {_SHINGLE_CTES},
    shd AS (SELECT DISTINCT doc_id, s FROM shm),
    h AS (SELECT doc_id, {_PHASH60.format(s='s')} AS h FROM shd),
    votes AS (
        SELECT doc_id,
               {votes}
        FROM h GROUP BY doc_id
    ),
    fp AS MATERIALIZED (
        SELECT doc_id,
               {fp} AS simhash
        FROM votes
    ),
    banded AS MATERIALIZED (
        {band_rows}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS fa, b.simhash AS fb
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.slice = b.slice
         AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(fa, fb)) <= {max_hamming}
    """


@register(
    "dd03_minhash_lsh",
    oracle=_minhash_lsh_oracle(),
    note="MinHash(32) + LSH(8 bands x 4) candidates, exact-Jaccard "
    "verified at 0.8 — the O(candidates) scale path for near-dedup. "
    "Gated with the portable md5-derived shingle hash so the oracle "
    "recomputes signatures and band buckets bit-for-bit; xxhash64 "
    "stays the operator default (tests validate its recall)",
    tags=("dedup", "minhash", "lsh"),
)
def dd03_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signature(
        docs, "text", "doc_id", k_shingle=3, num_hashes=32, portable=True
    )
    # the candidate set is referenced twice downstream (broadcast doc
    # filter + pair semi-join); materialize it once so the whole
    # signature+LSH subtree isn't recomputed per reference — it is
    # tiny (bounded by true near-dup density), the signatures are not
    cands = lsh_candidate_pairs(
        sigs, "doc_id", bands=8, rows_per_band=4, portable=True
    ).localCheckpoint(eager=True)
    # verify: candidate shingles checkpointed once (not recomputed per
    # consumer) and joined on the 8-byte portable hash, not the string
    return jaccard_pairs(
        docs,
        "text",
        "doc_id",
        k_shingle=3,
        threshold=0.8,
        candidates=cands,
        hash_shingles=True,
    )


@register(
    "dd04_simhash",
    oracle=_simhash_oracle(),
    note="SimHash(60-bit, shingle-based) near-dup pairs, Hamming<=3, "
    "banded candidate generation (pigeonhole on 4 bit-slices). Gated "
    "with the portable md5-derived shingle hash so the oracle "
    "recomputes fingerprints and bit-slice bands exactly",
    tags=("dedup", "simhash"),
)
def dd04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fps = simhash(docs, "text", "doc_id", bits=60, portable=True)
    return simhash_pairs(fps, "doc_id", bits=60, bands=4, max_hamming=3)


@register(
    "dd05_embedding_neardup",
    oracle=_lsh_neardup_oracle(),
    note="embedding-cosine near-dup RECALL-BASELINE DEMO at a "
    "deliberately permissive 0.4 threshold (p~0.63): fixed k=4 "
    "planes x L=14 tables give per-pair recall ~0.91 at the "
    "boundary, measured vs the exact baseline in tests — the entry "
    "exists to demonstrate the OR-amplification tradeoff itself, "
    "not the production shape. At this threshold recall 1-(1-p^k)^L "
    "collapses if k grows with the corpus (L must grow near-"
    "exponentially), so fixed k is the only honest configuration — "
    "and fixed k means n^2/2^k candidate work. Round 11: the demo "
    "therefore runs on a BOUNDED deterministic sample (md5-uniform "
    "1-in-m keep, m = ceil(n/2000), identity below ~2000 vectors), "
    "so both engines' candidate sets are capped at ~2000^2/16 per "
    "table at ANY scale factor and the entry joins the full sf1 "
    "oracle sweep — no cost-based exclusions remain. The PRODUCTION "
    "configuration is dd20: threshold 0.85 (p~0.82), corpus-sized "
    "planes (semantic_dedup_planes), linear candidate work on the "
    "full corpus. Oracle recomputes the sample predicate, the seeded "
    "planes and the banding in SQL — the bucketing itself is "
    "hash-checked",
    tags=("dedup", "embedding", "lsh"),
)
def dd05_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from cdc_spark.operators.dedup import portable_hash60

    emb = load_table(spark, sf_dir, "embeddings")
    # bounded deterministic sample: the fixed-k demo's candidate work
    # is quadratic BY DESIGN (see note), so cap its input at ~2000
    # vectors with an engine-portable md5 keep — identity at small SFs
    m = max(1, math.ceil(emb.count() / 2000))
    if m > 1:
        emb = emb.where(
            portable_hash60(F.col("vec_id").cast("string")) % m == 0
        )
    # L=14 tables x 4 planes: recall 1-(1-p^4)^14 ≈ 0.91 at the 0.4-
    # cosine boundary (p = 1-acos(0.4)/pi ≈ 0.63), measured ≥ 0.90 vs
    # the exact baseline at sf0.001 and sf0.01 (tests/test_similarity).
    return embedding_near_dup_pairs_lsh(
        emb, "embedding", "vec_id", dim=_EMB_DIM, threshold=0.4, n_tables=14
    )


# --- shared SQL fragments for the SIZED multi-table hyperplane LSH ---
# (dd20's production near-dup and dd21's recall evaluation share the
# corpus construction, the COUNT(*)-derived (planes, tables) pair and
# the gated plane-literal banding — one generator, two oracles)

_NEARDUP_SEED = 11
_NEARDUP_THRESHOLD = 0.85
# plane_hi raised 16 -> 20 in round 13: with Hamming-1 multiprobe the
# table count stays <= 40 for every k <= 20 (L = 11..35 at k = 13..20
# where the r=0 formula needs 47..189), so the 0.98 recall target now
# holds to 125 * 2^20 ~ 131 M vectors instead of clamping at ~0.5 M
_NEARDUP_PLANE_LO, _NEARDUP_PLANE_HI = 4, 20
_NEARDUP_TABLE_LO, _NEARDUP_TABLE_HI = 2, 40
_NEARDUP_RADIUS_HI = 1

# simulated re-crawl corpus: every 20th vector re-arrives with its
# every-5th coordinate zeroed (cosine ≈ sqrt(0.8) ≈ 0.89 to its
# original — above the 0.85 production threshold), because the
# synthetic table has no natural pairs that similar (max ≈ 0.60)
_NEARDUP_CORPUS_SQL = """corpus AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
               list_transform(generate_series(1, len(embedding)),
                   i -> CASE WHEN (i - 1) % 5 = 0 THEN CAST(0.0 AS FLOAT)
                             ELSE embedding[i] END)
        FROM embeddings WHERE vec_id % 20 = 0
    )"""


def _neardup_sizing_sql(
    *,
    lo: int,
    hi: int,
    target: int = 125,
    force_radius: int | None = None,
) -> str:
    """kk (planes from COUNT(*), the semantic_dedup_planes clamp),
    ll (tables) and rr (probe radius) — the latter two via
    branch-literal CASEs generated from ``multiprobe_for_planes``,
    the identical solver the Spark entry calls: the 17 reachable k
    values are enumerable, so neither the L nor the r side involves
    ANY cross-engine transcendental math. k <= 12 branches emit
    radius 0 and the exact pre-round-13 table counts.
    ``force_radius`` pins the radius (dd22's multiprobe parity pin):
    every branch then solves L at that radius."""
    branch = {
        k: multiprobe_for_planes(
            k,
            threshold=_NEARDUP_THRESHOLD,
            table_lo=_NEARDUP_TABLE_LO,
            table_hi=_NEARDUP_TABLE_HI,
            radius_lo=force_radius if force_radius is not None else 0,
            radius_hi=(
                force_radius
                if force_radius is not None
                else _NEARDUP_RADIUS_HI
            ),
        )
        for k in range(lo, hi + 1)
    }
    l_cases = " ".join(
        f"WHEN {k} THEN {tables}" for k, (tables, _) in branch.items()
    )
    r_cases = " ".join(
        f"WHEN {k} THEN {radius}" for k, (_, radius) in branch.items()
    )
    return f"""kk AS (
        SELECT GREATEST({lo}, LEAST({hi},
               CAST(CEIL(LOG2(COUNT(*) / {target}.0)) AS INT))) AS planes
        FROM corpus
    ),
    ll AS (
        SELECT CASE kk.planes {l_cases} END AS tables FROM kk
    ),
    rr AS (
        SELECT CASE kk.planes {r_cases} END AS radius FROM kk
    )"""


def _neardup_planes_values_sql(
    *, dim: int = _EMB_DIM, seed: int = _NEARDUP_SEED
) -> str:
    """One (tbl, idx, plane) VALUES relation holding every plane any
    clamp branch can reach: table t's planes are the prefix-stable
    ``hyperplanes(dim, plane_hi, seed + 1000·t)`` (repr round-trip ⇒
    DuckDB parses the identical IEEE doubles Spark folds over)."""
    rows = []
    for t in range(_NEARDUP_TABLE_HI):
        for i, plane in enumerate(
            hyperplanes(dim, _NEARDUP_PLANE_HI, seed + 1000 * t)
        ):
            arr = "[" + ",".join(repr(x) for x in plane) + "]::DOUBLE[]"
            rows.append(f"({t},{i},{arr})")
    return (
        "planes_t(tbl, idx, plane) AS (VALUES\n        "
        + ",\n        ".join(rows)
        + "\n    )"
    )


def _neardup_banding_sql(source: str) -> str:
    """Gated banding over ``source``: only plane rows with
    tbl < ll.tables AND idx < kk.planes contribute, so bucket =
    Σ bitᵢ·2^i over exactly the sized (k, L) grid — bit-identical to
    ``lsh_bucket`` over ``hyperplanes(dim, k, seed + 1000·t)``."""
    return f"""banded AS (
        SELECT c.vec_id, p.tbl,
               SUM(CASE WHEN list_dot_product(c.embedding::DOUBLE[],
                                              p.plane) >= 0
                        THEN (1::BIGINT << p.idx) ELSE 0::BIGINT END)
                   AS bucket
        FROM {source} c
        CROSS JOIN kk CROSS JOIN ll
        JOIN planes_t p ON p.tbl < ll.tables AND p.idx < kk.planes
        GROUP BY c.vec_id, p.tbl
    )"""


def _neardup_probes_sql() -> str:
    """Hamming-≤radius probe expansion over ``banded``: each (vec,
    tbl, bucket) row probes its home bucket (flip = -1, always) plus
    its kk.planes one-bit XOR neighbors when rr.radius >= 1 — the
    SQL image of the Spark plan's mask-explode. At radius 0 the flips
    relation reduces to the single -1 row, so probed == banded and
    the candidate join degenerates to the exact pre-round-13 shape."""
    flips = ",".join(f"({i})" for i in range(-1, _NEARDUP_PLANE_HI))
    return f"""flips(flip) AS (VALUES {flips}),
    probed AS (
        SELECT b.vec_id, b.tbl,
               CASE WHEN f.flip < 0 THEN b.bucket
                    ELSE xor(b.bucket, 1::BIGINT << f.flip) END AS pbucket
        FROM banded b
        CROSS JOIN kk CROSS JOIN rr
        JOIN flips f
          ON f.flip = -1 OR (rr.radius >= 1 AND f.flip < kk.planes)
    )"""


def _production_neardup_oracle(
    *,
    lo: int = _NEARDUP_PLANE_LO,
    hi: int = _NEARDUP_PLANE_HI,
    threshold: float = _NEARDUP_THRESHOLD,
    force_radius: int | None = None,
    with_config: bool = False,
) -> str:
    """DuckDB twin of dd20: the SIZED multi-table hyperplane LSH,
    with Hamming-1 MULTIPROBE on the k >= 13 branches.

    ALL THREE knobs are derived from the corpus COUNT(*): planes with
    the same clamp as ``semantic_dedup_planes`` (the dd12 pattern),
    tables AND probe radius via branch-literal CASEs generated from
    ``multiprobe_for_planes`` — plane literals are index-gated
    (prefix-stable hyperplanes), so both engines compute identical
    sized bandings at any SF including branches the small SFs never
    reach. The probe expansion (``probed``) reduces to the banded
    relation itself on every radius-0 branch (k <= 12 — all four
    driver-gated SFs plus sf10), so those branches keep the exact
    round-12 plan cost. Candidates carry IDs only; the embeddings
    join back (via ``be``) for the exact-cosine verify (mirrors the
    Spark plan's array-shuffle avoidance)."""
    # Plan-shape discipline, learned at the first sf10 oracle gate
    # (sf10's branch is k=11, L=32 — 480 M candidate pairs): any plan
    # that lets DuckDB MATERIALIZE the candidate multiset dies on
    # this box (dedup-first built a >100 GB DISTINCT hash table,
    # OOM-killed; verify-via-join-back and even the single fused
    # self-join both fell into the external-join path once the
    # estimated join state crossed the memory limit — spill-disk
    # death at ~75 GB). The cure is the same one the Spark plan gets
    # from its shuffle partitioning, expressed as SQL: process the
    # tables as L INDEPENDENT branches (gated ``{{t}} < ll.tables``),
    # each a ~n-row build-side self-join whose probe output flows
    # straight through the inline cosine filter — per-branch state is
    # 1/L of the candidates (~15 M pairs at sf10) and only survivors
    # reach the UNION + DISTINCT. cosine_sim is a pure function of
    # the id pair, so distinct-after-verify equals the pair-distinct
    # Spark does first (Spark keeps distinct-before-join because
    # shuffling 16-byte pairs beats shuffling per-candidate arrays at
    # cluster scale — the r11 measurement); each engine dedupes where
    # ITS memory model wants it, same result set.
    # Branch shape (round-13 sf10 gate, seventh catch): candidates
    # are ID-ONLY through the bucket join, and the embeddings join
    # back per branch from one materialized ~110 MB id->embedding
    # relation — BOTH halves of the Spark plan's array-shuffle
    # discipline, now mirrored in SQL. The r12 shape carried the home
    # side's 64-double embedding inline through the candidate join;
    # that streamed fine against the r12 oracle text, but the probe
    # relation this round's multiprobe CASE machinery introduced
    # (pe/flips) changed DuckDB's join planning on the very same
    # branches, and the wide candidate payload externalized — at
    # radius 1 (dd22 at sf10: k=11 forced, ~130 M pairs/branch,
    # ~67 GB/branch of inline arrays) AND at radius 0 (dd20 at sf10:
    # k=11, L=32, ~15 M pairs/branch) the oracle filled the disk with
    # join spill (ENOSPC past ~75 GB). Id-only candidates stream the
    # multiset through the cosine verify at 16 bytes/row against two
    # 210k-row embedding build sides; only survivors reach the
    # UNION + DISTINCT. Measured at sf10: the radius-1 1e9-row
    # multiset (dd22) completes with ~4 KB of spill.
    branches = "\n        UNION ALL\n        ".join(
        f"""SELECT id_a, id_b, cosine_sim FROM (
            SELECT c.id_a, c.id_b,
                   ROUND(list_cosine_similarity(ea.embedding::DOUBLE[],
                                                eb.embedding::DOUBLE[]), 4)
                       AS cosine_sim
            FROM (
                SELECT a.vec_id AS id_a, p.vec_id AS id_b
                FROM be a
                JOIN pe p ON a.bucket = p.pbucket
                         AND a.vec_id < p.vec_id
                CROSS JOIN ll
                WHERE a.tbl = {t} AND p.tbl = {t} AND {t} < ll.tables
            ) c
            JOIN emb ea ON ea.vec_id = c.id_a
            JOIN emb eb ON eb.vec_id = c.id_b
        ) WHERE cosine_sim >= {threshold}"""
        for t in range(_NEARDUP_TABLE_HI)
    )
    tail = (
        """SELECT DISTINCT pr.id_a, pr.id_b, pr.cosine_sim,
           kk.planes AS planes, ll.tables AS tables,
           rr.radius AS radius
    FROM ({branches}) pr CROSS JOIN kk CROSS JOIN ll CROSS JOIN rr"""
        if with_config
        else """SELECT DISTINCT id_a, id_b, cosine_sim FROM (
        {branches}
    )"""
    ).format(branches=branches)
    # narrow banding + one materialized id->embedding relation: the
    # branches join embeddings back by id (never through the join)
    return f"""
    WITH {_NEARDUP_CORPUS_SQL},
    {_neardup_sizing_sql(lo=lo, hi=hi, force_radius=force_radius)},
    {_neardup_planes_values_sql()},
    {_neardup_banding_sql("corpus")},
    {_neardup_probes_sql()},
    be AS MATERIALIZED (
        SELECT vec_id, tbl, bucket FROM banded
    ),
    pe AS MATERIALIZED (
        SELECT vec_id, tbl, pbucket FROM probed
    ),
    emb AS MATERIALIZED (
        SELECT vec_id, embedding FROM corpus
    )
    {tail}
    """


@register(
    "dd20_production_neardup",
    oracle=_production_neardup_oracle(),
    note="PRODUCTION-threshold embedding near-dup pairs (cosine >= "
    "0.85, p = 1-acos(0.85)/pi ~ 0.82) with BOTH knobs corpus-sized "
    "from one COUNT(*) — the scale configuration dd05's permissive "
    "demo deliberately is not. Plane count k = semantic_dedup_planes"
    "(count, hi=16) (2^k cells ~ n/125) keeps per-table candidate "
    "work sum(cell^2) ~ n*125 LINEAR in n; table count L = "
    "tables_for_planes(k) = ceil(ln(1-R)/ln(1-p^k)) holds per-pair "
    "recall at R=0.98 as k grows (round 12 — previously fixed L=10, "
    "whose recall decayed toward 0.91 at sf1's k=8 and would keep "
    "falling). Because p^k = (n/125)^(log2 p) shrinks only "
    "polynomially at this threshold (n^-0.28), L grows as "
    "(n/125)^0.28: 7/9/17/32 at the k=4/5/8/11 branches the five "
    "gated SFs reach — total work n^1.28, the measured price of "
    "CONSTANT recall (dd21 gates the recall itself; contrast dd05's "
    "note: at 0.4 the same exponent is n^-0.67 and sizing is "
    "hopeless). Round 13 removes the ~0.5M-vector ceiling the r12 "
    "verdict flagged: past k=12 (where plain OR-amplification needs "
    "L=47..189 and the oracle-parity clamp froze L at 40, decaying "
    "recall to 0.96..0.82) the sizing switches to Hamming-1 "
    "MULTIPROBE (Lv et al. VLDB'07, the FAISS/E2LSH technique) — "
    "each vector also probes its k one-bit-flip neighbor buckets per "
    "table, per-table collision rises to p^k + k*p^(k-1)*(1-p), and "
    "L stays 11..35 through k=20, holding R=0.98 to 125*2^20 ~ 131M "
    "vectors with the plane VALUES relation still bounded at 40x20. "
    "The corpus unions a deterministic simulated re-crawl (every "
    "20th vector, every-5th coordinate zeroed, cosine ~ 0.89) since "
    "the synthetic table has no natural 0.85 pairs; expected output "
    "is one pair per injected near-dup — linear in n. Oracle "
    "re-derives planes from COUNT(*) with index-gated prefix-stable "
    "plane literals, tables AND radius from branch-literal CASEs "
    "over the 17 reachable k values, recomputing the sized banding "
    "and the probe expansion bit-for-bit",
    tags=("dedup", "embedding", "lsh", "scale"),
)
def dd20_production_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    recrawl = emb.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(
                i % 5 == 0, F.lit(0.0).cast("float")
            ).otherwise(x),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(recrawl)
    # ONE cheap count job sizes all three knobs to the corpus (the
    # dd12 discipline): 2^planes cells ~ n/125 keeps per-table
    # candidate work linear in n; the table count grows ~(n/125)^0.28
    # to hold per-pair recall at 0.98 as the cells shrink; past k=12
    # the solver switches to Hamming-1 multiprobe so L never clamps
    n = corpus.count()
    planes, tables, radius = multiprobe_sizing(
        n,
        threshold=_NEARDUP_THRESHOLD,
        plane_lo=_NEARDUP_PLANE_LO,
        plane_hi=_NEARDUP_PLANE_HI,
        table_lo=_NEARDUP_TABLE_LO,
        table_hi=_NEARDUP_TABLE_HI,
        radius_hi=_NEARDUP_RADIUS_HI,
    )
    return embedding_near_dup_pairs_lsh(
        corpus,
        "embedding",
        "vec_id",
        dim=_EMB_DIM,
        threshold=_NEARDUP_THRESHOLD,
        n_tables=tables,
        n_planes=planes,
        probe_radius=radius,
    )


def _production_recall_oracle(
    *,
    lo: int = _NEARDUP_PLANE_LO,
    hi: int = _NEARDUP_PLANE_HI,
    threshold: float = _NEARDUP_THRESHOLD,
    sample_cap: int = 2000,
    floor: float = 0.9,
) -> str:
    """DuckDB twin of dd21: recall of the SIZED LSH vs the exact
    baseline, measured at the production threshold on a bounded
    deterministic sample but with (planes, tables, radius) derived
    from the FULL corpus COUNT(*) — i.e. the evaluation exercises
    exactly the sizing branch the production entry runs at this SF,
    including the k >= 13 multiprobe branches. The sample keeps
    vector FAMILIES together (md5 keep on vec_id % 1000000, so a
    re-crawl follows its original), because per-pair collision
    recall depends only on the pair's own angle and (k, L, r) — a
    sampled pair measures the same probability the full corpus
    would. recall_ok requires n_exact > 0 explicitly (r12 ADVICE):
    an empty exact baseline must read as a red gate row, never a
    vacuously-NULL green."""
    return f"""
    WITH {_NEARDUP_CORPUS_SQL},
    {_neardup_sizing_sql(lo=lo, hi=hi)},
    {_neardup_planes_values_sql()},
    mm AS (
        SELECT GREATEST(1, CAST(CEIL(COUNT(*) / {sample_cap}.0) AS BIGINT))
               AS m
        FROM embeddings
    ),
    sample AS (
        SELECT vec_id, embedding FROM corpus CROSS JOIN mm
        WHERE CAST('0x' || substr(md5(CAST(vec_id % 1000000 AS VARCHAR)),
                                  1, 15) AS BIGINT) % m = 0
    ),
    {_neardup_banding_sql("sample")},
    {_neardup_probes_sql()},
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, p.vec_id AS id_b
        FROM banded a JOIN probed p
          ON a.tbl = p.tbl AND a.bucket = p.pbucket AND a.vec_id < p.vec_id
    ),
    found AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN sample sa ON sa.vec_id = c.id_a
        JOIN sample sb ON sb.vec_id = c.id_b
        WHERE ROUND(list_cosine_similarity(sa.embedding::DOUBLE[],
                                           sb.embedding::DOUBLE[]), 4)
              >= {threshold}
    ),
    exact AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM sample a JOIN sample b ON a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[]), 4)
              >= {threshold}
    )
    SELECT kk.planes AS planes, ll.tables AS tables,
           rr.radius AS radius,
           (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM found) AS n_found,
           ROUND(CAST((SELECT COUNT(*) FROM found) AS DOUBLE)
                 / (SELECT COUNT(*) FROM exact), 6) AS recall,
           ((SELECT COUNT(*) FROM exact) > 0
            AND (CAST((SELECT COUNT(*) FROM found) AS DOUBLE)
                 / (SELECT COUNT(*) FROM exact)) >= {floor}) AS recall_ok
    FROM kk CROSS JOIN ll CROSS JOIN rr
    """


@register(
    "dd21_production_recall_eval",
    oracle=_production_recall_oracle(),
    note="RECALL EVALUATION of the sized production near-dup (dd20's "
    "exact configuration) as a first-class gated operator — the "
    "dd17/ss12 pattern at the 0.85 production threshold: LSH-found "
    "pairs vs the exact all-pairs baseline, recall per sizing "
    "branch. (planes, tables, radius) derive from the FULL corpus "
    "COUNT(*) exactly as dd20 derives them, so each SF gates its own "
    "branch (k=4,L=7,r=0 at sf0.01; 5,9,0 at sf0.1; 8,17,0 at sf1; "
    "11,32,0 at sf10; 13,11,r=1 at the 537k-vector clamp-branch "
    "gate — the round-13 multiprobe branch a >0.5M corpus runs); "
    "the measurement runs on a bounded deterministic sample (md5 "
    "keep on vec_id % 1000000 so a re-crawl follows its original — "
    "per-pair collision recall depends only on the pair's angle and "
    "(k,L,r), so sampled pairs measure the same probability). The "
    "exact baseline is the blocked all-pairs GRID equi-join "
    "(embedding_near_dup_pairs_grid: B^2-way parallel, no cartesian "
    "/ nested-loop shape), bounded at ~2100 rows by the sample cap. "
    "Measured recall at the target-0.98 sizing: 1.0 / 1.0 / 0.994 / "
    "0.997 across the four r=0 branches and 1.0 at the k=13 "
    "multiprobe branch — the >= 0.9 floor rides as the recall_ok "
    "column (now explicitly requiring n_exact > 0, the r12 ADVICE "
    "fix: an empty baseline reads red, not vacuous-NULL green), and "
    "pytest pins it at the small SFs. Oracle recomputes sample, "
    "sizing, banding, probe expansion and both pair sets "
    "bit-for-bit",
    tags=("dedup", "embedding", "lsh", "evaluation", "scale"),
)
def dd21_production_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import math

    from cdc_spark.operators.dedup import portable_hash60
    from cdc_spark.operators.similarity import (
        embedding_near_dup_pairs_grid,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    recrawl = emb.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(
                i % 5 == 0, F.lit(0.0).cast("float")
            ).otherwise(x),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(recrawl)
    # one agg job yields BOTH counts: the full-corpus size (drives
    # the same (k, L, r) triple dd20 runs with at this SF) and the
    # original count (drives the bounded-sample keep modulus)
    counts = emb.agg(
        F.count("*").alias("n_orig"),
        F.count(F.when(F.col("vec_id") % 20 == 0, 1)).alias("n_re"),
    ).first()
    n_corpus = counts["n_orig"] + counts["n_re"]
    planes, tables, radius = multiprobe_sizing(
        n_corpus,
        threshold=_NEARDUP_THRESHOLD,
        plane_lo=_NEARDUP_PLANE_LO,
        plane_hi=_NEARDUP_PLANE_HI,
        table_lo=_NEARDUP_TABLE_LO,
        table_hi=_NEARDUP_TABLE_HI,
        radius_hi=_NEARDUP_RADIUS_HI,
    )
    m = max(1, math.ceil(counts["n_orig"] / 2000))
    sample = corpus.where(
        portable_hash60((F.col("vec_id") % 1000000).cast("string")) % m
        == 0
    )
    lsh = embedding_near_dup_pairs_lsh(
        sample,
        "embedding",
        "vec_id",
        dim=_EMB_DIM,
        threshold=_NEARDUP_THRESHOLD,
        n_tables=tables,
        n_planes=planes,
        probe_radius=radius,
    )
    exact = embedding_near_dup_pairs_grid(
        sample, "embedding", "vec_id", threshold=_NEARDUP_THRESHOLD
    )
    # LSH-found ⊆ exact by construction (identical rounded-cosine
    # filter over a candidate subset), so recall = |found| / |exact|
    ratio = F.col("n_found") / F.col("n_exact")
    # explicit broadcast: the build side is an ungrouped (1-row)
    # aggregate, so the cross join degenerates to a scalar attach
    # (the merge.py t_agg pattern) — never a cartesian loop
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(F.broadcast(lsh.agg(F.count("*").alias("n_found"))))
        .select(
            F.lit(planes).alias("planes"),
            F.lit(tables).alias("tables"),
            F.lit(radius).alias("radius"),
            "n_exact",
            "n_found",
            F.round(ratio, 6).alias("recall"),
            ((F.col("n_exact") > 0) & (ratio >= 0.9)).alias(
                "recall_ok"
            ),
        )
    )


@register(
    "dd22_multiprobe_neardup",
    oracle=_production_neardup_oracle(force_radius=1, with_config=True),
    note="Hamming-1 MULTIPROBE parity pin, driver-gated at EVERY SF: "
    "the same sized corpus as dd20, but the probe radius is FORCED "
    "to 1 so the radius-1 plan shape (per-row (k+1)-way XOR-mask "
    "explode on the id-only probe side, co-partitioned bucket join) "
    "executes on branches where plain r=0 amplification would also "
    "fit — without this entry the multiprobe code path has gated "
    "rows only at >0.5M-vector corpora (CLAMP_GATE), invisible to "
    "the driver's own sf0.001..sf0.1 gate. The solved table count "
    "shrinks accordingly (L=3 at k=4 vs r=0's L=7; the multiprobe "
    "tradeoff: ~L/2..L/4 index storage and banding work for (k+1)x "
    "bucket probes, each an id-only ~24-byte row). Output carries "
    "the (planes, tables, radius) triple as columns so the gate "
    "pins the sizing itself; pair set equals dd20's at measured-"
    "recall-1.0 branches (pytest-pinned at sf0.001/sf0.01). Oracle "
    "is the dd20 twin with the radius CASE forced to 1 and L "
    "re-solved per branch by the identical multiprobe_for_planes "
    "call that sizes the Spark plan",
    tags=("dedup", "embedding", "lsh", "multiprobe"),
)
def dd22_multiprobe_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    recrawl = emb.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(
                i % 5 == 0, F.lit(0.0).cast("float")
            ).otherwise(x),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(recrawl)
    n = corpus.count()
    planes = semantic_dedup_planes(
        n, lo=_NEARDUP_PLANE_LO, hi=_NEARDUP_PLANE_HI
    )
    tables, radius = multiprobe_for_planes(
        planes,
        threshold=_NEARDUP_THRESHOLD,
        table_lo=_NEARDUP_TABLE_LO,
        table_hi=_NEARDUP_TABLE_HI,
        radius_lo=1,
        radius_hi=1,
    )
    pairs = embedding_near_dup_pairs_lsh(
        corpus,
        "embedding",
        "vec_id",
        dim=_EMB_DIM,
        threshold=_NEARDUP_THRESHOLD,
        n_tables=tables,
        n_planes=planes,
        probe_radius=radius,
    )
    return pairs.select(
        "id_a",
        "id_b",
        "cosine_sim",
        F.lit(planes).alias("planes"),
        F.lit(tables).alias("tables"),
        F.lit(radius).alias("radius"),
    )


@register(
    "dd06_dedup_clusters",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT id_a AS a, id_b AS b FROM (
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS l FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(len(l) - 2, 0)),
                           i -> array_to_string(l[i:i+2], ' '))) AS s
                FROM toks
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            common AS (
                SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS c
                FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b
            FROM common
            JOIN sizes sa ON id_a = sa.doc_id
            JOIN sizes sb ON id_b = sb.doc_id
            WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
        )
        UNION
        SELECT b, a FROM e
    ),
    reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    )
    SELECT n.a AS doc_id, LEAST(n.a, MIN(r.b)) AS cluster_id
    FROM (SELECT DISTINCT a FROM e) n
    LEFT JOIN reach r ON r.a = n.a
    GROUP BY n.a
    """,
    note="near-dup clustering: connected components (min-label "
    "propagation) over the exact-Jaccard pair graph → canonical-doc "
    "clusters; oracle = DuckDB recursive transitive closure",
    tags=("dedup", "cluster"),
)
def dd06_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.operators.cluster import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "text", "doc_id", k_shingle=3, threshold=0.8)
    return connected_components(pairs.select("id_a", "id_b"))


@register(
    "dd07_url_dedup",
    oracle="""
    WITH deco AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'https://Site' ELSE 'https://site' END
               || CAST(doc_id % 5 AS VARCHAR) || '.Example/page/'
               || CAST(doc_id % 40 AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
               || CASE WHEN doc_id % 4 = 0 THEN '?utm=x&ref=y' ELSE '' END
               || CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id,
               lower(regexp_extract(regexp_replace(url, '[#?].*$', ''),
                                    '^(https?://[^/]+)', 1))
               || regexp_replace(
                      regexp_replace(regexp_replace(url, '[#?].*$', ''),
                                     '^https?://[^/]+', ''),
                      '/$', '') AS curl
        FROM deco
    )
    SELECT curl AS canonical_url,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_dups
    FROM canon GROUP BY curl
    """,
    note="URL-keyed dedup for web corpora: canonicalize (lowercase "
    "scheme+host, drop query/fragment, strip trailing slash — case "
    "variants, utm params and fragments all collapse) then exact "
    "hash-groupBy keeping the min doc id; one shuffle on the "
    "canonical URL. Synthetic URLs decorate the ASCII corpus "
    "deterministically",
    tags=("dedup", "url", "web"),
)
def dd07_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.operators.text import canonicalize_url

    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://Site")).otherwise(
            F.lit("https://site")
        ),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".Example/page/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("?utm=x&ref=y")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    deco = docs.select("doc_id", url.alias("url"))
    return (
        deco.select(
            "doc_id", canonicalize_url("url").alias("canonical_url")
        )
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_dups"),
        )
    )


@register(
    "dd08_boilerplate_ratio",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    ch AS (
        SELECT doc_id,
               md5(array_to_string(l[i:i+7], ' ')) AS chunk_md5
        FROM toks,
             unnest(generate_series(1, greatest(len(l), 1), 8)) AS t(i)
    ),
    cd AS (
        SELECT chunk_md5, COUNT(DISTINCT doc_id) AS nd
        FROM ch GROUP BY chunk_md5
    ),
    per AS (
        SELECT ch.doc_id,
               COUNT(*) AS n_chunks,
               CAST(SUM(CASE WHEN cd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared
        FROM ch JOIN cd USING (chunk_md5)
        GROUP BY ch.doc_id
    )
    SELECT doc_id, n_chunks, n_shared,
           ROUND(n_shared * 1.0 / n_chunks, 4) AS boilerplate_ratio
    FROM per
    """,
    note="Cross-document boilerplate: non-overlapping 8-token chunks "
    "hashed (md5 — portable), counted across the corpus via an "
    "inverted chunk index (chunk equi-join, never doc all-pairs); per "
    "doc, the fraction of its chunks appearing in >1 document — the "
    "RefinedWeb/C4-style shared-boilerplate removal signal",
    tags=("dedup", "text", "quality"),
)
def dd08_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.operators.text import chunk_rows

    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_rows(
        docs, "text", "doc_id", chunk_size=8, stride=8
    ).select("doc_id", "chunk_md5")
    cd = ch.groupBy("chunk_md5").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    return (
        ch.join(cd, "chunk_md5")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(
                F.when(F.col("nd") > 1, 1).otherwise(0)
            ).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_shared",
            F.round(
                F.col("n_shared") / F.col("n_chunks"), 4
            ).alias("boilerplate_ratio"),
        )
    )


@register(
    "dd09_common_ngram_exposure",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    shd AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(l) - 4, 0)),
                   i -> array_to_string(l[i:i+4], ' '))) AS s
        FROM toks
    ),
    -- hash AFTER the distinct, mirroring the Spark evaluation order
    shh AS (SELECT doc_id, {_PHASH60.format(s='s')} AS h FROM shd),
    common AS (SELECT h FROM shh GROUP BY h HAVING COUNT(*) >= 3),
    tot AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY doc_id),
    com AS (
        SELECT doc_id, COUNT(*) AS c FROM shh
        WHERE h IN (SELECT h FROM common) GROUP BY doc_id
    )
    SELECT tot.doc_id, n AS n_shingles,
           COALESCE(c, 0) AS n_common,
           ROUND(COALESCE(c, 0) * 1.0 / n, 4) AS dup_fraction,
           COALESCE(c, 0) * 1.0 / n >= 0.5 AS flagged
    FROM tot LEFT JOIN com ON tot.doc_id = com.doc_id
    """,
    note="corpus-level duplicate-5-gram exposure per document (the "
    "repeated-substring dedup signal): fraction of a doc's distinct "
    "5-grams occurring in >=3 docs, flagged above 0.5. One shingle "
    "hash-agg + a semi-join back, all keyed on the portable 60-bit "
    "hash so the oracle recomputes the exact same sets",
    tags=("dedup", "ngram", "quality"),
)
def dd09_common_ngram_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return common_ngram_doc_stats(
        docs, "text", "doc_id", k_shingle=5, min_docs=3, portable=True
    )


def _aligned_spans_oracle(
    *,
    num_hashes: int = 32,
    seed: int = 7,
    bands: int = 8,
    rows_per_band: int = 4,
    min_span: int = 15,
) -> str:
    """DuckDB twin of LSH candidates -> aligned duplicate spans.

    Reuses the portable MinHash/banding literals (same seed as dd03),
    then recomputes the positioned-shingle diagonal runs exactly."""
    params = _minhash_params(num_hashes, seed)
    p = _MERSENNE
    mins = ",\n               ".join(
        f"MIN((h * {a} + {b}) % {p}) AS m{j}"
        for j, (a, b) in enumerate(params)
    )
    band_rows = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(
            f"m{b * rows_per_band + r}::VARCHAR"
            for r in range(rows_per_band)
        )
        + " AS bucket FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH {_SHINGLE_CTES},
    h AS (
        SELECT doc_id, {_PHASH60.format(s='s')} % {p} AS h FROM shm
    ),
    sig AS (
        SELECT doc_id,
               {mins}
        FROM h GROUP BY doc_id
    ),
    banded AS (
        {band_rows}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ),
    posed AS (
        SELECT doc_id, l,
               unnest(generate_series(1, greatest(len(l) - 2, 0))) AS i
        FROM toks
    ),
    shp AS (
        SELECT DISTINCT doc_id, i AS pos,
               {_PHASH60.format(s="array_to_string(l[i:i+2], ' ')")} AS h
        FROM posed
    ),
    m AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.pos - b.pos AS diag, a.pos AS pa
        FROM shp a JOIN shp b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    mc AS (
        SELECT m.* FROM m
        JOIN cand ON m.id_a = cand.id_a AND m.id_b = cand.id_b
    ),
    runs AS (
        SELECT id_a, id_b, diag, pa,
               pa - ROW_NUMBER() OVER (
                   PARTITION BY id_a, id_b, diag ORDER BY pa
               ) AS grp
        FROM mc
    ),
    spans AS (
        SELECT id_a, id_b, COUNT(*) AS run_len
        FROM runs GROUP BY id_a, id_b, diag, grp
    )
    SELECT id_a, id_b, MAX(run_len) + 2 AS longest_span_tokens
    FROM spans GROUP BY id_a, id_b
    HAVING MAX(run_len) + 2 >= {min_span}
    """


@register(
    "dd10_aligned_duplicate_spans",
    oracle=_aligned_spans_oracle(),
    note="exact duplicated-span detection (the ExactSubstr dedup "
    "signal at 3-gram granularity): longest verbatim token span per "
    "LSH candidate pair, via matching-shingle diagonals + the islands "
    "run trick. Candidates come from the same portable MinHash "
    "banding as dd03, so the oracle recomputes the full pipeline",
    tags=("dedup", "spans", "lsh"),
)
def dd10_aligned_duplicate_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signature(
        docs, "text", "doc_id", k_shingle=3, num_hashes=32, portable=True
    )
    cands = lsh_candidate_pairs(
        sigs, "doc_id", bands=8, rows_per_band=4, portable=True
    ).localCheckpoint(eager=True)
    return aligned_duplicate_spans(
        docs,
        "text",
        "doc_id",
        k_shingle=3,
        min_span_tokens=15,
        candidates=cands,
        portable=True,
    )


@register(
    "dd11_containment_pairs",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(l) - 2, 0)),
                   i -> array_to_string(l[i:i+2], ' '))) AS s
        FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(c * 1.0 / LEAST(sa.n, sb.n), 4) AS containment,
           CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained
    FROM common
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE c * 1.0 / LEAST(sa.n, sb.n) >= 0.9
    """,
    note="asymmetric shingle-containment pairs (|A∩B| / min(|A|,|B|) "
    ">= 0.9): catches a document embedded inside a larger one — the "
    "syndication/quoting shape Jaccard's union term dilutes away. "
    "Same inverted-index equi-join scale path as dd02; `contained` "
    "names the smaller doc (the one a dedup pass would drop)",
    tags=("dedup", "containment"),
)
def dd11_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, "text", "doc_id", k_shingle=3, threshold=0.9)


def _semantic_dedup_sized_oracle(
    *,
    dim: int = _EMB_DIM,
    lo: int = 4,
    hi: int = 24,
    target: int = 125,
    seed: int = 11,
    threshold: float = 0.45,
) -> str:
    """DuckDB twin of the SIZED SemDeDup partition: the plane count is
    derived from the corpus row count with the same clamp formula as
    ``semantic_dedup_planes`` (2^planes cells ~ n/target), and the
    bucket expression embeds the first ``hi`` plane literals from the
    SAME seeded ``hyperplanes`` stream the engine draws from (the
    generator is sequential, so hyperplanes(dim, k, seed) is a prefix
    of hyperplanes(dim, hi, seed) for any k <= hi — pinned by
    tests/test_similarity.py), each term gated by ``i < planes`` so
    only the sized prefix contributes bits. Both engines therefore
    compute identical cells at ANY scale factor — including the sf1
    probe where the sized k exceeds the small-SF value."""
    planes = hyperplanes(dim, hi, seed)
    terms = []
    for i, plane in enumerate(planes):
        arr = "[" + ",".join(repr(x) for x in plane) + "]"
        terms.append(
            f"(CASE WHEN {i} < k.planes AND "
            f"list_dot_product(embedding::DOUBLE[], {arr}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    bucket = "\n          + ".join(terms)
    return f"""
    SELECT id_a, id_b FROM (
        WITH k AS (
            SELECT GREATEST({lo}, LEAST({hi},
                   CAST(CEIL(LOG2(COUNT(*) / {target}.0)) AS INT)))
                   AS planes
            FROM embeddings
        ),
        banded AS (
            SELECT vec_id, embedding,
                   {bucket} AS bucket
            FROM embeddings CROSS JOIN k
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM banded a JOIN banded b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
              b.embedding::DOUBLE[]), 4) >= {threshold}
    )
    """


@register(
    "dd12_semantic_dedup",
    oracle=f"""
    WITH RECURSIVE e AS (
        SELECT id_a AS a, id_b AS b
        FROM ({_semantic_dedup_sized_oracle()})
        UNION
        SELECT id_b, id_a
        FROM ({_semantic_dedup_sized_oracle()})
    ),
    reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    ),
    labels AS (
        SELECT n.a AS vec_id, LEAST(n.a, MIN(r.b)) AS cluster_id
        FROM (SELECT DISTINCT a FROM e) n
        LEFT JOIN reach r ON r.a = n.a
        GROUP BY n.a
    )
    SELECT cluster_id,
           COUNT(*) AS n_members,
           COUNT(*) - 1 AS n_dropped
    FROM labels GROUP BY cluster_id
    """,
    note="SemDeDup semantic dedup (Abbas et al. 2023, "
    "arXiv:2303.09540), faithful to the paper's structure: the corpus "
    "is HARD-PARTITIONED into clusters (a seeded hyperplane signature "
    "standing in for the paper's k-means codebook), pairwise cosine "
    "runs WITHIN a cluster only. Round 10: the gated plan now runs "
    "the SIZED path — the plane count comes from "
    "operators/similarity.py::semantic_dedup_planes(count), which "
    "sizes 2^planes cells to ~n/125 so within-cluster pairwise work "
    "sum(cluster^2) ~ n*125 stays LINEAR in n (the round-9 sf1 probe "
    "measured x71 on x10 data at the old fixed k=16 vs x6.4 sized). "
    "The oracle derives the SAME plane count from COUNT(*) with the "
    "identical clamp formula and gates each embedded plane literal "
    "by its index, so both engines compute identical cells at any "
    "SF — at sf0.01/sf0.1 the sized k collapses to the lo-clamp 4; "
    "at sf1 (20k vectors) it is 8, and the sf1 oracle gate exercises "
    "that branch for real. Pairs above the semantic threshold are "
    "linked by min-label propagation and one canonical member (min "
    "id) survives per group. Cross-cluster near-dups are missed BY "
    "DESIGN (the paper's tradeoff: at production thresholds ~0.95 "
    "true dups co-cluster almost surely)",
    tags=("dedup", "semantic", "embedding", "cluster"),
)
def dd12_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_spark.operators.cluster import connected_components
    from cdc_spark.operators.similarity import semantic_dedup_planes

    emb = load_table(spark, sf_dir, "embeddings")
    # one cheap count job sizes the partition to the corpus: 2^planes
    # cells ~ n/125 keeps the within-cell pairwise term linear in n
    planes = semantic_dedup_planes(emb.count())
    pairs = embedding_near_dup_pairs_lsh(
        emb,
        "embedding",
        "vec_id",
        dim=_EMB_DIM,
        threshold=0.45,
        n_tables=1,
        n_planes=planes,
    )
    labels = connected_components(pairs.select("id_a", "id_b"))
    return labels.groupBy(F.col("cluster_id")).agg(
        F.count("*").alias("n_members"),
        (F.count("*") - F.lit(1)).alias("n_dropped"),
    )


@register(
    "dd13_incremental_dedup",
    oracle="""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    newb AS (
        SELECT doc_id + 1000000 AS doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN text || ' zzzfresh' ELSE text END AS text
        FROM documents WHERE doc_id % 50 = 0
    )
    SELECT 'dup' AS route,
           CAST((SELECT COUNT(*) FROM newb
                 WHERE text IN (SELECT text FROM corpus)) AS BIGINT) AS n
    UNION ALL
    SELECT 'new',
           CAST((SELECT COUNT(*) FROM newb
                 WHERE text NOT IN (SELECT text FROM corpus)) AS BIGINT)
    UNION ALL
    SELECT 'state_after',
           CAST((SELECT COUNT(DISTINCT text) FROM
                 (SELECT text FROM corpus
                  UNION ALL SELECT text FROM newb)) AS BIGINT)
    """,
    note="CONTINUOUS corpus dedup — the daily-crawl shape: the corpus "
    "fingerprint set lives in a BucketedStateTable keyed by content "
    "hash; an incoming batch probes ONLY the buckets its own hashes "
    "fall into (read_buckets — asserted to open a strict subset), so "
    "membership checking is O(new batch), never a rescan of the "
    "100 TB corpus; survivors merge back into the same state, ready "
    "for the next batch. Routes + resulting state size gated "
    "against set-semantics SQL",
    tags=("dedup", "incremental", "state"),
)
def dd13_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from cdc_spark.streaming.state import BucketedStateTable, local_fs_path

    docs = load_table(spark, sf_dir, "documents")
    # 64 buckets: plenty to prove pruning (the probe batch hashes into
    # ≤ its own row count of buckets); production sizes this to
    # tens-of-GB buckets exactly like the CDC row state.
    n_buckets = 64
    state = BucketedStateTable(
        spark,
        tempfile.mkdtemp(prefix="dd13_state_"),
        ["content_hash"],
        n_buckets=n_buckets,
    )
    seed = docs.select(
        F.sha2(F.col("text"), 256).alias("content_hash"),
        F.col("doc_id").alias("keeper_id"),
    ).groupBy("content_hash").agg(F.min("keeper_id").alias("keeper_id"))
    # bootstrap: the grouped seed already IS the state (one row per
    # key, every op an insert), so it is written as is, with no merge,
    # into every bucket. Range-partitioned by bucket, each write task
    # holds one bucket and writes one narrow file: a membership table
    # is read-heavy, and every pruned probe then opens one file per
    # touched bucket instead of every file of the corpus state.
    state.overwrite_buckets(
        seed.repartitionByRange(n_buckets, state._bucket_expr()),
        range(n_buckets),
    )

    newb = docs.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 3 == 0, F.concat("text", F.lit(" zzzfresh"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    hashes = newb.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("content_hash")
    ).localCheckpoint(eager=True)  # reused for probe, routes and merge

    # bucket-pruned membership probe: open only the buckets this
    # batch's hashes fall into — O(batch), never O(corpus). The batch
    # row count rides the same bounded 1-row job (round 13: it was a
    # separate count() action later).
    probe_info = (
        hashes.select(
            "*",
            F.pmod(F.xxhash64("content_hash"), F.lit(n_buckets)).alias("b"),
        )
        .agg(F.collect_set("b").alias("bs"), F.count("*").alias("n"))
        .first()
    )
    touched = sorted(probe_info["bs"])
    batch_n = probe_info["n"]
    # The O(batch) claim is the file SELECTION, not universal partial
    # coverage — a large-enough probe batch legitimately hashes into
    # every bucket (seen at sf1: 1000 doc hashes over 64 buckets; the
    # dd14 lesson, round 7). So the scale-invariant assert is
    # mechanism-level: every file the pruned read opens is listed
    # under a touched bucket, and a probe that misses some bucket
    # leaves some file of the state unopened.
    prior = state.read_buckets(touched)
    man = state._manifest()
    listed = {
        os.path.join(state.path, rel)
        for b in touched
        for rel in man["buckets"].get(str(b), ())
    }
    opened = {local_fs_path(p) for p in prior.inputFiles()}
    if not opened <= listed or (
        len(touched) < n_buckets and len(opened) >= len(man["files"])
    ):
        raise AssertionError(
            f"bucket-pruned read of {len(touched)}/{n_buckets} buckets "
            f"opened {len(opened)}/{len(man['files'])} files, "
            f"{len(opened - listed)} unlisted"
        )
    # ONE anti-join against the pruned prior state (bounded by the
    # batch): the 'new' count, the dup complement and the merge
    # changes all derive from this checkpointed frame — previously the
    # join ran three times (semi-join count, apply's touched-bucket
    # scan, apply's bucket write), re-opening the prior buckets each
    # time. Every hashes row either matches prior or not, so
    # dup = batch - new exactly, duplicates included.
    fresh = hashes.join(prior, "content_hash", "left_anti").localCheckpoint(
        eager=True
    )
    new_n = fresh.count()
    dup_n = batch_n - new_n
    fresh_changes = fresh.groupBy("content_hash").agg(
        F.min("doc_id").alias("keeper_id")
    ).select(
        F.lit("c").alias("op"),
        F.col("keeper_id").alias("lsn"),
        "content_hash",
        "keeper_id",
    )
    # insert_only: every fresh key was just anti-joined against the
    # pruned prior state, so the apply APPENDS one delta file per
    # touched bucket instead of reading + rewriting ~50/64 bucket
    # contents (round 14 — written bytes O(batch), not O(buckets);
    # at tens-of-GB production buckets the difference between
    # appending megabytes and rewriting terabytes per probe batch)
    state.apply(fresh_changes, ["keeper_id"], insert_only=True)

    rows = [
        ("dup", dup_n),
        ("new", new_n),
        # manifest count: the committed version's exact size without
        # re-scanning the state (state.row_count docstring has the
        # equivalence argument)
        ("state_after", state.row_count()),
    ]
    return spark.createDataFrame(rows, "route string, n long")


def _incremental_neardup_oracle(
    *,
    num_hashes: int = 32,
    seed: int = 7,
    bands: int = 8,
    rows_per_band: int = 4,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of dd14: portable minhash signatures for corpus AND
    probe batch, banded collision join, per-pair signature-component
    match estimate — the whole incremental index probe recomputed."""
    params = _minhash_params(num_hashes, seed)
    p = _MERSENNE
    mins = ",\n               ".join(
        f"MIN((h * {a} + {b}) % {p}) AS m{j}"
        for j, (a, b) in enumerate(params)
    )
    band_rows = "\n        UNION ALL\n        ".join(
        f"SELECT side, doc_id, {b} AS band, "
        + " || ',' || ".join(
            f"m{b * rows_per_band + r}::VARCHAR"
            for r in range(rows_per_band)
        )
        + " AS bucket FROM sig"
        for b in range(bands)
    )
    match = " + ".join(
        f"(CASE WHEN ns.m{j} = cs.m{j} THEN 1 ELSE 0 END)"
        for j in range(num_hashes)
    )
    return f"""
    WITH alld AS (
        SELECT 'c' AS side, doc_id, text FROM documents
        UNION ALL
        SELECT 'n', doc_id + 1000000,
               CASE WHEN doc_id % 3 = 0
                    THEN text || ' zzzfresh' ELSE text END
        FROM documents WHERE doc_id % 50 = 0
    ),
    toks AS (
        SELECT side, doc_id, string_split(text, ' ') AS l FROM alld
    ),
    shm AS (
        SELECT side, doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(l) - 2, 0)),
                   i -> array_to_string(l[i:i+2], ' '))) AS s
        FROM toks
    ),
    h AS (
        SELECT side, doc_id,
               {_PHASH60.format(s='s')} % {p} AS h FROM shm
    ),
    sig AS (
        SELECT side, doc_id,
               {mins}
        FROM h GROUP BY side, doc_id
    ),
    banded AS (
        {band_rows}
    ),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
        FROM banded n JOIN banded c
          ON n.band = c.band AND n.bucket = c.bucket
        WHERE n.side = 'n' AND c.side = 'c'
    )
    SELECT cand.new_id, cand.corpus_id,
           ROUND(({match}) / {num_hashes}.0, 4) AS est_jaccard
    FROM cand
    JOIN sig ns ON ns.side = 'n' AND ns.doc_id = cand.new_id
    JOIN sig cs ON cs.side = 'c' AND cs.doc_id = cand.corpus_id
    WHERE ({match}) / {num_hashes}.0 >= {threshold}
    """


@register(
    "dd14_incremental_neardup",
    oracle=_incremental_neardup_oracle(),
    note="CONTINUOUS near-dup dedup — dd13's exact twin generalized "
    "to MinHash: the corpus's banded signature index persists as "
    "parquet PARTITIONED by a band-bucket hash; an incoming batch "
    "probes only the partitions its own band buckets fall into "
    "(PartitionFilters prune at planning time — asserted a strict "
    "subset), candidates estimate Jaccard from matching signature "
    "components (no shingle re-join against the corpus AT ALL). "
    "Oracle recomputes signatures, banding, collisions and the "
    "estimate bit-for-bit via the portable md5 shingle hash",
    tags=("dedup", "incremental", "minhash", "index"),
)
def dd14_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    bands, rpb, nh = 8, 4, 32
    n_parts = 64
    docs = load_table(spark, sf_dir, "documents")

    def banded(sigs, idc):
        def band_key(b):
            return F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("sig"), b * rpb + 1, rpb),
                    lambda x: x.cast("string"),
                ),
            )

        return sigs.select(
            F.col(idc),
            "sig",
            F.posexplode(
                F.array(*[band_key(b) for b in range(bands)])
            ).alias("band", "bucket"),
        ).withColumn(
            "__b",
            F.pmod(
                F.xxhash64(F.concat_ws("|", F.col("band"), F.col("bucket"))),
                F.lit(n_parts),
            ),
        )

    corpus_sigs = minhash_signature(
        docs, "text", "doc_id", num_hashes=nh, portable=True
    )
    index_dir = tempfile.mkdtemp(prefix="dd14_index_")
    banded(corpus_sigs, "doc_id").write.partitionBy("__b").mode(
        "overwrite"
    ).parquet(index_dir)

    newb = docs.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 3 == 0, F.concat("text", F.lit(" zzzfresh"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    probe = banded(
        minhash_signature(
            newb, "text", "doc_id", num_hashes=nh, portable=True
        ),
        "doc_id",
    ).localCheckpoint(eager=True)

    wanted = sorted(
        r[0] for r in probe.select("__b").distinct().collect()
    )
    idx = spark.read.parquet(index_dir).where(
        F.col("__b").isin([int(b) for b in wanted])
    )
    # the O(batch) claim is the partition FILTER, not universal partial
    # coverage — a batch whose band-buckets happen to hash into every
    # partition legitimately reads the whole index (seen at sf0.1:
    # ~800 bucket draws over 64 partitions). So the scale-invariant
    # assert is mechanism-level: the index scan must plan a __b
    # partition filter (planning-time pruning), and whenever the batch
    # leaves buckets untouched the filter keeps them unread.
    scan_plan = idx._jdf.queryExecution().executedPlan().toString()
    if "PartitionFilters" not in scan_plan:
        raise AssertionError("index scan has no PartitionFilters")
    pf = scan_plan.split("PartitionFilters", 1)[1]
    if "__b" not in pf[: pf.find("]") + 1]:
        raise AssertionError(
            "index scan's PartitionFilters does not prune on __b:\n"
            + pf[:300]
        )
    cand = (
        probe.alias("n")
        .join(
            idx.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("c.doc_id").alias("corpus_id"),
            F.col("n.sig").alias("ns"),
            F.col("c.sig").alias("cs"),
        )
        .dropDuplicates(["new_id", "corpus_id"])
    )
    est = (
        F.aggregate(
            F.zip_with(
                F.col("ns"),
                F.col("cs"),
                lambda a, b: (a == b).cast("int"),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(float(nh))
    )
    return (
        cand.select(
            "new_id",
            "corpus_id",
            F.round(est, 4).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= 0.5)
    )


def _fuzzy_decon_oracle(
    *,
    num_hashes: int = 32,
    seed: int = 7,
    bands: int = 8,
    rows_per_band: int = 4,
    min_match: int = 16,
) -> str:
    """DuckDB twin of the fuzzy decontamination pipeline: portable
    MinHash signatures, cross-set band join, and the signature-
    component match count (an exact integer) as the Jaccard
    estimator."""
    params = _minhash_params(num_hashes, seed)
    p = _MERSENNE
    mins = ",\n               ".join(
        f"MIN((h * {a} + {b}) % {p}) AS m{j}"
        for j, (a, b) in enumerate(params)
    )
    band_rows = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(
            f"m{b * rows_per_band + r}::VARCHAR"
            for r in range(rows_per_band)
        )
        + " AS bucket FROM sig"
        for b in range(bands)
    )
    match_terms = " + ".join(
        f"(CASE WHEN a.m{j} = b.m{j} THEN 1 ELSE 0 END)"
        for j in range(num_hashes)
    )
    return f"""
    WITH {_SHINGLE_CTES},
    h AS (
        SELECT doc_id, {_PHASH60.format(s='s')} % {p} AS h FROM shm
    ),
    sig AS (
        SELECT doc_id,
               {mins}
        FROM h GROUP BY doc_id
    ),
    banded AS (
        {band_rows}
    ),
    cand AS (
        SELECT DISTINCT t.doc_id AS id_a, pr.doc_id AS id_b
        FROM banded t JOIN banded pr
          ON t.band = pr.band AND t.bucket = pr.bucket
        WHERE t.doc_id % 17 <> 0 AND pr.doc_id % 17 = 0
    ),
    est AS (
        SELECT cand.id_a, cand.id_b, ({match_terms}) AS c
        FROM cand
        JOIN sig a ON cand.id_a = a.doc_id
        JOIN sig b ON cand.id_b = b.doc_id
    )
    SELECT id_a AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_contaminating,
           ROUND(MAX(c) / {num_hashes}.0, 4) AS max_est_jaccard
    FROM est WHERE c >= {min_match}
    GROUP BY id_a
    """


@register(
    "dd15_fuzzy_decontamination",
    oracle=_fuzzy_decon_oracle(),
    note="FUZZY benchmark decontamination (the GPT-3/Pile-style "
    "near-match variant of tx11's exact n-gram overlap): portable "
    "MinHash signatures for both splits, CROSS-set banded LSH "
    "(train x probe only — a self-join would pay for both sides' "
    "intra-set collisions), estimated Jaccard = signature-component "
    "match count (exact integer, no float estimator drift), train "
    "docs with >= 0.5 estimated overlap against any benchmark doc "
    "flagged. One signature pass + one band equi-join — "
    "O(collisions), never train x benchmark",
    tags=("dedup", "decontamination", "minhash", "lsh"),
)
def dd15_fuzzy_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_spark.operators.dedup import (
        lsh_cross_candidates,
        minhash_signature,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signature(
        docs, "text", "doc_id", k_shingle=3, num_hashes=32, portable=True
    )
    probe = sigs.where(F.col("doc_id") % 17 == 0)
    train = sigs.where(F.col("doc_id") % 17 != 0)
    cand = lsh_cross_candidates(
        train, probe, "doc_id", bands=8, rows_per_band=4, portable=True
    )
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sa"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sb"))
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(
                F.filter(
                    F.zip_with(
                        F.col("sa"), F.col("sb"), lambda x, y: x == y
                    ),
                    lambda v: v,
                )
            ).alias("c"),
        )
    )
    return (
        est.where(F.col("c") >= 16)
        .groupBy(F.col("id_a").alias("doc_id"))
        .agg(
            F.count("*").cast("long").alias("n_contaminating"),
            F.round(F.max("c") / 32.0, 4).alias("max_est_jaccard"),
        )
    )


@register(
    "dd16_quality_keeper_dedup",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT id_a AS a, id_b AS b FROM (
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS l FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(len(l) - 2, 0)),
                           i -> array_to_string(l[i:i+2], ' '))) AS s
                FROM toks
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            common AS (
                SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS c
                FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b
            FROM common
            JOIN sizes sa ON id_a = sa.doc_id
            JOIN sizes sb ON id_b = sb.doc_id
            WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
        )
        UNION
        SELECT b, a FROM e
    ),
    reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    ),
    members AS (
        SELECT n.a AS doc_id, LEAST(n.a, MIN(r.b)) AS cluster_id
        FROM (SELECT DISTINCT a FROM e) n
        LEFT JOIN reach r ON r.a = n.a
        GROUP BY n.a
    ),
    scored AS (
        SELECT m.doc_id, m.cluster_id,
               ROUND(least(len(string_split(d.text, ' ')) / 64.0, 1.0)
                     * (len(list_distinct(string_split(d.text, ' ')))
                        * 1.0 / len(string_split(d.text, ' ')))
                     * (length(regexp_replace(d.text, '[^a-zA-Z]', '',
                                              'g'))
                        * 1.0 / length(d.text)), 4) AS q
        FROM members m JOIN documents d ON m.doc_id = d.doc_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY cluster_id ORDER BY q DESC, doc_id
               ) AS rn
        FROM scored
    )
    SELECT cluster_id,
           CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
               AS keep_id,
           MAX(CASE WHEN rn = 1 THEN q END) AS keep_quality,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM ranked GROUP BY cluster_id
    """,
    note="keeper-policy dedup — what production dedup actually ships "
    "(keep the BEST copy, not the first): dd06's connected-component "
    "near-dup clusters, but the survivor per cluster is the "
    "highest-QUALITY member (dp05's engine-exact quality score, "
    "min-id tiebreak) instead of min-id. One quality join + one "
    "per-cluster rank window (frames bounded by cluster size); the "
    "oracle extends dd06's recursive closure with the same scoring "
    "and rank",
    tags=("dedup", "cluster", "quality", "keeper"),
)
def dd16_quality_keeper_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    from cdc_spark.operators.cluster import connected_components
    from cdc_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        docs, "text", "doc_id", k_shingle=3, threshold=0.8
    )
    members = connected_components(pairs.select("id_a", "id_b"))
    scored = members.join(
        docs.select(
            "doc_id", F.round(quality_score("text"), 4).alias("q")
        ),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("q"), F.asc("doc_id")
    )
    ranked = scored.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("cluster_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id")))
        .cast("long")
        .alias("keep_id"),
        F.max(F.when(F.col("rn") == 1, F.col("q"))).alias(
            "keep_quality"
        ),
        F.count("*").cast("long").alias("n_members"),
    )


def _minhash_accuracy_oracle(
    *,
    num_hashes: int = 32,
    seed: int = 7,
    bands: int = 8,
    rows_per_band: int = 4,
) -> str:
    """DuckDB twin of the estimator-accuracy harness: the dd03
    signature/banding CTEs, per-pair matching-component counts, and
    the exact Jaccard joined back — all integer/rational arithmetic
    up to the final rounded error."""
    from cdc_spark.queries.base import davg_sql

    params = _minhash_params(num_hashes, seed)
    p = _MERSENNE
    mins = ",\n               ".join(
        f"MIN((h * {a} + {b}) % {p}) AS m{j}"
        for j, (a, b) in enumerate(params)
    )
    band_rows = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || ',' || ".join(
            f"m{b * rows_per_band + r}::VARCHAR"
            for r in range(rows_per_band)
        )
        + " AS bucket FROM sig"
        for b in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END)"
        for j in range(num_hashes)
    )
    return f"""
    WITH {_SHINGLE_CTES},
    h AS (
        SELECT doc_id, {_PHASH60.format(s='s')} % {p} AS h FROM shm
    ),
    sig AS (
        SELECT doc_id, {mins}
        FROM h GROUP BY doc_id
    ),
    banded AS (
        {band_rows}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ),
    shd AS (SELECT DISTINCT doc_id, s FROM shm),
    shh AS (SELECT doc_id, {_PHASH60.format(s='s')} AS hs FROM shd),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM shh a JOIN shh b ON a.hs = b.hs AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT cand.id_a, cand.id_b,
               CAST({matches} AS BIGINT) AS m,
               ROUND(cm.c * 1.0 / (sa2.n + sb2.n - cm.c), 4) AS jac
        FROM cand
        JOIN common cm ON cm.id_a = cand.id_a AND cm.id_b = cand.id_b
        JOIN sizes sa2 ON cand.id_a = sa2.doc_id
        JOIN sizes sb2 ON cand.id_b = sb2.doc_id
        JOIN sig sa ON cand.id_a = sa.doc_id
        JOIN sig sb ON cand.id_b = sb.doc_id
    )
    SELECT CAST(LEAST((m * 10) // 32, 9) AS BIGINT) AS est_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {davg_sql('ROUND(ABS(m / 32.0 - jac), 4)')} AS mean_abs_err,
           CAST(MIN(m) AS BIGINT) AS min_match,
           CAST(MAX(m) AS BIGINT) AS max_match
    FROM pairs GROUP BY 1
    """


@register(
    "dd17_minhash_accuracy_eval",
    oracle=_minhash_accuracy_oracle(),
    note="estimator-accuracy harness for the near-dup stack (ss12's "
    "recall-eval idea applied to MinHash): for every LSH candidate "
    "pair with shingle overlap, the signature-component match "
    "fraction (the Jaccard ESTIMATE the banding decisions are based "
    "on) is compared to the exact shingle Jaccard, and mean absolute "
    "error reports per estimate decile — the number that tells an "
    "operator whether 32 hashes suffice before a 100 TB dedup run "
    "commits to thresholds. Matching counts and deciles are pure "
    "integers; the only float is the final decimal-summed error, so "
    "the whole harness hash-checks",
    tags=("dedup", "minhash", "evaluation"),
)
def dd17_minhash_accuracy_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_spark.queries.base import davg

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signature(
        docs, "text", "doc_id", k_shingle=3, num_hashes=32, portable=True
    )
    cands = lsh_candidate_pairs(
        sigs, "doc_id", bands=8, rows_per_band=4, portable=True
    ).localCheckpoint(eager=True)
    exact = jaccard_pairs(
        docs,
        "text",
        "doc_id",
        k_shingle=3,
        threshold=0.0,
        candidates=cands,
        hash_shingles=True,
    )
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    paired = (
        exact.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "m",
            F.aggregate(
                F.zip_with(
                    "sig_a",
                    "sig_b",
                    lambda x, y: F.when(x == y, 1).otherwise(0),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("long"),
        )
    )
    err = F.round(F.abs(F.col("m") / 32.0 - F.col("jaccard")), 4)
    return paired.groupBy(
        F.least(F.floor(F.col("m") * 10 / 32), F.lit(9).cast("long"))
        .cast("long")
        .alias("est_decile")
    ).agg(
        F.count("*").cast("long").alias("n_pairs"),
        davg(err).alias("mean_abs_err"),
        F.min("m").cast("long").alias("min_match"),
        F.max("m").cast("long").alias("max_match"),
    )


@register(
    "dd18_soft_dedup_weights",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT id_a AS a, id_b AS b FROM (
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS l FROM documents
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(len(l) - 2, 0)),
                           i -> array_to_string(l[i:i+2], ' '))) AS s
                FROM toks
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            common AS (
                SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS c
                FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b
            FROM common
            JOIN sizes sa ON id_a = sa.doc_id
            JOIN sizes sb ON id_b = sb.doc_id
            WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
        )
        UNION
        SELECT b, a FROM e
    ),
    reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    ),
    comp AS (
        SELECT n.a AS doc_id, LEAST(n.a, MIN(r.b)) AS cluster_id
        FROM (SELECT DISTINCT a FROM e) n
        LEFT JOIN reach r ON r.a = n.a
        GROUP BY n.a
    ),
    labeled AS (
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    csize AS (
        SELECT cluster_id, COUNT(*) AS cluster_size
        FROM labeled GROUP BY cluster_id
    )
    SELECT l.doc_id,
           l.cluster_id,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           ROUND(1.0 / s.cluster_size, 4) AS weight,
           CAST(l.n_tokens AS BIGINT) AS n_tokens
    FROM labeled l JOIN csize s USING (cluster_id)
    """,
    note="soft dedup by reweighting (the SoftDeDup alternative to "
    "dropping duplicates: keep every copy, downweight its training "
    "contribution by 1/cluster_size so a 100x-duplicated page "
    "contributes one page's gradient mass): dd06's connected "
    "components over the exact-Jaccard pair graph, singletons their "
    "own cluster, per-doc sampling weight attached. One left join + "
    "one cluster-size aggregate on top of the component labels; the "
    "oracle extends dd06's recursive transitive closure with the "
    "weight arithmetic",
    tags=("dedup", "cluster", "reweighting", "sampling"),
)
def dd18_soft_dedup_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cdc_spark.operators.cluster import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        docs, "text", "doc_id", k_shingle=3, threshold=0.8
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    labeled = (
        docs.select(
            "doc_id",
            F.size(F.split(F.col("text"), " "))
            .cast("long")
            .alias("n_tokens"),
        )
        .join(comp, "doc_id", "left")
        .withColumn(
            "cluster_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")),
        )
    )
    csize = labeled.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return labeled.join(csize, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 4).alias("weight"),
        "n_tokens",
    )


@register(
    "dd19_jaccard_threshold_curve",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(l) - 2, 0)),
                   i -> array_to_string(l[i:i+2], ' '))) AS s
        FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS c
        FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT ROUND(c * 1.0 / (sa.n + sb.n - c), 4) AS j
        FROM common
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
    )
    SELECT t.thr,
           CAST(COUNT(CASE WHEN j >= t.thr THEN 1 END) AS BIGINT)
               AS n_pairs
    FROM jac, (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)) AS t(thr)
    GROUP BY t.thr
    """,
    note="dedup threshold-tuning curve (ss22's sweep idea applied to "
    "near-dup): cumulative overlapping-pair counts at Jaccard >= "
    "0.5/0.6/0.7/0.8/0.9 — the number that tells an operator how "
    "much corpus a threshold choice removes BEFORE committing a "
    "100 TB dedup pass. One pair computation (bounded below by the "
    "0.5 floor), thresholds applied as conditional counts over a "
    "literal sweep — never five recomputations of the pair graph",
    tags=("dedup", "jaccard", "evaluation", "tuning"),
)
def dd19_jaccard_threshold_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        docs, "text", "doc_id", k_shingle=3, threshold=0.5
    ).localCheckpoint(eager=True)
    thr = F.explode(
        F.array(*[F.lit(t) for t in (0.5, 0.6, 0.7, 0.8, 0.9)])
    ).alias("thr")
    swept = pairs.select("jaccard", thr)
    return swept.groupBy("thr").agg(
        F.count(F.when(F.col("jaccard") >= F.col("thr"), 1))
        .cast("long")
        .alias("n_pairs")
    )
