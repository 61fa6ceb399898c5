"""IVF (inverted-file) ANN: k-means coarse quantizer + cluster probes.

The second ANN family beside hyperplane LSH (operators.similarity):
train a small k-means codebook (Lloyd iterations with deterministic
seeded init), assign every vector to its nearest centroid, and answer
queries by scanning only the ``n_probe`` closest clusters.

Scale story: the codebook is tiny (k ≤ a few thousand) and broadcast;
assignment is one scan; the corpus is stored partitioned by
``cluster`` so a probe prunes to n_probe partitions of ~N/k vectors.
Training iterates over the corpus but each iteration is a single
aggregation (per-cluster dimension sums) — no driver-side data loops
beyond the k×dim codebook itself.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_spark.operators.similarity import cosine_topk, dot


def _session_parallelism(df: DataFrame) -> int:
    """Repartition width for parallelizing heavy projections out of a
    narrow scan stage (same contract as similarity._shuffle_partitions:
    tolerate a non-integer conf, degrade to defaultParallelism, 32)."""
    raw = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    try:
        return int(raw)
    except (TypeError, ValueError):
        try:
            return int(df.sparkSession.sparkContext.defaultParallelism)
        except Exception:  # noqa: BLE001 — e.g. Connect: no sparkContext
            return 32


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to session parallelism — but only when
    the input is NARROWER than that (round 14, the dedup `_spread`
    A/B discipline applied here): at test scale every corpus is a
    one-row-group file, so the heavy quantizer projections fuse into a
    1-task scan and the shuffle pays for itself; at 100 TB the scan is
    already thousands of splits wide and an unconditional repartition
    would add a full extra shuffle of raw embedding rows for nothing.

    The width estimate comes from LOGICAL-plan statistics (file-size
    sum for scans) divided by ``maxPartitionBytes`` — a driver-only
    lookup that runs no job and costs only the plan analysis the build
    pays anyway. NOT ``df.rdd.getNumPartitions()``: under AQE that
    call compiles the Python RDD pipeline (~1.3 s of driver time,
    measured) and can execute shuffle stages outright."""
    n = _session_parallelism(df)
    try:
        jdf = df._jdf
    except AttributeError:  # e.g. Connect: no _jdf surface
        return df.repartition(n)
    size = int(jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    # the session conf's own byte reader: takes unit suffixes ("128m")
    # as the scan planner does, not only a bare byte count
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    if size >= n * conf.filesMaxPartitionBytes():
        return df  # already ≥ parallelism splits wide
    return df.repartition(n)


def _quote_ident(name: str) -> str:
    """Backtick-quote a column name for interpolation into SQL text
    (doubling embedded backticks, the Spark escape)."""
    return "`" + name.replace("`", "``") + "`"


def _nearest_centroid(emb: Column, centroids: list[list[float]]) -> Column:
    """Index of the max-dot-product centroid (unit vectors ⇒ cosine).

    Argmax via an array of dots + array_position: linear-size
    expression (a chained when() argmax would embed each prior tree
    twice per step — exponential blowup). ``array_position`` returns
    the FIRST max, so ties break to the lowest centroid index — the
    same tiebreak the SQL oracles' ``ORDER BY d DESC, cid`` encodes."""
    dots = F.array(
        *[dot(emb, F.array(*[F.lit(x) for x in c])) for c in centroids]
    )
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def quantize_vec(vec: Sequence[float], scale: int) -> list[int]:
    """Element-wise half-up integer quantization,
    ``floor(x * scale + 0.5)``: the same arithmetic in Spark, DuckDB and
    Python, so every engine derives the SAME integers — the trick that
    makes the IVF coarse quantizer hash-checkable."""
    import math

    return [int(math.floor(float(x) * scale + 0.5)) for x in vec]


def deterministic_codebook(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    *,
    k: int = 16,
    scale: int = 64,
) -> list[list[int]]:
    """Seeded deterministic coarse quantizer: the first ``k`` corpus
    vectors by id, integer-quantized at ``scale``.

    Any deterministic partitioner is a valid IVF coarse quantizer
    (recall vs exact is measured separately); this one is chosen so
    assignment = argmax of an INTEGER dot product — exact in every
    engine regardless of summation order (sums ≪ 2⁵³), which lets a
    SQL oracle recompute assignment AND probe pruning bit-for-bit.
    The k-means trainer (:func:`train_codebook`) stays for workloads
    that want learned centroids; its float iterations are the reason
    it cannot be oracle-hashed."""
    rows = (
        df.orderBy(id_col).limit(k).select(embedding_col).collect()
    )
    if not rows:
        raise ValueError("cannot build a codebook on an empty corpus")
    return [quantize_vec(r[0], scale) for r in rows]


def ivf_sized_nlist(n_rows: int, *, lo: int = 16, hi: int = 4096) -> int:
    """Corpus-sized coarse-cluster count: nlist ≈ sqrt(n) rounded up
    to a power of two, clamped to [lo, hi] — the standard IVF sizing
    (FAISS guideline nlist ~ sqrt(n)). With nlist fixed, a probe
    scans n_probe·n/nlist rows — LINEAR in corpus size; sized, the
    per-probe scan is n_probe·sqrt(n). The formula is
    ``2^ceil(log2(sqrt(n)))`` so a SQL oracle recomputes it exactly:
    sqrt and the power are correctly-rounded in every engine, and
    log2 can only sit at an integer (the one ulp-sensitive spot) when
    n is an exact power of 4 — where both sqrt and log2 are exact
    (pinned against DuckDB in tests/test_similarity.py)."""
    import math

    if n_rows <= lo * lo:
        return lo
    return max(lo, min(hi, 1 << math.ceil(math.log2(math.sqrt(n_rows)))))


def _int_dot(vec: Sequence[int], centroid: Sequence[int]) -> int:
    return sum(int(x) * int(y) for x, y in zip(vec, centroid))


def probe_order(
    query_vec: Sequence[float],
    centroids: list[list[int]],
    *,
    scale: int,
) -> list[int]:
    """Centroid ids by descending integer dot with the quantized
    query, ties to the lowest id — exact, so the probe SET matches the
    oracle's ``ORDER BY d DESC, cid`` exactly."""
    qq = quantize_vec(query_vec, scale)
    return sorted(
        range(len(centroids)),
        key=lambda i: (-_int_dot(qq, centroids[i]), i),
    )


def train_codebook(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    *,
    k: int = 16,
    iterations: int = 3,
) -> list[list[float]]:
    """Lloyd's k-means with deterministic init (first k vectors by id).

    Each iteration: assign (scan with broadcast codebook) → new
    centroids via per-cluster per-dimension means (posexplode +
    groupBy — one shuffle of k×dim partials). Centroids are
    L2-normalized so dot == cosine for unit-vector corpora.
    """
    import math

    init = (
        df.orderBy(id_col)
        .limit(k)
        .select(embedding_col)
        .collect()
    )
    centroids = [[float(x) for x in r[0]] for r in init]
    if not centroids:
        raise ValueError("cannot train a codebook on an empty corpus")
    # corpora smaller than k: train with what exists (k clamps down)
    k = len(centroids)

    for _ in range(iterations):
        # assign first, explode after — the cluster id is computed once
        # per row, not once per exploded dimension
        assigned = df.select(
            _nearest_centroid(F.col(embedding_col), centroids).alias("__c"),
            F.col(embedding_col).alias("__e"),
        ).select("__c", F.posexplode("__e").alias("__d", "__v"))
        sums = (
            assigned.groupBy("__c", "__d")
            .agg(F.sum("__v").alias("__s"), F.count("*").alias("__n"))
            .collect()
        )
        dim = len(centroids[0])
        acc: dict[int, list[float]] = {}
        cnt: dict[int, int] = {}
        for row in sums:
            acc.setdefault(row["__c"], [0.0] * dim)[row["__d"]] = row["__s"]
            cnt[row["__c"]] = row["__n"]
        new = []
        for i in range(k):
            if i in acc and cnt[i] > 0:
                v = [x / cnt[i] for x in acc[i]]
                n = math.sqrt(sum(x * x for x in v)) or 1.0
                new.append([x / n for x in v])
            else:
                new.append(centroids[i])  # empty cluster keeps its seed
        centroids = new
    return centroids


def ivf_assign(
    df: DataFrame,
    embedding_col: str,
    centroids: list[list[float]] | list[list[int]],
    *,
    cluster_col: str = "cluster",
    scale: int | None = None,
    method: str = "hof",
) -> DataFrame:
    """Attach the coarse-quantizer cluster id (at scale: write the
    corpus partitioned by this column). With ``scale`` set the
    centroids are integer codes and the argmax runs over the
    integer-quantized embedding — exact, hash-checkable assignment.

    The quantized path hands the WHOLE argmax to the JVM parser as one
    SQL string: composing k×dim ``F.lit`` trees costs ~0.6 s of py4j
    round trips per plan build (measured on the ss17 build — pure
    driver overhead, paid on every query that assigns). Execution
    keeps the aggregate/zip_with HOF form deliberately: flat
    per-centroid double polynomials were tried and blow the JVM 64 KB
    codegen budget once Catalyst fuses assignment with ``pq_encode``'s
    stage in the IVF-PQ build (4 `Failed to compile` regressions),
    while HOF expressions evaluate outside that budget. Same integer
    arithmetic, same first-max tiebreak — bit-identical output.

    ``method``: the HOF form is INTERPRETED expression evaluation —
    O(n·k·dim) at ~an op per element — which is fine at k=16 but
    dominates the build once ``ivf_sized_nlist`` grows k with the
    corpus (measured: 20k vectors × 256 centroids ≈ 40 s). ``'arrow'``
    runs the same integer argmax as ONE numpy int64 matmul per Arrow
    batch (exact — int64 products bounded far below 2⁶³; numpy argmax
    picks the first max, the same tiebreak), ~two orders of magnitude
    faster at large k — but it puts pandas/pyarrow/numpy on the
    executors, so it is OPT-IN: the default ``'hof'`` keeps the plan
    pure-JVM (the module's standing contract; IvfIndex/IvfPqIndex
    build on it), and sized-nlist callers that accept the worker
    dependency pass ``method='arrow'`` explicitly (ss24/ss25, the
    bench serving path). ``'auto'`` picks arrow when the quantized
    path has ≥ 64 centroids, HOF otherwise."""
    if not centroids:
        raise ValueError("ivf_assign needs at least one centroid")
    if method not in ("auto", "hof", "arrow"):
        raise ValueError(f"method must be auto|hof|arrow, got {method!r}")
    if method == "arrow" and scale is None:
        raise ValueError(
            "method='arrow' requires scale: the numpy path runs the "
            "integer-quantized argmax (the float path stays JVM-side)"
        )
    if scale is not None and (
        method == "arrow" or (method == "auto" and len(centroids) >= 64)
    ):
        return _ivf_assign_arrow(
            df, embedding_col, centroids, cluster_col, int(scale)
        )
    if scale is None:
        return df.withColumn(
            cluster_col, _nearest_centroid(F.col(embedding_col), centroids)
        )
    # the column names are interpolated into SQL text — backtick-quote
    # so dotted/hyphenated/spaced names parse as one identifier, like
    # the Column-API path above handles them
    emb_q = _quote_ident(embedding_col)
    cells = ", ".join(
        "aggregate(zip_with(__ivq, array("
        + ", ".join(f"{int(x)}L" for x in c)
        + "), (x, y) -> x * y), 0L, (a, x) -> a + x)"
        for c in centroids
    )
    base = [_quote_ident(c) for c in df.columns]
    cur = df.selectExpr(
        *base,
        f"transform({emb_q}, x ->"
        f" floor(CAST(x AS DOUBLE) * {int(scale)} + 0.5)) AS __ivq",
    )
    cur = cur.selectExpr(*base, f"array({cells}) AS __ivd")
    return cur.selectExpr(
        *base,
        f"CAST(array_position(__ivd, array_max(__ivd)) - 1 AS INT)"
        f" AS {_quote_ident(cluster_col)}",
    )


def _ivf_assign_arrow(
    df: DataFrame,
    embedding_col: str,
    centroids: list[list[int]],
    cluster_col: str,
    scale: int,
) -> DataFrame:
    """Arrow-batched twin of the quantized HOF argmax: per batch,
    quantize (floor(x·scale + 0.5), the exact same half-up formula),
    one int64 matmul against the centroid matrix, argmax row-wise
    (numpy returns the FIRST max — the array_position tiebreak).
    Bit-identity with the HOF path is pinned in tests/test_ivf_cluster."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    cmat = np.array(centroids, dtype=np.int64).T  # dim × k
    # NB StructType.add mutates in place — never call it on df.schema
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(cluster_col, IntegerType(), False)]
    )
    cols = list(df.columns)

    def assign(batches):
        for pdf in batches:
            if len(pdf):
                emb = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[embedding_col]]
                )
                q = np.floor(emb * scale + 0.5).astype(np.int64)
                pdf = pdf.copy()
                pdf[cluster_col] = (q @ cmat).argmax(axis=1).astype("int32")
            else:
                pdf = pdf.copy()
                pdf[cluster_col] = np.array([], dtype="int32")
            yield pdf[cols + [cluster_col]]

    return df.mapInPandas(assign, out_schema)


def ivf_topk(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    query_vec: Sequence[float],
    centroids: list[list[float]] | list[list[int]],
    *,
    k: int = 10,
    n_probe: int = 4,
    round_digits: int = 4,
    scale: int | None = None,
    assign_method: str = "hof",
) -> DataFrame:
    """ANN top-k scanning only the n_probe nearest clusters.

    ``assign_method`` passes through to :func:`ivf_assign` — sized-
    nlist callers that accept the executor pandas dependency opt into
    ``'arrow'``; the default keeps the plan pure-JVM."""
    import math

    if scale is not None:
        probes = probe_order(query_vec, centroids, scale=scale)[:n_probe]
    else:

        def pdot(c):
            return math.fsum(x * y for x, y in zip(query_vec, c))

        order = sorted(
            range(len(centroids)), key=lambda i: -pdot(centroids[i])
        )
        probes = order[:n_probe]
    assigned = ivf_assign(
        df, embedding_col, centroids, scale=scale, method=assign_method
    )
    near = assigned.where(F.col("cluster").isin(probes))
    return cosine_topk(
        near, embedding_col, id_col, query_vec, k, round_digits=round_digits
    )


def pq_codebook(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    *,
    dim: int,
    m: int = 8,
    k: int = 16,
    scale: int = 64,
) -> list[list[list[int]]]:
    """Deterministic product-quantization codebook:
    ``codebook[s][j]`` = subspace ``s`` of the ``j``-th corpus vector
    by id, integer-quantized. Same rationale as
    :func:`deterministic_codebook`: every engine re-derives the exact
    integers, so PQ encoding AND ADC scoring are hash-checkable."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    rows = df.orderBy(id_col).limit(k).select(embedding_col).collect()
    if not rows:
        raise ValueError("cannot build a PQ codebook on an empty corpus")
    out = []
    for s in range(m):
        out.append(
            [
                quantize_vec(r[0][s * d_sub : (s + 1) * d_sub], scale)
                for r in rows
            ]
        )
    return out


def _sq_norm(v: Sequence[int]) -> int:
    return sum(int(x) * int(x) for x in v)


def pq_encode(
    df: DataFrame,
    embedding_col: str,
    codebook: list[list[list[int]]],
    *,
    scale: int = 64,
    code_prefix: str = "pq",
) -> DataFrame:
    """Attach one code column per subspace: ``argmin_j ||x_s - c_j||²``
    over the integer-quantized subvector.

    ``||x-c||² = x·x − 2·x·c + c·c`` and ``x·x`` is constant within a
    row's argmin, so each candidate's score is the INTEGER
    ``c·c − 2·x·c`` — exact in every engine; ties break to the lowest
    centroid id (``array_position`` first-max ↔ the oracle's ``ORDER
    BY dist, cid``). At scale the codes (m bytes) replace the float
    vector (4·dim bytes) in the scan: 16× compression at m=8, k=16.

    Precondition: embedding ELEMENTS are non-null. A missing/short
    embedding still fails loudly (``element_at`` errors on
    out-of-range indexes under ANSI), but a NULL element inside a
    full-length array quantizes to 0 (the subspace origin) via the
    codegen COALESCE below — callers encoding untrusted vectors must
    validate elements upstream (the repo's embedding tables are
    non-null by construction).
    """
    m = len(codebook)
    d_sub = len(codebook[0][0])
    base = list(df.columns)
    # Built as SQL STRINGS, not Column trees: composing the ~10k-node
    # scoring expression object-by-object costs ~5 s of py4j round
    # trips PER PLAN BUILD (measured; execution itself is <1 s at
    # sf0.1) — selectExpr strings hand each tree to the JVM parser in
    # one call. Two codegen-size rules keep the fused stage UNDER the
    # JVM's 64 KB processNext limit (pass-through projections all
    # inline there — per-operator consume splitting can't fire when
    # outputs are deferred single-use vars):
    # - scores are DOUBLE polynomials, not BIGINT: under ANSI mode
    #   every long *,+ expands to an overflow-checked MathUtils call
    #   with an error-context reference (~8 lines/term × m·k·d_sub
    #   terms blew the method); double arithmetic is one JIT-able op,
    #   and every operand is a small integer so doubles are EXACT —
    #   bit-identical scores, same argmin, oracle unchanged;
    # - quantized values are COALESCE'd non-nullable, so the k cells
    #   are straight-line arithmetic with no null-propagation
    #   branches. This trades NULL-element propagation for codegen
    #   flatness: element_at only errors on out-of-range INDEXES, so
    #   a NULL element maps to 0 — the documented docstring
    #   precondition, not a silent claim of null transparency.
    # Staged per subspace so each quantized slice is computed once
    # (the repeated __pqq references also feed common-subexpression
    # methods, which codegen splits out of processNext).
    cur = df
    for s in range(m):
        done = [f"{code_prefix}{t}" for t in range(s)]
        # 1) quantize this subspace's slice once,
        cur = cur.selectExpr(
            *base,
            *done,
            *[
                f"CAST(COALESCE(floor(CAST(element_at({embedding_col},"
                f" {s * d_sub + i + 1}) AS DOUBLE) * {scale} + 0.5), 0)"
                f" AS DOUBLE) AS __pqq{i}"
                for i in range(d_sub)
            ],
        )
        # 2) k-cell score array as flat double polynomials
        #    (codegen'd multiply-adds; no interpreted HOFs),
        cells = []
        for c in codebook[s]:
            terms = " + ".join(
                f"(__pqq{i} * {float(-2 * int(c[i]))!r}D)"
                for i in range(d_sub)
            )
            cells.append(f"({float(_sq_norm(c))!r}D + {terms})")
        cur = cur.selectExpr(
            *base,
            *done,
            f"array({', '.join(cells)}) AS __pqs",
        )
        # 3) argmin -> code (first max of array_position: lowest ties)
        cur = cur.selectExpr(
            *base,
            *done,
            f"CAST(array_position(__pqs, array_min(__pqs)) - 1"
            f" AS INT) AS {code_prefix}{s}",
        )
    return cur


def pq_adc_topk(
    df: DataFrame,
    embedding_col: str,
    id_col: str,
    query_vec: Sequence[float],
    codebook: list[list[list[int]]],
    *,
    k: int = 10,
    scale: int = 64,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (Jégou et al., public
    PQ literature): the query precomputes one m×k lookup table of
    exact integer subspace distances; every corpus row's approximate
    distance is m table lookups over its codes — no float math, no
    full-vector read. The compressed-domain scan is the 100 TB shape:
    codes are 8 bytes/vector and the LUT is broadcast as literals."""
    m = len(codebook)
    d_sub = len(codebook[0][0])
    qq = quantize_vec(query_vec, scale)
    luts = []
    for s in range(m):
        q_sub = qq[s * d_sub : (s + 1) * d_sub]
        luts.append(
            [
                _sq_norm([a - b for a, b in zip(q_sub, c)])
                for c in codebook[s]
            ]
        )
    coded = pq_encode(df, embedding_col, codebook, scale=scale)
    adc_sql = " + ".join(
        f"element_at(array({', '.join(str(v) for v in luts[s])}),"
        f" pq{s} + 1)"
        for s in range(m)
    )
    return (
        coded.selectExpr(
            id_col, f"CAST({adc_sql} AS BIGINT) AS adc_dist"
        )
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


class IvfIndex:
    """Persisted IVF index: the production shape of the ANN path.

    ``ivf_topk`` above re-assigns the whole corpus per query — fine
    for a one-shot batch job, wrong for a serving/index workload. The
    persisted index stores the corpus parquet **partitioned by
    cluster id** plus the codebook in a sidecar JSON, so a query
    reads ONLY the ``n_probe`` probed clusters' directories (true
    on-disk partition pruning: ~n_probe/k of the corpus bytes), and
    new vectors append to their cluster partitions without touching
    the rest. The codebook is k×dim floats — driver-held and
    broadcast by literal folding, never a join.
    """

    def __init__(self, spark, path: str):
        import json
        import os

        self.spark = spark
        self.path = path
        with open(os.path.join(path, "CODEBOOK.json")) as fh:
            meta = json.load(fh)
        self.centroids = meta["centroids"]
        self.embedding_col = meta["embedding_col"]
        self.id_col = meta["id_col"]
        self.scale = meta.get("scale")

    @classmethod
    def build(
        cls,
        spark,
        path: str,
        df: DataFrame,
        embedding_col: str,
        id_col: str,
        *,
        k: int = 16,
        iterations: int = 3,
        codebook: list[list[int]] | None = None,
        scale: int | None = None,
        assign_method: str = "hof",
    ) -> "IvfIndex":
        """Train (k-means) or adopt (``codebook`` + ``scale`` — the
        deterministic integer quantizer) a codebook, then write the
        corpus cluster-partitioned. ``assign_method='arrow'`` opts the
        one-off build into the numpy argmax (bit-identical; worth it
        once the sized nlist reaches hundreds of centroids) without
        changing the serving plan, which stays pure-JVM."""
        import json
        import os

        if codebook is not None:
            centroids: list = codebook
        else:
            centroids = train_codebook(
                df, embedding_col, id_col, k=k, iterations=iterations
            )
        # round-robin repartition first: the assignment projection is
        # otherwise fused into the (often 1-task) scan stage — see
        # IvfPqIndex.build
        assigned = ivf_assign(
            _spread(df),
            embedding_col,
            centroids,
            scale=scale,
            method=assign_method,
        )
        # one file per cluster partition at this scale; at real scale
        # the repartition keys on cluster and AQE sizes the files
        assigned.repartition(len(centroids), F.col("cluster")).write.partitionBy(
            "cluster"
        ).mode("overwrite").parquet(os.path.join(path, "corpus"))
        payload = json.dumps(
            {
                "centroids": centroids,
                "embedding_col": embedding_col,
                "id_col": id_col,
                "scale": scale,
            }
        )
        tmp = os.path.join(path, "CODEBOOK.json.tmp")
        with open(tmp, "w") as fh:
            fh.write(payload)
        os.replace(tmp, os.path.join(path, "CODEBOOK.json"))
        return cls(spark, path)

    def add(self, df: DataFrame) -> None:
        """Incrementally index new vectors: assign against the frozen
        codebook, append to their cluster partitions only. (Codebook
        drift under sustained growth is handled by a rebuild, the
        standard IVF practice.)"""
        import os

        assigned = ivf_assign(
            df, self.embedding_col, self.centroids, scale=self.scale
        )
        assigned.write.partitionBy("cluster").mode("append").parquet(
            os.path.join(self.path, "corpus")
        )

    def corpus(self) -> DataFrame:
        import os

        return self.spark.read.parquet(os.path.join(self.path, "corpus"))

    def topk(
        self,
        query_vec: Sequence[float],
        *,
        k: int = 10,
        n_probe: int = 4,
        round_digits: int = 4,
    ) -> DataFrame:
        """ANN top-k over the probed clusters only. The cluster filter
        is a partition-column predicate — Spark prunes the untouched
        cluster directories at planning time (no file of an unprobed
        cluster is opened)."""
        import math

        if self.scale is not None:
            probes = probe_order(
                query_vec, self.centroids, scale=self.scale
            )[:n_probe]
        else:

            def pdot(c):
                return math.fsum(x * y for x, y in zip(query_vec, c))

            order = sorted(
                range(len(self.centroids)),
                key=lambda i: -pdot(self.centroids[i]),
            )
            probes = order[:n_probe]
        near = self.corpus().where(F.col("cluster").isin(probes))
        return cosine_topk(
            near,
            self.embedding_col,
            self.id_col,
            query_vec,
            k,
            round_digits=round_digits,
        )


class PqIndex:
    """Persisted PQ code index: the serving/storage shape of the
    compressed-domain scan.

    ``pq_adc_topk`` re-encodes the corpus per query; the index instead
    stores ONLY the m one-byte codes per vector (plus the id) — at
    m=8 over 64 float32 dims that is a 16x smaller scan — with the
    frozen integer codebook in a sidecar JSON. Queries never touch the
    embedding column at all: the ADC LUT folds over the code columns.
    New vectors encode against the frozen codebook and append
    (codebook drift handled by rebuild, the standard PQ practice —
    same contract as :class:`IvfIndex`). Pairs with IvfIndex at scale:
    cluster-partitioned directories of code files give IVF-PQ."""

    def __init__(self, spark, path: str):
        import json
        import os

        self.spark = spark
        self.path = path
        with open(os.path.join(path, "CODEBOOK.json")) as fh:
            meta = json.load(fh)
        self.codebook = meta["codebook"]
        self.embedding_col = meta["embedding_col"]
        self.id_col = meta["id_col"]
        self.scale = meta["scale"]

    @classmethod
    def build(
        cls,
        spark,
        path: str,
        df: DataFrame,
        embedding_col: str,
        id_col: str,
        *,
        codebook: list[list[list[int]]],
        scale: int = 64,
    ) -> "PqIndex":
        import json
        import os

        # round-robin repartition first: the PQ-encode projection is
        # otherwise fused into the (often 1-task) scan stage — see
        # IvfPqIndex.build
        coded = pq_encode(
            _spread(df),
            embedding_col,
            codebook,
            scale=scale,
        )
        m = len(codebook)
        coded.select(id_col, *[f"pq{s}" for s in range(m)]).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "codes"))
        payload = json.dumps(
            {
                "codebook": codebook,
                "embedding_col": embedding_col,
                "id_col": id_col,
                "scale": scale,
            }
        )
        tmp = os.path.join(path, "CODEBOOK.json.tmp")
        with open(tmp, "w") as fh:
            fh.write(payload)
        os.replace(tmp, os.path.join(path, "CODEBOOK.json"))
        return cls(spark, path)

    def add(self, df: DataFrame) -> None:
        """Encode new vectors against the FROZEN codebook, append
        their codes — O(batch), the existing code files are never
        rewritten or read."""
        import os

        coded = pq_encode(
            df, self.embedding_col, self.codebook, scale=self.scale
        )
        m = len(self.codebook)
        coded.select(
            self.id_col, *[f"pq{s}" for s in range(m)]
        ).write.mode("append").parquet(os.path.join(self.path, "codes"))

    def codes(self) -> DataFrame:
        import os

        return self.spark.read.parquet(os.path.join(self.path, "codes"))

    def topk(self, query_vec: Sequence[float], *, k: int = 10) -> DataFrame:
        """ADC top-k over the code table alone — the scan reads
        m+1 small integer columns, never an embedding byte."""
        m = len(self.codebook)
        d_sub = len(self.codebook[0][0])
        qq = quantize_vec(query_vec, self.scale)
        adc_sql = " + ".join(
            "element_at(array({}), pq{} + 1)".format(
                ", ".join(
                    str(
                        _sq_norm(
                            [
                                a - b
                                for a, b in zip(
                                    qq[s * d_sub : (s + 1) * d_sub], c
                                )
                            ]
                        )
                    )
                    for c in self.codebook[s]
                ),
                s,
            )
            for s in range(m)
        )
        return (
            self.codes()
            .selectExpr(
                self.id_col, f"CAST({adc_sql} AS BIGINT) AS adc_dist"
            )
            .orderBy(F.asc("adc_dist"), F.asc(self.id_col))
            .limit(k)
        )


class IvfPqIndex:
    """IVF-PQ: the combined production ANN layout (the public FAISS
    IVFPQ shape re-expressed as a lake layout).

    Codes parquet is PARTITIONED BY the coarse cluster id: a probe
    prunes to ``n_probe`` cluster DIRECTORIES at planning time (the
    IvfIndex property) and inside them scans only id + m one-byte
    codes (the PqIndex property) — ~(n_probe/k) x (1/16) of the
    corpus bytes. Both quantizers are the deterministic integer
    kind, so the full path (coarse assignment, partition pruning, PQ
    encoding, ADC ranking) is recomputable by a SQL oracle."""

    def __init__(self, spark, path: str):
        import json
        import os

        self.spark = spark
        self.path = path
        with open(os.path.join(path, "INDEX.json")) as fh:
            meta = json.load(fh)
        self.coarse = meta["coarse"]
        self.codebook = meta["codebook"]
        self.embedding_col = meta["embedding_col"]
        self.id_col = meta["id_col"]
        self.scale = meta["scale"]
        self.meta_cols = tuple(meta.get("meta_cols", ()))

    @classmethod
    def build(
        cls,
        spark,
        path: str,
        df: DataFrame,
        embedding_col: str,
        id_col: str,
        *,
        coarse: list[list[int]],
        codebook: list[list[list[int]]],
        scale: int = 64,
        meta_cols: Sequence[str] = (),
    ) -> "IvfPqIndex":
        """``meta_cols`` are filterable attributes carried INTO the
        code files (label, language, license tier …): a filtered probe
        then applies its predicate inside the pruned code scan —
        filtered ANN without ever touching the embedding table."""
        import json
        import os

        # round-robin repartition BEFORE the quantizers: coarse
        # assignment + PQ encoding are heavy per-row projections that
        # codegen fuses into the SCAN stage, whose width is the
        # file-split count (1 task for a one-row-group corpus file) —
        # the round-12 parallel-banding lesson applied to the index
        # build. One cheap shuffle of raw rows; the by-cluster
        # repartition below still lays out one file per cluster.
        assigned = ivf_assign(
            _spread(df),
            embedding_col,
            coarse,
            scale=scale,
        )
        coded = pq_encode(assigned, embedding_col, codebook, scale=scale)
        m = len(codebook)
        (
            coded.select(
                id_col,
                "cluster",
                *meta_cols,
                *[f"pq{s}" for s in range(m)],
            )
            .repartition(len(coarse), F.col("cluster"))
            .write.partitionBy("cluster")
            .mode("overwrite")
            .parquet(os.path.join(path, "codes"))
        )
        payload = json.dumps(
            {
                "coarse": coarse,
                "codebook": codebook,
                "embedding_col": embedding_col,
                "id_col": id_col,
                "scale": scale,
                "meta_cols": list(meta_cols),
            }
        )
        tmp = os.path.join(path, "INDEX.json.tmp")
        with open(tmp, "w") as fh:
            fh.write(payload)
        os.replace(tmp, os.path.join(path, "INDEX.json"))
        return cls(spark, path)

    def add(self, df: DataFrame) -> None:
        """Incrementally index new vectors: coarse-assign + PQ-encode
        against the FROZEN quantizers, append into their cluster
        partitions only — O(batch), untouched cluster directories are
        never read or rewritten (the IvfIndex/PqIndex contract
        combined)."""
        import os

        assigned = ivf_assign(
            df, self.embedding_col, self.coarse, scale=self.scale
        )
        coded = pq_encode(
            assigned, self.embedding_col, self.codebook, scale=self.scale
        )
        m = len(self.codebook)
        coded.select(
            self.id_col,
            "cluster",
            *self.meta_cols,
            *[f"pq{s}" for s in range(m)],
        ).write.partitionBy("cluster").mode("append").parquet(
            os.path.join(self.path, "codes")
        )

    def topk(
        self,
        query_vec: Sequence[float],
        *,
        k: int = 10,
        n_probe: int = 4,
        where: Column | None = None,
    ) -> DataFrame:
        """``where`` (over carried ``meta_cols``) runs INSIDE the
        pruned code scan — the filtered-ANN serving shape: predicate
        and ADC ranking both touch only id+meta+codes of n_probe
        cluster directories."""
        import os

        probes = probe_order(query_vec, self.coarse, scale=self.scale)[
            :n_probe
        ]
        m = len(self.codebook)
        d_sub = len(self.codebook[0][0])
        qq = quantize_vec(query_vec, self.scale)
        adc_sql = " + ".join(
            "element_at(array({}), pq{} + 1)".format(
                ", ".join(
                    str(
                        _sq_norm(
                            [
                                a - b
                                for a, b in zip(
                                    qq[s * d_sub : (s + 1) * d_sub], c
                                )
                            ]
                        )
                    )
                    for c in self.codebook[s]
                ),
                s,
            )
            for s in range(m)
        )
        codes = self.spark.read.parquet(
            os.path.join(self.path, "codes")
        )
        pruned = codes.where(F.col("cluster").isin(probes))
        if where is not None:
            pruned = pruned.where(where)
        return (
            pruned.selectExpr(
                self.id_col, f"CAST({adc_sql} AS BIGINT) AS adc_dist"
            )
            .orderBy(F.asc("adc_dist"), F.asc(self.id_col))
            .limit(k)
        )
