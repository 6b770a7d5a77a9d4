"""Similarity search over embedding columns (array<float>).

Three tiers, trading recall for scan cost:

1. brute_force_topk — exact cosine top-k. The query side is broadcast
   (queries are small); the corpus scan stays partitioned, each task
   scores its slice, and only per-query candidates shuffle for the
   final top-k. Baseline for recall evaluation.
2. lsh_bucket_topk — random-hyperplane (SimHash-for-vectors) bucketing:
   corpus and queries hash to sign-pattern buckets; only same-bucket
   pairs are scored. Sub-linear scan at the cost of recall; multi-probe
   (flipping the lowest-margin bits) recovers most of it.
3. mllib_brp_topk — the built-in BucketedRandomProjectionLSH
   (Euclidean) via approxSimilarityJoin, for parity with stock MLlib
   pipelines.

All cosine math is built-in higher-order functions in doubles —
JVM-codegen, deterministic, bit-identical to the DuckDB oracle
(verified: aggregate(zip_with) ≡ list_dot_product).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from steel_energy_consumption_prediction_using_pyspark_spark.operators.arrow import (
    fixed_width_f64,
    seq_dot,
)
from steel_energy_consumption_prediction_using_pyspark_spark.workload.util import (
    KMEANS_HASH_A,
    KMEANS_HASH_M,
    KMEANS_ITERS,
    KMEANS_MAX_TRAIN,
    cosine,
    dot,
    generate_planes,
)


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query. Plan: broadcast nested-loop of the
    (small) query set against the partitioned corpus → PER-PARTITION
    local top-k pre-reduce (Arrow-batched mapInPandas, no shuffle) →
    global window top-k on (query, sim desc, id). Deterministic
    tiebreak on neighbor id.

    The pre-reduce is what makes the exact tier survive large query
    batches: without it the window shuffles |corpus|×|queries| score
    rows; with it each scan task emits at most k rows per query, so the
    shuffle moves ≤ k·|queries|·num_partitions rows regardless of
    corpus size. Keeping the top k per (query, partition) with the same
    (sim desc, id asc) order is lossless for the global top-k — every
    global winner is a partition-local winner. The LSH/IVF tiers below
    remain the designed path once a full corpus scan per batch is
    itself too expensive.
    """
    import pandas as pd

    q = queries.select(
        F.col(query_id_col).alias("_qid"), _as_double(F.col(vec_col)).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_cv")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col("_qid").alias(query_id_col),
        "neighbor_id",
        cosine(F.col("_qv"), F.col("_cv")).alias("cos_sim"),
    )

    def _reduce_topk(pdf):
        return (
            pdf.sort_values(
                [query_id_col, "cos_sim", "neighbor_id"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            .groupby(query_id_col, sort=False)
            .head(k)
        )

    def _local_topk(batches):
        # One partition = a stream of Arrow batches; the per-partition
        # top-k must span ALL of them. Fold incrementally — reduce each
        # batch to its per-query top-k, merge into a running buffer
        # re-reduced every step — so worker memory is bounded at
        # ~2·k·|queries| rows regardless of partition size (never the
        # whole partition's |rows|×|queries| score matrix at once).
        buf = None
        for b in batches:
            winners = _reduce_topk(b)
            buf = (
                winners
                if buf is None
                else _reduce_topk(pd.concat([buf, winners], ignore_index=True))
            )
        if buf is not None:
            yield buf

    scored = scored.mapInPandas(_local_topk, scored.schema)
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"), "rank")
    )


def hyperplane_bucket(
    vec: Column, dim: int, num_planes: int = 8, seed: int = 42
) -> Column:
    """Sign-pattern bucket id from `num_planes` seeded pseudo-random
    hyperplanes. Coefficients are generated ONCE driver-side
    (random.Random(seed) — deterministic across runs, machines and
    executors) and embedded as literal arrays, so per row only the
    dot products remain; deriving coefficients with per-row hash
    expressions would cost dim×planes hash evaluations per vector."""
    planes = generate_planes(dim, num_planes, seed)
    v = _as_double(vec)
    bucket = F.lit(0).cast("long")
    for p, coeffs in enumerate(planes):
        lit_plane = F.array(*[F.lit(c) for c in coeffs])
        proj = dot(v, lit_plane)
        bucket = bucket + F.when(
            proj > 0, F.shiftleft(F.lit(1).cast("long"), p)
        ).otherwise(F.lit(0))
    return bucket


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int = 64,
    num_planes: int = 6,
    seed: int = 42,
    multi_probe: bool = True,
    num_tables: int = 1,
) -> DataFrame:
    """ANN top-k: score only corpus vectors in the query's hyperplane
    bucket. One equi-join on the bucket id replaces the full cross
    product — at 1000 executors the corpus stays bucket-partitioned and
    each query touches |corpus|/2^planes vectors in expectation.

    multi_probe additionally probes every bucket at Hamming distance 1
    from the query's (flip each plane's bit): recall roughly doubles on
    weakly-clustered data for a (planes+1)× scan of the QUERY side only
    — the corpus side is still touched once per matching bucket.

    num_tables > 1 is the standard LSH recall knob (round 5, VERDICT
    r4 #2): `num_tables` independent hyperplane sets (table t seeded
    seed+t), each probed as above, with a true-miss only when EVERY
    table misses — recall 1−(1−r₁)^L for per-table recall r₁. Cost is
    the classic LSH trade: the corpus is hashed into L tables (an L×
    index, still one scan to build — posexplode rides the same pass)
    and candidates are deduplicated on (query, neighbor) before
    scoring so a pair found by several tables is scored once. The
    join stays a bucket equi-join on (table, bucket); nothing
    approaches all-pairs."""
    tables = list(range(num_tables))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("_cv"),
        F.posexplode(
            F.array(
                *[
                    hyperplane_bucket(F.col(vec_col), dim, num_planes, seed + t)
                    for t in tables
                ]
            )
        ).alias("_tbl", "_bkt"),
    )
    qbase = queries.select(
        F.col(query_id_col).alias("_qid"),
        _as_double(F.col(vec_col)).alias("_qv"),
        *[
            hyperplane_bucket(F.col(vec_col), dim, num_planes, seed + t).alias(
                f"_b{t}"
            )
            for t in tables
        ],
    )

    def _tbl_probes(t: int) -> list[Column]:
        b = F.col(f"_b{t}")
        if not multi_probe:
            return [b]
        return [b] + [
            b.bitwiseXOR(F.lit(1 << p).cast("long")) for p in range(num_planes)
        ]

    probe_structs = F.array(
        *[
            F.struct(F.lit(t).cast("int").alias("_tbl"), pb.alias("_bkt"))
            for t in tables
            for pb in _tbl_probes(t)
        ]
    )
    q = qbase.select(
        "_qid", "_qv", F.explode(probe_structs).alias("_pr")
    ).select(
        "_qid", "_qv", F.col("_pr._tbl").alias("_tbl"), F.col("_pr._bkt").alias("_bkt")
    )
    cand = c.join(F.broadcast(q), ["_tbl", "_bkt"]).select(
        "_qid", "neighbor_id", "_qv", "_cv"
    )
    if num_tables > 1:
        # A pair found by several tables must be scored exactly once
        # (duplicate rows would occupy several top-k ranks). Within ONE
        # table probes are distinct buckets and a corpus vector lives
        # in exactly one, so dedup is only needed across tables.
        cand = cand.distinct()
    scored = cand.select(
        F.col("_qid").alias(query_id_col),
        "neighbor_id",
        cosine(F.col("_qv"), F.col("_cv")).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"), "rank")
    )


class IvfIndex:
    """A built IVF index: the corpus assigned to inverted lists plus
    the trained centroids. Build once with :func:`ivf_build`, probe
    many times with :func:`ivf_probe` — quantizer training (the
    dominant cold cost) amortizes across query batches, which is how
    IVF is actually operated: at 100 TB the `assigned` table is
    written to parquet partitioned by `_list` and every later query
    batch becomes a pure partition-pruned scan."""

    def __init__(
        self,
        assigned: DataFrame,
        centroids_df: DataFrame,
        centroids: list[list[float]] | None = None,
    ):
        self.assigned = assigned          # (neighbor_id, _cv, _list)
        self.centroids_df = centroids_df  # (cid, cvec)
        # the trained centroid vectors as driver-side doubles (present
        # when built in-session; ivf_assign collects centroids_df —
        # 16 bounded rows — when absent, e.g. an index read from disk)
        self.centroids = centroids

    def unpersist(self) -> None:
        self.assigned.unpersist()


def kmeans_cosine_det(
    train: DataFrame,
    k: int = 16,
    iters: int = KMEANS_ITERS,
    dim: int = 64,
    code_col: str = "_q",
    id_col: str = "_tid",
) -> list[list[float]]:
    """Deterministic spherical k-means (Lloyd) over int8 code vectors —
    the engine-owned coarse quantizer that replaced MLlib KMeans so the
    whole IVF tier is value-reproducible in any engine (the round-3
    portable-hash doctrine applied to clustering):

    - init: the codes of the ``k`` lowest-id training vectors;
    - assign: argmax cosine(code, centroid), ties to the lowest cid —
      cosine is scale-invariant, so the per-vector quantization scale
      cancels and codes rank like the original vectors;
    - update: element-wise mean as exact int64 code sums / count.
      Integer sums are order-independent under any partitioning (no
      float accumulation), so the trained centroids are bit-identical
      across runs, partitionings, and engines;
    - empty clusters keep their previous centroid.

    The training set is BOUNDED by construction (ivf_build caps it at
    max(100k, KMEANS_MAX_TRAIN) rows — bounded metadata, not data), so
    since round 5 the codes are collected ONCE and Lloyd runs
    driver-side in numpy with bit-identical arithmetic: the cosine is
    :func:`_nearest_cosine` (dots folded by ``arrow.seq_dot``), and
    centroid updates are exact int64 element sums / count in Python
    true division, so moving WHERE the arithmetic runs changes no bit
    of the result (golden-checked against the former per-iteration
    Spark jobs at sf0.1). The former loop paid ~1 s/iteration planning
    the k×dim literal expression tree against ≤2000 rows of actual
    data."""
    import numpy as np

    rows = train.select(F.col(id_col).alias("_tid"), F.col(code_col).alias("_q")).collect()
    rows.sort(key=lambda r: r._tid)
    Qi = np.array([r._q for r in rows], dtype=np.int64)
    X = Qi.astype(np.float64)
    cents = [[float(v) for v in Qi[j]] for j in range(k)]
    for _ in range(iters):
        assign = _nearest_cosine(X, cents)
        for j in range(k):
            members = Qi[assign == j]
            if len(members):
                s = members.sum(axis=0, dtype=np.int64)
                cents[j] = [int(s[i]) / len(members) for i in range(dim)]
    return cents


def _nearest_cosine(X, cents):
    """Row-wise argmax cosine(x, c) over the centroids, ties to the
    lowest cid (np.argmax's first maximum = the struct-min tie rule).
    Both norms take the guarded 0 -> 1 rule (oracle: CASE WHEN nrm = 0
    THEN 1.0)."""
    import numpy as np

    C = np.asarray(cents, dtype=np.float64)
    nx = np.sqrt(seq_dot(X, X))
    nc = np.sqrt(seq_dot(C, C))
    nx[nx == 0.0] = 1.0
    nc[nc == 0.0] = 1.0
    return np.argmax(seq_dot(X[:, None], C) / (nx[:, None] * nc), axis=1)


def _assign_lists_arrow(
    df: DataFrame, centroids: list[list[float]], dim: int
) -> DataFrame:
    """(neighbor_id, _cv) → (neighbor_id, _cv, _list): argmax-cosine
    inverted-list assignment as an Arrow-batched numpy kernel — the
    round-9 replacement for the `negcos` argmax-cosine literal expression
    at the two assignment sites (ivf_build / ivf_assign).

    Why: higher-order functions (aggregate/zip_with) are interpreted
    per element, so the expression form costs O(k·dim) interpreted
    lambda evaluations per row plus a giant-tree analysis/codegen pass
    per action (measured at k=32, dim=64: ~1 s build + 1.3-4.4 s exec
    per action at sf0.1; the Arrow kernel is 0.1 s + 0.65 s with
    IDENTICAL assignments). The scores are :func:`_nearest_cosine`'s,
    bit-identical to the HOF fold and the DuckDB twin (the
    kmeans_cosine_det doctrine, applied to the corpus-assignment
    projection). Still map-only: one Arrow pass riding the corpus scan,
    no shuffle at any scale."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    cents = [[float(x) for x in cv] for cv in centroids]
    schema = StructType(
        [
            StructField("neighbor_id", LongType()),
            StructField("_cv", ArrayType(DoubleType())),
            StructField("_list", IntegerType()),
        ]
    )

    def _assign(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            cvs = b.column("_cv")
            lists = _nearest_cosine(fixed_width_f64(cvs, dim), cents)
            yield pa.RecordBatch.from_arrays(
                [b.column("neighbor_id"), cvs, pa.array(lists, pa.int32())],
                ["neighbor_id", "_cv", "_list"],
            )

    return df.select("neighbor_id", "_cv").mapInArrow(_assign, schema)


def ivf_build(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    seed: int = 42,
    persist: bool = True,
    dim: int | None = None,
) -> IvfIndex:
    """Train the coarse quantizer and assign every corpus vector to
    its inverted list.

    Fully deterministic since round 4: the quantizer is
    :func:`kmeans_cosine_det` over the int8 codes of
    operators/quantize.py (``seed`` retained for API compatibility;
    nothing is random anymore), trained on a bounded
    multiplicative-hash-ordered subset when the corpus exceeds
    ``max(100·k, 2000)`` vectors — at 100 TB you never run k-means over
    the full corpus to place 2^k centroids; a deterministic sample is
    the standard IVF training set. Corpus assignment is a map-only
    argmax-cosine projection against the (tiny, literal) centroids on
    the RAW vectors — quantization touches training only.

    ``persist`` caches the assigned corpus so repeated probes skip the
    scan+assign; pass False for one-shot use (see :func:`ivf_topk`).
    """
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.quantize import (
        quantize_int8,
    )

    if dim is None:
        dim = len(corpus.select(vec_col).head()[0])
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("_cv"),
    )
    qz = quantize_int8(
        corpus.select(F.col(id_col).alias("_tid"), F.col(vec_col).alias("_v")),
        col="_v",
        qcol="_q",
    ).select("_tid", "_q")
    # The hash-ordered limit applies UNCONDITIONALLY (round 10): when
    # the corpus fits under max_train it returns the full training set
    # (kmeans_cosine_det re-sorts its collect by _tid, so arrival order
    # is irrelevant and the centroids are identical), and when it
    # doesn't, this was already the path — a TakeOrdered top-k
    # selection, no full sort. The former `corpus.count()` gate spent a
    # whole extra driver job deciding something the limit answers for
    # free.
    max_train = max(n_centroids * 100, KMEANS_MAX_TRAIN)
    train = qz.orderBy(
        (F.col("_tid") * F.lit(KMEANS_HASH_A)) % F.lit(KMEANS_HASH_M),
        F.col("_tid"),
    ).limit(max_train)
    cents = kmeans_cosine_det(
        train, k=n_centroids, iters=KMEANS_ITERS, dim=dim
    )
    c_assigned = _assign_lists_arrow(c, cents, dim)
    if persist:
        c_assigned = c_assigned.persist()

    cent_rows = [(i, cents[i]) for i in range(n_centroids)]
    cent_df = corpus.sparkSession.createDataFrame(
        cent_rows, "cid int, cvec array<double>"
    )
    return IvfIndex(c_assigned, cent_df, centroids=cents)


def ivf_assign(
    index: IvfIndex,
    delta: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign NEW vectors to an EXISTING index's inverted lists — the
    incremental-ingest path (round 6): a daily embedding batch joins
    the serving index without retraining the coarse quantizer, exactly
    how IVF systems operate (the quantizer is retrained on drift
    schedules, not per batch). WHEN to retrain is answered by the
    staleness monitor (workload/vector.py::q_ann_index_staleness,
    round 7): rebuild when the max inverted-list share exceeds
    STALENESS_CROWD_CEIL (3.5×) its balanced share — drifted ingest
    crowds the lists nearest the drift direction — or when
    brute-force-relative recall@5 drops below STALENESS_REBUILD_FLOOR
    (0.3). Map-only argmax-cosine projection
    against the index's centroids (driver-side doubles; collected from
    centroids_df — 16 bounded rows — when the index came from disk);
    returns (neighbor_id, _cv, _list) rows union-compatible with
    ``index.assigned``. At 100 TB this is an appended partition per
    inverted list, zero shuffle."""
    cents = index.centroids
    if cents is None:
        rows = sorted(index.centroids_df.collect(), key=lambda r: r.cid)
        cents = [list(r.cvec) for r in rows]
    d = delta.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("_cv"),
    )
    return _assign_lists_arrow(d, cents, dim=len(cents[0]))


def ivf_probe(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_probe: int = 4,
) -> DataFrame:
    """ANN top-k against a built IVF index: each query scores only the
    `n_probe` lists whose centroids are nearest, via one equi-join on
    the list id (broadcast of the tiny query×probe set)."""
    cent_df = index.centroids_df
    c_assigned = index.assigned
    q = queries.select(
        F.col(query_id_col).alias("_qid"), _as_double(F.col(vec_col)).alias("_qv")
    )
    # rank centroids per query, keep n_probe nearest (tiny cross join:
    # |queries| × n_centroids)
    qc = q.crossJoin(F.broadcast(cent_df)).select(
        "_qid", "_qv", "cid", cosine(F.col("_qv"), F.col("cvec")).alias("_csim")
    )
    wq = Window.partitionBy("_qid").orderBy(F.desc("_csim"), F.asc("cid"))
    probes = (
        qc.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= n_probe)
        .select("_qid", "_qv", F.col("cid").alias("_list"))
    )

    scored = c_assigned.join(F.broadcast(probes), "_list").select(
        F.col("_qid").alias(query_id_col),
        "neighbor_id",
        cosine(F.col("_qv"), F.col("_cv")).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"), "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """One-shot IVF ANN: build + single probe (no persist — nothing to
    amortize). For repeated query batches use ivf_build/ivf_probe."""
    index = ivf_build(
        corpus, vec_col, id_col, n_centroids=n_centroids, seed=seed, persist=False
    )
    return ivf_probe(
        index, queries, k=k, vec_col=vec_col,
        query_id_col=query_id_col, n_probe=n_probe,
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
    decimals: int = 4,
) -> DataFrame:
    """Per-label centroid (element-wise mean) of an embedding column.

    With a KNOWN dim this is ONE two-phase hash aggregate over `dim`
    scalar avg() columns, re-packed to an array afterwards — a single
    shuffle of (label, dim partial sums), no row explosion. The
    alternative (posexplode → groupBy(label, pos) → re-collect) costs
    a dim× row blowup plus a second shuffle to reassemble, and is only
    warranted when dim varies per row. Used as the training step for
    IVF-style quantizers and class prototypes."""
    v = F.col(vec_col).cast("array<double>")
    # `+ 0.0` normalizes IEEE negative zero: round() can yield -0.0
    # from tiny negative means, and -0.0 vs 0.0 breaks byte-level
    # result comparison across engines even though they compare equal.
    aggs = [
        (F.round(F.avg(v.getItem(i)), decimals) + F.lit(0.0)).alias(f"_c{i}")
        for i in range(dim)
    ]
    out = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n_vecs"), *aggs)
    return out.select(
        label_col,
        "n_vecs",
        F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("centroid"),
    )


def mllib_brp_join(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 5.0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Stock-MLlib path: BucketedRandomProjectionLSH approxSimilarityJoin
    on Euclidean distance (pyspark.ml.feature, public API)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        array_to_vector(_as_double(F.col(vec_col))).alias("features"),
    )
    q = queries.select(
        F.col(query_id_col).alias(query_id_col),
        array_to_vector(_as_double(F.col(vec_col))).alias("features"),
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = brp.fit(c)
    joined = model.approxSimilarityJoin(q, c, threshold, distCol="dist")
    return joined.select(
        F.col(f"datasetA.{query_id_col}").alias(query_id_col),
        F.col("datasetB.neighbor_id").alias("neighbor_id"),
        F.round("dist", 4).alias("dist"),
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lamb: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "neighbor_id",
    query_id_col: str = "query_id",
    sim_col: str = "cos_sim",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) of a per-query candidate set: greedily pick

        argmax_i  λ·rel(i)  −  (1−λ)·max_{j∈selected} cos(i, j)

    — the standard diversification pass between ANN retrieval and a
    RAG/pretraining consumer (near-identical top hits waste context
    slots; dedup-at-retrieval is this exact operator).

    Runs as applyInPandas grouped by query: each group is one
    RETRIEVED candidate set (top-N from brute_force_topk / lsh /
    ivf_probe — bounded by construction, ~10²-10³ rows), so the greedy
    O(k·n) loop with a running max-similarity vector is a small dense
    numpy kernel per group, Arrow-batched, parallel across queries —
    no driver collect, no |corpus| term anywhere.

    Ties break deterministically: candidates are pre-sorted by
    (relevance desc, id asc) and argmax takes the first maximum.
    Output: (query_id, neighbor_id, mmr_rank, mmr_score).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        StructField,
        StructType,
        DoubleType,
    )

    # Id column types are whatever the caller's candidate frame uses
    # (long for the fixture, but string/int ids must survive too) —
    # copy them from the input schema instead of hardcoding.
    in_fields = {f.name: f for f in candidates.schema.fields}
    out_schema = StructType(
        [
            StructField(query_id_col, in_fields[query_id_col].dataType),
            StructField(id_col, in_fields[id_col].dataType),
            StructField("mmr_rank", IntegerType()),
            StructField("mmr_score", DoubleType()),
        ]
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [sim_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
        norms = np.linalg.norm(V, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        Vn = V / norms
        rel = pdf[sim_col].to_numpy().astype("float64")
        n = len(pdf)
        picked: list[int] = []
        scores: list[float] = []
        max_sim = np.zeros(n)  # max cos to any selected item so far
        active = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            mmr = lamb * rel - (1.0 - lamb) * max_sim
            mmr[~active] = -np.inf
            i = int(np.argmax(mmr))  # first max → (rel, id) tiebreak
            picked.append(i)
            scores.append(float(mmr[i]))
            active[i] = False
            max_sim = np.maximum(max_sim, Vn @ Vn[i])
        return pd.DataFrame(
            {
                query_id_col: pdf[query_id_col].iloc[picked].to_numpy(),
                id_col: pdf[id_col].iloc[picked].to_numpy(),
                "mmr_rank": np.arange(1, len(picked) + 1, dtype="int32"),
                "mmr_score": np.round(scores, 6),
            }
        )

    return candidates.groupBy(query_id_col).applyInPandas(_mmr, out_schema)
