"""Product quantization (PQ) — the compressed-domain ANN tier.

IVF (operators/similarity.py) prunes WHICH vectors a query scores;
PQ compresses WHAT is scored: each vector is stored as m subspace
codebook ids (m bytes) instead of dim floats, and queries rank the
whole corpus through m table lookups per vector (ADC — asymmetric
distance computation, Jégou et al. 2011). At 100 TB the code relation
is dim·4/m× smaller than the embedding column — the scan, shuffle and
cache all shrink by that factor, which is the entire point.

Determinism doctrine (the round-3/4 portable-hash rule applied to
PQ): the subspace quantizers are Lloyd iterations over GLOBAL-scale
int8 codes with

- init: the code subvectors of the k lowest-id training rows;
- assignment: argmin L2²(sub, c) computed as argmax(dot(sub, c) −
  ½·|c|²) — |sub|² is constant per row so the identity is exact; ties
  break to the lowest cid;
- update: element-wise mean as exact int64 code sums / count —
  order-independent under any partitioning, so the trained codebooks
  are bit-identical across runs, partitionings, and engines.

Every double any engine derives from the same codes is therefore
bit-identical, and the workload twin (workload/vector.py::
_pq_oracle_sql) unrolls the ENTIRE tier — global scale, quantization,
m×iters Lloyd steps, corpus encoding, ADC ranking — as chained DuckDB
CTEs, the same way the IVF/PageRank/MMR oracles do.

The GLOBAL quantization scale (one max|x| over the corpus, vs the
per-vector scale of operators/quantize.py) is load-bearing twice:
it makes codes comparable across vectors so subspace k-means over
codes IS k-means over uniformly-scaled raw vectors, and it keeps the
centroid update integer-exact. max() is associative, so the scale is
partitioning-independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from steel_energy_consumption_prediction_using_pyspark_spark.operators.arrow import (
    build_list,
    fixed_width_f64,
    seq_dot,
)
from steel_energy_consumption_prediction_using_pyspark_spark.workload.util import (
    KMEANS_HASH_A,
    KMEANS_HASH_M,
    KMEANS_ITERS,
    KMEANS_MAX_TRAIN,
)


class PqModel:
    """Trained PQ state: the global scale and m k×subdim codebooks
    (plain Python doubles — bit-identical to what a SQL twin derives
    from the same codes)."""

    def __init__(
        self, scale: float, codebooks: list[list[list[float]]], subdim: int
    ):
        self.scale = scale
        self.codebooks = codebooks
        self.subdim = subdim

    @property
    def m(self) -> int:
        return len(self.codebooks)

    @property
    def k(self) -> int:
        return len(self.codebooks[0])


def _lloyd_int_np(Xi, k: int, iters: int) -> list[list[float]]:
    """Driver-side Lloyd over a BOUNDED int-code matrix (rows sorted
    by training id), bit-identical to the former per-iteration Spark
    jobs AND to the DuckDB twin:

    - init: the first k rows (= the k lowest-id training codes);
    - assignment: :func:`_nearest_code`;
    - update: exact int64 element sums / count via Python true
      division (order-independent integers; the identical correctly-
      rounded IEEE divide every engine performs);
    - empty clusters keep their previous centroid.

    Driver-side training changes WHERE the arithmetic runs, not a
    single bit of its result (golden-checked against the former
    distributed loop at sf0.1 before the swap)."""
    import numpy as np

    X = Xi.astype(np.float64)
    subdim = Xi.shape[1]
    books = [[float(x) for x in Xi[j]] for j in range(k)]
    for _ in range(iters):
        assign = _nearest_code(X, books)
        for j in range(k):
            members = Xi[assign == j]
            if len(members):
                s = members.sum(axis=0, dtype=np.int64)
                books[j] = [int(s[i]) / len(members) for i in range(subdim)]
    return books


def _nearest_code(X, book):
    """Row-wise argmin L2²(x, c) over the codewords, computed as
    argmax(dot(x, c) − ½|c|²) (|x|² is constant per row, so the
    identity is exact), ties to the lowest cid: np.argmax's first
    maximum = the engine's struct-min."""
    import numpy as np

    C = np.asarray(book, dtype=np.float64)
    return np.argmax(seq_dot(X[:, None], C) - 0.5 * seq_dot(C, C), axis=1)


def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 32,
    dim: int = 64,
    iters: int = KMEANS_ITERS,
) -> PqModel:
    """Train m deterministic subspace codebooks on a bounded
    multiplicative-hash-ordered training sample (you never run Lloyd
    over 100 TB to place m·k centroids — the bounded deterministic
    sample is the standard PQ training set).

    The cluster does the unbounded work — global-scale aggregate and
    the distributed hash-ordered sample selection; the sample itself
    (≤ max(100k, KMEANS_MAX_TRAIN) rows of m-byte codes — bounded
    metadata, NOT data) is collected once and Lloyd runs driver-side
    in numpy with bit-identical arithmetic (:func:`_lloyd_int_np`).
    Round-5 change: the former one-Spark-job-per-iteration loop spent
    ~1.3 s/iteration compiling the m·k literal-centroid expression
    tree against 2000 rows of actual data — cold train 6.6 s → 1.6 s
    with identical codebooks (golden-checked)."""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim={dim} must divide evenly into m={m} subspaces")
    subdim = dim // m
    v = F.col(vec_col).cast("array<double>")
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    row = corpus.agg(F.max(absmax).alias("mx")).head()
    scale = float(row.mx) if row.mx and row.mx > 0 else 1.0

    codes = corpus.select(
        F.col(id_col).alias("_tid"),
        F.transform(
            v, lambda x: F.round(x / F.lit(scale) * 127).cast("int")
        ).alias("_q"),
    )
    max_train = max(k * 100, KMEANS_MAX_TRAIN)
    train_rows = (
        codes.orderBy(
            (F.col("_tid") * F.lit(KMEANS_HASH_A)) % F.lit(KMEANS_HASH_M),
            F.col("_tid"),
        )
        .limit(max_train)
        .collect()
    )
    train_rows.sort(key=lambda r: r._tid)
    Q = np.array([r._q for r in train_rows], dtype=np.int64)
    books = [
        _lloyd_int_np(Q[:, s * subdim : (s + 1) * subdim], k, iters)
        for s in range(m)
    ]
    return PqModel(scale, books, subdim)


def pq_encode(
    corpus: DataFrame,
    model: PqModel,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Map-only corpus encoding: (id, c0..c{m−1}) — the m-byte code
    relation that replaces the embedding column downstream. No
    shuffle; at 100 TB this rides the embedding scan once and is
    written as the compact ANN-serving table.

    The per-subspace argmin is an Arrow-batched numpy kernel (round 9)
    rather than m literal `_nearest_code_ip` expressions: the HOF form
    evaluates O(m·k·subdim) interpreted lambdas per row and re-analyzes
    a ~256-subtree plan per action (measured 0.9 s build + 1.3-3.4 s
    exec at sf0.1; the kernel is 0.1 s + 0.45 s with IDENTICAL codes).
    Each code is :func:`_nearest_code`'s, bit-identical to the HOF fold
    and the DuckDB twin; the int codes themselves are still computed
    JVM-side by the identical round(x/scale·127) expression."""
    m, subdim, books = model.m, model.subdim, model.codebooks

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    v = F.col(vec_col).cast("array<double>")
    src = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(
            v, lambda x: F.round(x / F.lit(model.scale) * 127).cast("int")
        ).alias("_q"),
    )
    schema = StructType(
        [StructField("neighbor_id", LongType())]
        + [StructField(f"c{s}", IntegerType()) for s in range(m)]
    )

    def _encode(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            X = fixed_width_f64(b.column("_q"), m * subdim)
            cols = [b.column("neighbor_id")] + [
                pa.array(
                    _nearest_code(X[:, s * subdim : (s + 1) * subdim], book),
                    pa.int32(),
                )
                for s, book in enumerate(books)
            ]
            yield pa.RecordBatch.from_arrays(
                cols, ["neighbor_id"] + [f"c{s}" for s in range(m)]
            )

    return src.mapInArrow(_encode, schema)


def pq_adc_topk(
    encoded: DataFrame,
    queries: DataFrame,
    model: PqModel,
    k: int = 5,
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """ADC ranking: each query precomputes an m×k lookup table of
    dot(query_subvector, codeword) — a projection over the (tiny)
    query side — then every corpus code row is scored with m
    element_at lookups and one fixed-order sum, scaled back to raw
    space by scale/127. The query side BROADCASTs; the corpus side is
    the m-int code relation, never the vectors.

    The per-query top-k window shuffles only (query_id, neighbor_id,
    score) triples of the code relation; for corpora where even that
    is too wide, compose with the mapInPandas local-top-k pre-reduce
    of similarity.brute_force_topk — the fixture-scale plan keeps the
    whole pipeline in whole-stage codegen instead."""
    from pyspark.sql import Window

    m, subdim, kcw = model.m, model.subdim, model.k
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    # The m×k lookup tables are built by ONE Arrow numpy kernel over
    # the (tiny) query side (round 10). The expression form — m·k
    # aggregate(zip_with(...)) folds over literal codeword arrays,
    # ~256 subtrees — cost ~0.7-1.5 s of DRIVER plan analysis per
    # action even after the round-9 single-select collapse; the kernel
    # is one opaque node. Each lut entry is an ``arrow.seq_dot`` fold,
    # so every double matches the HOF fold and the DuckDB twin.
    import numpy as np

    books = [np.asarray(book, dtype=np.float64) for book in model.codebooks]

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    q_schema = StructType(
        [q.schema["query_id"]]
        + [StructField(f"_lut{s}", ArrayType(DoubleType())) for s in range(m)]
    )

    def _luts(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            V = fixed_width_f64(b.column("_v"), m * subdim)
            row_of = np.repeat(np.arange(n), kcw)
            cols = [b.column("query_id")]
            for s, book in enumerate(books):
                lut = seq_dot(V[:, None, s * subdim : (s + 1) * subdim], book)
                cols.append(build_list(row_of, pa.array(lut.ravel()), n))
            yield pa.RecordBatch.from_arrays(
                cols, ["query_id"] + [f"_lut{s}" for s in range(m)]
            )

    q = q.mapInArrow(_luts, q_schema)

    score: Column = F.element_at(F.col("_lut0"), F.col("c0") + 1)
    for s in range(1, m):
        score = score + F.element_at(F.col(f"_lut{s}"), F.col(f"c{s}") + 1)
    score = score * F.lit(model.scale / 127.0)

    scored = encoded.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id", score.alias("_adc")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_adc"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("_adc", 4).alias("adc_score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def pq_rerank_topk(
    encoded: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    model: PqModel,
    k: int = 5,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "query_id",
) -> DataFrame:
    """ADC shortlist → EXACT cosine rerank — the production PQ shape
    (Jégou et al. §V): the compressed codes rank the whole corpus
    cheaply, then only the per-query `shortlist` survivors fetch their
    raw vectors for exact scoring. At 100 TB the raw-vector join
    touches shortlist·|queries| rows instead of the corpus — the scan
    stays on the m-byte code relation. Output matches the
    brute-force/LSH/IVF tiers: (query_id, neighbor_id, cos_sim, rank)
    with the exact cosine, so recall is limited only by whether the
    true neighbors reach the shortlist (8-byte codes: measured 0.64
    recall@5 at sf0.1 vs 0.12 for raw ADC ranking)."""
    from pyspark.sql import Window

    from steel_energy_consumption_prediction_using_pyspark_spark.workload.util import (
        cosine,
    )

    short = pq_adc_topk(
        encoded, queries, model, k=shortlist, vec_col=vec_col,
        query_id=query_id,
    ).select("query_id", "neighbor_id")
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    qv = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_cs"), F.asc("neighbor_id")
    )
    return (
        short.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("_cs", cosine(F.col("_qv"), F.col("_cv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("_cs", 4).alias("cos_sim"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "query_id",
    m: int = 8,
    k_codes: int = 32,
    dim: int = 64,
    k: int = 5,
    shortlist: int | None = 50,
) -> DataFrame:
    """One-shot train → encode → ADC shortlist → exact rerank (pass
    shortlist=None for raw ADC ranking)."""
    model = pq_train(
        corpus, vec_col=vec_col, id_col=id_col, m=m, k=k_codes, dim=dim
    )
    encoded = pq_encode(corpus, model, vec_col=vec_col, id_col=id_col)
    if shortlist is None:
        return pq_adc_topk(
            encoded, queries, model, k=k, vec_col=vec_col, query_id=query_id
        )
    return pq_rerank_topk(
        encoded,
        queries,
        corpus,
        model,
        k=k,
        shortlist=shortlist,
        vec_col=vec_col,
        id_col=id_col,
        query_id=query_id,
    )


def reconstruction_mse(
    corpus: DataFrame,
    model: PqModel,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> float:
    """Mean squared reconstruction error in RAW space (codeword·
    scale/127 vs the original vector) — the quantity PQ training
    minimizes; exposed for quality pins."""
    m, subdim = model.m, model.subdim
    enc = pq_encode(corpus, model, vec_col=vec_col, id_col=id_col)
    v = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    df = enc.join(v, "neighbor_id")
    err = F.lit(0.0)
    for s in range(m):
        recon = F.array(
            *[
                F.element_at(
                    F.array(
                        *[
                            F.lit(model.codebooks[s][j][i])
                            for j in range(model.k)
                        ]
                    ),
                    F.col(f"c{s}") + 1,
                )
                * F.lit(model.scale / 127.0)
                for i in range(subdim)
            ]
        )
        sub = F.slice(F.col("_v"), s * subdim + 1, subdim)
        err = err + F.aggregate(
            F.zip_with(sub, recon, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    row = df.select(F.avg(err / F.lit(float(m * subdim))).alias("mse")).head()
    return float(row.mse)


__all__ = [
    "PqModel",
    "pq_train",
    "pq_encode",
    "pq_adc_topk",
    "pq_rerank_topk",
    "pq_topk",
    "reconstruction_mse",
]
