"""The benchmark's workloads: closed loops of calls into the engine,
one client thread, run inside the worker process.

``sql_session``
    A session of small, driver-bound calls. Set-up makes a cold build
    of the persisted IVF+PQ index (``ann_index_build`` after its
    published directory is removed): the session-cache miss. A pass
    makes registry calls, each a call plus ``collect()``, in a seeded
    order: relational and TPC-H queries, and probes of that index
    (``ivf_probe_materialized``, ``pq_probe_materialized``,
    ``rag_probe``; every probe is a session-cache hit). Then it runs the
    reference notebook's steel model workflow on 2,000 rows: CSV
    write/read, split, tune, fit, evaluate, save/reload and predict
    (many small MLlib jobs).

``dedup_curation``
    The curation batch job over the seeded, replicated ``documents``
    table: quality score and fingerprint, exact-copy removal, near-
    duplicate pairs by n-gram Jaccard and by MinHash-LSH, connected
    components, one representative per cluster, parquet write. Arrow
    kernels, shuffle fan-out and iterative lineage; no session cache.
    One pass is the whole job.

An *operation* is one step: a registry call plus its collect, or one
batch step that ends in an action the job itself takes (a write, a
fit, a collect). Each operation's output is kept for ``checks.py``.
"""

from __future__ import annotations

import os
import random
import shutil
import time

# One query each of aggregation, join, window and many-job TPC-H
# planning: every query also costs warm-up, and the run budget is small.
# steel_eda is left out: it fails the repo's own oracle gate
# (tools/check_correctness.py) on a local[4] session whatever the
# inputs, because format_number and the oracle's printf round one
# average differently.
SQL_QUERIES = ["pricing_summary", "join_fact", "window_running", "tpch_market_share"]
PERSISTED_PROBES = ["ivf_probe_materialized", "pq_probe_materialized", "rag_probe"]
INDEX_BUILD = "ann_index_build"
# Registry calls that read the persisted-index session cache
# (workload/vector.py::_DISK_INDEX, keyed by (application id, input dir)).
CACHE_READERS = {INDEX_BUILD, *PERSISTED_PROBES}
RECALL_PROBES = {"ivf_probe_materialized", "pq_probe_materialized"}

DEDUP_THRESHOLD = 0.5
# About three weeks of 15-minute readings, not a reference year: the
# steel job's cost is mostly per-job overhead, and its rows only add to
# a pass the run budget already makes short.
STEEL_ROWS = 2_000
STEEL_ROWS_TINY = 500
WORKLOADS = ("sql_session", "dedup_curation")
# Timed passes every run makes, however long they take. The first pass
# over a run's inputs is slower than the next ones (code is compiled for
# their sizes), so the median over passes moves with the number of
# passes unless that number is fixed: one long sql_session pass, two
# short dedup_curation passes, whose median is their mean. With
# BENCHMARK.json's run_seconds no further pass fits on a 4-core host.
MIN_PASSES = {"sql_session": 1, "dedup_curation": 2}


def canonical_rows(rows, cols) -> list[list[str]]:
    """Rows as the canonical cell strings of tools/check_correctness.py,
    columns in name order: what its order-insensitive digest hashes."""
    from tools.check_correctness import canon

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [[canon(r[i]) for i in order] for r in rows]


class Context:
    """What one run shares: session, tracer, the op log and the
    session-cache accounting."""

    def __init__(self, spark, tracer, scratch: str):
        self.spark = spark
        self.tracer = tracer
        self.scratch = scratch
        self.ops: list[dict] = []
        self.results: list[dict] = []
        self.cache = {"hits": 0, "misses": 0, "build_s": 0.0}
        self.extra: dict = {}

    def op(self, name: str, fn, *args):
        """Time one operation. Exceptions are recorded as a failed op,
        not raised, so a failing step counts toward ``failed``."""
        t0 = time.perf_counter()
        err = None
        out = None
        with self.tracer.span(name, kind="op"):
            try:
                out = fn(*args)
            except Exception as ex:  # noqa: BLE001 - counted as a failed op
                err = f"{type(ex).__name__}: {ex}"[:500]
        dt = time.perf_counter() - t0
        self.ops.append({"name": name, "s": dt, "error": err})
        return out, dt, err

    def call(self, name: str, fn, *args, **kw):
        """One call into a public engine function, as a child span."""
        with self.tracer.span(name, kind="call"):
            return fn(*args, **kw)


# --- sql_session -----------------------------------------------------------


def _index_dir(sf_dir: str) -> str:
    from steel_energy_consumption_prediction_using_pyspark_spark.workload import (
        vector,
    )

    return vector._index_base(sf_dir)


def _cached(spark, sf_dir: str) -> bool:
    """Whether the persisted-index session cache holds this input's
    entry and its directory is published."""
    from steel_energy_consumption_prediction_using_pyspark_spark.workload import (
        util,
        vector,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    return key in vector._DISK_INDEX and util.is_published(_index_dir(sf_dir))


def registry_call(ctx: Context, name: str, sf_dir: str) -> None:
    from steel_energy_consumption_prediction_using_pyspark_spark import workload

    fn = workload.all_queries()[name]
    hit = _cached(ctx.spark, sf_dir) if name in CACHE_READERS else None

    def run():
        df = ctx.call(f"workload.registry.{name}", fn, ctx.spark, sf_dir)
        rows = ctx.call("spark.collect", df.collect)
        return df, rows

    out, dt, err = ctx.op(name, run)
    if hit is True:
        ctx.cache["hits"] += 1
    elif hit is False:
        ctx.cache["misses"] += 1
        ctx.cache["build_s"] += dt
    if err is None:
        df, rows = out
        rec = {
            "op": name,
            "cols": sorted(df.columns),
            "cells": canonical_rows(rows, df.columns),
            "rows": len(rows),
        }
        if name in RECALL_PROBES:
            qi, ni = df.columns.index("query_id"), df.columns.index("neighbor_id")
            rec["neighbors"] = sorted((int(r[qi]), int(r[ni])) for r in rows)
        if name == INDEX_BUILD:
            rec["tiers"] = [[r.tier, int(r.grp), int(r.n_vectors)] for r in rows]
        if ctx.tracer.enabled:
            rec["phases_ms"] = _phases(df)
        ctx.results.append(rec)


def _phases(df) -> dict:
    """Analysis/optimization/planning time of the DataFrame's last
    QueryExecution, from Spark's phase tracker."""
    ph = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        v = ph.get(k)
        out[k] = float(v.get().durationMs()) if v.isDefined() else 0.0
    return out


def registry_pass(ctx: Context, sf_dir: str, names: list[str]) -> None:
    for name in names:
        registry_call(ctx, name, sf_dir)


def cold_index_build(ctx: Context, sf_dir: str) -> None:
    """Remove the published persisted index, then build it."""
    shutil.rmtree(_index_dir(sf_dir), ignore_errors=True)
    registry_call(ctx, INDEX_BUILD, sf_dir)


def ivf_candidates_per_result(spark, sf_dir: str) -> float:
    """Corpus vectors the persisted IVF index's probe scores per
    returned neighbour: the sizes of the inverted lists each query
    probes, over queries × k."""
    import numpy as np

    from steel_energy_consumption_prediction_using_pyspark_spark.workload import (
        vector,
    )

    index = vector._load_ivf_disk(spark, _index_dir(sf_dir))
    size = dict(index.assigned.groupBy("_list").count().collect())
    cents = index.centroids_df.orderBy("cid").collect()
    cv = np.array([c.cvec for c in cents], dtype=np.float64)
    cv /= np.linalg.norm(cv, axis=1, keepdims=True)
    qs = (
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        .filter(f"vec_id < {vector.N_QUERY}")
        .collect()
    )
    total = 0
    for q in qs:
        v = np.asarray(q.embedding, dtype=np.float64)
        sims = cv @ (v / np.linalg.norm(v))
        for i in np.argsort(-sims, kind="stable")[: vector.IVF_NPROBE]:
            total += size.get(int(cents[i].cid), 0)
    return total / (len(qs) * vector.TOP_K)


# --- dedup_curation --------------------------------------------------------


def dedup_pass(ctx: Context, sf_dir: str, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from steel_energy_consumption_prediction_using_pyspark_spark.operators import (
        dedup as D,
        text as X,
    )
    from steel_energy_consumption_prediction_using_pyspark_spark import sources
    from steel_energy_consumption_prediction_using_pyspark_spark.sources import (
        writers,
    )

    spark, tr = ctx.spark, ctx.tracer
    shutil.rmtree(out_dir, ignore_errors=True)

    def clusters():
        docs = ctx.call(
            "sources.read_parquet",
            sources.read_parquet,
            spark,
            os.path.join(sf_dir, "documents.parquet"),
        )
        scored = docs.select(
            "doc_id",
            "text",
            "source",
            ctx.call("operators.text.quality_score", X.quality_score, "text").alias("q"),
            ctx.call("operators.text.fingerprint", X.fingerprint, "text").alias("fp"),
        )
        # Exact copies: keep the smallest doc_id per fingerprint.
        first = scored.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        uniq = scored.join(first, ["fp", "doc_id"]).drop("fp")
        ng = ctx.call(
            "operators.dedup.ngram_jaccard_pairs",
            D.ngram_jaccard_pairs,
            uniq,
            "text",
            "doc_id",
            block_col="source",
            shingle_n=3,
            threshold=DEDUP_THRESHOLD,
        )
        mh = ctx.call(
            "operators.dedup.minhash_lsh_pairs",
            D.minhash_lsh_pairs,
            uniq,
            "text",
            "doc_id",
            jaccard_threshold=DEDUP_THRESHOLD,
        )
        if tr.enabled:
            ng, mh = _force_pairs(ctx, uniq, ng, mh)
        edges = ng.select("id_a", "id_b").union(mh.select("id_a", "id_b"))
        comp = ctx.call(
            "operators.dedup.connected_components",
            D.connected_components,
            edges,
            uniq.select("doc_id"),
            id_col="doc_id",
            src_col="id_a",
            dst_col="id_b",
        )
        return uniq, comp

    out, _, err = ctx.op("dedup.clusters", clusters)
    if err is not None:
        return
    uniq, comp = out

    def write():
        scored = uniq.join(comp, uniq.doc_id == comp.id).drop("id")
        best = scored.groupBy("cluster").agg(
            F.max(F.struct(F.col("q"), (-F.col("doc_id")).alias("_nid"))).alias("m")
        )
        reps = best.select((-F.col("m._nid")).alias("doc_id"), "cluster")
        curated = uniq.join(reps, "doc_id").select("doc_id", "cluster", "source", "text")
        ctx.call("sources.write_parquet", writers.write_parquet, curated, out_dir)

    _, _, err = ctx.op("dedup.write_representatives", write)
    if err is None:
        written = sources.read_parquet(spark, out_dir).select("doc_id", "cluster")
        ctx.results.append(
            {
                "op": "dedup",
                "reps": [[int(r.doc_id), int(r.cluster)] for r in written.collect()],
                "members": [[int(r.id), int(r.cluster)] for r in comp.collect()],
            }
        )


def _force_pairs(ctx: Context, uniq, ng, mh):
    """Traced run only: execute each pair operator in its own span and
    count candidates, verified pairs and propagation rounds."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators import (
        dedup as D,
    )

    with ctx.tracer.span("operators.dedup.ngram_jaccard_pairs.exec", kind="forced"):
        ng = ng.localCheckpoint(eager=True)
    with ctx.tracer.span("operators.dedup.minhash_lsh_pairs.exec", kind="forced"):
        mh = mh.localCheckpoint(eager=True)
    with ctx.tracer.span("operators.dedup.minhash_stages.exec", kind="forced"):
        _, cand = D.minhash_stages(uniq, "text", "doc_id")
        n_cand = cand.count()
    ng_rows = [(int(r.id_a), int(r.id_b)) for r in ng.select("id_a", "id_b").collect()]
    mh_rows = [(int(r.id_a), int(r.id_b)) for r in mh.select("id_a", "id_b").collect()]
    ids = [int(r.doc_id) for r in uniq.select("doc_id").collect()]
    ctx.extra.setdefault("dedup", []).append(
        {
            "candidate_pairs": n_cand,
            "verified_pairs": len(mh_rows),
            "cc_rounds": cc_rounds(ids, ng_rows + mh_rows),
        }
    )
    return ng, mh


def cc_rounds(ids: list[int], edges: list[tuple[int, int]]) -> int:
    """Rounds ``connected_components`` runs on this graph: synchronous
    min-label propagation until a round changes nothing, that round
    included."""
    lbl = {i: i for i in ids}
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    rounds = 0
    while True:
        rounds += 1
        new = {
            i: min([lbl[i]] + [lbl[j] for j in adj.get(i, ()) if j in lbl])
            for i in lbl
        }
        if new == lbl:
            return rounds
        lbl = new


# --- sql_session: steel job ------------------------------------------------


def steel_ml_pass(ctx: Context, work_dir: str, seed: int, rows: int) -> None:
    """The reference notebook's model workflow: generate → CSV
    write/read → split → tune a LinearRegression pipeline over a
    two-point grid → fit a DecisionTree pipeline → evaluate → save,
    reload, predict."""
    from steel_energy_consumption_prediction_using_pyspark_spark import sources
    from steel_energy_consumption_prediction_using_pyspark_spark.ml import (
        evaluate,
        models,
        pipeline,
        tuning,
    )
    from steel_energy_consumption_prediction_using_pyspark_spark.operators import (
        relational as R,
    )
    from steel_energy_consumption_prediction_using_pyspark_spark.sources import (
        steel,
        writers,
    )

    spark = ctx.spark
    shutil.rmtree(work_dir, ignore_errors=True)
    csv_dir = os.path.join(work_dir, "steel_csv")
    model_dir = os.path.join(work_dir, "model")

    def ingest():
        gen = ctx.call("sources.steel_energy", steel.steel_energy, spark, rows)
        ctx.call("sources.write_csv", writers.write_csv, gen, csv_dir)
        return ctx.call("sources.read_csv", sources.read_csv, spark, csv_dir)

    data, _, err = ctx.op("steel.ingest", ingest)
    if err is not None:
        return

    train, test = ctx.call(
        "operators.relational.seeded_split", R.seeded_split, data, [0.8, 0.2], seed
    )

    def tune():
        from pyspark.ml.tuning import ParamGridBuilder

        lr = models.baseline_regressors()["LinearRegression"]
        grid = ParamGridBuilder().addGrid(lr.regParam, [0.01, 0.1]).build()
        return ctx.call(
            "ml.tuning.tvs_fit",
            tuning.tvs_fit,
            pipeline.build_pipeline(lr),
            grid,
            train,
            seed=seed,
        )

    ctx.op("steel.tune", tune)
    dt = pipeline.build_pipeline(models.baseline_regressors()["DecisionTreeRegressor"])
    model, _, err = ctx.op("steel.fit", lambda: ctx.call("ml.fit", dt.fit, train))
    if err is not None:
        return
    ctx.op(
        "steel.evaluate",
        lambda: ctx.call(
            "ml.evaluate_predictions", evaluate.evaluate_predictions, model.transform(test)
        ),
    )
    ctx.op("steel.save", lambda: ctx.call("ml.save_fitted", pipeline.save_fitted, model, model_dir))
    loaded, _, err = ctx.op(
        "steel.load", lambda: ctx.call("ml.load_fitted", pipeline.load_fitted, model_dir)
    )
    if err is not None:
        return

    def predict():
        probe = test.orderBy("date").limit(500)
        a = model.transform(probe).select("date", "prediction").orderBy("date").collect()
        b = loaded.transform(probe).select("date", "prediction").orderBy("date").collect()
        return a, b

    ab, _, err = ctx.op("steel.predict", predict)
    if err is None:
        ctx.results.append(
            {"op": "steel_ml", "same_predictions": ab[0] == ab[1] and len(ab[0]) > 0}
        )


# --- both workloads --------------------------------------------------------


def setup(ctx: Context, inputs: str, workload: str) -> None:
    """Set-up work on a run's inputs: for sql_session, the cold build of
    the persisted index."""
    if workload == "sql_session":
        cold_index_build(ctx, inputs)


def run_pass(ctx: Context, inputs: str, workload: str, rng: random.Random) -> None:
    """One timed pass. sql_session calls each registry name once, in an
    order drawn from the seeded ``rng``, then runs the steel job with a
    split seed drawn from it; dedup_curation runs the curation job."""
    if workload == "sql_session":
        names = SQL_QUERIES + PERSISTED_PROBES
        rng.shuffle(names)
        registry_pass(ctx, inputs, names)
        steel_ml_pass(ctx, os.path.join(ctx.scratch, "steel"), rng.randrange(2**31), STEEL_ROWS)
    else:
        dedup_pass(ctx, inputs, os.path.join(ctx.scratch, "curated"))


def warmup_tasks(ctx: Context, tiny: str, workload: str) -> list:
    """Independent tasks that together call, on the tiny inputs, every
    code path the workload's set-up and timed passes call: first calls
    pay for class loading, code generation, JIT and Python-worker
    start. That is mostly single-threaded driver work, so the caller
    runs the tasks side by side."""
    if workload == "dedup_curation":
        return [lambda: dedup_pass(ctx, tiny, os.path.join(ctx.scratch, "curated"))]

    def index():
        cold_index_build(ctx, tiny)
        registry_pass(ctx, tiny, PERSISTED_PROBES)

    return [
        index,
        lambda: registry_pass(ctx, tiny, SQL_QUERIES),
        lambda: steel_ml_pass(ctx, os.path.join(ctx.scratch, "steel"), 0, STEEL_ROWS_TINY),
    ]
