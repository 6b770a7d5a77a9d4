"""Concurrent multi-query serving (the deployment mode the reference
never exercises: one SparkSession, many simultaneous callers).

Spark's scheduler is thread-safe and a real deployment serves parallel
queries from one session (FAIR pools exist for exactly this). What the
ENGINE must guarantee on top is that its session caches — every
workload/util.py::SessionCache: IVF/PQ indexes, edge tables, BPE
merges, scratch exports, the persisted ANN index, parquet schemas —
are safe under concurrent first-touch: exactly one thread builds,
nobody observes a half-built entry, and no two overlapping
mode("overwrite") writes ever target the same scratch directory.
SessionCache.get / key_lock provide that; these tests pin it, and that
clear_session_caches() empties every cache and releases what it held.

Correctness of VALUES never depended on the locks (builds are
deterministic, so a lost race would still produce identical results) —
the single-build property and write integrity did, which is why the
unit test counts builder invocations and the integration test runs the
cache-heavy queries first-touch-concurrently against the sequential
ground truth.
"""

from __future__ import annotations

import sys
import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame

from steel_energy_consumption_prediction_using_pyspark_spark.workload.util import (
    _CACHES,
    SessionCache,
    clear_session_caches,
    key_lock,
)

SF = "/root/testdata/sf0.001"

# Queries chosen to first-touch every registered cache concurrently:
#   ann_ivf + ivf_probe + semantic_dedup  → _IVF_CACHE (incl. the
#       cold-rebuild swap racing two probes)
#   ann_pq                                → _PQ_CACHE (rebuild path)
#   ivf_probe_materialized                → _DISK_INDEX
#   bpe_encode + token_count_bpe          → _BPE_CACHE
#   csv_ingest / orc_ingest / jsonl_ingest → .scratch export caches
#   csv_dirty                             → _DIRTY_CACHE
#   signature_store_build                 → _SIG_STORE
#   bfs_hops + ppr                        → _EDGE_CACHE
#   graph_edges_build                     → _MATERIALIZED
#   every parquet read                    → readers._SCHEMAS
#   groupby_count / window_ranks          → cache-free controls
# Duplicated names are TWO CLIENTS issuing the identical query — the
# only way a single-key cache (one export dir per key) actually races
# itself: both threads miss the fast path and contend for the same
# key_lock while the first write is in flight.
CONCURRENT_QUERIES = [
    "ann_ivf",
    "ivf_probe",
    "ivf_probe",
    "semantic_dedup",
    "ann_pq",
    "ivf_probe_materialized",
    "bpe_encode",
    "bpe_encode",
    "token_count_bpe",
    "csv_ingest",
    "csv_ingest",
    "orc_ingest",
    "orc_ingest",
    "jsonl_ingest",
    "csv_dirty",
    "signature_store_build",
    "bfs_hops",
    "ppr",
    "graph_edges_build",
    "groupby_count",
    "window_ranks",
]


def test_session_cache_single_build_under_contention():
    """16 threads racing one key: the builder runs EXACTLY once and
    every thread gets the identical object."""
    cache = SessionCache("test_ns")
    calls = []
    gate = threading.Barrier(16)

    def build():
        calls.append(1)
        return object()

    def worker():
        gate.wait(timeout=30)
        return cache.get("k", build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads as often as possible
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            results = list(pool.map(lambda _: worker(), range(16), timeout=60))
    finally:
        sys.setswitchinterval(interval)
    assert len(calls) == 1
    assert all(r is results[0] for r in results)


def test_session_cache_distinct_keys_do_not_serialize():
    """Different keys build independently (per-key locks, not one
    global lock): two builders that each wait on the OTHER key's
    builder having started can only finish if they run concurrently."""
    cache = SessionCache("test_ns2")
    started_a = threading.Event()
    started_b = threading.Event()

    def build_a():
        started_a.set()
        assert started_b.wait(timeout=10), "key-b builder never started"
        return "a"

    def build_b():
        started_b.set()
        assert started_a.wait(timeout=10), "key-a builder never started"
        return "b"

    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(cache.get, "ka", build_a)
        fb = pool.submit(cache.get, "kb", build_b)
        assert fa.result(timeout=30) == "a"
        assert fb.result(timeout=30) == "b"


def test_key_lock_is_stable_per_key():
    assert key_lock("ns", ("x", 1)) is key_lock("ns", ("x", 1))
    assert key_lock("ns", ("x", 1)) is not key_lock("ns", ("x", 2))
    assert key_lock("ns", ("x", 1)) is not key_lock("other", ("x", 1))


def _rows_sorted(df):
    return sorted(repr(r) for r in df.collect())


def _frames(value):
    """Every DataFrame reachable from a cache entry (tuples, lists,
    dicts and plain object attributes)."""
    if isinstance(value, DataFrame):
        yield value
    elif isinstance(value, (tuple, list)):
        for v in value:
            yield from _frames(v)
    elif isinstance(value, dict):
        for v in value.values():
            yield from _frames(v)
    elif hasattr(value, "__dict__"):
        yield from _frames(vars(value))


def test_concurrent_queries_match_sequential(spark):
    """The cache-colliding query set, all first-touched CONCURRENTLY in
    one session, must produce row-for-row the results of a sequential
    run. Caches are cleared first so every shared builder (IVF k-means,
    edge table, BPE merges, scratch exports) races for real."""
    from steel_energy_consumption_prediction_using_pyspark_spark.workload import (
        all_queries,
    )

    qs = all_queries()

    clear_session_caches()
    gate = threading.Barrier(len(CONCURRENT_QUERIES))

    def run(name: str):
        gate.wait(timeout=180)
        return _rows_sorted(qs[name](spark, SF))

    with ThreadPoolExecutor(max_workers=len(CONCURRENT_QUERIES)) as pool:
        concurrent = list(pool.map(run, CONCURRENT_QUERIES))

    # Sequential ground truth AFTER another cache clear, so both runs
    # pay the same cold builds and neither depends on the other's
    # session state. Duplicate clients must ALSO agree with each other
    # (same list compare, run once per instance).
    clear_session_caches()
    sequential = {n: _rows_sorted(qs[n](spark, SF))
                  for n in dict.fromkeys(CONCURRENT_QUERIES)}
    for name, got in zip(CONCURRENT_QUERIES, concurrent):
        assert got == sequential[name], (
            f"{name}: concurrent result differs from sequential"
        )

    # The clear empties every registered cache and releases every
    # DataFrame a cache held.
    held = [f for c in _CACHES for v in c.values() for f in _frames(v)]
    assert any(f.is_cached for f in held)
    clear_session_caches()
    assert [c.name for c in _CACHES if c.values()] == []
    assert [f for f in held if f.is_cached] == []
