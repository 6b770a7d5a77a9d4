"""Pins for operators/graph.py::pagerank: hand-computed fixpoint,
mass conservation, and partition invariance."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from steel_energy_consumption_prediction_using_pyspark_spark.operators.graph import (
    pagerank,
)


def _edges(spark, pairs):
    return spark.createDataFrame([Row(src=s, dst=d) for s, d in pairs])


def test_symmetric_pair_is_uniform_fixpoint(spark):
    """a<->b: the uniform vector is the exact fixpoint, any damping."""
    e = _edges(spark, [("a", "b"), ("b", "a")])
    got = {r.node: r.rank for r in pagerank(e, iterations=3).collect()}
    assert got["a"] == pytest.approx(0.5, abs=1e-12)
    assert got["b"] == pytest.approx(0.5, abs=1e-12)


def test_star_graph_hand_computed_one_iteration(spark):
    """hub<->{s1,s2,s3}, one iteration from uniform 1/4:
    hub gets 0.15/4 + 0.85*(3 * (1/4)/1); each spoke
    0.15/4 + 0.85*((1/4)/3)."""
    e = _edges(
        spark,
        [("h", "s1"), ("h", "s2"), ("h", "s3"),
         ("s1", "h"), ("s2", "h"), ("s3", "h")],
    )
    got = {r.node: r.rank for r in pagerank(e, iterations=1).collect()}
    assert got["h"] == pytest.approx(0.15 / 4 + 0.85 * 0.75, abs=1e-12)
    for s in ("s1", "s2", "s3"):
        assert got[s] == pytest.approx(
            0.15 / 4 + 0.85 * (0.25 / 3), abs=1e-12
        )
    # no dangling nodes → total mass conserved
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_partition_invariant(spark):
    pairs = [(f"n{i}", f"n{(i * 7 + 1) % 23}") for i in range(23 * 4)]
    a = pagerank(_edges(spark, pairs), iterations=4)
    b = pagerank(_edges(spark, pairs).repartition(13), iterations=4)
    ra = {r.node: round(r.rank, 9) for r in a.collect()}
    rb = {r.node: round(r.rank, 9) for r in b.collect()}
    assert ra == rb


def test_dangling_leaks_mass(spark):
    """a->b with no out-edge from b: simple-variant semantics — total
    mass < 1 after an iteration (documented leak, not a bug)."""
    e = _edges(spark, [("a", "b")])
    got = {r.node: r.rank for r in pagerank(e, iterations=2).collect()}
    assert sum(got.values()) < 1.0


# --- shortest_hops (BFS levels) ---------------------------------------------


def test_bfs_chain_distances(spark):
    """Path a→b→c→d→e with max_hops=2: only a,b,c discovered, at
    their true distances."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.graph import (
        shortest_hops,
    )

    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    src = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.dist for r in shortest_hops(e, src, max_hops=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def test_bfs_diamond_takes_min_distance(spark):
    """a→b→d and a→c→d plus a long detour a→x→y→d: d must be
    assigned level 2 (first discovery wins ≡ minimum), exactly once."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.graph import (
        shortest_hops,
    )

    e = _edges(
        spark,
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
         ("a", "x"), ("x", "y"), ("y", "d")],
    )
    src = spark.createDataFrame([("a",)], "node string")
    rows = shortest_hops(e, src, max_hops=3).collect()
    dist = {}
    for r in rows:
        assert r.node not in dist, "node assigned two levels"
        dist[r.node] = r.dist
    assert dist["d"] == 2 and dist["y"] == 2 and dist["x"] == 1


def test_bfs_multi_source(spark):
    """Two seeds: every node takes the distance to its NEAREST seed."""
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.graph import (
        shortest_hops,
    )

    e = _edges(spark, [("a", "b"), ("b", "c"), ("z", "c")])
    src = spark.createDataFrame([("a",), ("z",)], "node string")
    got = {r.node: r.dist for r in shortest_hops(e, src, max_hops=3).collect()}
    assert got == {"a": 0, "z": 0, "b": 1, "c": 1}


# --- personalized PageRank --------------------------------------------------


def test_ppr_uniform_reset_equals_classic(spark):
    """A uniform reset vector must reproduce classic PageRank
    exactly (same float sequence, not just approximately)."""
    e = _edges(
        spark,
        [("h", "s1"), ("h", "s2"), ("h", "s3"),
         ("s1", "h"), ("s2", "h"), ("s3", "h")],
    )
    classic = {r.node: r.rank for r in pagerank(e, iterations=3).collect()}
    uniform = spark.createDataFrame(
        [(n, 0.25) for n in ("h", "s1", "s2", "s3")], "node string, weight double"
    )
    seeded = {
        r.node: r.rank
        for r in pagerank(e, iterations=3, reset=uniform).collect()
    }
    assert seeded == pytest.approx(classic, abs=1e-12)


def test_ppr_concentrates_near_seed(spark):
    """Chain a<->b<->c<->d seeded at a: the seed holds the most mass
    and the far end the least. (Strict monotonicity along the chain
    does NOT hold at small iteration counts — the chain is bipartite,
    so mass arrives in parity waves and even-distance c transiently
    outranks odd-distance b; only the a>…>d envelope is
    iteration-robust.)"""
    e = _edges(
        spark,
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "d"), ("d", "c")],
    )
    seeds = spark.createDataFrame([("a", 1.0)], "node string, weight double")
    got = {r.node: r.rank for r in pagerank(e, iterations=8, reset=seeds).collect()}
    assert got["a"] == max(got.values())
    assert got["d"] == min(got.values())
    assert got["a"] > 2 * got["d"]


def test_convergence_early_exit_matches_fixpoint(spark):
    """tol-based early exit ≡ running far past convergence: on a
    23-node ring-with-chords graph, pagerank(tol=1e-9, cap 100) must
    match pagerank(iterations=60, no tol) to 8 decimals — and must
    exit well before the cap (checked indirectly: identical ranks
    despite different iteration budgets prove the exit fired at the
    fixpoint, not at the cap)."""
    pairs = [(f"n{i}", f"n{(i * 7 + 1) % 23}") for i in range(23 * 4)]
    converged = pagerank(
        _edges(spark, pairs), iterations=100, tol=1e-9, checkpoint_every=10
    )
    fixed = pagerank(_edges(spark, pairs), iterations=60)
    ra = {r.node: round(r.rank, 8) for r in converged.collect()}
    rb = {r.node: round(r.rank, 8) for r in fixed.collect()}
    assert ra == rb


def test_convergence_checkpoint_truncates_lineage(spark):
    """After a localCheckpoint the rank plan must not grow with the
    iteration count: a 25-iteration run with checkpoint_every=5 — with
    a tol that never triggers, and on the fixed-iteration path without
    tol — yields a plan at most one checkpoint interval deep (3 joins
    per iteration), not the un-truncated 75-join tree."""
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("b", "a")]
    # tol=0.0 never triggers (delta ≥ 0 but < 0.0 is false) → runs all
    # 25 iterations, as tol=None does.
    for tol in (0.0, None):
        ranks = pagerank(
            _edges(spark, pairs), iterations=25, tol=tol, checkpoint_every=5
        )
        plan = ranks._jdf.queryExecution().logical().toString()
        assert "LogicalRDD" in plan, tol
        assert plan.count("Join ") <= 3 * 5, tol


def test_pagerank_materialized_equals_session_cached(spark, sf_dir):
    """Same graph, same recurrence → the materialized-table walk must
    reproduce the session-cache walk's top-20 exactly (rank rounded to
    6 decimals on both paths)."""
    from steel_energy_consumption_prediction_using_pyspark_spark.workload.graph import (
        q_pagerank,
        q_pagerank_materialized,
    )

    a = [tuple(r) for r in q_pagerank(spark, sf_dir).collect()]
    b = [tuple(r) for r in q_pagerank_materialized(spark, sf_dir).collect()]
    assert a == b
