"""Output checks, run after the worker has exited (outside every timed
region). Each returns failure messages; every failed check counts
toward ``failed``.

- Registry SQL queries and the IVF probe are compared with their
  ``oracle_sql()`` twin run in DuckDB on the same inputs, as multisets
  of the canonical rows ``tools/check_correctness.py`` hashes (see
  ``same_rows`` for the one tolerance).
- IVF and PQ probes must reach a recall@k floor against exact cosine
  top-k computed here with numpy; the RAG probe must return its full
  shape; the persisted index build must account for every corpus
  vector.
- The dedup job must put every planted duplicate group in one cluster,
  and its cluster count must equal the one DuckDB derives from exact
  3-shingle Jaccard pairs within a source (replicas keep their
  source; a cross-source pair would show as a count mismatch).
- The reloaded ML model must predict exactly what the fitted one does.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np

import workloads as WL

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
ORACLE_CHECKED = set(WL.SQL_QUERIES) | {"ivf_probe_materialized"}
RECALL_FLOOR = 0.6


def _duck(inputs: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    return con


def _oracle_cells(con, name: str) -> tuple[list[str], list[list[str]]]:
    from steel_energy_consumption_prediction_using_pyspark_spark import workload

    res = con.execute(workload.all_oracles()[name])
    cols = [d[0] for d in res.description]
    return sorted(cols), WL.canonical_rows(res.fetchall(), cols)


def _as_float(cell: str) -> float | None:
    """The cell as a finite number, or None. NaN and infinities are
    compared as text: a NaN would pass any tolerance test."""
    try:
        v = float(cell)
    except ValueError:
        return None
    return v if math.isfinite(v) else None


def _last_place(cell: str) -> float:
    """One unit in the last printed decimal place of a number."""
    mant = cell.lower().split("e")[0]
    digits = len(mant.split(".")[1]) if "." in mant else 0
    exp = int(cell.lower().split("e")[1]) if "e" in cell.lower() else 0
    return 10.0 ** (exp - digits)


def same_rows(a: list[list[str]], b: list[list[str]]) -> bool:
    """Multiset equality of canonical rows. Numbers may differ by one
    unit in their last printed place: both engines round an aggregate of
    doubles summed in different orders, and a value that lands on a
    rounding midpoint can round either way. Every other cell (text, NaN,
    infinities) must be equal."""
    if len(a) != len(b):
        return False
    if sorted(map("|".join, a)) == sorted(map("|".join, b)):
        return True

    def key(row):
        return [(c if _as_float(c) is None else "", _as_float(c) or 0.0) for c in row]

    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        for x, y in zip(ra, rb):
            fx, fy = _as_float(x), _as_float(y)
            if fx is None or fy is None:
                if x != y:
                    return False
            elif abs(fx - fy) > 1.001 * max(_last_place(x), _last_place(y)):
                return False
    return True


def exact_topk(inputs: str) -> dict[int, set[int]]:
    """Exact cosine top-k of each query vector over the corpus."""
    import pyarrow.parquet as pq

    from steel_energy_consumption_prediction_using_pyspark_spark.workload import (
        vector,
    )

    t = pq.read_table(os.path.join(inputs, "embeddings.parquet")).to_pydict()
    ids = np.array(t["vec_id"])
    vecs = np.array(t["embedding"], dtype=np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    corpus = ids >= vector.N_QUERY
    out = {}
    for q in np.flatnonzero(~corpus):
        sims = vecs[corpus] @ vecs[q]
        order = np.lexsort((ids[corpus], -sims))[: vector.TOP_K]
        out[int(ids[q])] = {int(i) for i in ids[corpus][order]}
    return out


def recall(neighbors: list[list[int]], truth: dict[int, set[int]]) -> float:
    got: dict[int, set[int]] = {}
    for q, n in neighbors:
        got.setdefault(q, set()).add(n)
    hit = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    return hit / sum(len(t) for t in truth.values())


def _cluster_count(con, threshold: float) -> int:
    from steel_energy_consumption_prediction_using_pyspark_spark.workload.text import (
        _HASHED_SH,
        _TK_STAGE,
    )

    sql = f"""
        WITH RECURSIVE uniq AS MATERIALIZED (
            SELECT min(doc_id) AS doc_id, any_value(text) AS text,
                   any_value(source) AS source
            FROM documents
            GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
        ),
        tks AS (SELECT doc_id, source, {_TK_STAGE} AS tk FROM uniq),
        sh AS MATERIALIZED (SELECT doc_id, source, {_HASHED_SH} AS sh FROM tks),
        pairs AS MATERIALIZED (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))
                  / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
                  >= {threshold}
        ),
        edges AS MATERIALIZED (
            SELECT id_a AS s, id_b AS d FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ),
        reach AS (
            SELECT doc_id AS id, doc_id AS lbl FROM uniq
            UNION
            SELECT e.d AS id, r.lbl FROM reach r JOIN edges e ON e.s = r.id
        )
        SELECT count(DISTINCT cluster) FROM (
            SELECT id, min(lbl) AS cluster FROM reach GROUP BY id
        )
    """
    return int(con.execute(sql).fetchone()[0])


def _planted_groups(con, inputs: str) -> list[list[int]]:
    """Planted duplicate groups, each member mapped to the doc_id that
    survives exact dedup (the smallest id with the same text)."""
    keep = dict(
        con.execute(
            """SELECT doc_id, min(doc_id) OVER (
                   PARTITION BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               FROM documents"""
        ).fetchall()
    )
    with open(os.path.join(inputs, "planted.json")) as fh:
        groups = json.load(fh)
    return [sorted({keep[i] for i in g}) for g in groups]


def check(res: dict, inputs: str) -> list[str]:
    fails: list[str] = []
    con = _duck(inputs)
    oracle: dict[str, tuple[list[str], list[list[str]]]] = {}
    truth = None
    for r in res["results"]:
        op = r["op"]
        if op in ORACLE_CHECKED:
            if op not in oracle:
                oracle[op] = _oracle_cells(con, op)
            cols, cells = oracle[op]
            if r["cols"] != cols or not same_rows(r["cells"], cells):
                fails.append(f"{op}: result differs from its DuckDB oracle")
        if "neighbors" in r:
            truth = truth or exact_topk(inputs)
            r["recall"] = recall(r["neighbors"], truth)
            if r["recall"] < RECALL_FLOOR:
                fails.append(f"{op}: recall@k {r['recall']:.3f} < {RECALL_FLOOR}")
        if op == "rag_probe" and r["rows"] != 10 * _n_query():
            fails.append(f"rag_probe: {r['rows']} rows, want {10 * _n_query()}")
        if op == WL.INDEX_BUILD:
            fails += _check_index_build(r, con)
        if op == "dedup":
            fails += _check_dedup(r, con, inputs)
        if op == "steel_ml" and not r["same_predictions"]:
            fails.append("steel_ml: reloaded model predicts differently")
    return fails


def _n_query() -> int:
    from steel_energy_consumption_prediction_using_pyspark_spark.workload import (
        vector,
    )

    return vector.N_QUERY


def _check_index_build(r: dict, con) -> list[str]:
    corpus = con.execute(
        f"SELECT count(*) FROM embeddings WHERE vec_id >= {_n_query()}"
    ).fetchone()[0]
    per_tier: dict[str, int] = {}
    for tier, grp, n in r["tiers"]:
        if tier == "ivf":
            per_tier["ivf"] = per_tier.get("ivf", 0) + n
        elif tier == "pq" and n != corpus:
            return [f"{WL.INDEX_BUILD}: PQ subspace {grp} encodes {n} of {corpus} vectors"]
    if per_tier.get("ivf") != corpus:
        return [f"{WL.INDEX_BUILD}: IVF lists hold {per_tier.get('ivf')} of {corpus} vectors"]
    return []


def _check_dedup(r: dict, con, inputs: str) -> list[str]:
    fails = []
    cluster = dict(r["members"])
    want = _cluster_count(con, WL.DEDUP_THRESHOLD)
    if len(set(cluster.values())) != want:
        fails.append(f"dedup: {len(set(cluster.values()))} clusters, DuckDB finds {want}")
    reps = [c for _, c in r["reps"]]
    if sorted(reps) != sorted(set(cluster.values())):
        fails.append("dedup: written output does not hold one representative per cluster")
    for g in _planted_groups(con, inputs):
        if len({cluster.get(i) for i in g}) != 1:
            fails.append(f"dedup: planted group {g} split across clusters")
            break
    return fails

