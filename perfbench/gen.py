"""Seeded input generator for the benchmark.

Writes the ten fixture tables the engine's registry reads (``region``
… ``embeddings``, one parquet file each, same column names and types as
the fixtures ``tools/gen_sf.py`` scales) from a seed alone, so a run never reads
outside its checkout. Every random choice comes from one
``numpy.random.Generator`` seeded with ``--seed``: the same seed gives
byte-identical tables, another seed gives another row order, other
values and other document replicas of the same sizes.

``documents`` is built the way ``tools/gen_sf.py`` scales it: base
documents plus replicas with a per-replica perturbation (a few words
replaced), and some exact copies. The replica groups are the planted
duplicates the dedup check must recover; they are written beside the
tables as ``planted.json``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table, roughly the sf0.01 fixture's shape.
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "embeddings": 600,
}
BASE_DOCS = 500  # distinct documents before replication
REPLICAS = 3  # perturbed near-copies per planted group
GROUP_FRAC = 0.4  # share of base documents that get replicas
EXACT_COPIES = 50  # byte-identical copies (dropped by the fingerprint step)
N_SOURCES = 50

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_COLORS = ["red", "blue", "green", "small", "large", "steel", "brass", "black"]
_NOUNS = ["widget", "bolt", "ring", "gear", "valve", "panel", "spring", "plate"]
_PTYPES = ["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a the of and is to in key agg row scan slow fast table value part hash "
    "merge batch spark line sort window data column join small big query "
    "customer order stream group filter vector index shuffle plan cache"
).split()
_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _ts_days(rng, n: int, span_days: int) -> pa.Array:
    d = _EPOCH_1995 + rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _words(rng, n: int) -> str:
    return " ".join(_VOCAB[i] for i in rng.integers(0, len(_VOCAB), n))


def _documents(rng, scale: float) -> tuple[pa.Table, list[list[int]]]:
    """Base documents, perturbed replica groups and exact copies, in a
    seeded row order. Returns the table and the planted groups (doc ids
    that must end in one dedup cluster)."""
    n_base = max(10, int(BASE_DOCS * scale))
    texts = [_words(rng, int(rng.integers(40, 90))) for _ in range(n_base)]
    src = [int(s) for s in rng.integers(0, N_SOURCES, n_base)]
    rows: list[tuple[str, int]] = list(zip(texts, src))
    groups: list[list[int]] = []
    for b in rng.choice(n_base, int(n_base * GROUP_FRAC), replace=False):
        group = [int(b)]
        toks = texts[b].split(" ")
        for _ in range(REPLICAS):
            t = list(toks)
            # Replace ~4% of the words: enough to change the
            # fingerprint, little enough to keep 3-shingle Jaccard
            # well above the dedup threshold.
            for i in rng.choice(len(t), max(1, len(t) // 25), replace=False):
                t[i] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            group.append(len(rows))
            rows.append((" ".join(t), src[b]))
        groups.append(group)
    for b in rng.choice(len(rows), max(1, int(EXACT_COPIES * scale)), replace=False):
        rows.append(rows[int(b)])
    order = rng.permutation(len(rows))  # doc_id = position after shuffle
    new_id = np.empty(len(rows), dtype=np.int64)
    new_id[order] = np.arange(len(rows))
    shuffled = [rows[i] for i in order]
    text = [t for t, _ in shuffled]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(len(rows)), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(
                [_LANGS[i] for i in rng.integers(0, len(_LANGS), len(rows))],
                pa.string(),
            ),
            "source": pa.array([f"src{s}" for _, s in shuffled], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    planted = [sorted(int(new_id[i]) for i in g) for g in groups]
    return table, planted


def _tables(rng, scale: float) -> tuple[dict[str, pa.Table], list[list[int]]]:
    n = {k: max(10, int(v * scale)) for k, v in SIZES.items()}
    n_c, n_s, n_p, n_o = (n[k] for k in ("customer", "supplier", "part", "orders"))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(rng, n_c, -999.99, 9999.99),
            "c_mktsegment": pa.array(
                [_SEGMENTS[i] for i in rng.integers(0, 5, n_c)]
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(rng, n_s, -999.99, 9999.99),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_p), pa.int64()),
            "p_name": pa.array(
                [
                    f"{_COLORS[a]} {_NOUNS[b]}"
                    for a, b in zip(
                        rng.integers(0, len(_COLORS), n_p),
                        rng.integers(0, len(_NOUNS), n_p),
                    )
                ]
            ),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_p)]),
            "p_type": pa.array(
                [_PTYPES[i] for i in rng.integers(0, len(_PTYPES), n_p)]
            ),
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": pa.array([["F", "O", "P"][i] for i in rng.integers(0, 3, n_o)]),
            "o_totalprice": _money(rng, n_o, 1000.0, 500000.0),
            "o_orderdate": _ts_days(rng, n_o, 2405),
            "o_orderpriority": pa.array(
                [_PRIORITIES[i] for i in rng.integers(0, 5, n_o)]
            ),
        }
    )
    per_order = rng.integers(1, 8, n_o)
    n_l = int(per_order.sum())
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_o), per_order), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(
                np.concatenate([np.arange(1, k + 1) for k in per_order]), pa.int32()
            ),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, n_l, 900.0, 100000.0),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": pa.array([["A", "N", "R"][i] for i in rng.integers(0, 3, n_l)]),
            "l_linestatus": pa.array([["F", "O"][i] for i in rng.integers(0, 2, n_l)]),
            "l_shipdate": _ts_days(rng, n_l, 2405 + 120),
        }
    )
    n_e = n["events"]
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_e)).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_e), pa.int64()),
            # Stored as TIMESTAMP(NANOS) like the fixture's column.
            "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, 150, n_e), pa.int64()),
            "event_type": pa.array([_EVENT_TYPES[i] for i in rng.integers(0, 5, n_e)]),
            "value": _money(rng, n_e, 0.0, 50.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
        }
    )
    t["documents"], planted = _documents(rng, scale)
    n_v = n["embeddings"]
    centers = rng.normal(size=(8, 64))
    lab = rng.integers(0, 8, n_v)
    vecs = centers[lab] + rng.normal(scale=0.8, size=(n_v, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_v), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(lab % 3, pa.int32()),
        }
    )
    # Row-order permutation: same rows, seeded physical order.
    for name in ("customer", "part", "orders", "lineitem", "events", "embeddings"):
        t[name] = t[name].take(rng.permutation(t[name].num_rows))
    return t, planted


def generate(out_dir: str, seed: int, scale: float = 1.0) -> str:
    """Write the seed's inputs, with every table's row count multiplied
    by ``scale``, into ``out_dir/seed_<seed>_x<scale>`` unless they are
    already there; return that directory."""
    d = os.path.join(out_dir, f"seed_{seed}_x{scale:g}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    tmp = f"{d}.tmp.{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    tables, planted = _tables(np.random.default_rng(seed), scale)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "planted.json"), "w") as fh:
        json.dump(planted, fh)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, d)
    return d
