"""Degenerate-input hardening: empty frames, all-null columns,
single-row groups — the shapes that appear at 100 TB as empty
partitions/filtered-out splits and must not throw."""

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from steel_energy_consumption_prediction_using_pyspark_spark.functions.scalar import (
    histogram,
)
from steel_energy_consumption_prediction_using_pyspark_spark.operators import (
    dedup as D,
)
from steel_energy_consumption_prediction_using_pyspark_spark.operators import (
    text as X,
)
from steel_energy_consumption_prediction_using_pyspark_spark.operators.relational import (
    salted_sum_count,
    top_k,
    top_k_per_group,
)

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)
NUM_SCHEMA = StructType(
    [StructField("k", StringType()), StructField("x", DoubleType())]
)


def _empty_docs(spark):
    return spark.createDataFrame([], DOC_SCHEMA)


def test_histogram_empty_input(spark):
    df = spark.createDataFrame([], NUM_SCHEMA)
    assert histogram(df, "x", nbins=10).collect() == []


def test_histogram_all_null(spark):
    df = spark.createDataFrame([Row(k="a", x=None), Row(k="b", x=None)], NUM_SCHEMA)
    out = {r.bin: r.cnt for r in histogram(df, "x", nbins=4).collect()}
    assert out == {None: 2}


def test_topk_empty(spark):
    df = spark.createDataFrame([], NUM_SCHEMA)
    assert top_k(df, [F.desc("x")], 5).collect() == []
    assert top_k_per_group(df, ["k"], [F.desc("x")], 1).collect() == []


def test_exact_dedup_empty(spark):
    assert D.exact_dedup(_empty_docs(spark), "text", "doc_id").collect() == []


def test_minhash_empty_and_empty_text(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=2, text="   "), Row(doc_id=3, text="a b")],
        DOC_SCHEMA,
    )
    # empty/whitespace docs produce empty shingle sets → LONG_MAX
    # sentinel signatures; they must NOT all collide as "duplicates"
    # of each other via the sentinel (they do band-match, but exact
    # verification divides by a zero-size union → null jaccard,
    # filtered out).
    pairs = D.minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=8, bands=4)
    ids = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) not in ids


def test_simhash_empty_text(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="")], DOC_SCHEMA)
    out = docs.select(D.simhash64("text").alias("s")).collect()
    assert out[0].s == 0  # empty token set → all-zero bitsum → sign 0


def test_quality_score_degenerate_strings(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=2, text="x"), Row(doc_id=3, text="the " * 50)],
        DOC_SCHEMA,
    )
    rows = docs.select(X.quality_score("text").alias("q")).collect()
    for r in rows:
        assert r.q is None or 0.0 <= r.q <= 1.0


def test_salted_agg_empty(spark):
    df = spark.createDataFrame([], NUM_SCHEMA)
    assert salted_sum_count(df, ["k"], "x").collect() == []


def test_lang_guess_empty(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="")], DOC_SCHEMA)
    assert docs.select(X.lang_guess("text").alias("g")).collect()[0].g == "und"


def test_gram_hash32_matches_hashlib(spark):
    """The portable gram hash is exactly int(md5(g)[:8], 16) — pinned
    against hashlib so neither engine can drift."""
    import hashlib

    import pyspark.sql.functions as F

    from steel_energy_consumption_prediction_using_pyspark_spark.operators.dedup import (
        gram_hash32,
    )

    df = spark.createDataFrame([("hello world",), ("",)], "g string")
    got = [r.h for r in df.select(gram_hash32(F.col("g")).alias("h")).collect()]
    want = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in ("hello world", "")]
    assert got == want


def test_gram_hash32_kernel_offset_widths():
    """The Arrow-kernel substrate (operators/arrow.py) on every layout a
    kernel can meet — sliced, null slot, chunked, large_list /
    large_string, empty: list and string offsets are read at the
    declared width from the array's slice, lists rebuild, vectors
    reshape, the gram hash is md5's first 4 bytes, seq_dot is the
    left-to-right Python fold bit for bit, and ragged or null vectors
    and non-string layouts raise instead of yielding misread values."""
    import hashlib
    import random

    import numpy as np
    import pyarrow as pa
    import pytest

    from steel_energy_consumption_prediction_using_pyspark_spark.operators.arrow import (
        build_list,
        fixed_width_f64,
        gram_windows,
        list_parts,
        md5_digests,
        seq_dot,
        string_parts,
    )
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.dedup import (
        _gram_hash32_np,
    )

    def lists(rows, large=False):
        return pa.array(
            rows,
            pa.large_list(pa.large_string()) if large else pa.list_(pa.string()),
        )

    rows = [["héllo", "wörld"], None, [], ["a b c", "", "x"]]
    cases = {
        "plain": lists(rows),
        "sliced": lists([["skip", "me"]] + rows).slice(1),
        "null slot": lists([None] + rows),
        "chunked": pa.chunked_array([lists(rows[:2]), lists(rows[2:])]),
        "large": lists(rows, large=True).slice(1),
        "null slot with a range": pa.ListArray.from_arrays(
            pa.array([0, 2, 4, 5], pa.int32()),
            pa.array(["a", "b", "hidden", "hidden", "c"]),
            mask=pa.array([False, True, False]),
        ),
        "empty": lists([]),
    }
    for name, col in cases.items():
        want = col.to_pylist()
        offs, valid, vals = list_parts(col)
        assert offs.dtype == np.int64, name
        got = [
            vals.slice(offs[i], offs[i + 1] - offs[i]).to_pylist() if valid[i] else None
            for i in range(len(want))
        ]
        assert got == want, name
        soffs, mv = string_parts(vals)
        assert [
            bytes(mv[soffs[i] : soffs[i + 1]]).decode() for i in range(len(vals))
        ] == vals.to_pylist(), name
        sizes = np.where(valid, offs[1:] - offs[:-1], 0)
        idx, row_of = gram_windows(offs, sizes)
        rebuilt = build_list(row_of, vals.take(pa.array(idx)), len(want))
        assert rebuilt.to_pylist() == [r or [] for r in want], name
        flat = [g for r in want if r for g in r]
        assert md5_digests(vals.take(pa.array(idx))).tobytes() == b"".join(
            hashlib.md5(g.encode()).digest() for g in flat
        ), name
        assert list(_gram_hash32_np(vals.take(pa.array(idx)), len(flat))) == [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in flat
        ], name
    grams = ["x", "a b c", "héllo wörld", ""]
    for typ in (pa.string(), pa.large_string()):
        sliced = pa.array(["skip"] + grams, typ).slice(1)
        soffs, mv = string_parts(sliced)
        assert [bytes(mv[soffs[i] : soffs[i + 1]]).decode() for i in range(4)] == grams
        assert list(_gram_hash32_np(sliced, 4)) == [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams
        ]
        assert list(_gram_hash32_np(pa.array(["", ""], typ), 2)) == [
            int(hashlib.md5(b"").hexdigest()[:8], 16)
        ] * 2

    vecs = [[1.5, -2.0, 0.25], [0.0, 3.0, -1.0], [7.0, 8.0, 9.0]]
    vec_cases = {
        "plain": pa.array(vecs, pa.list_(pa.float64())),
        "sliced": pa.array([[9.0, 9.0, 9.0]] + vecs, pa.list_(pa.float64())).slice(1),
        "chunked": pa.chunked_array(
            [pa.array(vecs[:1], pa.list_(pa.float64())), pa.array(vecs[1:], pa.list_(pa.float64()))]
        ),
        "large int": pa.array([[1, -2, 3], [0, 127, -127]], pa.large_list(pa.int64())),
        "empty": pa.array([], pa.list_(pa.float64())),
    }
    for name, col in vec_cases.items():
        got = fixed_width_f64(col, 3)
        assert got.dtype == np.float64 and got.shape == (len(col), 3), name
        assert got.tolist() == [[float(x) for x in v] for v in col.to_pylist()], name
    bad = {
        "null vector": pa.array([[1.0, 2.0, 3.0], None], pa.list_(pa.float64())),
        "ragged": pa.array([[1.0, 2.0, 3.0], [1.0, 2.0]], pa.list_(pa.float64())),
        "null element": pa.array([[1.0, None, 3.0]], pa.list_(pa.float64())),
    }
    for name, col in bad.items():
        with pytest.raises(ValueError):
            fixed_width_f64(col, 3)
    with pytest.raises(TypeError):
        string_parts(pa.array([b"x"], pa.binary()))
    with pytest.raises(TypeError):
        _gram_hash32_np(pa.array([b"x"], pa.binary()), 1)
    with pytest.raises(TypeError):
        list_parts(pa.array(["a"]))

    def py_fold(a, b):  # aggregate(zip_with) / list_dot_product order
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    rnd = random.Random(7)
    X = np.array([[rnd.uniform(-1e3, 1e3) for _ in range(32)] for _ in range(40)])
    C = np.array([[rnd.uniform(-1.0, 1.0) for _ in range(32)] for _ in range(9)])
    M = seq_dot(X[:, None], C)
    assert M.shape == (40, 9)
    assert M.tolist() == [[py_fold(x, c) for c in C.tolist()] for x in X.tolist()]
    assert seq_dot(X, X).tolist() == [py_fold(x, x) for x in X.tolist()]


def test_minhash_params_deterministic_and_bounded():
    from steel_energy_consumption_prediction_using_pyspark_spark.operators.dedup import (
        _minhash_params,
    )

    a = _minhash_params(32)
    b = _minhash_params(32)
    assert a == b and len(a) == 32
    for ai, bi in a:
        assert 1 <= ai < (1 << 30) and ai % 2 == 1
        assert 0 <= bi < (1 << 31)
    # overflow-free bound: max a·h + b stays under 2^63
    assert ((1 << 30) - 1) * ((1 << 32) - 1) + ((1 << 31) - 1) < (1 << 63)


def test_ppm_rejects_wide_maxval():
    import numpy as np
    import pytest

    from steel_energy_consumption_prediction_using_pyspark_spark.operators.multimodal import (
        decode_pixels,
    )

    px = np.zeros((1, 1, 3), dtype=np.uint8)
    payload = b"P6\n1 1\n65535\n" + px.tobytes() * 2
    with pytest.raises(ValueError):
        decode_pixels(payload)


def test_bmp_rejects_compressed():
    import struct

    import pytest

    from steel_energy_consumption_prediction_using_pyspark_spark.operators.multimodal import (
        decode_pixels,
    )

    header = struct.pack("<2sIHHI", b"BM", 54, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 1, 0, 0, 0, 0, 0)  # BI_RLE8
    with pytest.raises(ValueError):
        decode_pixels(header + info)
