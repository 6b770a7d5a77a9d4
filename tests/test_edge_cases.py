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
    """The kernel-side gram hash reads string offsets at the declared
    width (string: int32, large_string: int64), from a sliced array,
    hashes an all-empty array as md5 of empty bytes, and refuses any
    other layout instead of hashing misread bytes."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pytest

    from steel_energy_consumption_prediction_using_pyspark_spark.operators.dedup import (
        _gram_hash32_np,
    )

    def want(gs):
        return [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in gs]

    grams = ["x", "a b c", "héllo wörld", ""]
    for typ, width in ((pa.string(), np.int32), (pa.large_string(), np.int64)):
        arr = pa.array(["skip"] + grams, typ).slice(1)
        assert list(_gram_hash32_np(arr, len(grams))) == want(grams)
        assert np.frombuffer(arr.buffers()[1], dtype=width)[-1] > 0
        assert list(_gram_hash32_np(pa.array(["", ""], typ), 2)) == want(["", ""])
    with pytest.raises(TypeError):
        _gram_hash32_np(pa.array([b"x"], pa.binary()), 1)


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
