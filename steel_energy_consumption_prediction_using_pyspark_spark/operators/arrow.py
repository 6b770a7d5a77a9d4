"""The Arrow-batch substrate of the numpy ``mapInArrow`` kernels
(dedup, text, similarity, PQ and the workload text kernels).

Every kernel reads its list and string columns, windows its grams,
rebuilds its list output and folds its dot products through these
helpers, so the layout rules live here once:

- List children are read as ``.values`` indexed by the list's ABSOLUTE
  offsets, never ``flatten()``. flatten() drops the child ranges behind
  null slots and before a slice while the offsets keep indexing the
  full child, so one null or sliced row would shift every later row.
  Validity is returned beside the offsets because a null slot's range
  is not guaranteed to be empty; each kernel applies its own null rule.
- Offsets are read at the width the type declares: int32 for ``list``
  and ``string``, int64 for ``large_list`` and ``large_string``
  (``spark.sql.execution.arrow.useLargeVarTypes``). Any other layout
  raises instead of hashing misread bytes.
- Dot products fold LEFT TO RIGHT over dims (acc = acc + x_i·y_i), the
  association of ``aggregate(zip_with(...))`` and DuckDB's
  ``list_dot_product``. Float64 +,* are IEEE-identical in numpy, the
  JVM and DuckDB, so every double equals its SQL twin's bit for bit.
"""

from __future__ import annotations

from hashlib import md5

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def list_parts(col):
    """(int64 offsets, bool validity, values) of a ``list`` or
    ``large_list`` array or chunked array."""
    if hasattr(col, "combine_chunks"):
        col = col.combine_chunks()
    if not (pa.types.is_list(col.type) or pa.types.is_large_list(col.type)):
        raise TypeError(f"expected a list or large_list array, got {col.type}")
    offs = np.asarray(col.offsets, dtype=np.int64)
    valid = np.asarray(col.is_valid().to_numpy(zero_copy_only=False), dtype=bool)
    return offs, valid, col.values


def string_parts(arr):
    """(offsets, data) of a flat ``string`` or ``large_string`` array
    for zero-copy slicing: offsets cut to the array's slice, and a None
    data buffer (every value empty) read as empty bytes."""
    if pa.types.is_string(arr.type):
        width = np.int32
    elif pa.types.is_large_string(arr.type):
        width = np.int64
    else:
        raise TypeError(f"expected a string or large_string array, got {arr.type}")
    _, offs, data = arr.buffers()
    offs = np.frombuffer(offs, dtype=width)[arr.offset : arr.offset + len(arr) + 1]
    return offs, memoryview(data if data is not None else b"")


def gram_windows(offs, counts):
    """(idx, row_of) of counts[i] consecutive windows per row i: idx is
    each window's absolute start position (offs[i], offs[i]+1, ...) and
    row_of its row. The window's position inside its row is
    ``idx - offs[row_of]``."""
    total = int(counts.sum())
    starts = np.cumsum(counts) - counts
    local = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
    idx = np.repeat(offs[:-1], counts) + local
    row_of = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    return idx, row_of


def join_grams(values, end: int, n: int):
    """Element p is the word n-gram values[p..p+n-1] joined by one
    space, for every absolute position p < end - n + 1: the same UTF-8
    bytes as ``concat_ws(' ', element_at(t, i)..element_at(t, i+n-1))``.
    Grams that cross a row boundary are computed too; callers pick
    theirs with :func:`gram_windows`."""
    m = max(end - (n - 1), 0)
    return pc.binary_join_element_wise(
        *[values.slice(j, m) for j in range(n)], pa.scalar(" ", values.type)
    )


def build_list(row_of, values, nrows: int):
    """``list`` array of nrows rows, row i holding the values whose
    row_of is i (row_of non-decreasing). Rows without values, and every
    row of an empty batch, are empty lists."""
    offs = np.zeros(nrows + 1, dtype=np.int32)
    np.cumsum(np.bincount(row_of, minlength=nrows), out=offs[1:])
    return pa.ListArray.from_arrays(pa.array(offs, pa.int32()), values)


def fixed_width_f64(col, dim: int):
    """(n, dim) float64 matrix of a list array of fixed-width vectors,
    sliced straight from the values buffer. Null or ragged vectors and
    null elements raise: embedding vectors are fixed-width and non-null
    by contract, and a silent NaN fill could change assignments."""
    offs, valid, vals = list_parts(col)
    if not valid.all():
        raise ValueError("null vector in fixed-width Arrow kernel input")
    n = len(valid)
    if not (np.diff(offs) == dim).all():
        raise ValueError(f"ragged vector widths in Arrow kernel input (expected {dim})")
    vals = vals.slice(offs[0], n * dim)
    if vals.null_count:
        raise ValueError("null vector element in Arrow kernel input")
    return np.asarray(vals).astype(np.float64, copy=False).reshape(n, dim)


def md5_digests(strings):
    """(n, 16) uint8 md5 digests of a flat string array's UTF-8 bytes:
    the digest the JVM's and DuckDB's md5() hex-encode."""
    offs, mv = string_parts(strings)
    raw = b"".join(md5(mv[offs[i] : offs[i + 1]]).digest() for i in range(len(strings)))
    return np.frombuffer(raw, dtype=np.uint8).reshape(-1, 16)


def seq_dot(a, b):
    """Dot products over the last axis, folded left to right; the
    leading axes broadcast. ``seq_dot(X, X)`` gives the squared row
    norms of X (n, d), ``seq_dot(X[:, None], C)`` the (n, k) matrix of
    X against the rows of C (k, d)."""
    acc = 0.0
    for i in range(a.shape[-1]):
        acc = acc + a[..., i] * b[..., i]
    return acc
