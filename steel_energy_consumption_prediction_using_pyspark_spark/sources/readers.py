"""Batch sources: parquet (primary) and CSV (reference-parity).

The reference ingests one CSV with ``inferSchema=True, header=True``
(SteelPred.py:27). Schema inference costs an extra full scan — fine for
35k rows, unacceptable at 100 TB — so the engine's contract is:

- parquet is the primary format (self-describing schema, column pruning,
  predicate pushdown, the only sane 100 TB format);
- CSV reads take an explicit schema whenever the caller has one, and the
  inference path exists only for reference parity / exploration;
- column names are normalized on ingest (dots and parens break
  Catalyst's struct-field accessor syntax; the reference renames them
  by hand at SteelPred.py:139-146 — we do it systematically);
- :func:`read_parquet` is the one parquet read path (fixture tables via
  workload/util.py::T, persisted indexes, signature stores, compacted
  tables). It resolves each source's schema once per session and
  reuses it until the files change, so re-reading a table inside a
  session costs no schema-inference job. Streaming readers keep their
  own path.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Tables the driver fixtures provide (TESTDATA.md).
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_BAD_NAME_CHARS = re.compile(r"[ ,;{}()\n\t=.]+")


def normalize_column_name(name: str) -> str:
    """Make a raw header safe for the DataFrame API.

    ``Lagging_Current_Reactive.Power_kVarh`` → ``Lagging_Current_Reactive_Power_kVarh``
    ``CO2(tCO2)`` → ``CO2`` (reference's own choice, SteelPred.py:139-146).
    """
    if name == "CO2(tCO2)":
        return "CO2"
    cleaned = _BAD_NAME_CHARS.sub("_", name).strip("_")
    return cleaned


def normalize_columns(df: DataFrame) -> DataFrame:
    """Rename every unsafe column; no-op plan node when nothing changes
    (Catalyst collapses adjacent projects)."""
    renames = {c: normalize_column_name(c) for c in df.columns}
    if all(old == new for old, new in renames.items()):
        return df
    return df.withColumnsRenamed({o: n for o, n in renames.items() if o != n})


_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _file_stamp(path: str) -> str:
    """(size, mtime_ns) of a single file, or the nested-layout
    fingerprint of a directory (workload/util.py::dir_fingerprint, the
    fixture_fingerprint recipe): rewriting the data in place changes
    the stamp, so the memoized schema is re-inferred."""
    from ..workload.util import dir_fingerprint

    if os.path.isdir(path):
        return dir_fingerprint(path)
    try:
        st = os.stat(path)
    except OSError:
        return "absent"
    return f"{st.st_size}:{st.st_mtime_ns}"


def read_parquet(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Parquet scan — the engine's one parquet read path (workload/util.py::T
    and every workload reader go through it). The resolved schema is
    memoized per session, path, file stamp and the confs that shape
    inference, so a repeated read of unchanged data runs no schema
    job; data rewritten in place is re-inferred.

    ``merge_schema=True`` unions the schemas of every footer in the
    directory (columns added over a table's lifetime surface as nulls
    in older files) — the schema-evolution read path a long-lived
    100 TB table needs. It costs a footer read per file at planning
    time, so it stays opt-in and is never memoized."""
    if merge_schema:
        return spark.read.option("mergeSchema", True).parquet(path)
    path = os.path.abspath(path)
    stamp = (_file_stamp(path), *(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
    _, schema = _SCHEMAS.get(
        (spark.sparkContext.applicationId, path),
        lambda: (stamp, spark.read.parquet(path).schema),
        lambda hit: hit[0] == stamp,
    )
    return spark.read.schema(schema).parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
    normalize: bool = True,
) -> DataFrame:
    """CSV scan. Explicit ``schema`` skips the inference scan (the fast
    path); ``schema=None`` reproduces the reference's
    ``inferSchema=True`` behavior (SteelPred.py:27)."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    df = reader.csv(path)
    return normalize_columns(df) if normalize else df


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    normalize: bool = True,
) -> DataFrame:
    """JSON-lines scan — the arrival format of most raw LLM-corpus
    dumps. Same contract as read_csv: an explicit schema skips the
    inference scan AND pins types the sampler could get wrong (a column
    that is integer in the sampled rows but string later); schema=None
    infers for exploration only."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    return normalize_columns(df) if normalize else df


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — columnar like parquet (predicate pushdown, column
    pruning, vectorized read all apply); supported for interop with
    Hive-era warehouses."""
    return spark.read.orc(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Same timestamp normalization as workload/util.py::T so the two
    # load paths agree (NTZ µs parquet → UTC TIMESTAMP; legacy ns-as-
    # long fixtures → truncated µs TIMESTAMP).
    from ..workload.util import T

    return T(spark, sf_dir, name)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> dict[str, DataFrame]:
    """Temp-view registration, the reference's SQL entry point
    (``createOrReplaceTempView``, SteelPred.py:106)."""
    dfs = load_tables(spark, sf_dir, names)
    for n, df in dfs.items():
        df.createOrReplaceTempView(n)
    return dfs


# Resolved parquet schemas: (applicationId, absolute path) → (file
# stamp and schema-shaping confs at inference, schema). Spark infers a
# parquet schema with a footer-reading job on every read; a hit reads
# with .schema(...) and runs none, and a stale stamp re-infers and
# replaces the entry. Imported last: workload/util.py's T imports
# read_parquet, and importing the workload package runs every module
# that reads through this one.
from ..workload.util import SessionCache  # noqa: E402

_SCHEMAS = SessionCache("parquet_schemas")
