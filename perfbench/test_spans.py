"""Self-tests of the benchmark's tracing: job attribution by job-ID
interval, self time, and the connected-components round count.

    python3 -m pytest perfbench/test_spans.py -q
"""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer, union_length  # noqa: E402
from workloads import cc_rounds  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-selftest")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .getOrCreate()
    )
    yield s
    s.stop()


def _one_job(sc) -> int:
    return sc.parallelize(range(8), 2).count()  # exactly one job


def test_span_owns_jobs_from_threads_the_call_starts(spark):
    """A call that runs jobs on its own thread pool, the way
    ``_write_ann_index`` does: the span must own every job, while a job
    group set by the caller reaches only the caller's thread."""
    sc = spark.sparkContext
    tracer = Tracer(spark, enabled=True)

    def call():
        _one_job(sc)
        with ThreadPoolExecutor(max_workers=2) as pool:
            for f in [pool.submit(_one_job, sc) for _ in range(2)]:
                f.result()

    sc.setJobGroup("perfbench-selftest", "threaded call")
    try:
        with tracer.span("threaded", kind="op"):
            call()
    finally:
        sc.setJobGroup("", "")
    rec = tracer.finish()[0]
    assert rec["jobs"] == 3
    assert rec["stages"] == 3
    assert rec["tasks"] == 6
    grouped = sc.statusTracker().getJobIdsForGroup("perfbench-selftest")
    assert len(grouped) == 1


def test_nested_spans_split_jobs_and_self_time(spark):
    sc = spark.sparkContext
    tracer = Tracer(spark, enabled=True)
    with tracer.span("outer", kind="op"):
        _one_job(sc)
        with tracer.span("inner", kind="call"):
            _one_job(sc)
            _one_job(sc)
    outer, inner = tracer.finish()
    assert inner["parent"] == 0
    assert (outer["jobs"], inner["jobs"]) == (3, 2)
    assert outer["self_s"] == pytest.approx(outer["wall_s"] - inner["wall_s"])


def test_disabled_tracer_records_nothing(spark):
    tracer = Tracer(spark, enabled=False)
    with tracer.span("x") as sp:
        assert sp is None
    assert tracer.finish() == []


def test_union_length():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_cc_rounds_counts_the_confirming_round():
    assert cc_rounds([1, 2, 3], []) == 1
    assert cc_rounds([1, 2, 3], [(1, 2), (2, 3)]) == 3  # 3 -> 2 -> 1, then no change
