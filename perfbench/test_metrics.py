"""Self-tests of the end-to-end metric definitions.

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metrics import end_to_end, op_p50  # noqa: E402


def _ops(*pairs):
    return [{"name": n, "s": s, "error": None} for n, s in pairs]


def test_op_p50_weighs_each_kind_alike_whatever_the_pass_count():
    one = _ops(("clusters", 4.0), ("write", 1.0))
    three = one + _ops(("clusters", 3.0), ("write", 0.8), ("clusters", 3.2), ("write", 0.9))
    assert op_p50(one) == 2.5
    # A plain median of the six samples would be (1.0 + 3.0) / 2.
    assert op_p50(three) == (3.2 + 0.9) / 2


def test_op_p50_skips_failed_operations():
    ops = _ops(("a", 1.0), ("b", 3.0)) + [{"name": "c", "s": 99.0, "error": "boom"}]
    assert op_p50(ops) == 2.0


def test_timed_metrics_are_medians_over_passes():
    res = {
        "setup_s": 20.0,
        "passes": [6.0, 4.0, 4.4],
        "pass_ops": [2, 2, 2],
        "pass_cpu_s": [30.0, 12.0, 14.0],
        "ops": _ops(("a", 5.0), ("a", 3.0), ("a", 3.2)),
        "peak_rss_mb": 2000.0,
    }
    m = end_to_end(res)
    assert m["job_s"] == (4.4, "s")
    assert m["cpu_s"] == (14.0, "s")
    assert m["ops_per_s"] == (2 / 4.4, "1/s")
    assert m["op_p50_ms"][0] == 3200.0
