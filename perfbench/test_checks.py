"""Self-tests of the benchmark's output comparison.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from checks import recall, same_rows  # noqa: E402


def test_numbers_may_differ_by_one_unit_in_the_last_place():
    assert same_rows([["830395.17", "x"]], [["830395.18", "x"]])
    assert not same_rows([["830395.17", "x"]], [["830395.19", "x"]])
    assert same_rows([["1.5e3"]], [["1.6e3"]])


def test_nan_and_infinity_must_match_exactly():
    assert not same_rows([["nan"]], [["1.0"]])
    assert not same_rows([["2.0"]], [["nan"]])
    assert not same_rows([["inf"]], [["1e308"]])
    assert same_rows([["nan"]], [["nan"]])


def test_rows_compare_as_a_multiset():
    a = [["1", "a"], ["2", "b"], ["2", "b"]]
    assert same_rows(a, [["2", "b"], ["1", "a"], ["2", "b"]])
    assert not same_rows(a, [["1", "a"], ["2", "b"], ["1", "a"]])
    assert not same_rows(a, a[:2])
    assert not same_rows([["a"]], [["b"]])


def test_recall_counts_true_neighbours_found():
    truth = {0: {10, 11}, 1: {12, 13}}
    assert recall([[0, 10], [0, 11], [1, 12], [1, 99]], truth) == 0.75
