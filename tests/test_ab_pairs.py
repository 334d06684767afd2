"""The summary math of tools/ab_pairs.py (no Spark)."""

from __future__ import annotations

import statistics

import pytest

from tools.ab_pairs import summarize


def test_claim_needs_nine_wins_in_ten_and_a_gap_beyond_the_iqr():
    a = [100, 102, 98, 101, 99, 100, 103, 97, 100, 101]
    b = [130, 128, 131, 99, 129, 132, 127, 130, 133, 128]  # loses one pair
    s = summarize(a, b, "higher", 0.25)
    assert s["wins"] == 9 and s["pairs"] == 10
    assert s["claim"] and not s["worse_beyond_bound"] and not s["unresolved"]
    assert s["a"] == statistics.quantiles(a, n=4)
    assert s["ratio"] == pytest.approx(statistics.median(b) / statistics.median(a))

    b[0] = 99  # two losses: 8 of 10
    assert not summarize(a, b, "higher", 0.25)["claim"]


def test_ties_count_for_neither_side_and_a_small_gap_claims_nothing():
    a = [10.0, 11.0, 12.0, 13.0]
    s = summarize(a, list(a), "higher", 0.25)
    assert s["wins"] == 0 and not s["claim"]
    # better in every pair, but by less than A's own quartile distance
    s = summarize(a, [x + 0.1 for x in a], "higher", 0.25)
    assert s["wins"] == 4 and not s["claim"]


def test_lower_is_better_and_worse_beyond_bound():
    a = [3.0, 3.1, 2.9, 3.0]
    s = summarize(a, [2.0, 2.1, 1.9, 2.0], "lower", 0.25)
    assert s["wins"] == 4 and s["claim"] and s["ratio"] < 1
    s = summarize(a, [4.0, 4.1, 3.9, 4.0], "lower", 0.25)
    assert s["wins"] == 0 and s["worse_beyond_bound"]
    assert not summarize(a, [3.5, 3.6, 3.4, 3.5], "lower", 0.25)["worse_beyond_bound"]


def test_unresolved_when_the_base_spreads_wider_than_the_bound():
    a = [50.0, 100.0, 150.0, 100.0]
    s = summarize(a, [95.0, 100.0, 105.0, 100.0], "higher", 0.25)
    assert s["unresolved"]
    # unless every run of B reads better than every run of A
    assert not summarize(a, [160.0, 170.0, 180.0, 175.0], "higher", 0.25)["unresolved"]


def test_unpaired_runs_are_refused():
    with pytest.raises(ValueError):
        summarize([1.0, 2.0], [1.0], "higher", 0.25)
