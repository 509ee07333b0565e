"""The percentile helper: the median always, a tail percentile only
with at least ten samples beyond it, and the sample count always."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import MIN_BEYOND, percentile, summarize  # noqa: E402


def test_median_is_reported_for_any_sample_count():
    assert percentile([5.0], 0.5) == 5.0
    assert percentile([1.0, 3.0], 0.5) == 2.0
    assert percentile([3.0, 1.0, 2.0], 0.5) == 2.0


def test_no_samples_no_percentile():
    assert percentile([], 0.5) is None
    assert summarize([]) == {"n": 0}


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert MIN_BEYOND == 10
    assert percentile(range(99), 0.9) is None
    assert percentile(range(100), 0.9) is not None
    assert percentile(range(999), 0.99) is None
    assert percentile(range(1000), 0.99) is not None


def test_values_interpolate_linearly():
    xs = list(range(1, 101))
    assert percentile(xs, 0.9) == pytest.approx(90.1)
    assert percentile(xs, 0.5) == pytest.approx(50.5)


def test_summary_carries_count_and_only_supported_percentiles():
    s = summarize([float(i) for i in range(150)])
    assert s["n"] == 150 and set(s) == {"n", "p50", "p90"}
    assert summarize([1.0, 2.0, 4.0]) == {"n": 3, "p50": 2.0}


def test_out_of_range_percentile_is_refused():
    with pytest.raises(ValueError):
        percentile([1.0], 1.0)
    with pytest.raises(ValueError):
        percentile([1.0], 0.0)
