"""Unit tests of the benchmark's own arithmetic; no Spark needed."""

import pytest

from perfbench.trace import Span, self_times
from perfbench.workloads import tail


def span(id, parent, start, end, book_end=0.0):
    return Span(id, "layer", f"s{id}", parent, start, end, book_end)


def test_self_time_without_children_is_duration():
    assert self_times([span(0, None, 1.0, 4.0)]) == {0: pytest.approx(3.0)}


def test_self_time_subtracts_disjoint_children():
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 1.0, 3.0), span(2, 0, 5.0, 6.0)]
    got = self_times(spans)
    assert got[0] == pytest.approx(7.0)
    assert got[1] == pytest.approx(2.0)
    assert got[2] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once():
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 1.0, 5.0), span(2, 0, 4.0, 7.0)]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_clips_children_to_parent_and_skips_grandchildren():
    spans = [
        span(0, None, 2.0, 10.0),
        span(1, 0, 1.0, 4.0),  # starts before its parent: only 2..4 counts
        span(2, 1, 1.5, 3.5),  # grandchild: covered by span 1 already
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(6.0)
    assert got[1] == pytest.approx(1.0)


def test_self_time_excludes_child_bookkeeping():
    # the child's probe (row counts) ran until 6.0, after its span ended
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 2.0, 4.0, book_end=6.0)]
    got = self_times(spans)
    assert got[0] == pytest.approx(6.0)
    assert got[1] == pytest.approx(2.0)


def test_tail_needs_ten_samples_beyond_it():
    assert tail([1.0] * 10) is None
    pct, value = tail([float(i) for i in range(1, 101)])
    assert pct == 90
    assert value == pytest.approx(90.1)
