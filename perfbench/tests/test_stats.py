"""Percentile and sample-count helpers, and the digest comparator."""

import pytest

from stats import frame_digest, percentile, tail_percentile


@pytest.mark.parametrize("n,pct", [(5, None), (10, None), (11, 9), (20, 50), (100, 90), (1000, 99)])
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    assert tail_percentile(n) == pct
    if pct is not None:
        values = list(range(1, n + 1))
        assert sum(v > percentile(values, pct) for v in values) >= 10


def test_percentile_is_nearest_rank():
    values = [5, 1, 4, 2, 3]
    assert percentile(values, 50) == 3
    assert percentile(values, 80) == 4
    assert percentile(values, 100) == 5
    assert percentile(values, 1) == 1


def test_digest_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, "b", None), (3, "c", 1.25)]
    a = frame_digest(["id", "s", "x"], rows)
    b = frame_digest(["x", "id", "s"], [(r[2], r[0], r[1]) for r in reversed(rows)])
    assert a == b


def test_digest_sees_value_count_and_name_changes():
    rows = [(1, "a", 0.5), (2, "b", None)]
    base = frame_digest(["id", "s", "x"], rows)
    assert frame_digest(["id", "s", "x"], [(1, "a", 0.5), (2, "b", 0.0)]) != base
    assert frame_digest(["id", "s", "x"], rows + rows[:1]) != base
    assert frame_digest(["id", "s", "y"], rows) != base
    # float identity is by repr, so -0.0 and 0.0 differ (the catalog
    # oracles normalise negative zero on both engines)
    assert frame_digest(["x"], [(0.0,)]) != frame_digest(["x"], [(-0.0,)])
