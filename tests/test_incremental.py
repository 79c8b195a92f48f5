"""Partial-aggregate state merging: merge(history, increment) must be
bit-identical to aggregating everything at once, including groups
that exist on only one side."""

import pytest
from pyspark.sql import functions as F

from traits_data_spark.operators.incremental import merge_aggregate_states

# name -> merge fn; Columns are built lazily (needs an active session)
AGG_HOW = {"sum_qty": "sum", "n": "sum", "min_price": "min", "max_price": "max"}


def _agg(df):
    cols = {
        "sum_qty": F.expr("SUM(CAST(l_quantity AS BIGINT))"),
        "n": F.expr("COUNT(1)"),
        "min_price": F.min("l_extendedprice"),
        "max_price": F.max("l_extendedprice"),
    }
    return df.groupBy("l_suppkey").agg(
        *[c.alias(name) for name, c in cols.items()]
    )


def test_merge_equals_full_reaggregation(spark, lineitem):
    hist = _agg(lineitem.filter(F.col("l_orderkey") % 4 != 0))
    inc = _agg(lineitem.filter(F.col("l_orderkey") % 4 == 0))
    merged = merge_aggregate_states(hist, inc, ["l_suppkey"], AGG_HOW)
    full = _agg(lineitem)
    got = {r["l_suppkey"]: r for r in merged.collect()}
    want = {r["l_suppkey"]: r for r in full.collect()}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        for name in AGG_HOW:
            assert g[name] == w[name], (k, name)


def test_merge_one_sided_groups_pass_through(spark):
    a = spark.createDataFrame([(1, 10, 1.0), (2, 20, 2.0)], "k INT, s LONG, m DOUBLE")
    b = spark.createDataFrame([(2, 5, 0.5), (3, 7, 7.0)], "k INT, s LONG, m DOUBLE")
    out = {
        r["k"]: (r["s"], r["m"])
        for r in merge_aggregate_states(
            a, b, ["k"], {"s": "sum", "m": "min"}
        ).collect()
    }
    assert out == {1: (10, 1.0), 2: (25, 0.5), 3: (7, 7.0)}


def test_merge_rejects_unknown_fn(spark):
    a = spark.createDataFrame([(1, 1)], "k INT, v INT")
    with pytest.raises(ValueError, match="unknown merge"):
        merge_aggregate_states(a, a, ["k"], {"v": "avg"})


def test_continuous_rollup_boundary_bucket_merges(spark):
    """The mid-hour cutoff bucket must appear once with the merged
    totals, equal to flat aggregation over all events."""
    from traits_data_spark.catalog.events import q_event_windows
    from traits_data_spark.catalog.sketches import q_continuous_rollup

    out = q_continuous_rollup(spark, "/root/testdata/sf0.001")
    flat = q_event_windows(spark, "/root/testdata/sf0.001")
    o = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in out.collect()
    }
    f = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in flat.collect()
    }
    assert o == f


def test_snapshot_diff_statuses(spark):
    from traits_data_spark.operators.incremental import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k long, v string, x long",
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "C", 30), (4, "", 40), (5, "e", 50)],
        "k long, v string, x long",
    )
    got = {r.k: r.status for r in snapshot_diff(old, new, ["k"]).collect()}
    # 1 only in old; 2 identical (absent); 3 value changed; 4 null->""
    # must register as changed (sentinel, not concat_ws null-skip);
    # 5 only in new
    assert got == {1: "removed", 3: "changed", 4: "changed", 5: "added"}


def test_snapshot_diff_requires_compare_columns(spark):
    import pytest

    from traits_data_spark.operators.incremental import snapshot_diff

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError):
        snapshot_diff(df, df, ["k"])


def test_snapshot_diff_null_keys_match_null_safely(spark):
    from traits_data_spark.operators.incremental import snapshot_diff

    old = spark.createDataFrame(
        [(None, "same"), (1, "x")], "k long, v string"
    )
    new = spark.createDataFrame(
        [(None, "same"), (1, "y")], "k long, v string"
    )
    got = {
        (r.k, r.status) for r in snapshot_diff(old, new, ["k"]).collect()
    }
    # the unchanged null-key row pairs up and drops out (no phantom
    # removed+added churn); the changed non-null key is reported
    assert got == {(1, "changed")}


def test_scd2_merge_paths(spark):
    """All four SCD2 paths: pass-through history, no-op identical,
    close+reopen on change (incl. NULL transitions), new-key insert;
    plus batch dedup keeping the newest ts."""
    from pyspark.sql import functions as F

    from traits_data_spark.operators.incremental import scd2_merge

    current = spark.createDataFrame(
        [
            # closed history row — must pass through untouched
            (1, "a", 0, 5, 0),
            # open rows
            (1, "b", 5, None, 1),   # will change -> close + reopen
            (2, "x", 0, None, 1),   # identical update -> no-op
            (3, None, 0, None, 1),  # NULL -> value transition
        ],
        "k long, attr string, valid_from long, valid_to long, is_current int",
    )
    updates = spark.createDataFrame(
        [
            (1, "b2", 9),
            (1, "b1", 8),   # older duplicate in batch -> dropped
            (2, "x", 9),    # identical
            (3, "seen", 9),
            (4, "new", 9),  # brand-new key
        ],
        "k long, attr string, effective_ts long",
    )
    out = scd2_merge(current, updates, ["k"], ["attr"]).collect()
    rows = {(r["k"], r["attr"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in out}
    assert rows == {
        (1, "a", 0, 5, 0),        # history untouched
        (1, "b", 5, 9, 0),        # closed at newest update ts
        (1, "b2", 9, None, 1),    # newest batch row wins
        (2, "x", 0, None, 1),     # no-op
        (3, None, 0, 9, 0),       # NULL->value closed
        (3, "seen", 9, None, 1),
        (4, "new", 9, None, 1),   # new key
    }
    assert len(out) == len(rows)


def test_scd2_merge_idempotent_reapply(spark):
    from traits_data_spark.operators.incremental import scd2_merge

    current = spark.createDataFrame(
        [(1, "v", 0, None, 1)],
        "k long, attr string, valid_from long, valid_to long, is_current int",
    )
    updates = spark.createDataFrame(
        [(1, "v", 7)], "k long, attr string, effective_ts long"
    )
    once = scd2_merge(current, updates, ["k"], ["attr"])
    twice = scd2_merge(once, updates, ["k"], ["attr"])
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, twice.collect())
    )
