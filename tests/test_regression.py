"""Distributed ridge sufficient statistics: exactness vs numpy,
closed-form weight recovery, quantization contract."""

import numpy as np

from traits_data_spark.operators.regression import (
    MICRO,
    ridge_solve,
    ridge_stats,
)


def _stats_rows(df, feats, label):
    return ridge_stats(df, feats, label).collect()


def test_ridge_stats_match_numpy_exactly(spark):
    rng = np.random.default_rng(7)
    X = rng.integers(0, 50, size=(200, 3)).astype(float)
    y = X @ np.array([2.0, -1.0, 0.5]) + 3.0
    rows = [
        (float(a), float(b), float(c), float(t))
        for (a, b, c), t in zip(X, y)
    ]
    df = spark.createDataFrame(rows, ["x1", "x2", "x3", "y"])
    got = {
        (r["kind"], r["i"], r["j"]): r["s_micro"]
        for r in _stats_rows(df, ["x1", "x2", "x3"], "y")
    }
    Xi = np.hstack([np.ones((len(X), 1)), X])  # intercept first
    for i in range(4):
        for j in range(i, 4):
            want = round(float(np.sum(np.round(Xi[:, i] * Xi[:, j] * MICRO))))
            assert got[("xtx", i, j)] == want
        want = round(float(np.sum(np.round(Xi[:, i] * y * MICRO))))
        assert got[("xty", i, 0)] == want
    assert got[("n", 0, 0)] == 200


def test_ridge_solve_recovers_true_weights(spark):
    rng = np.random.default_rng(11)
    X = rng.integers(0, 20, size=(300, 2)).astype(float)
    w_true = np.array([5.0, 1.5, -2.0])  # intercept, w1, w2
    y = np.hstack([np.ones((len(X), 1)), X]) @ w_true
    df = spark.createDataFrame(
        [(float(a), float(b), float(t)) for (a, b), t in zip(X, y)],
        ["x1", "x2", "y"],
    )
    rows = _stats_rows(df, ["x1", "x2"], "y")
    w = ridge_solve(rows, k=3, lam=0.0)
    assert np.allclose(w, w_true, atol=1e-4)
    # ridge shrinks: with lam > 0 coefficient norm strictly decreases
    w_r = ridge_solve(rows, k=3, lam=100.0)
    assert np.linalg.norm(w_r) < np.linalg.norm(w)


def test_ridge_stats_shuffle_order_free(spark):
    """The quantize-then-sum contract: repartitioned input produces
    bit-identical statistics (a plain double sum would not)."""
    rng = np.random.default_rng(3)
    rows = [
        (float(rng.uniform(0, 1)), float(rng.uniform(0, 1)))
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, ["x1", "y"])
    a = sorted(map(tuple, _stats_rows(df, ["x1"], "y")))
    b = sorted(map(tuple, _stats_rows(df.repartition(17, "x1"), ["x1"], "y")))
    assert a == b


def test_catalog_ridge_query_weights_near_unit(spark, sf_dir):
    """The catalog construction (label = sum of the bucket features)
    must solve to intercept ~0 and unit feature weights — the
    end-to-end sanity that the distributed stats feed a working
    trainer."""
    from traits_data_spark.catalog.text import RIDGE_BUCKETS, q_ridge_stats

    rows = q_ridge_stats(spark, sf_dir).collect()
    w = ridge_solve(rows, k=RIDGE_BUCKETS + 1, lam=0.0)
    assert abs(w[0]) < 1e-3
    assert np.allclose(w[1:], 1.0, atol=1e-3)


def test_ridge_solve_empty_input_raises_clearly(spark):
    """Zero input rows make every SUM NULL; ridge_solve must name the
    cause instead of dying on NoneType arithmetic (review finding)."""
    import pytest as _pytest

    df = spark.createDataFrame([], "x1 double, y double")
    rows = ridge_stats(df, ["x1"], "y").collect()
    with _pytest.raises(ValueError, match="0 rows"):
        ridge_solve(rows, k=2)


def test_ridge_stats_drops_rows_with_any_null(spark):
    """NULL contract (round-11 advisory): a row with NULL in any
    feature or the label is excluded entirely — n, every X^T X cell,
    and X^T y all see the same complete-row set."""
    df = spark.createDataFrame(
        [
            (1.0, 2.0, 5.0),
            (None, 3.0, 7.0),   # NULL feature -> dropped
            (2.0, None, 9.0),   # NULL feature -> dropped
            (3.0, 1.0, None),   # NULL label   -> dropped
            (4.0, 2.0, 11.0),
        ],
        "x1 double, x2 double, y double",
    )
    clean = spark.createDataFrame(
        [(1.0, 2.0, 5.0), (4.0, 2.0, 11.0)], "x1 double, x2 double, y double"
    )
    got = sorted(map(tuple, _stats_rows(df, ["x1", "x2"], "y")))
    want = sorted(map(tuple, _stats_rows(clean, ["x1", "x2"], "y")))
    assert got == want
    n = [r for r in ridge_stats(df, ["x1", "x2"], "y").collect()
         if r["kind"] == "n"]
    assert n[0]["s_micro"] == 2


def test_ridge_solve_null_stat_with_rows_raises_clearly():
    """Hand-fed stats with a NULL sum but n_rows > 0 must raise the
    named contract error, not TypeError on None / scale."""
    import pytest as _pytest

    rows = [
        {"kind": "xtx", "i": 0, "j": 0, "s_micro": None},
        {"kind": "xtx", "i": 0, "j": 1, "s_micro": 1_000_000},
        {"kind": "xtx", "i": 1, "j": 1, "s_micro": 2_000_000},
        {"kind": "xty", "i": 0, "j": 0, "s_micro": 1_000_000},
        {"kind": "xty", "i": 1, "j": 0, "s_micro": 1_000_000},
        {"kind": "n", "i": 0, "j": 0, "s_micro": 3},
    ]
    with _pytest.raises(ValueError, match="NULL sufficient statistic"):
        ridge_solve(rows, k=2)


# ------------------------- in-plan Cramer solve / train_linear_scorer


def test_leibniz_det_matches_numpy():
    import duckdb
    import numpy as np

    from traits_data_spark.operators.regression import leibniz_det_sql

    rng = np.random.default_rng(11)
    for k in (2, 3, 4):
        m = rng.integers(-9, 10, size=(k, k)).astype(float)
        expr = leibniz_det_sql(
            [
                [f"CAST({m[i, j]!r} AS DOUBLE)" for j in range(k)]
                for i in range(k)
            ]
        )
        got = duckdb.sql(f"SELECT {expr} AS d").fetchone()[0]
        assert abs(got - np.linalg.det(m)) < 1e-6


def test_leibniz_det_rejects_large_k():
    import pytest as _pytest

    from traits_data_spark.operators.regression import leibniz_det_sql

    with _pytest.raises(ValueError):
        leibniz_det_sql([["0"] * 6 for _ in range(6)])


def test_cramer_weight_sql_matches_ridge_solve():
    """The in-plan Cramer weights must agree with the driver-side
    numpy solve on the same statistics (to float tolerance — the two
    paths factor differently)."""
    import duckdb
    import numpy as np

    from traits_data_spark.operators.regression import (
        cramer_weight_sql,
        ridge_solve,
    )

    rng = np.random.default_rng(5)
    X = np.hstack(
        [np.ones((40, 1)), rng.integers(0, 50, size=(40, 2)).astype(float)]
    )
    yv = X @ np.array([3.0, 2.0, -1.5]) + rng.normal(0, 0.1, 40)
    k = 3
    cols, rows = [], []
    for i in range(k):
        for j in range(i, k):
            s = int(round((X[:, i] * X[:, j] * 1e6).round().sum()))
            cols.append(f"{s}::BIGINT AS xx_{i}_{j}")
            rows.append({"kind": "xtx", "i": i, "j": j, "s_micro": s})
    for i in range(k):
        s = int((np.round(X[:, i] * yv * 1e6)).sum())
        cols.append(f"{s}::BIGINT AS xy_{i}")
        rows.append({"kind": "xty", "i": i, "j": 0, "s_micro": s})
    rows.append({"kind": "n", "i": 0, "j": 0, "s_micro": 40})
    lam = 1.0
    wex = cramer_weight_sql(k, lam=lam)
    got = duckdb.sql(
        "SELECT "
        + ", ".join(f"({w}) AS w_{i}" for i, w in enumerate(wex))
        + " FROM (SELECT "
        + ", ".join(cols)
        + ")"
    ).fetchone()
    want = ridge_solve(rows, k=k, lam=lam)
    assert np.allclose(got, want, atol=1e-9)


def test_train_linear_scorer_recovers_exact_linear_label(spark):
    """label = 5 + 2*x1 + 3*x2 exactly, lam=0: the learned micro
    weights must reproduce the label exactly on every row (train and
    held-out), because the statistics are exact integers and the
    Cramer ratio of exact determinants quantizes to the true
    weights."""
    import random

    from traits_data_spark.operators.regression import train_linear_scorer

    random.seed(3)
    data = [
        (i, random.randint(0, 20), random.randint(0, 20))
        for i in range(60)
    ]
    rows = [(i, x1, x2, float(5 + 2 * x1 + 3 * x2)) for i, x1, x2 in data]
    df = spark.createDataFrame(
        rows, "doc_id long, x1 long, x2 long, y double"
    )
    got = train_linear_scorer(
        df, ["x1", "x2"], "y", lam=0.0, pred_col="pred_micro"
    ).collect()
    by_id = {r["doc_id"]: r for r in got}
    for i, x1, x2 in data:
        r = by_id[i]
        assert r["pred_micro"] == (5 + 2 * x1 + 3 * x2) * 1_000_000
        assert r["is_train"] == (1 if i % 5 == 1 else 0)


def test_train_linear_scorer_scores_unlabeled_rows(spark):
    """Rows with NULL label (outside the expensive-label slice) must
    still be scored — distillation's whole point."""
    from traits_data_spark.operators.regression import train_linear_scorer

    rows = [
        (i, i % 7, float(10 + 4 * (i % 7))) if i % 5 == 1 else (i, i % 7, None)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, x1 long, y double")
    got = {
        r["doc_id"]: r["pred_micro"]
        for r in train_linear_scorer(
            df, ["x1"], "y", lam=0.0, pred_col="pred_micro"
        ).collect()
    }
    assert len(got) == 40
    for i in range(40):
        assert got[i] == (10 + 4 * (i % 7)) * 1_000_000


def test_train_linear_scorer_empty_slice_raises(spark):
    """ids all ≡ 0 (mod 5) → empty training slice → loud ValueError,
    not an all-NULL prediction column."""
    import pytest as _pytest

    from traits_data_spark.operators.regression import train_linear_scorer

    df = spark.createDataFrame(
        [(0, 1, 1.0), (5, 2, 2.0)], "doc_id long, x1 long, y double"
    )
    with _pytest.raises(ValueError, match="training slice"):
        train_linear_scorer(df, ["x1"], "y")
