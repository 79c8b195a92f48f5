"""Event-analytics operators: ordered funnels, cohort retention, and
time-decayed engagement scores.

These are the classic product-analytics queries a warehouse engine is
expected to answer over an append-only event stream (reference scope:
the events pipeline of SURVEY.md §2 — P10/A2 derive per-match stats
from events; these generalize the same scan to user-journey shape).

Exactness contract (shared with the DuckDB correctness oracles): every
intermediate is integer arithmetic — epoch microseconds, epoch days,
value cents, power-of-two weights — so results are independent of
row order and floating-point summation order. The only double is a
final division of two exact integers, which IEEE-754 rounds
identically on any engine.

Scale notes (100 TB): every stage keys on the user column, so AQE
reuses one hash partitioning across the chain — the funnel's
step-N join, the cohort join, and the decay window all co-locate on
the same shuffle. Nothing collects to the driver; per-step counts are
single-row aggregates unioned in-plan.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _floor_div(col_name: str, divisor: int) -> Column:
    """Floor division as ``(x - pmod(x, d)) DIV d`` — floors for
    negative (pre-1970) inputs where bare ``DIV`` truncates toward
    zero; matches the oracles' pmod-based form and the hour bucketing
    in catalog/events.py::q_event_windows."""
    return F.expr(
        f"({col_name} - pmod({col_name}, {divisor})) DIV {divisor}"
    ).cast("long")


def funnel_steps(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts_us",
    within: int | None = None,
) -> DataFrame:
    """Ordered-funnel analysis: how many users completed step k of
    ``steps`` *in order* (each step's event strictly after the
    previous step's earliest qualifying event).

    Returns one row per step: ``step_idx``, ``step``, ``n_users``.

    Semantics: a user reaches step 0 at ``t0 = min ts of steps[0]``;
    reaches step k at ``t_k = min ts of steps[k] events with
    ts > t_{k-1}``. This is the standard "minimal completion time"
    funnel — deterministic, order-insensitive, and exactly
    SQL-expressible as a chain of filtered min-aggregates. With
    ``within`` set, step k must also occur within ``within`` ts units
    of step k-1's completion (conversion-window semantics).

    Scale: the event scan is filtered per step (predicate pushdown on
    ``type_col``); every join/groupBy keys on ``user_col`` so the
    plan is one shuffle partitioning reused across all steps. The
    reached-step frames shrink monotonically, so later joins are
    cheaper, and each per-step count is a map-side-combined single-row
    aggregate.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    reached: list[DataFrame] = [
        df.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("__t"))
    ]
    for s in steps[1:]:
        ev = df.filter(F.col(type_col) == s).select(
            user_col, F.col(ts_col).alias("__ts")
        )
        prev = reached[-1].select(user_col, F.col("__t").alias("__prev"))
        cond = F.col("__ts") > F.col("__prev")
        if within is not None:
            cond = cond & (F.col("__ts") <= F.col("__prev") + F.lit(within))
        reached.append(
            ev.join(prev, user_col)
            .filter(cond)
            .groupBy(user_col)
            .agg(F.min("__ts").alias("__t"))
        )
    counts = [
        r.agg(
            F.lit(i).cast("int").alias("step_idx"),
            F.lit(steps[i]).alias("step"),
            F.count(F.lit(1)).alias("n_users"),
        )
        for i, r in enumerate(reached)
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    period_us: int = 7 * 86_400_000_000,
) -> DataFrame:
    """Cohort retention: users bucketed by first-activity period, then
    counted per (cohort, period offset).

    Returns ``cohort_period``, ``period_offset``, ``n_active``,
    ``n_cohort`` — the classic retention triangle (``n_active /
    n_cohort`` is the retention rate; both counts are emitted so the
    result stays integer-exact).

    Scale: two aggregations, both keyed on ``user_col`` first —
    per-user first-period and distinct activity periods co-locate on
    one shuffle; the final (cohort, offset) rollup is a small-output
    aggregate. The cohort-size join broadcasts (one row per cohort
    period).
    """
    period = _floor_div(ts_col, period_us)
    activity = (
        df.select(user_col, period.alias("__period")).distinct()
    )
    first = activity.groupBy(user_col).agg(F.min("__period").alias("__cohort"))
    joined = activity.join(first, user_col)
    tri = joined.groupBy(
        F.col("__cohort").alias("cohort_period"),
        (F.col("__period") - F.col("__cohort")).alias("period_offset"),
    ).agg(F.count(F.lit(1)).alias("n_active"))
    sizes = first.groupBy(F.col("__cohort").alias("cohort_period")).agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    return tri.join(F.broadcast(sizes), "cohort_period").select(
        "cohort_period", "period_offset", "n_active", "n_cohort"
    )


def decayed_engagement(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    value_col: str = "value",
    half_life_days: int = 1,
    lookback_days: int = 30,
) -> DataFrame:
    """Per-user exponentially time-decayed engagement score: each
    event contributes ``value * 2^(-(age_days / half_life_days))``
    relative to that user's most recent event day, over a bounded
    ``lookback_days`` window.

    Exactness: values are scaled to integer cents, weights are exact
    powers of two applied with ``shiftleft`` (cents << (L - age)), so
    the per-user sum is one order-independent BIGINT. The returned
    ``decayed_score`` divides that integer by ``2^L`` — a single
    correctly-rounded double division, bit-identical on any engine.
    Overflow bound: per-row terms are ``cents << L`` at worst, so with
    the default ``L = 30`` the exactness contract requires
    ``|cents| < 2^32`` per event (≈ $42M) and a per-user sum below
    2^63 — beyond that Spark's shiftleft wraps silently while IEEE
    engines raise. Lower ``lookback_days/half_life_days`` for
    larger-denomination data.

    Scale: one window (unordered per-user max — no sort) and one
    groupBy, both keyed on ``user_col``, so AQE reuses a single hash
    partitioning; the window carries no ORDER BY, so it is a full
    unbounded frame computed in one pass without a per-user sort.
    """
    if lookback_days % half_life_days:
        raise ValueError("lookback_days must be a multiple of half_life_days")
    shifts = lookback_days // half_life_days
    day = _floor_div(ts_col, 86_400_000_000)
    cents = F.round(F.col(value_col) * 100).cast("long")
    ev = df.select(
        F.col(user_col),
        day.alias("__day"),
        cents.alias("__cents"),
    )
    w = Window.partitionBy(user_col)
    ev = ev.withColumn("__ref", F.max("__day").over(w))
    kept = ev.filter(F.col("__ref") - F.col("__day") < F.lit(lookback_days))
    # age DIV half_life is exact integer floor (ages are >= 0);
    # shiftleft needs an expression because the pyspark function form
    # only accepts a literal shift amount.
    term = F.expr(
        f"shiftleft(__cents, {shifts} - CAST((__ref - __day) "
        f"DIV {half_life_days} AS INT))"
    )
    agg = kept.groupBy(user_col).agg(
        F.max("__ref").alias("ref_day"),
        F.sum(term).alias("decayed_scaled"),
    )
    return agg.select(
        user_col,
        "ref_day",
        "decayed_scaled",
        (F.col("decayed_scaled").cast("double") / F.lit(float(1 << shifts))).alias(
            "decayed_score"
        ),
    )
