"""Benchmark harness: headline catalog queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints the ONE headline JSON line LAST (compact separators, 2-decimal
per-query values) so a fixed-size stdout tail capture always records
it intact:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": <sf>, "load_avg_1m": <load>}

``load_avg_1m`` is the START-of-run 1-minute load (sampled before the
bench drives the box) — the comparability signal; ``bench_results.json``
additionally records ``load_start_1m``/``load_end_1m``.

Full-precision detail (cold = first rep after clearCache, warm = min
of the remaining reps, per flagship) is written to
``bench_results.json`` next to this script — the tail window only
needs to carry the headline.

Each query is materialized end-to-end through the noop sink (full
execution, no driver-side collect bottleneck, no disk write skew).

Startup is LOAD-GATED against the newest pinned anchor (bounded wait
for the 1m and 5m load averages to enter the anchor's ±2 band, then
escalate to min-of-4 tail reps) so a direct ``python bench.py`` —
which is how the round driver invokes it — produces a board whose
bench_compare verdict is binding, not informational.
``SPARK_GRAFT_BENCH_NO_WAIT=1`` opts out (bench_gated owns its own
wait/retry loop).
"""

from __future__ import annotations

import json
import os
import random
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from traits_data_spark.catalog.registry import TABLE  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Flagship pipelines run FIRST: early in the session the JVM is
# fresh (no accumulated GC pressure / code-cache churn from 80 prior
# plans), so their round-over-round deltas are the cleanest regression
# signal. Round 7 measured training_prep at 9.3s when benched in slot
# 81 of a loaded session vs 5.9-6.8s benched first at low load — the
# ordering is part of the measurement.
FLAGSHIPS = [
    "silver_e1",
    "profile_build",
    "profile_build_multi_pass",
    "gold_ratings",
    "clean_corpus",
    "curate_corpus",
    "training_prep",
]

# The headline set: the flagships, then every other row the catalog
# table marks benched (table order; main() shuffles the tail). The
# unbenched rows and why they are skipped are documented on
# ``traits_data_spark.catalog.registry.TABLE``; every catalog query lands
# in exactly one of the two lists, so a new query can never silently
# skip the bench_compare regression gate.
BENCH_QUERIES = FLAGSHIPS + [
    name for name, _, _, benched in TABLE
    if benched and name not in FLAGSHIPS
]
BENCH_EXCLUDED = {name for name, _, _, benched in TABLE if not benched}

# Committed boards are named BENCH_r<round>.json.
BENCH_FILE = re.compile(r"BENCH_r(\d+)\.json")

# Fixed tail-capture budget on the driver side: the driver records the
# LAST 2000 chars of stdout, and this line prints last — so the line
# itself (plus newline) must stay under 2000 or the recorded artifact
# truncates its head (round 7 lost its first 7 query timings this way).
TAIL_CAPTURE_BUDGET = 1985


def headline_line(timings: dict[str, float], sf, load1) -> str:
    """Build the headline JSON line, guaranteed under the tail budget.

    Degrades precision before coverage: all queries at 2 decimals →
    drop the load field → 1 decimal → flagships-only. Full 3-decimal
    detail (plus cold/warm and load) is always in bench_results.json,
    so the stdout line only has to carry the round-over-round shape.
    """
    total = round(sum(timings.values()), 2)

    def build(q: dict[str, float], load) -> str:
        body = {
            "metric": "catalog_headline_wall_seconds",
            "value": total,
            "unit": "sec",
            "queries": q,
            "sf": sf,
        }
        if load is not None:
            body["load_avg_1m"] = load
        return json.dumps(body, separators=(",", ":"))

    attempts = [
        ({k: round(v, 2) for k, v in timings.items()}, load1),
        ({k: round(v, 2) for k, v in timings.items()}, None),
        ({k: round(v, 1) for k, v in timings.items()}, None),
        (
            {k: round(timings[k], 2) for k in FLAGSHIPS if k in timings},
            load1,
        ),
    ]
    for q, load in attempts:
        line = build(q, load)
        if len(line) <= TAIL_CAPTURE_BUDGET:
            return line
    # Pathological fallback (huge sf repr / load repr): a minimal line
    # that is ALWAYS under budget — total + sf only, no per-query map.
    # bench_results.json still carries everything.
    return json.dumps(
        {
            "metric": "catalog_headline_wall_seconds",
            "value": total,
            "unit": "sec",
            "sf": sf,
        },
        separators=(",", ":"),
    )[:TAIL_CAPTURE_BUDGET]


def main() -> None:
    from tools.benchlib import (
        anchor_start_load,
        git_sha,
        latest_anchor,
        timed_noop,
        wait_for_band,
    )

    from traits_data_spark import catalog
    from traits_data_spark.session import get_spark

    here = os.path.dirname(os.path.abspath(__file__))

    # Load-gate the run AT THE SOURCE (round-14 verdict task 1): the
    # driver invokes bench.py directly, bypassing tools/bench_gated.py,
    # so every driver board through r14 landed at whatever load the
    # preceding pipeline stages left behind (r14: 4.8 vs the anchor's
    # 0.1) and bench_compare downgraded to informational. Bounded wait
    # for the 1m AND 5m averages to enter the anchor's band; on timeout
    # escalate the tail to min-of-4 reps so a contended board's minima
    # are at least noise-resistant. Opt out with
    # SPARK_GRAFT_BENCH_NO_WAIT=1 (bench_gated sets it: it owns the
    # wait/retry loop itself and must not pay the wait twice).
    escalated = False
    if os.environ.get("SPARK_GRAFT_BENCH_NO_WAIT") != "1":
        anc = latest_anchor(here)
        target = anchor_start_load(anc) if anc else None
        if target is not None:
            max_wait = float(
                os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT_S", "600")
            )
            poll_s = float(os.environ.get("SPARK_GRAFT_BENCH_POLL_S", "30"))
            if not wait_for_band(target, max_wait, poll_s, tag="bench"):
                escalated = True
                print(
                    "bench: ESCALATING to min-of-4 tail reps; treat "
                    "per-query deltas as contended"
                )

    # Sample host load BEFORE the bench drives it: the end-of-run
    # 1-minute average mostly measures the bench itself (~12 after two
    # minutes of local[32] at full tilt), so BASELINE.md's ±2
    # comparability band is defined over THIS value; the end value is
    # still recorded to show how hard the run pushed the box.
    try:
        load_start = round(os.getloadavg()[0], 1)
    except OSError:
        load_start = None

    spark = get_spark("traits-data-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    print(f"bench: {len(BENCH_QUERIES)} queries")
    # Flagships keep their fixed fresh-JVM slots; the long tail runs in
    # a RANDOMIZED order so a query's slot position (GC pressure /
    # code-cache churn accumulating through the shared session) averages
    # out across rounds instead of biasing the same families every time
    # — rounds 7 and 8 both mis-read slot drift as plan regressions.
    # The seed is recorded in bench_results.json; set
    # SPARK_GRAFT_BENCH_SEED to reproduce a specific order.
    seed_env = os.environ.get("SPARK_GRAFT_BENCH_SEED")
    seed = int(seed_env) if seed_env else int.from_bytes(os.urandom(4), "big")
    tail = BENCH_QUERIES[len(FLAGSHIPS):]
    random.Random(seed).shuffle(tail)
    bench_queries = FLAGSHIPS + tail

    # JVM / whole-stage-codegen warmup: run every benched plan once at
    # the smallest scale factor so the timed pass measures steady-state
    # execution, not first-use JIT compilation (worth ~8s on the first
    # md5-heavy plan otherwise).
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = SF_DIR
    for name in bench_queries:
        try:
            timed_noop(spark, catalog.QUERIES[name], warm_dir)
        except Exception:
            pass

    # Local-mode wall clocks vary ±20% run-to-run (GC, JIT, OS cache);
    # min-of-N is the stable statistic for regression tracking. The
    # flagships get an extra rep so their round-over-round deltas
    # outrun the noise floor, and their rep-1 (cold: page cache +
    # shuffle files dropped by clearCache) vs min-of-rest (warm) are
    # recorded separately — a regression in either mode is visible.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    if escalated:
        reps = max(reps, 4)
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in bench_queries:
        fn = catalog.QUERIES[name]
        rep_times = []
        n_reps = max(reps, 3) if name in FLAGSHIPS else reps
        for _ in range(n_reps):
            # the rep sweeps storage after timing: queries that persist
            # intermediates (LSH signature tables, corpus barriers) must
            # not leak cache blocks into the next run — eviction thrash
            # would charge query N's cost to query N+1.
            rep_times.append(timed_noop(spark, fn, SF_DIR)[1])
        timings[name] = round(min(rep_times), 3)
        if name in FLAGSHIPS:
            # "first_rep", not "cold": the sf0.001 warmup already
            # JIT-compiled the plan and prior rounds leave the parquet
            # in the OS page cache, so rep 1 measures a JVM-warm,
            # partially cached run — interpret cross-round deltas in
            # this split as cache state + contention, not plan cost.
            cold[name] = round(rep_times[0], 3)
            warm[name] = round(min(rep_times[1:]), 3)

    try:
        sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None
    # Record host load so a contended run is distinguishable from a
    # regression when comparing rounds (wall clocks here swing ±30%
    # when the host is loaded by other tenants). Comparability is
    # judged on load_start_1m (sampled before the bench ran); the end
    # sample is self-confounded by the bench's own two minutes of
    # local[32] work.
    try:
        load_end = round(os.getloadavg()[0], 1)
    except OSError:
        load_end = None
    load1 = load_start if load_start is not None else load_end

    detail = {
        "metric": "catalog_headline_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "flagship_first_rep": cold,
        "flagship_warm": warm,
        "tail_order_seed": seed,
        "tail_order": tail,
        "sf": sf,
        "load_avg_1m": load1,
        "load_start_1m": load_start,
        "load_end_1m": load_end,
        # code-version stamp: bench_compare only merges per-query
        # minima across boards built from the same commit
        "git_sha": git_sha(here),
        "reps_tail": reps,
        # bench_results.json only gains fields: "tier" has one value
        # left, and "round" is one past the newest committed board
        "tier": "full",
        "round": 1 + max(
            (int(m.group(1)) for m in map(BENCH_FILE.fullmatch, os.listdir(here)) if m),
            default=0,
        ),
    }
    out_path = os.path.join(here, "bench_results.json")
    with open(out_path, "w") as fh:
        json.dump(detail, fh, indent=1)
        fh.write("\n")

    # Headline LAST so a fixed-size stdout tail always captures it.
    print(headline_line(timings, sf, load1))
    spark.stop()


if __name__ == "__main__":
    main()
