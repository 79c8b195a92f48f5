"""Shared bench-infrastructure helpers: the anchor-discovery rule, the
comparable-load band, the board git-SHA stamp, the bounded load-wait,
and the one timed rep (``timed_noop``) with its storage sweep
(``free_storage``). One definition consumed by ``bench.py`` (startup
gate, timed reps), ``tools/bench_gated.py`` (retry wrapper),
``tools/bench_compare.py`` (regression gate) and the single-query
timers ``tools/ab_query.py``, ``tools/stage_profile.py`` and
``tools/stress20x.py`` — which previously each carried their own copy.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import time

# Comparable-load window on load_start_1m. A board whose start load sits
# outside the anchor's +/-LOAD_BAND is informational only: wall clocks
# on this host swing +/-30% with co-tenants (rounds 7/8 finding).
LOAD_BAND = 2.0


def latest_anchor(here: str) -> str | None:
    """Newest BENCH_ANCHOR_r{N}.json by round number, skipping retired
    pins (kept only for the audit trail). None when no anchor exists
    yet (first-round bootstrap)."""
    best, best_n = None, -1
    for path in glob.glob(os.path.join(here, "BENCH_ANCHOR_r*.json")):
        name = os.path.basename(path)
        if "retired" in name:
            continue
        m = re.match(r"BENCH_ANCHOR_r(\d+)\.json$", name)
        if m and int(m.group(1)) > best_n:
            best, best_n = path, int(m.group(1))
    return best


def free_storage(spark) -> None:
    """Free EVERY storage block between timed reps, BLOCKING. Two
    measured round-10 mechanisms behind the warm>first_rep inversions
    (SCALE.md):

    - ``clearCache()`` never drops ``localCheckpoint`` blocks (kmeans
      fits, CC iteration checkpoints) — they outlive it and degrade
      later heavy-persist queries (curate_corpus floor 6.2 s isolated
      → 9.0 s after the checkpoint-heavy ANN/dedup family). The
      persistent-RDD registry sweep below catches them.
    - ``clearCache()``/``unpersist()`` default to ASYNC block removal,
      so rep N's drop work lands inside rep N+1's timed window on
      persist-heavy plans — curate_corpus reps [7.5, 9.4, 6.8, 6.1]
      async vs [6.1, 6.2, 6.4, 7.2] with blocking unpersist.
      ``unpersist(True)`` moves that cost out here, untimed.

    Safe between queries: nothing references the cached/checkpointed
    plans once the noop write completes."""
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(True)
    spark.catalog.clearCache()


def timed_noop(spark, fn, sf_dir: str) -> tuple[float, float]:
    """One timed rep of a catalog query: build ``fn(spark, sf_dir)``,
    materialize it end-to-end through the noop sink, then
    ``free_storage`` (untimed, also when the rep raises). Returns
    ``(build_s, total_s)``: the seconds spent inside ``fn`` (driver-side
    construction, including any eager barriers) and the wall seconds up
    to the end of the write."""
    t0 = time.time()
    try:
        df = fn(spark, sf_dir)
        build = time.time() - t0
        df.write.format("noop").mode("overwrite").save()
        return build, time.time() - t0
    finally:
        free_storage(spark)


def anchor_start_load(anchor_path: str) -> float | None:
    with open(anchor_path) as fh:
        return json.load(fh).get("load_start_1m")


def git_sha(here: str) -> str | None:
    """Code-version stamp of the repo the bench ran in, recorded into
    every board so bench_compare can refuse to merge per-query minima
    across boards from different code versions (round-14 advice: a
    pre-regression prev board's faster minima would mask a genuine
    regression introduced by the commit under test).

    A dirty working tree appends ``-dirty-<diffhash>`` (round-15
    advice): two boards benched from the same HEAD but different
    uncommitted code must NOT carry identical stamps, and two boards
    from the SAME dirty tree still merge (equal diff hash)."""
    try:
        out = subprocess.run(
            ["git", "-C", here, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
        if out.returncode != 0 or not out.stdout.strip():
            return None
        sha = out.stdout.strip()
        diff = subprocess.run(
            ["git", "-C", here, "diff", "HEAD", "--", "*.py"],
            capture_output=True,
            text=True,
            timeout=30,
        )
        if diff.returncode == 0 and diff.stdout:
            import hashlib

            sha += "-dirty-" + hashlib.sha256(
                diff.stdout.encode()
            ).hexdigest()[:12]
        return sha
    except OSError:
        return None


def wait_for_band(
    target_load: float,
    max_wait_s: float,
    poll_s: float = 30.0,
    tag: str = "bench",
) -> bool:
    """Block until the 1-minute load is within +/-LOAD_BAND of
    ``target_load`` AND the 5-minute load is at most
    ``target_load + LOAD_BAND`` (a co-tenant pausing for one minute
    reads 0.0 on the 1m average while the 5m average still shows it
    burning cores — round-14 measured two in-band 1m starts whose
    boards disagreed 1.14x vs 1.58x because of exactly this).

    Returns True when the window opened, False on timeout (caller
    should escalate rep counts and mark the run contended)."""
    waited = 0.0
    while True:
        load, load5 = (round(x, 1) for x in os.getloadavg()[:2])
        if (
            abs(load - target_load) <= LOAD_BAND
            and load5 <= target_load + LOAD_BAND
        ):
            if waited:
                print(
                    f"{tag}: load {load} (5m {load5}) entered the "
                    f"+/-{LOAD_BAND} band of {target_load} after "
                    f"{int(waited)}s"
                )
            return True
        if waited >= max_wait_s:
            print(
                f"{tag}: load {load} (5m {load5}) still outside the "
                f"+/-{LOAD_BAND} band of {target_load} after "
                f"{int(waited)}s - giving up the wait"
            )
            return False
        print(
            f"{tag}: load {load} (5m {load5}) vs target {target_load} "
            f"(band +/-{LOAD_BAND}) - waiting {int(poll_s)}s "
            f"({int(waited)}/{int(max_wait_s)}s)"
        )
        time.sleep(poll_s)
        waited += poll_s
