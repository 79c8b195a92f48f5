"""Codified bench-vs-anchor comparison (BASELINE.md's contract as a
gate instead of a manual recomputation).

Reads a bench result and the pinned anchor, restricts both to their
common query subset, and prints the subset wall ratio. Exits non-zero
when the runs are load-comparable (|start-load delta| <= LOAD_BAND)
AND either the subset ratio exceeds RATIO_MAX or any individual query
regressed more than PER_QUERY_MAX with an absolute delta above
ABS_FLOOR seconds (the floor keeps sub-second noise from tripping the
gate). At non-comparable load the ratio is still printed but the gate
passes with a warning — wall clocks swing +/-30% with co-tenants and a
red there would be noise, not signal (the round-7/8 finding).

Usage:
    python tools/bench_compare.py [results] [anchor]
Defaults: bench_results.json vs the newest non-retired
BENCH_ANCHOR_r{N}.json.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.benchlib import LOAD_BAND, latest_anchor  # noqa: E402

RATIO_MAX = 2.0       # BASELINE.md "within 2x of the recorded anchor"
PER_QUERY_MAX = 1.25  # single-query regression trigger
ABS_FLOOR = 0.3       # seconds — ignore sub-noise absolute deltas


def main() -> int:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        here, "bench_results.json")
    anc_path = sys.argv[2] if len(sys.argv) > 2 else latest_anchor(here)
    if anc_path is None:
        raise SystemExit("bench_compare: no BENCH_ANCHOR_r*.json found")
    print(f"bench_compare: anchor {os.path.basename(anc_path)}")
    with open(res_path) as f:
        res = json.load(f)
    with open(anc_path) as f:
        anc = json.load(f)

    # Per-query minima across the current and previous COMPARABLE
    # board (written by bench_gated before each run): min-of-sessions,
    # the same statistic as bench.py's min-of-reps one level up.
    # Single-board per-query walls on this host swing past the 1.25x
    # trigger even at quiet load (round 14: aggregates stable at
    # 0.955/0.969/1.000x while each board flags a different random
    # dozen) — a regression is binding only if it survives the minima
    # of two independent sessions.
    prev_path = os.path.join(os.path.dirname(res_path),
                             "bench_results_prev.json")
    if len(sys.argv) <= 1 and os.path.exists(prev_path):
        with open(prev_path) as f:
            prev = json.load(f)
        p_load = prev.get("load_start_1m")
        r_load0 = res.get("load_start_1m")
        # Comparable means SAME CODE as well as same load: a prev board
        # that predates the commit under test carries pre-regression
        # minima that would suppress the 1.25x per-query flag for a
        # regression introduced this round (round-14 advice). Boards
        # without a git_sha stamp (pre-round-15) never merge.
        p_sha, r_sha = prev.get("git_sha"), res.get("git_sha")
        same_code = p_sha is not None and p_sha == r_sha
        if (
            same_code
            and p_load is not None
            and r_load0 is not None
            and abs(p_load - r_load0) <= LOAD_BAND
        ):
            merged = dict(res["queries"])
            for q, v in prev["queries"].items():
                if q in merged:
                    merged[q] = min(merged[q], v)
            res = {**res, "queries": merged}
            print("bench_compare: merged per-query minima with previous "
                  f"comparable board (load {p_load}, same commit)")
        elif not same_code:
            print("bench_compare: previous board is a different/unknown "
                  "commit — minima NOT merged (single-board per-query "
                  "flags may be session noise)")

    common = sorted(set(res["queries"]) & set(anc["queries"]))
    if not common:
        print("bench_compare: no common queries — nothing to compare")
        return 1
    r_sum = sum(res["queries"][q] for q in common)
    a_sum = sum(anc["queries"][q] for q in common)
    ratio = r_sum / a_sum
    r_load = res.get("load_start_1m")
    a_load = anc.get("load_start_1m")
    comparable = (
        r_load is not None
        and a_load is not None
        and abs(r_load - a_load) <= LOAD_BAND
    )
    print(
        f"bench_compare: common-{len(common)} subset "
        f"{r_sum:.1f}s vs anchor {a_sum:.1f}s -> ratio {ratio:.3f}x "
        f"(start-load {r_load} vs {a_load}, "
        f"{'comparable' if comparable else 'NOT comparable'})"
    )

    regressions = []
    for q in common:
        r, a = res["queries"][q], anc["queries"][q]
        if r > a * PER_QUERY_MAX and r - a > ABS_FLOOR:
            regressions.append((q, a, r, r / a))
    for q, a, r, x in sorted(regressions, key=lambda t: -t[3]):
        print(f"  regressed {x:.2f}x: {q} {a:.2f}s -> {r:.2f}s")

    new = sorted(set(res["queries"]) - set(anc["queries"]))
    if new:
        cost = sum(res["queries"][q] for q in new)
        print(f"  post-anchor queries ({len(new)}): +{cost:.1f}s "
              f"[{', '.join(new)}]")

    if not comparable:
        print("bench_compare: PASS (load gap — ratio informational only)")
        return 0
    if ratio > RATIO_MAX:
        print(f"bench_compare: FAIL subset ratio {ratio:.3f} > {RATIO_MAX}")
        return 1
    if regressions:
        print(f"bench_compare: FAIL {len(regressions)} per-query "
              f"regressions > {PER_QUERY_MAX}x at comparable load")
        return 1
    print("bench_compare: PASS")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
