"""Pure-Python guards on the bench-infrastructure contracts added in
round 15: anchor discovery, the board git-SHA stamp, and the
same-commit rule for bench_compare's min-of-sessions merge, and the
shared timed rep. All but the timed-rep test run without a
SparkSession — they lock the gate plumbing, not query plans."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.benchlib import LOAD_BAND, git_sha, latest_anchor  # noqa: E402


def test_latest_anchor_picks_highest_round_and_skips_retired(tmp_path):
    for name in (
        "BENCH_ANCHOR_r11.json",
        "BENCH_ANCHOR_r14.json",
        "BENCH_ANCHOR_r13_retired_host.json",
    ):
        (tmp_path / name).write_text("{}")
    picked = latest_anchor(str(tmp_path))
    assert os.path.basename(picked) == "BENCH_ANCHOR_r14.json"


def test_latest_anchor_none_when_no_pins(tmp_path):
    assert latest_anchor(str(tmp_path)) is None


def test_repo_anchor_exists_and_carries_load_and_queries():
    path = latest_anchor(REPO)
    assert path is not None
    with open(path) as fh:
        anchor = json.load(fh)
    # the comparability band is defined over this field; a pin without
    # it silently disables the load gate (bench_gated warns + runs
    # unconditionally)
    assert anchor.get("load_start_1m") is not None
    assert len(anchor["queries"]) >= 100


def test_git_sha_matches_head():
    head = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "HEAD"],
        capture_output=True,
        text=True,
    ).stdout.strip()
    stamp = git_sha(REPO)
    dirty = subprocess.run(
        ["git", "-C", REPO, "diff", "HEAD", "--", "*.py"],
        capture_output=True,
        text=True,
    ).stdout
    if dirty:
        # Dirty tree: stamp must NOT equal bare HEAD (round-15 advice —
        # two boards from the same HEAD but different uncommitted code
        # must not merge) and must be deterministic for the same diff.
        assert stamp.startswith(head + "-dirty-")
        assert stamp == git_sha(REPO)
    else:
        assert stamp == head


def test_bench_compare_flags_regression_at_comparable_load(tmp_path):
    anc = {"queries": {"q1": 1.0, "q2": 1.0}, "load_start_1m": 0.0}
    res = {"queries": {"q1": 2.0, "q2": 1.0}, "load_start_1m": 0.1}
    res_path = tmp_path / "res.json"
    anc_path = tmp_path / "anc.json"
    res_path.write_text(json.dumps(res))
    anc_path.write_text(json.dumps(anc))
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "bench_compare.py"),
            str(res_path),
            str(anc_path),
        ],
        capture_output=True,
        text=True,
    )
    assert out.returncode == 1, out.stdout
    assert "regressed 2.00x: q1" in out.stdout


def test_bench_compare_merge_requires_same_sha(tmp_path):
    """The round-15 contract: per-query minima merge with the previous
    board ONLY when both carry the same git_sha — a prev board from
    older code must not suppress a fresh regression."""
    anc = {"queries": {"q1": 1.0}, "load_start_1m": 0.0}
    # current board regresses q1 2x; prev (different sha) had it fast
    res = {
        "queries": {"q1": 2.0},
        "load_start_1m": 0.0,
        "git_sha": "bbb",
    }
    prev = {
        "queries": {"q1": 1.0},
        "load_start_1m": 0.0,
        "git_sha": "aaa",
    }
    (tmp_path / "bench_results.json").write_text(json.dumps(res))
    (tmp_path / "bench_results_prev.json").write_text(json.dumps(prev))
    (tmp_path / "BENCH_ANCHOR_r99.json").write_text(json.dumps(anc))
    # no-argv mode resolves boards relative to the script's repo dir,
    # so exercise the branch through a copied script dir: simplest is
    # a tiny driver that monkeypatches sys.argv and __file__ paths.
    driver = tmp_path / "drive.py"
    driver.write_text(
        "import shutil, subprocess, sys, os\n"
        f"repo = {str(tmp_path)!r}\n"
        "os.makedirs(os.path.join(repo, 'tools'), exist_ok=True)\n"
        f"shutil.copy({os.path.join(REPO, 'tools', 'bench_compare.py')!r},"
        " os.path.join(repo, 'tools', 'bench_compare.py'))\n"
        f"shutil.copy({os.path.join(REPO, 'tools', 'benchlib.py')!r},"
        " os.path.join(repo, 'tools', 'benchlib.py'))\n"
        "p = subprocess.run([sys.executable,"
        " os.path.join(repo, 'tools', 'bench_compare.py')],"
        " capture_output=True, text=True)\n"
        "print(p.stdout)\n"
        "sys.exit(p.returncode)\n"
    )
    out = subprocess.run(
        [sys.executable, str(driver)], capture_output=True, text=True
    )
    # different SHA -> NOT merged -> the 2x regression fires
    assert "minima NOT merged" in out.stdout, out.stdout
    assert out.returncode == 1, out.stdout
    # same SHA -> merged -> min(2.0, 1.0) clears the flag
    prev["git_sha"] = "bbb"
    (tmp_path / "bench_results_prev.json").write_text(json.dumps(prev))
    out = subprocess.run(
        [sys.executable, str(driver)], capture_output=True, text=True
    )
    assert "same commit" in out.stdout, out.stdout
    assert out.returncode == 0, out.stdout


def test_load_band_is_two():
    # BASELINE.md's comparability contract; drifting this silently
    # changes which boards are binding
    assert LOAD_BAND == 2.0


def test_timed_noop_times_build_and_frees_every_block(spark):
    """One timed rep returns (build_s, total_s) and leaves no storage
    block behind — including a localCheckpoint, which clearCache()
    alone never drops — also when the rep raises."""
    import pytest

    from tools.benchlib import timed_noop

    def persistent(s):
        return s.sparkContext._jsc.getPersistentRDDs().size()

    def fn(s, sf_dir):
        s.range(10).localCheckpoint()
        df = s.range(1000).persist()
        df.count()  # an eager job inside the build
        return df.selectExpr("id * 2 AS x")

    build, total = timed_noop(spark, fn, "unused")
    assert 0 <= build <= total
    assert persistent(spark) == 0

    def boom(s, sf_dir):
        s.range(10).persist().count()
        raise RuntimeError("rep failed")

    with pytest.raises(RuntimeError):
        timed_noop(spark, boom, "unused")
    assert persistent(spark) == 0
