"""Per-stage wall/IO profile for one catalog query — the guide's
"open the Stages tab" loop for a headless box, via the Spark UI REST
API of the driving session.

Usage: python tools/stage_profile.py <query> [sf_dir]

Runs the query once at sf0.001 (JIT warmup), then once timed at
``sf_dir`` through the noop sink, then prints every stage of the timed
run sorted by duration: stage id, wall seconds, task count, input /
shuffle-read / shuffle-write bytes, and the first line of the stage's
name. Also prints the job count and total task time so fixed per-job
overhead (many tiny jobs = construction-time collects / broadcasts) is
visible next to real data work.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from tools.benchlib import timed_noop
    from traits_data_spark import catalog
    from traits_data_spark.session import get_spark

    spark = get_spark("stage-profile")
    spark.sparkContext.setLogLevel("ERROR")
    fn = catalog.QUERIES[name]

    timed_noop(spark, fn, "/root/testdata/sf0.001")

    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"
    jobs_before = {j["jobId"] for j in _get(f"{base}/jobs")}
    stages_before = {s["stageId"] for s in _get(f"{base}/stages")}

    t_build, t_total = timed_noop(spark, fn, sf_dir)

    jobs = [j for j in _get(f"{base}/jobs") if j["jobId"] not in jobs_before]
    stages = [
        s
        for s in _get(f"{base}/stages")
        if s["stageId"] not in stages_before and s["status"] != "SKIPPED"
    ]
    stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
    total_task_ms = sum(s.get("executorRunTime") or 0 for s in stages)
    print(
        f"{name}: total {t_total:.2f}s (build+plan {t_build:.2f}s), "
        f"{len(jobs)} jobs, {len(stages)} executed stages, "
        f"task-time {total_task_ms / 1000:.1f}s"
    )
    print(
        f"{'stage':>6} {'run_s':>7} {'tasks':>5} {'in_MB':>7} "
        f"{'sh_r_MB':>8} {'sh_w_MB':>8}  name"
    )
    for s in stages[:25]:
        wall = (s.get("executorRunTime") or 0) / 1000
        nm = (s.get("name") or "").split("\n")[0][:70]
        print(
            f"{s['stageId']:>6} {wall:>7.2f} {s.get('numCompleteTasks', 0):>5}"
            f" {(s.get('inputBytes') or 0) / 1e6:>7.1f}"
            f" {(s.get('shuffleReadBytes') or 0) / 1e6:>8.2f}"
            f" {(s.get('shuffleWriteBytes') or 0) / 1e6:>8.2f}  {nm}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
