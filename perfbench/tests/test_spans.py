"""Span self-time arithmetic and job attribution, without Spark."""

import pytest

from spans import Span, Tracer, attribute_jobs, covered, pass_report, self_times


def _span(i, layer, kind, parent, start, end, consumes=None):
    return Span(i, f"s{i}", layer, kind, parent, "r", start, end, consumes=consumes)


def _tracer(spans):
    t = Tracer(None, "r", enabled=True)
    t.spans = spans
    return t


def test_covered_is_union_length_clipped():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(1, 2), (1, 2)], 0, 10) == 1


def test_self_time_subtracts_children():
    spans = [
        _span(0, "bench", "pass", None, 0.0, 10.0),
        _span(1, "plans.silver", "build", 0, 1.0, 4.0),
        _span(2, "plans.silver", "build", 1, 2.0, 3.0),
        _span(3, "sinks.parquet", "exec", 0, 5.0, 9.0, consumes="plans.silver"),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0})
    assert sum(st.values()) == pytest.approx(spans[0].dur)


def test_pass_report_self_times_sum_to_pass_and_layers_roll_up():
    spans = [
        _span(0, "bench", "pass", None, 100.0, 110.0),
        _span(1, "plans.silver", "build", 0, 101.0, 104.0),
        _span(2, "plans.silver", "build", 1, 102.0, 103.0),
        _span(3, "spark", "plan", 0, 104.0, 104.5),
        _span(4, "sinks.parquet", "exec", 0, 105.0, 109.0, consumes="plans.silver"),
    ]
    tr = _tracer(spans)
    jobs = [
        {"jobId": 1, "jobGroup": tr.group(spans[2]), "stageIds": [1],
         "submissionTime": None, "completionTime": None},
        {"jobId": 2, "jobGroup": tr.group(spans[4]), "stageIds": [2, 3],
         "submissionTime": None, "completionTime": None},
    ]
    stages = {
        1: {"status": "COMPLETE", "numCompleteTasks": 1, "executorRunTime": 500},
        2: {"status": "COMPLETE", "numCompleteTasks": 3, "executorRunTime": 3000,
            "shuffleWriteBytes": 10, "memoryBytesSpilled": 1, "diskBytesSpilled": 2},
        3: {"status": "SKIPPED"},
    }
    r = pass_report(tr, 0, attribute_jobs(tr, jobs, stages))
    selfs = sum(v for k, v in r.items() if k.endswith(".self_s") or k == "bench.unattributed_s")
    assert selfs == pytest.approx(r["bench.pass_s"]) == pytest.approx(10.0)
    assert r["plans.silver.build_s"] == pytest.approx(3.0)  # nested span not counted twice
    assert r["plans.silver.exec_s"] == pytest.approx(4.0)
    assert r["plans.silver.jobs_in_build"] == 1
    assert r["plans.silver.jobs"] == 2
    assert r["plans.silver.task_s"] == pytest.approx(3.5)
    assert r["plans.silver.spill_bytes"] == 3
    assert r["spark.plan_s"] == pytest.approx(0.5)
    assert r["spark.stages"] == 2 and r["spark.tasks"] == 4
    assert r["bench.unattributed_s"] == pytest.approx(10 - 3 - 0.5 - 4)


def test_jobs_outside_known_groups_go_to_innermost_span_by_time():
    spans = [
        _span(0, "bench", "pass", None, 1_000.0, 1_010.0),
        _span(1, "streaming.bronze", "build", 0, 1_001.0, 1_005.0),
        _span(2, "sinks.upsert", "build", 1, 1_002.0, 1_003.0),
    ]
    tr = _tracer(spans)
    jobs = [{"jobId": 7, "jobGroup": "a-streaming-run-id", "stageIds": [],
             "submissionTime": "1970-01-01T00:16:42.500GMT", "completionTime": None}]
    (cost,) = attribute_jobs(tr, jobs, {})
    assert cost.span == 2 and not cost.by_group


def test_shared_stage_is_charged_to_first_job_only():
    tr = _tracer([_span(0, "bench", "pass", None, 0.0, 1.0)])
    g = tr.group(tr.spans[0])
    jobs = [{"jobId": j, "jobGroup": g, "stageIds": [5], "submissionTime": None,
             "completionTime": None} for j in (3, 4)]
    stages = {5: {"status": "COMPLETE", "numCompleteTasks": 2, "executorRunTime": 1000}}
    costs = {c.job_id: c for c in attribute_jobs(tr, jobs, stages)}
    assert costs[3].task_s == 1.0 and costs[4].task_s == 0.0
