import json

import pytest

import spans


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def _task(stage, run_ms, cpu_ns, gc_ms=0, shuffle_w=0, shuffle_r=0, out=0):
    return _ev("SparkListenerTaskEnd", **{
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": shuffle_r},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Input Metrics": {"Bytes Read": 0},
            "Output Metrics": {"Bytes Written": out, "Records Written": 0}}})


def _job_start(jid, stages, t_ms, group):
    return _ev("SparkListenerJobStart", **{
        "Job ID": jid, "Submission Time": t_ms, "Stage IDs": stages,
        "Properties": {"spark.jobGroup.id": group,
                       "spark.job.description": group}})


LOG = [
    # job 0 (group a): stages 0 and 1 both run, two tasks each
    _job_start(0, [0, 1], 1_000, "w/a/f"),
    _task(0, 100, 50_000_000, shuffle_w=400),
    _task(0, 100, 50_000_000, shuffle_w=600),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
    _task(1, 300, 100_000_000, gc_ms=20, shuffle_r=1000),
    _task(1, 300, 100_000_000, gc_ms=20, shuffle_r=0),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
    _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 2_000}),
    # job 1 (group a): reuses stage 1's input, so stage 1 is skipped
    _job_start(1, [1, 2], 1_500, "w/a/f"),
    _task(2, 50, 10_000_000, out=77),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2}}),
    _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 2_500}),
    # job 2 (no group): ignored by a group fold
    _ev("SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 3_000,
                                    "Stage IDs": [3], "Properties": {}}),
    _task(3, 10, 1_000_000),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 3}}),
    _ev("SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 3_100}),
]


def test_fold_by_group_sums_tasks_and_counts_skipped_stages():
    jobs = spans.parse_event_log(LOG)
    assert [j.job_id for j in jobs] == [0, 1, 2]
    folds = spans.fold_by(jobs, lambda j: j.group)
    assert set(folds) == {"w/a/f"}
    f = folds["w/a/f"]
    assert f.jobs == 2
    assert f.stages == 2 + 1
    assert f.stages_skipped == 1  # stage 1 listed by job 1 but run by job 0
    assert f.tasks == 5
    assert f.run_s == pytest.approx(0.85)
    assert f.cpu_s == pytest.approx(0.31)
    assert f.gc_s == pytest.approx(0.04)
    assert f.shuffle_write_bytes == 1000
    assert f.shuffle_read_bytes == 1000
    assert f.output_bytes == 77


def test_job_time_is_the_union_of_overlapping_jobs():
    f = spans.fold_by(spans.parse_event_log(LOG), lambda j: j.group)["w/a/f"]
    # [1.0, 2.0] and [1.5, 2.5] overlap: 1.5 s covered, not 2.0
    assert f.job_s == pytest.approx(1.5)


def test_span_metrics_split_wall_into_jobs_and_driver_gap():
    f = spans.fold_by(spans.parse_event_log(LOG), lambda j: j.group)["w/a/f"]
    sp = spans.Span("w/a/f", None, start=0.5, end=3.0, py_cpu_s=0.2)
    m = spans.span_metrics(sp, f)
    assert m["wall_s"] == pytest.approx(2.5)
    assert m["driver_gap_s"] == pytest.approx(1.0)
    assert m["cpu_s"] == pytest.approx(0.51)
    assert m["offcpu_s"] == pytest.approx(0.85 - 0.51)
    assert m["stages"] == 3 and m["stages_skipped"] == 1 and m["tasks"] == 5
