from pathlib import Path

import pytest

import eventlog

LOG = Path(__file__).resolve().parent / "data" / "events_1_local-test"


def test_reads_jobs_groups_and_tasks():
    log = eventlog.read(LOG)
    assert sorted(log.jobs) == list(range(7))
    assert [log.jobs[j].group for j in range(7)] == [None] + ["span-0"] * 4 + [None] * 2
    assert log.jobs[2].stages == [2, 3]
    assert log.jobs[0].end - log.jobs[0].submit == pytest.approx(0.423)
    assert len(log.tasks) == 7


def test_python_worker_metrics_from_sql_accumulables():
    log = eventlog.read(LOG)
    udf = next(t for t in log.tasks if t.python)
    assert udf.stage == 4
    assert udf.python["python_run_s"] == pytest.approx(1.709)
    assert udf.python["python_init_s"] == pytest.approx(0.470)
    assert udf.python["python_start_s"] == pytest.approx(1.227)
    assert udf.python["python_sent_mb"] == pytest.approx(16232 / 2**20)


def test_summarize_attributes_tasks_to_span_jobs():
    log = eventlog.read(LOG)
    span_jobs = {j.id for j in log.jobs.values() if j.group == "span-0"}
    s = eventlog.summarize(log, span_jobs)
    assert s["jobs"] == 4
    assert s["tasks"] == 4  # stages 2 and 5 were skipped, 1/3/4/6 ran one task each
    assert s["executor_run_s"] == pytest.approx(2.035 + 0.080 + 2.012 + 0.015)
    assert s["python_run_s"] == pytest.approx(1.709)
    assert s["task_skew_max"] == 1.0  # no stage has two tasks
    rest = eventlog.summarize(log, set(log.jobs) - span_jobs)
    assert rest["python_run_s"] == 0.0 and rest["tasks"] == 3


def test_skew_and_busy_union():
    log = eventlog.Log(
        {0: eventlog.Job(0, "g", 0.0, 10.0, [0])},
        [eventlog.Task(0, 0.0, d, d, 0, 0, 0, 0, 0) for d in (1.0, 1.0, 1.0, 4.0)],
    )
    assert eventlog.summarize(log, {0})["task_skew_max"] == 4.0
    assert eventlog.busy_union([(0, 2), (1, 3), (5, 6), (9, 20)], 0, 10) == 3 + 1 + 1
