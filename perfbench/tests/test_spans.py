"""The event-log parser on a tiny recorded run.

``data/eventlog_v2_local-fixture`` is Spark 4.1's rolling event log of one
session, reduced to the events and fields the parser reads. The run was:

- span 0: ``range(0, 1000, 1, 4).selectExpr("id % 3 as k").groupBy("k")
  .count().collect()`` -- a 4-task map stage, then a 1-task result job
  (adaptive execution plans the second job after the shuffle);
- span 1: ``range(0, 10, 1, 2).selectExpr("id * 2 as x").collect()``;
- no span: ``range(0, 5, 1, 1).collect()``.
"""

import os
import shutil

import spans

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_jobs_are_attributed_to_their_spans():
    jobs = spans.parse_eventlog(spans.eventlog_files(DATA))
    assert [j.span for j in jobs] == ["0", "0", "1", None]
    by_span = spans.jobs_by_span(jobs)
    assert sorted(by_span) == ["0", "1"]
    assert spans.jobs_by_batch(jobs) == {}


def test_task_metrics_sum_per_span():
    jobs = spans.parse_eventlog(spans.eventlog_files(DATA))
    by_span = spans.jobs_by_span(jobs)
    agg = spans.layer_record(5.0, by_span["0"])
    assert agg["jobs"] == 2
    assert agg["tasks"] == 5  # 4 map tasks + 1 reduce task
    assert agg["stages"] == 2  # the reused map stage is not run twice
    assert agg["records_read"] == 1000 + 12  # range rows + 3 groups x 4 maps
    assert agg["shuffle_bytes"] > 0
    assert agg["spill_bytes"] == 0
    assert 0 < agg["job_busy_s"] < 5.0
    assert abs(agg["outside_jobs_s"] - (5.0 - agg["job_busy_s"])) < 1e-9
    assert agg["parallelism"] == agg["task_run_s"] / agg["job_busy_s"]

    one = spans.layer_record(1.0, by_span["1"])
    assert (one["jobs"], one["tasks"], one["records_read"]) == (1, 2, 10)


def test_busy_time_is_the_union_of_job_intervals():
    a = spans.JobRecord(0, submit_ms=0, end_ms=1000)
    b = spans.JobRecord(1, submit_ms=500, end_ms=1500)  # overlaps a
    c = spans.JobRecord(2, submit_ms=3000, end_ms=3500)
    assert spans.layer_record(10.0, [a, b, c])["job_busy_s"] == 2.0


def test_rolled_files_are_read_in_roll_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    src = os.path.join(DATA, "eventlog_v2_local-fixture", "events_1_local-fixture")
    lines = open(src).read().splitlines(keepends=True)
    half = len(lines) // 2
    (app / "events_2_local-1").write_text("".join(lines[half:]))
    (app / "events_1_local-1").write_text("".join(lines[:half]))
    (app / "appstatus_local-1").write_text("")
    files = spans.eventlog_files(str(tmp_path))
    assert [os.path.basename(f) for f in files] == ["events_1_local-1", "events_2_local-1"]
    assert len(spans.parse_eventlog(files)) == 4
    shutil.rmtree(app)
