import os

import pytest

from perfbench import trace

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")


@pytest.fixture(scope="module")
def jobs():
    with open(LOG) as f:
        return trace.parse_events(f)


def test_jobs_and_groups(jobs):
    assert sorted(jobs) == [0, 1, 2]
    assert [jobs[i].group for i in (0, 1, 2)] == ["q1:build", "q1:exec", None]
    assert (jobs[1].start_ms, jobs[1].end_ms) == (1_000_400, 1_001_000)


def test_group_totals(jobs):
    g = trace.totals_by_group(jobs)
    assert set(g) == {"q1:build", "q1:exec"}
    build, exe = g["q1:build"], g["q1:exec"]
    assert (build.jobs, build.stages, build.tasks) == (1, 1, 2)
    # stage 0 is charged to job 0 only; job 1 runs stage 1's three tasks
    assert (exe.jobs, exe.stages, exe.tasks) == (1, 1, 3)
    assert build.run_s == pytest.approx(0.4)
    assert build.cpu_s == pytest.approx(0.2)
    assert build.gc_s == pytest.approx(0.01)
    assert build.scan_mb == pytest.approx(4.0)
    assert build.shuffle_write_mb == pytest.approx(1.0)
    assert build.spill_mb == pytest.approx(1.0)
    assert exe.shuffle_read_mb == pytest.approx(3.0)
    assert exe.pyworker_s == pytest.approx(1.0)
    assert exe.pyworker_mb == pytest.approx(4.0)
    assert build.pyworker_s == 0.0


def test_ungrouped_job_still_parsed(jobs):
    t = jobs[2].totals
    assert (t.tasks, t.run_s, t.cpu_s, t.scan_mb) == (1, 1.0, 0.9, 5.0)


def test_union_of_job_intervals(jobs):
    intervals = trace.job_intervals_s(jobs)
    # jobs 0 and 1 overlap: [1000.0, 1001.0] plus [1002.0, 1003.0]
    assert trace.union_s(intervals, 999.0, 1004.0) == pytest.approx(2.0)
    assert trace.union_s(intervals, 1000.5, 1002.5) == pytest.approx(1.0)
    assert trace.union_s([], 0.0, 5.0) == 0.0
