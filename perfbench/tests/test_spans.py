"""Tests of the outside-in span recorder: interval arithmetic, self
time, job-group-to-span mapping (with a scripted status source) and the
attribution of real Spark jobs."""

from concurrent.futures import ThreadPoolExecutor

import pytest

from spans import JobStat, Recorder, SparkStatus, StageStat, union_length


def test_union_length_merges_overlaps_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 10), (2, 3)]) == 10.0
    assert union_length([(0, 10), (5, 20)], lo=2, hi=12) == 10.0
    assert union_length([(0, 1)], lo=5, hi=8) == 0.0


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class FakeStatus:
    """Scripted stand-in for SparkStatus: jobs are 'run' by the test
    under the current group, or ungrouped as if from a library thread."""

    def __init__(self, clock):
        self.clock = clock
        self.group = None
        self.jobs = {}  # id -> (group, start, end)

    def run_job(self, seconds, grouped=True):
        jid = len(self.jobs)
        start = self.clock.t
        self.clock.t += seconds
        self.jobs[jid] = (self.group if grouped else None, start, self.clock.t)
        return jid

    def set_group(self, group):
        self.group = group

    def drain(self):
        pass

    def group_jobs(self, group):
        return sorted(j for j, (g, _, _) in self.jobs.items() if g == group)

    def job(self, jid):
        _, start, end = self.jobs[jid]
        stage = StageStat(jid, 2, 2 * (end - start), 0.0, 0, 0, 0)
        return JobStat(jid, start, end, [stage])

    def storage(self):
        return 0, 0


def test_self_time_subtracts_child_coverage():
    clock = FakeClock()
    rec = Recorder(FakeStatus(clock), cores=2, clock=clock)
    with rec.span("parent") as parent:
        for start, end in [(1, 3), (2, 5), (7, 8)]:
            clock.t = start
            with rec.span("child"):
                clock.t = end
        clock.t = 10
    # children cover [1, 5] and [7, 8]: 5 of the parent's 10 seconds
    assert parent.wall_s == 10
    assert rec.self_s(parent) == pytest.approx(5.0)
    assert all(rec.self_s(c) == c.wall_s for c in rec.children(parent))


def test_jobs_map_to_the_innermost_span():
    clock = FakeClock()
    status = FakeStatus(clock)
    before = status.run_job(1)  # untraced work before any span
    rec = Recorder(status, cores=2, clock=clock)
    with rec.span("op") as op:
        a = status.run_job(1)
        with rec.span("child") as child:
            b = status.run_job(2)
            c = status.run_job(1, grouped=False)  # from a library thread
        d = status.run_job(1)
        e = status.run_job(1, grouped=False)
    rec.finish()
    assert [j.job_id for j in child.own_jobs] == [b, c]
    assert [j.job_id for j in op.own_jobs] == [a, d, e]
    assert sorted(j.job_id for j in rec.all_jobs(op)) == [a, b, c, d, e]
    assert before not in [j.job_id for j in rec.all_jobs(op)]
    assert status.group is None  # restored when the outer span ended
    m = rec.metrics(op)
    assert m["spark.jobs"] == 5
    # jobs cover the whole span: no driver-only time, no idle slots
    assert m["driver.plan_s"] == pytest.approx(0.0)
    assert m["spark.slot_idle_frac"] == pytest.approx(0.0)


def test_ungrouped_jobs_between_spans_are_not_claimed():
    clock = FakeClock()
    status = FakeStatus(clock)
    rec = Recorder(status, cores=2, clock=clock)
    with rec.span("first"):
        status.run_job(1)
    clock.t += 0.5
    outside = status.run_job(1, grouped=False)
    clock.t += 0.5
    with rec.span("second") as second:
        status.run_job(1)
    rec.finish()
    assert outside not in [j.job_id for s in rec.spans for j in s.own_jobs]


def test_known_two_job_call_is_attributed(spark):
    sc = spark.sparkContext
    sc.parallelize(range(10), 1).count()  # before tracing: not counted
    rec = Recorder(SparkStatus(sc), cores=2)

    def two_jobs():
        sc.parallelize(range(100), 2).count()
        sc.parallelize(range(100), 2).count()

    with rec.span("op") as op:
        with rec.span("call") as call:
            two_jobs()
        with ThreadPoolExecutor(max_workers=1) as pool:
            pool.submit(lambda: sc.parallelize(range(10), 1).count()).result()

    m = rec.metrics(call)
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (2, 2, 4)
    assert 0.0 <= m["driver.plan_s"] <= m["wall_s"]
    assert m["spark.exec_run_s"] >= 0.0
    # the op holds the call's two jobs plus the one its worker thread ran
    assert len(op.own_jobs) == 1
    assert rec.metrics(op)["spark.jobs"] == 3
    assert rec.self_s(op) <= op.wall_s - call.wall_s + 1e-9


def test_storage_delta_counts_a_persist(spark):
    rec = Recorder(SparkStatus(spark.sparkContext), cores=2)
    with rec.span("persist") as sp:
        df = spark.range(1000).persist()
        df.count()
    m = rec.metrics(sp)
    assert m["spark.persisted_rdds_delta"] == 1
    assert m["spark.storage_bytes_delta"] > 0
    df.unpersist(blocking=True)
