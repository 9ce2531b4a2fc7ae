"""Outside-in span recorder: wall-time spans around calls into the
engine's public functions, each attributed the Spark jobs it ran.

Nothing here touches library code. A span sets its own Spark job group
on entry and restores its parent's on exit. While spans run, the
recorder keeps only times, group names and storage snapshots; the job
numbers are read once, in :meth:`Recorder.finish`, from
``statusTracker().getJobIdsForGroup`` and the JVM status store, which
Spark keeps with the UI disabled. Jobs that library code starts from its
own worker threads carry no group (PySpark maps each Python thread to
its own JVM thread); such a job belongs to the innermost span that was
open when it was submitted.

Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by the union of ``(start, end)`` intervals,
    each clipped to ``[lo, hi]`` when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class StageStat:
    stage_id: int
    tasks: int
    run_s: float
    cpu_s: float
    shuffle_read_bytes: int
    shuffle_read_records: int
    shuffle_write_bytes: int


@dataclass
class JobStat:
    job_id: int
    start: float
    end: float
    stages: list[StageStat]


@dataclass
class Span:
    index: int
    name: str
    iteration: int | None
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    group: str = ""
    #: jobs attributed to this span alone (its children hold their own)
    own_jobs: list[JobStat] = field(default_factory=list)
    storage_start: tuple[int, int] = (0, 0)
    storage_end: tuple[int, int] = (0, 0)
    #: seconds the recorder itself spent entering and leaving the span
    cost_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class SparkStatus:
    """Reads Spark's own bookkeeping: job groups, the status tracker and
    the JVM status store. One client thread only."""

    def __init__(self, sc):
        self.sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = sc.statusTracker()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the final numbers of finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str | None) -> list[int]:
        return sorted(int(j) for j in self._tracker.getJobIdsForGroup(group))

    def job(self, job_id: int) -> JobStat:
        jd = self._store.job(job_id)
        start = jd.submissionTime().get().getTime() / 1000.0
        end_opt = jd.completionTime()
        end = end_opt.get().getTime() / 1000.0 if end_opt.isDefined() else start
        info = self._tracker.getJobInfo(job_id)
        stages = []
        for sid in (info.stageIds if info is not None else []):
            try:
                sd = self._store.lastStageAttempt(int(sid))
            except Exception:  # py4j error: a stage that never ran has no attempt
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            # a shuffle stage that ran in an earlier job is listed again
            # (as reused) by every later job that reads its output
            sub = sd.submissionTime()
            if not sub.isDefined() or sub.get().getTime() / 1000.0 < start:
                continue
            stages.append(
                StageStat(
                    stage_id=int(sid),
                    tasks=int(sd.numTasks()),
                    run_s=sd.executorRunTime() / 1000.0,
                    cpu_s=sd.executorCpuTime() / 1e9,
                    shuffle_read_bytes=int(sd.shuffleReadBytes()),
                    shuffle_read_records=int(sd.shuffleReadRecords()),
                    shuffle_write_bytes=int(sd.shuffleWriteBytes()),
                )
            )
        return JobStat(job_id=job_id, start=start, end=end, stages=stages)

    def storage(self) -> tuple[int, int]:
        """(persisted RDD count, bytes held in memory and on disk)."""
        n = int(self._jsc.getPersistentRDDs().size())
        nbytes = sum(int(i.memSize()) + int(i.diskSize()) for i in self._jsc.getRDDStorageInfo())
        return n, nbytes


class NullRecorder:
    """Tracing off: spans cost one no-op context manager."""

    @contextmanager
    def span(self, name: str, iteration: int | None = None):
        yield None


class Recorder:
    """Nested spans with per-span Spark job attribution."""

    def __init__(self, status, cores: int, clock=time.time):
        self.status = status
        self.cores = cores
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._before = set(status.group_jobs(None))
        self._finished = False

    @contextmanager
    def span(self, name: str, iteration: int | None = None):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            index=len(self.spans),
            name=name,
            iteration=iteration if iteration is not None else (parent.iteration if parent else None),
            parent=parent.index if parent else None,
        )
        sp.group = f"perfbench-span-{sp.index}"
        sp.storage_start = self.status.storage()
        self.spans.append(sp)
        self._stack.append(sp)
        self._finished = False
        self.status.set_group(sp.group)
        sp.cost_s = time.perf_counter() - t0
        sp.start = self.clock()
        try:
            yield sp
        finally:
            sp.end = self.clock()
            t0 = time.perf_counter()
            self._stack.pop()
            self.status.set_group(parent.group if parent else None)
            sp.storage_end = self.status.storage()
            sp.cost_s += time.perf_counter() - t0

    def finish(self) -> None:
        """Attribute every job to its span: by job group, and ungrouped
        jobs to the innermost span open when they were submitted."""
        if self._finished:
            return
        self.status.drain()
        for sp in self.spans:
            sp.own_jobs = [self.status.job(j) for j in self.status.group_jobs(sp.group)]
        for j in self.status.group_jobs(None):
            if j in self._before:
                continue
            job = self.status.job(j)
            owners = [sp for sp in self.spans if sp.start <= job.start <= sp.end]
            if owners:
                owners[-1].own_jobs.append(job)
        self._finished = True

    # ---- derived numbers -------------------------------------------------

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.index]

    def all_jobs(self, sp: Span) -> list[JobStat]:
        """Jobs of the span and of every span nested in it."""
        self.finish()
        jobs = list(sp.own_jobs)
        for c in self.children(sp):
            jobs.extend(self.all_jobs(c))
        return jobs

    def self_s(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        return sp.wall_s - union_length(
            [(c.start, c.end) for c in self.children(sp)], sp.start, sp.end
        )

    def metrics(self, sp: Span) -> dict:
        jobs = self.all_jobs(sp)
        stages = [s for j in jobs for s in j.stages]
        job_wall = union_length([(j.start, j.end) for j in jobs], sp.start, sp.end)
        run_s = sum(s.run_s for s in stages)
        merge = [s for s in stages if s.shuffle_read_records > 0]
        return {
            "wall_s": sp.wall_s,
            "self_s": self.self_s(sp),
            "driver.plan_s": max(0.0, sp.wall_s - job_wall),
            "spark.job_wall_s": job_wall,
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s.tasks for s in stages),
            "spark.exec_run_s": run_s,
            "spark.exec_cpu_s": sum(s.cpu_s for s in stages),
            "spark.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in stages),
            "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
            "spark.slot_idle_frac": (
                1.0 - run_s / (job_wall * self.cores) if job_wall > 0 else 0.0
            ),
            "spark.persisted_rdds_delta": sp.storage_end[0] - sp.storage_start[0],
            "spark.storage_bytes_delta": sp.storage_end[1] - sp.storage_start[1],
            # the last stage that read a shuffle: for a search, the
            # global top-k merge fed by every partition's local top-k
            "merge_input_rows": (
                max(merge, key=lambda s: s.stage_id).shuffle_read_records if merge else 0
            ),
        }

    def write(self, path: str) -> None:
        out = []
        for sp in self.spans:
            out.append(
                {
                    "index": sp.index,
                    "name": sp.name,
                    "iteration": sp.iteration,
                    "parent": sp.parent,
                    "start": sp.start,
                    "end": sp.end,
                    "cost_s": sp.cost_s,
                    "job_ids": [j.job_id for j in sp.own_jobs],
                    **self.metrics(sp),
                }
            )
        with open(path, "w") as f:
            json.dump(out, f)
