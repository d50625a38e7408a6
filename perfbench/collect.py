"""Spark status-store counters, keyed by job group.

Every number here is read from the application status store that the
driver keeps whether or not the web UI runs (``spark.ui.enabled=false``
is the package default): ``sc.statusTracker()`` maps a job group to its
job ids, and ``statusStore().lastStageAttempt(id)`` gives each stage's
task count, executor CPU and run time, and I/O bytes.

A job group is a thread-local property of the thread that submits the
job. Batch work submits from the caller's thread, so the caller names
the group with ``sc.setJobGroup``. A streaming query submits from its
own execution thread under the group ``str(query.runId)``; a
``setJobGroup`` on the caller's thread does not reach those jobs, so
stream work must be collected by run id.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields


@dataclass
class Counters:
    """Totals over a set of jobs. Byte and time fields are in bytes and
    seconds; ``job_spans`` are the jobs' (submit, complete) epoch times."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    scan_tasks: int = 0
    job_spans: list[tuple[float, float]] = field(default_factory=list)
    #: (longest task run time, its stage's summed task run time), seconds
    max_task: tuple[float, float] = (0.0, 0.0)

    def __add__(self, other: "Counters") -> "Counters":
        out = Counters()
        for f in fields(self):
            a, b = getattr(self, f.name), getattr(other, f.name)
            if f.name == "max_task":
                setattr(out, f.name, max(a, b))
            else:
                setattr(out, f.name, a + b)
        return out

    def __sub__(self, other: "Counters") -> "Counters":
        out = Counters()
        for f in fields(self):
            if f.name not in ("job_spans", "max_task"):
                setattr(out, f.name, getattr(self, f.name) - getattr(other, f.name))
        return out

    def busy_s(self, start: float, end: float) -> float:
        """Seconds of ``[start, end]`` during which at least one job ran."""
        busy, cursor = 0.0, start
        for s, e in sorted(self.job_spans):
            s, e = max(s, cursor), min(e, end)
            if e > s:
                busy += e - s
                cursor = e
        return busy

    @property
    def max_task_share(self) -> float:
        longest, stage_total = self.max_task
        return longest / stage_total if stage_total else 0.0


class StatusStore:
    """Reads counters for job groups out of a live SparkContext."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event posted
        so far, so the store holds the jobs that just finished."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def submitted(self, job_ids: list[int]) -> dict[int, float]:
        """Submission epoch time of each job that has one."""
        out = {}
        for jid in job_ids:
            t = self._store.job(jid).submissionTime()
            if t.isDefined():
                out[jid] = t.get().getTime() / 1e3
        return out

    def group(self, group: str, tasks: bool = False) -> Counters:
        return self.jobs(self.job_ids(group), tasks=tasks)

    def jobs(self, job_ids: list[int], tasks: bool = False) -> Counters:
        """Counters over ``job_ids``. Stages a job skipped (its shuffle
        output was reused) are not counted. ``tasks=True`` also walks
        task records for ``max_task``, which costs one round trip per
        task."""
        c = Counters(jobs=len(job_ids))
        seen: set[int] = set()
        for jid in job_ids:
            job = self._store.job(jid)
            start, end = job.submissionTime(), job.completionTime()
            if start.isDefined() and end.isDefined():
                c.job_spans.append((start.get().getTime() / 1e3, end.get().getTime() / 1e3))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                self._add_stage(c, sid, tasks)
        return c

    def _add_stage(self, c: Counters, sid: int, tasks: bool) -> None:
        sd = self._store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            return
        c.stages += 1
        n = sd.numTasks()
        c.tasks += n
        c.cpu_s += sd.executorCpuTime() / 1e9
        run_s = sd.executorRunTime() / 1e3
        c.run_s += run_s
        c.input_bytes += sd.inputBytes()
        c.input_records += sd.inputRecords()
        if sd.inputBytes() > 0:
            c.scan_tasks += n
        c.output_bytes += sd.outputBytes()
        c.shuffle_read_bytes += sd.shuffleReadBytes()
        c.shuffle_write_bytes += sd.shuffleWriteBytes()
        c.spill_bytes += sd.diskBytesSpilled()
        if tasks and run_s > 0:
            task_list = self._store.taskList(sid, sd.attemptId(), n)
            longest = 0.0
            for i in range(task_list.size()):
                metrics = task_list.apply(i).taskMetrics()
                if metrics.isDefined():
                    longest = max(longest, metrics.get().executorRunTime() / 1e3)
            c.max_task = max(c.max_task, (longest, run_s), key=lambda t: t[0])
