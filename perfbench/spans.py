"""Spans for the traced run, recorded from the benchmark's own code.

A span times one call into a module's public function. It records
name, start, end, parent span and operation id, and sets one Spark job
group while it is open, so the Spark UI and ``statusTracker()`` show
which jobs belong to it. Job attribution uses the scheduler's job-id
counter rather than the group alone: operators that submit jobs from
their own threads (the alias-index writes) do not inherit a job group,
but nothing else submits jobs while a span is open, because the
benchmark runs one operation at a time.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JError


@dataclass
class Span:
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    shuffle_write_mb: float | None = None
    spill_mb: float | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Opens spans and attributes Spark jobs, stages and tasks to them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()
        self._store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._t0 = time.perf_counter()

    def _next_job_id(self) -> int:
        return int(self._dag.numTotalJobs())

    @contextmanager
    def span(self, name: str, op_id: int):
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        s = Span(name, op_id, parent, time.perf_counter() - self._t0)
        self.spans.append(s)
        self._open.append(idx)
        self.sc.setJobGroup(f"perfbench-{idx}", name, False)
        first_job = self._next_job_id()
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self._t0
            s.jobs = list(range(first_job, self._next_job_id()))
            self._open.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(f"perfbench-{parent}",
                                    self.spans[parent].name, False)
            self._fill_stage_stats(s)

    def _fill_stage_stats(self, s: Span) -> None:
        """Stages and tasks that ran (skipped stages excluded), plus
        shuffle-write and spill bytes when the status store answers."""
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for j in s.jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        shuffle = spill = 0
        store_ok = True
        for sid in stage_ids:
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks == 0:
                continue
            s.stages += 1
            s.tasks += st.numCompletedTasks
            if store_ok:
                try:
                    data = self._store.lastStageAttempt(sid)
                    shuffle += data.shuffleWriteBytes()
                    spill += data.memoryBytesSpilled() + data.diskBytesSpilled()
                except Py4JError:
                    store_ok = False
        if store_ok:
            s.shuffle_write_mb = shuffle / 2**20
            s.spill_mb = spill / 2**20

    def self_seconds(self, idx: int) -> float:
        """The span's duration minus the part its children cover."""
        s = self.spans[idx]
        kids = sum(c.seconds for c in self.spans if c.parent == idx)
        return s.seconds - kids

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                rec = asdict(s)
                rec["id"] = i
                rec["self_s"] = self.self_seconds(i)
                f.write(json.dumps(rec, sort_keys=True) + "\n")
