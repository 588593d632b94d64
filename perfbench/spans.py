"""Per-layer attribution from Spark's status store.

A span wraps one public call.  On entry it sets a Spark job group named
after the span and notes the scheduler's next job id; on exit it clears the
group (otherwise jobs started after the call would still carry it) and notes
the next job id again.  Nothing is read during the span: ``collect()`` runs
after the operation, outside the timed region, and turns each span into
counters read from the status store:

- ``wall_s``            span wall time
- ``jobs``              jobs the span started
- ``task_s``            sum of executor run time over the span's stages
- ``shuffle_mb``        shuffle read + write
- ``max_task_stage_s``  longest stage that ran as one task
- ``driver_s``          span wall during which none of its jobs was running
                        (planning, Python-side sinks, result handling)

A span's jobs are those in its group plus those whose id falls in its
id range: broadcast jobs fired from Spark's own threads do not inherit the
job group, but with one client and non-overlapping spans the id range is
exact.  Spans do not nest: a span opened inside another is a no-op, so the
work is counted once, by the outer span.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

COUNTERS = ("wall_s", "jobs", "task_s", "shuffle_mb", "max_task_stage_s", "driver_s")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._open: list[tuple] = []  # closed spans not yet read
        self._active = False
        self._seq = 0

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str):
        if self._active:
            yield
            return
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        self.sc.setJobGroup(group, name)
        self._active = True
        j0 = self.next_job_id()
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            j1 = self.next_job_id()
            self.sc._jsc.clearJobGroup()
            self._active = False
            self._open.append((name, group, j0, j1, t0, t1))

    def collect(self) -> list[dict]:
        """Counters of every span closed since the last call."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = []
        for name, group, j0, j1, t0, t1 in self._open:
            ids = set(range(j0, j1))
            ids.update(int(j) for j in self.sc.statusTracker().getJobIdsForGroup(group))
            rec = dict.fromkeys(COUNTERS, 0.0)
            rec["name"] = name
            rec["wall_s"] = t1 - t0
            rec["jobs"] = len(ids)
            busy = []
            for jid in sorted(ids):
                try:
                    job = store.job(jid)
                except Py4JJavaError:  # evicted or never registered
                    continue
                sub, comp = job.submissionTime(), job.completionTime()
                if sub.isDefined() and comp.isDefined():
                    busy.append(
                        (max(t0, sub.get().getTime() / 1e3), min(t1, comp.get().getTime() / 1e3))
                    )
                stage_ids = job.stageIds()
                for k in range(stage_ids.size()):
                    _add_stage(rec, store, int(stage_ids.apply(k)))
            rec["driver_s"] = max(0.0, rec["wall_s"] - _union_length(busy))
            out.append(rec)
        self._open.clear()
        return out


def _add_stage(rec: dict, store, stage_id: int) -> None:
    try:
        st = store.lastStageAttempt(stage_id)
    except Py4JJavaError:  # skipped stage that never ran
        return
    if str(st.status().toString()) != "COMPLETE":
        return
    rec["task_s"] += st.executorRunTime() / 1e3
    rec["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 2**20
    start, end = st.firstTaskLaunchedTime(), st.completionTime()
    if st.numTasks() == 1 and start.isDefined() and end.isDefined():
        dur = (end.get().getTime() - start.get().getTime()) / 1e3
        rec["max_task_stage_s"] = max(rec["max_task_stage_s"], dur)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
