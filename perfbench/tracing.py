"""Spans around the benchmark's calls into the package, with Spark counters.

A span is (name, start, end, parent, run id).  In a traced run each span
also sets a Spark job group on entry and, on exit, reads the jobs the
call started from ``statusTracker()`` and their stages from the
in-process status store (``sc._jsc.sc().statusStore()``, which works with
``spark.ui.enabled=false``).  Spans stay in memory and are written once,
when the run ends.

Jobs are attributed by id range, not only by job group: the benchmark
makes one call at a time, so every job with an id past the last one seen
belongs to the open span.  Streaming queries run their micro-batches
under their own run-id job group, and the id range still catches them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

MB = 1024.0 * 1024.0

#: per-call counters, in the order they are reported
COUNTERS = (
    "wall_s", "driver_s", "jobs", "tasks", "executor_run_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "input_mb", "output_mb", "failed_tasks",
)


class Tracer:
    """Records spans; with ``counters=True`` also per-span Spark counters."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._next_job = 0

    def attach(self, spark, counters: bool) -> None:
        """Bind to the session that the following spans run on; with
        ``counters`` off, spans record wall time only."""
        self._sc = spark.sparkContext if counters else None
        if self._sc is not None:
            self._next_job = next_job_id(self._sc)

    @contextmanager
    def span(self, name: str, counters: bool = True, **attrs):
        """One call into the package.  ``counters=False`` marks a grouping
        span (a whole pass): its jobs are read by its children instead."""
        rec = {"name": name, "run_id": self.run_id, "parent": self._stack[-1] if self._stack else None, **attrs}
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        sc = self._sc if counters else None
        if sc is not None:
            sc.setJobGroup(f"{self.run_id}:{idx}", name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            raise
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                try:
                    got, self._next_job = job_counters(sc, self._next_job, rec["start"], rec["end"])
                    rec.update(got)
                    rec["driver_s"] = max(0.0, rec["wall_s"] - rec.pop("stage_covered_s"))
                finally:
                    sc._jsc.clearJobGroup()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _drain(sc) -> None:
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def next_job_id(sc) -> int:
    """Id the next Spark job will get (ids are consecutive)."""
    _drain(sc)
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1


def job_counters(sc, first_job: int, start: float, end: float) -> tuple[dict, int]:
    """Counters summed over the jobs with ids from ``first_job`` on, and
    the id after the last of them.  ``stage_covered_s`` is how much of
    [start, end] some stage of those jobs was running."""
    _drain(sc)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    stage_ids = set()
    jid = first_job
    while (info := tracker.getJobInfo(jid)) is not None:
        stage_ids.update(info.stageIds)
        jid += 1
    c = dict.fromkeys(COUNTERS[2:], 0.0)
    c["jobs"] = jid - first_job
    intervals = []
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
        for k in range(attempts.size()):
            sd = attempts.apply(k)
            if sd.submissionTime().isEmpty():  # skipped: ran in an earlier job
                continue
            c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            c["failed_tasks"] += sd.numFailedTasks()
            c["executor_run_s"] += sd.executorRunTime() / 1000.0
            c["gc_s"] += sd.jvmGcTime() / 1000.0
            c["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
            c["input_mb"] += sd.inputBytes() / MB
            c["output_mb"] += sd.outputBytes() / MB
            s0 = sd.submissionTime().get().getTime() / 1000.0
            s1 = sd.completionTime().get().getTime() / 1000.0 if sd.completionTime().isDefined() else end
            intervals.append((max(s0, start), min(s1, end)))
    c["stage_covered_s"] = _covered(intervals)
    return c, jid


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
