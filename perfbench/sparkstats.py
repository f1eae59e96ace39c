"""Per-operation engine counters read from Spark's status store.

The store (``sc._jsc.sc().statusStore()``) is kept by Spark even with
the UI off. After each operation the reader drains the listener bus,
collects the jobs submitted since the previous call, and sums their
executed stages. Nothing here runs inside a timed region.

Jobs are found by id, not by job group: the ingest pipeline submits
MERGE jobs from a thread pool, and Python threads do not inherit the
caller's job group, so a group filter would miss them.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

#: Counter names, in report order.
COUNTERS = (
    "jobs", "stages", "tasks", "driver_gap_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "executor_cpu_s", "gc_s", "stage_skew",
)

_MB = 1024 * 1024


def _date_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def _covered_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds of the union of [start, end) millisecond intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


class StatusStoreReader:
    """Engine counters per operation for one SparkContext."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = self._sc.statusTracker()
        self._quantiles = self._sc._gateway.new_array(self._sc._gateway.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._seen = -1
        self.mark()

    def _new_job_ids(self) -> list[int]:
        self._bus.waitUntilEmpty()
        ids = sorted(j for j in self._tracker.getJobIdsForGroup(None) if j > self._seen)
        if ids:
            self._seen = ids[-1]
        return ids

    def mark(self) -> None:
        """Forget every job submitted so far."""
        self._new_job_ids()

    def _skew(self, stage) -> float:
        """max / median task run time of one stage (median floored at 1 ms)."""
        dist = self._store.taskSummary(stage.stageId(), stage.attemptId(), self._quantiles)
        if not dist.isDefined():
            return 1.0
        run = dist.get().executorRunTime()
        return run.apply(1) / max(run.apply(0), 1.0)

    def collect(self, wall_s: float) -> dict[str, float]:
        """Counters of the jobs submitted since the last call, for an
        operation that took ``wall_s`` seconds."""
        jobs = self._new_job_ids()
        stage_ids: set[int] = set()
        for jid in jobs:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = float(len(jobs))
        intervals, longest, longest_run = [], None, -1
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage already evicted from the store
                continue
            if st.status().toString() != "COMPLETE":
                continue  # SKIPPED stages reuse shuffle output and run nothing
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1000.0
            start, end = _date_ms(st.submissionTime()), _date_ms(st.completionTime())
            if start is not None and end is not None:
                intervals.append((start, end))
            if st.executorRunTime() > longest_run:
                longest, longest_run = st, st.executorRunTime()
        out["driver_gap_s"] = max(0.0, wall_s - _covered_s(intervals))
        out["stage_skew"] = self._skew(longest) if longest is not None else 1.0
        return out
