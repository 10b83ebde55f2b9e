"""Spark runtime and driver metrics of one op call, read from the status
store.

Each op call runs under the job group ``<workload>:<op>``. After the call
the reader asks the status tracker for the group's job ids, keeps the ones
it has not attributed yet, and sums their non-skipped stages. The library
sets no job group of its own, so every job of the call lands in the
group. Wall time outside the union of the job intervals is the driver's:
Python, py4j, Catalyst planning and the gaps between jobs.
"""

from __future__ import annotations

MB = 1024.0 * 1024.0

SPARK_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "job_span_s",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "driver_gap_s",
)


def interval_union(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals, overlaps counted
    once."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class StatusReader:
    """Attributes finished Spark jobs to op calls by job group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._seen: set[int] = set()

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def mark(self, group: str) -> None:
        """Treat every job the group has so far as attributed."""
        self._bus.waitUntilEmpty()
        self._seen.update(self._sc.statusTracker().getJobIdsForGroup(group))

    def read(self, group: str, wall_s: float) -> dict:
        """Metrics of the group's jobs since the last ``mark``/``read``."""
        self._bus.waitUntilEmpty()
        new = sorted(set(self._sc.statusTracker().getJobIdsForGroup(group)) - self._seen)
        self._seen.update(new)
        spans, stage_ids = [], set()
        for job_id in new:
            job = self._store.job(job_id)
            start, end = job.submissionTime(), job.completionTime()
            if start.isDefined() and end.isDefined():
                spans.append((start.get().getTime() / 1e3, end.get().getTime() / 1e3))
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        out = dict.fromkeys(SPARK_METRICS, 0.0)
        out.update(jobs=len(new), stages=0, tasks=0)
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["spill_mb"] += st.diskBytesSpilled() / MB
        out["job_span_s"] = interval_union(spans)
        out["driver_gap_s"] = wall_s - out["job_span_s"]
        return out

    def storage_mb(self) -> float:
        """Memory plus disk held by every persisted RDD right now."""
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB
