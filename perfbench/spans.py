"""Spans and Spark counters for the benchmark's traced run.

A span is one call into a layer (query build, table read, plan, execute):
name, start, end, parent span and operation id, kept in memory. Every span
runs under its own Spark job group, so each job belongs to exactly one
innermost span. After an operation the listener bus is drained and the
operation's jobs are read by group from the status tracker, then their
job and stage records from the Spark driver's AppStatusStore.

Counting never relies on the size of the store's job list (it keeps only
``spark.ui.retainedJobs`` jobs); a job that is missing, still running, or
launched outside the operation's groups fails the measurement loudly.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

#: per-stage counters summed over the stages an operation ran
#: (metric name -> StageData accessor, scale to the metric's unit)
STAGE_COUNTERS = {
    "task_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_write_records": ("shuffleWriteRecords", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "input_records": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "output_records": ("outputRecords", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = spark._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.dag = jsc.dagScheduler()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._first_job = 0

    @property
    def in_operation(self) -> bool:
        return self._op is not None

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"perfbench-span-{sid}",
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(rec["group"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]]["group"] if self._stack else None)

    @contextmanager
    def operation(self, op_id: int, name: str):
        """Scope spans to one operation; yields the op-level span."""
        self.bus.waitUntilEmpty()
        self._first_job = self.dag.nextJobId()
        self._op = op_id
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self._op = None

    def counters(self, op_id: int) -> dict:
        """Jobs, stages and stage metrics of one finished operation; also
        stores each span's own job count in ``span["jobs"]``."""
        self.bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        spans = [s for s in self.spans if s["op"] == op_id]
        job_span: dict[int, dict] = {}
        for s in spans:
            for jid in tracker.getJobIdsForGroup(s["group"]):
                job_span[jid] = s
            s["jobs"] = 0
        if not job_span:
            raise RuntimeError(
                f"vacuous measurement: operation {op_id} launched no Spark job"
            )
        ids = sorted(job_span)
        launched = list(range(self._first_job, self.dag.nextJobId()))
        if ids != launched:
            raise RuntimeError(
                f"operation {op_id}: jobs {sorted(set(launched) - set(ids))} ran "
                "outside its job groups; counters would be misattributed"
            )

        out = {k: 0.0 for k in STAGE_COUNTERS}
        out.update(jobs=len(ids), stages=0, tasks=0, skipped_stages=0, spill_bytes=0)
        intervals = []
        stage_ids: set[int] = set()
        for jid in ids:
            try:
                job = self.store.job(jid)
            except Exception as e:  # evicted from the store: never guess
                raise RuntimeError(f"job {jid} is no longer in the status store") from e
            status = job.status().toString()
            if status != "SUCCEEDED":
                raise RuntimeError(f"job {jid} of operation {op_id} is {status}")
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isEmpty() or done.isEmpty():
                raise RuntimeError(f"job {jid} has no submission/completion time")
            intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            out["skipped_stages"] += job.numSkippedStages()
            job_span[jid]["jobs"] += 1
            seq = job.stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.length()))
        for sid in sorted(stage_ids):
            stage = self.store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks()
            out["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
            for key, (attr, scale) in STAGE_COUNTERS.items():
                out[key] += getattr(stage, attr)() * scale
        out["job_wall_s"] = _union_length(intervals)
        return out

    def self_time(self, rec: dict) -> float:
        children = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == rec["id"]
        )
        return rec["end"] - rec["start"] - children

    def dump(self) -> list[dict]:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {
                "name": s["name"], "op": s["op"], "parent": s["parent"],
                "start_s": round(s["start"] - t0, 6), "end_s": round(s["end"] - t0, 6),
                "self_s": round(self.self_time(s), 6), "jobs": s.get("jobs"),
            }
            for s in self.spans
        ]
