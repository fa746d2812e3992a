"""Tracing for the ``--trace 1`` run: spans recorded around the calls
into each layer, and the Spark jobs each span caused, read back from
Spark's own status stores.

Spans live in memory and are written out once, when the run ends.  The
job behind a span is found by tagging it with ``sc.setJobGroup`` and
asking ``statusTracker().getJobIdsForGroup`` afterwards; stage metrics
come from the ``AppStatusStore`` one job at a time, because the store
keeps only the last 1000 stages."""

from __future__ import annotations

import os
import time

import stats


class Tracer:
    """Spans: name, start, end (epoch seconds), parent span index, and
    the Spark job group of the work the span caused."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def start(self, name: str, job: str | None = None, **attrs) -> dict:
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "job": job,
            **attrs,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        return rec

    def end(self, rec: dict) -> dict:
        rec["end"] = time.time()
        self._stack.pop()
        return rec


def drain_listener_bus(sc) -> None:
    """Block until every posted Spark event reached the status store;
    completion times read back as null before that."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


_STAGE_FIELDS = (
    "numTasks", "numCompleteTasks", "numFailedTasks", "numKilledTasks",
    "executorRunTime", "executorCpuTime", "jvmGcTime", "resultSize",
    "inputBytes", "inputRecords", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
)


def group_jobs(sc, group: str) -> dict:
    """Totals over every Spark job tagged ``group``: job intervals (epoch
    seconds), stage and task counts, and summed stage metrics.  Times
    are converted to seconds (run/GC time is ms in the store, CPU ns)."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    tot = {f: 0 for f in _STAGE_FIELDS}
    intervals: list[tuple[float, float]] = []
    n_stages = 0
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    for jid in job_ids:
        jd = store.job(jid)
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and done.isDefined():
            intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        sids = jd.stageIds()
        for i in range(sids.size()):
            attempts = store.stageData(sids.apply(i), False, empty_status, False, no_quantiles)
            ran = False
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if sd.status().toString() == "SKIPPED":  # reused shuffle output
                    continue
                ran = True
                for f in _STAGE_FIELDS:
                    tot[f] += getattr(sd, f)()
            n_stages += ran
    return {
        "jobs": len(job_ids),
        "stages": n_stages,
        "tasks": tot["numTasks"],
        "task_attempts": tot["numCompleteTasks"] + tot["numFailedTasks"] + tot["numKilledTasks"],
        "failed_tasks": tot["numFailedTasks"],
        "run_s": tot["executorRunTime"] / 1e3,
        "cpu_s": tot["executorCpuTime"] / 1e9,
        "gc_s": tot["jvmGcTime"] / 1e3,
        "result_bytes": tot["resultSize"],
        "scan_bytes": tot["inputBytes"],
        "scan_records": tot["inputRecords"],
        "shuffle_read_bytes": tot["shuffleReadBytes"],
        "shuffle_write_bytes": tot["shuffleWriteBytes"],
        "spill_bytes": tot["memoryBytesSpilled"] + tot["diskBytesSpilled"],
        "intervals": intervals,
        "span_s": sum(b - a for a, b in intervals),
    }


class Probe:
    """Per-job layer reads for the traced run."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.pid = os.getpid()
        self.tracer = Tracer()

    def pycpu(self) -> float:
        return stats.pyworker_cpu_s(self.pid)

    def tag(self, group: str, desc: str) -> None:
        self.sc.setJobGroup(group, desc)

    def untag(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, group: str) -> dict:
        drain_listener_bus(self.sc)
        return group_jobs(self.sc, group)
