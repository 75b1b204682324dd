"""Stage metrics of the Spark jobs one call ran, read from the status store.

Jobs are found by job group (set around the call with setJobGroup), their
stage ids through statusTracker().getJobInfo, and each stage's numbers through
statusStore().lastStageAttempt(sid) — stageList(None) cannot be called over
py4j on pyspark 4.1.2.  This works with spark.ui.enabled=false.
"""

from __future__ import annotations

import statistics


def _opt(o):
    return o.get() if o.isDefined() else None


def _ms(date) -> float | None:
    return None if date is None else date.getTime() / 1000.0


def group_stats(sc, group: str) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) of ``group``; skipped stages (reused shuffle output)
    are left out, and a stage shared by two jobs is listed once."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    delay = sc._jvm.org.apache.spark.status.AppStatusUtils.schedulerDelay
    jobs, stages, seen = [], [], set()
    for jid in sorted(tracker.getJobIdsForGroup(group)):
        jd = store.job(jid)
        info = tracker.getJobInfo(jid)
        sids = sorted(info.stageIds) if info is not None else []
        jobs.append({"id": jid, "start": _ms(_opt(jd.submissionTime())),
                     "end": _ms(_opt(jd.completionTime())), "stages": sids})
        for sid in sids:
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            start = _ms(_opt(sd.submissionTime()))
            if start is None:
                continue
            durations, sched = [], 0
            it = store.taskList(sid, sd.attemptId(), 1 << 20).iterator()
            while it.hasNext():
                t = it.next()
                d = _opt(t.duration())
                if d is not None:
                    durations.append(d)
                sched += delay(t)
            stages.append({
                "id": sid, "job": jid, "callsite": sd.name(), "start": start,
                "end": _ms(_opt(sd.completionTime())),
                "tasks": sd.numTasks(), "failed_tasks": sd.numFailedTasks(),
                "run_ms": sd.executorRunTime(),
                "jvm_cpu_ms": sd.executorCpuTime() / 1e6,
                "gc_ms": sd.jvmGcTime(), "sched_delay_ms": sched,
                "shuffle_fetch_wait_ms": sd.shuffleFetchWaitTime(),
                "input_bytes": sd.inputBytes(),
                "input_records": sd.inputRecords(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "output_bytes": sd.outputBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "peak_exec_mem_bytes": sd.peakExecutionMemory(),
                "task_ms": durations,
            })
    return jobs, stages


SUMS = ("tasks", "failed_tasks", "run_ms", "jvm_cpu_ms", "gc_ms",
        "sched_delay_ms", "shuffle_fetch_wait_ms", "input_bytes",
        "shuffle_write_bytes", "shuffle_read_bytes", "output_bytes",
        "spill_bytes")


def summarize(jobs: list[dict], stages: list[dict]) -> dict:
    """The spark.* per-layer metrics over a set of stages.  Task time
    percentiles and skew come from the parse stage, taken as the stage with
    the most executor run time."""
    out = {"spark.jobs": len(jobs), "spark.stages": len(stages)}
    for k in SUMS:
        out[f"spark.{k}"] = sum(s[k] for s in stages)
    out["spark.peak_exec_mem_bytes"] = max(
        (s["peak_exec_mem_bytes"] for s in stages), default=0)
    heavy = max(stages, key=lambda s: s["run_ms"], default=None)
    tasks = heavy["task_ms"] if heavy else []
    p50 = statistics.median(tasks) if tasks else 0
    out["spark.task_p50_ms"] = p50
    out["spark.task_max_ms"] = max(tasks, default=0)
    out["spark.task_skew"] = max(tasks) / p50 if p50 else 0
    return out
