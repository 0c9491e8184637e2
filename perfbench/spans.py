"""Spans and counters read from the Spark driver, with no change to the
engine: each span is a Spark job group set around a call into one layer.

After the calls, ``statusTracker()`` gives the jobs and completed tasks
of every span (this works with the UI disabled), and, when the session
was started with the uncompressed, non-rolling event log, the log gives
shuffle write and spill bytes per span.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    """Wall time, calls and Spark job groups per span name. One call of
    ``span(name)`` is one job group, so jobs never mix between calls."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.wall: dict[str, float] = defaultdict(float)
        self.groups: dict[str, list[str]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        group = f"{name}#{len(self.groups[name])}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield group
        finally:
            self.wall[name] += time.perf_counter() - t0
            self.groups[name].append(group)
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def jobs(self, name: str) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted(j for g in self.groups[name]
                      for j in tracker.getJobIdsForGroup(g))

    def group_tasks(self, group: str) -> int:
        return job_tasks(self.sc, self.sc.statusTracker()
                         .getJobIdsForGroup(group))

    def tasks(self, name: str) -> int:
        return job_tasks(self.sc, self.jobs(name))


def job_tasks(sc, job_ids) -> int:
    """Tasks that ran for these jobs (skipped stages run none)."""
    tracker = sc.statusTracker()
    stages = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    total = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            total += info.numCompletedTasks
    return total


def job_durations_ms(sc, job_ids) -> list[float]:
    """Submission-to-completion time of each finished job, from the
    driver's status store (millisecond clock)."""
    store = sc._jsc.sc().statusStore()
    out = []
    for j in job_ids:
        data = store.job(j)
        done = data.completionTime()
        if done.isDefined():
            out.append(float(done.get().getTime()
                             - data.submissionTime().get().getTime()))
    return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """JVM high-water RSS (``VmHWM``) plus this Python driver's
    ``ru_maxrss``, in MB. Read before the JVM stops."""
    hwm_kb = 0
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + own_kb) / 1024


def event_log_conf(log_dir: str) -> list[str]:
    """``--conf`` arguments for a plain-JSONL event log in ``log_dir``."""
    return ["--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false"]


def shuffle_and_spill(log_dir: str) -> dict[str, tuple[int, int]]:
    """Shuffle bytes written and bytes spilled (memory + disk) per job
    group, from the event log. Read it after the session stopped, when
    the log is complete. A stage counts for the first job that lists it,
    which is the job that ran it."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(files)}")
    stage_group: dict[int, str] = {}
    totals: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    with open(files[0], encoding="utf-8") as fh:
        for line in fh:
            if '"SparkListenerJobStart"' in line:
                event = json.loads(line)
                group = (event.get("Properties") or {}).get(
                    "spark.jobGroup.id") or ""
                for s in event["Stage IDs"]:
                    stage_group.setdefault(s, group)
            elif '"SparkListenerTaskEnd"' in line:
                event = json.loads(line)
                metrics = event.get("Task Metrics") or {}
                group = stage_group.get(event["Stage ID"], "")
                shuffle = metrics.get("Shuffle Write Metrics") or {}
                totals[group][0] += shuffle.get("Shuffle Bytes Written", 0)
                totals[group][1] += (metrics.get("Memory Bytes Spilled", 0)
                                     + metrics.get("Disk Bytes Spilled", 0))
    return {g: (w, s) for g, (w, s) in totals.items()}


def bytes_per_span(spans: Spans, per_group: dict[str, tuple[int, int]]
                   ) -> dict[str, tuple[int, int]]:
    out = {}
    for name, groups in spans.groups.items():
        w = sum(per_group.get(g, (0, 0))[0] for g in groups)
        s = sum(per_group.get(g, (0, 0))[1] for g in groups)
        out[name] = (w, s)
    return out
