"""Observation from outside the engine: spans, JVM stage counters and
/proc readings.

``Tracer(enabled=False)`` makes every span a no-op, so the untraced run
pays one attribute check per span and never touches the JVM status
store or /proc between operations.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans: name, start, end, parent span, trace id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._trace = 0

    def new_trace(self) -> None:
        """Spans opened from now on share a fresh trace id."""
        self._trace += 1

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1]["id"] if self._stack else None
        s = {"id": next(self._ids), "name": name, "parent": parent,
             "trace": self._trace, "start": time.perf_counter(), "end": None,
             **attrs}
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)


class JvmStages:
    """Per-job stage counters for the jobs started since the last read,
    from the driver's status store. A read walks the job list
    newest-first and stops at the first job already seen, so it costs the
    new jobs only. The store keeps a bounded number of stages, so read at
    least once per pass."""

    COUNTERS = ("stages", "tasks", "task_run_s", "task_cpu_s",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                "input_mb", "output_mb")

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        gw = sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._last_job = -1
        self.read()

    def read(self) -> list[dict]:
        """One dict per job started since the previous read: its job
        group, description and summed stage counters."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        new = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                break
            new.append(j)
        if new:
            self._last_job = new[0].jobId()
        return [self._job(j) for j in reversed(new)]

    def _job(self, j) -> dict:
        group, desc = j.jobGroup(), j.description()
        out = dict.fromkeys(self.COUNTERS, 0)
        out["group"] = group.get() if group.isDefined() else ""
        out["description"] = desc.get() if desc.isDefined() else ""
        ids = j.stageIds()
        for k in range(ids.size()):
            attempts = self._store.stageData(
                ids.apply(k), False, self._no_status, False, self._no_quantiles
            )
            for a in range(attempts.size()):
                st = attempts.apply(a)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += (st.numCompleteTasks() + st.numFailedTasks()
                                 + st.numKilledTasks())
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                out["spill_mb"] += (st.memoryBytesSpilled()
                                    + st.diskBytesSpilled()) / 1e6
                out["input_mb"] += st.inputBytes() / 1e6
                out["output_mb"] += st.outputBytes() / 1e6
        return out


def exec_counters(jobs: list[dict], wall: float, cores: int) -> dict:
    """``exec.*`` layer counters over some jobs that ran within ``wall``
    seconds on ``cores`` cores."""
    out = {"exec.jobs": len(jobs)}
    for k in JvmStages.COUNTERS:
        out[f"exec.{k}"] = sum(j[k] for j in jobs)
    out["exec.core_busy_frac"] = (
        out["exec.task_run_s"] / (wall * cores) if wall > 0 else 0.0
    )
    return out


def persisted(spark) -> tuple[int, float]:
    """(persisted RDD count, MB they hold in memory and on disk)."""
    sc = spark.sparkContext
    n = sc._jsc.getPersistentRDDs().size()
    mb = sum(i.memSize() + i.diskSize()
             for i in sc._jsc.sc().getRDDStorageInfo()) / 1e6
    return n, mb


def release_persisted(spark) -> None:
    """Drop everything the session holds persisted: the SQL cache, then
    every RDD still marked persistent (which also reaches the
    ``localCheckpoint`` blocks ``clearCache`` leaves behind)."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for k in list(rdds.keySet().toArray()):
        rdds.get(k).unpersist(True)


# -- /proc ---------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command field may contain spaces; fields resume after ')'
    return raw[raw.rfind(")") + 2:].split()


def children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None and int(st[1]) == pid:
                out.append(int(d))
    return out


def python_workers(jvm_pid: int) -> list[int]:
    """The ``pyspark.daemon`` processes the JVM forked, and their workers."""
    out = []
    for pid in children(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark" in cmd:
            out.append(pid)
            out.extend(children(pid))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User+system CPU of the processes, including reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _CLK_TCK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024
