"""Spark and process counters read from outside the program.

Nothing here calls into ``lingua_spark``: stage counters come from job
groups, the status tracker and the UI's REST API on localhost, and
worker memory from ``/proc``.
"""

from __future__ import annotations

import json
import os
import urllib.request


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _status_kb(pid: int, field: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    # the daemon and the workers it forks share this command line
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def descendants() -> list[int]:
    """Every live process descended from this one."""
    kids = _children_map()
    stack, out = [os.getpid()], []
    while stack:
        for child in kids.get(stack.pop(), []):
            stack.append(child)
            out.append(child)
    return out


def worker_peak_rss_mb() -> float:
    """Largest ``VmHWM`` (peak resident set) of any PySpark Python worker
    descended from this process, in MB; 0.0 when none is alive."""
    peak_kb = max(
        ((_status_kb(p, "VmHWM") or 0) for p in descendants()
         if _is_python_worker(p)),
        default=0,
    )
    return peak_kb / 1024.0


def wait_until_idle(sc, timeout_s: float = 60.0) -> None:
    """Return once Spark reports no active job. A job's end reaches the
    status tracker through the asynchronous listener bus, so a job that
    has returned to the caller can still read as active for a moment."""
    import time

    sc._jsc.sc().listenerBus().waitUntilEmpty(int(timeout_s * 1000))
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while list(tracker.getActiveJobsIds()):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Spark still busy after {timeout_s} s")
        time.sleep(0.05)


class StageCounters:
    """Per job group: the jobs, and the tasks, shuffle bytes written and
    JVM GC time of every stage they ran (REST ``/stages``)."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._base = (
            f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
            if sc.uiWebUrl else None
        )

    def jobs(self, group: str) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(group))

    def totals(self, groups: list[str]) -> dict[str, float]:
        wait_until_idle(self._sc)
        job_ids = [j for g in groups for j in self.jobs(g)]
        stage_ids = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"tasks": 0.0, "shuffle_write_mb": 0.0, "jvm_gc_s": 0.0}
        if self._base is None:
            raise RuntimeError("Spark UI is disabled; stage counters need it")
        for sid in stage_ids:
            with urllib.request.urlopen(f"{self._base}/stages/{sid}", timeout=10) as r:
                attempts = json.load(r)
            for a in attempts:
                out["tasks"] += a.get("numCompleteTasks", 0) + a.get("numFailedTasks", 0)
                out["shuffle_write_mb"] += a.get("shuffleWriteBytes", 0) / 1e6
                out["jvm_gc_s"] += a.get("jvmGcTime", 0) / 1e3
        return out
