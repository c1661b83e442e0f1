"""Per-job and per-stage metrics from Spark's status REST API (localhost)
plus the /proc readings the benchmark stamps on each run.

Everything here reads; nothing changes the session's behaviour.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from urllib.parse import urlparse


class RestClient:
    """Thin client for ``/api/v1/applications/<app>/…`` of one session."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def settle(self, timeout_s: float = 20.0) -> list[dict]:
        """Jobs once the listener has caught up: no job still RUNNING and
        the job list unchanged between two polls."""
        prev = None
        t_end = time.time() + timeout_s
        while True:
            jobs = self.jobs()
            key = [(j["jobId"], j["status"]) for j in jobs]
            if (key == prev and all(j["status"] != "RUNNING" for j in jobs)
                    or time.time() > t_end):
                return jobs
            prev = key
            time.sleep(0.2)

    def stage_metrics(self, jobs: list[dict]) -> dict:
        """Sum the executed (not skipped) stages of ``jobs``."""
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "max_task_s": 0.0}
        seen = set()
        for j in jobs:
            for sid in j["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                for st in self.get(f"/stages/{sid}"):
                    if st["status"] != "COMPLETE":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st["numCompleteTasks"]
                    out["executor_run_s"] += st["executorRunTime"] / 1e3
                    out["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                    out["shuffle_write_mb"] += st["shuffleWriteBytes"] / 2**20
                    out["spill_mb"] += (st["memoryBytesSpilled"]
                                        + st["diskBytesSpilled"]) / 2**20
                    summ = self.get(f"/stages/{sid}/{st['attemptId']}"
                                    "/taskSummary?quantiles=1.0")
                    out["max_task_s"] = max(out["max_task_s"],
                                            summ["executorRunTime"][0] / 1e3)
        return out


def read_steal() -> int:
    """Hypervisor steal jiffies summed over all CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def mem_total_bytes() -> int:
    """MemTotal, or the cgroup v2/v1 memory limit when that is smaller."""
    with open("/proc/meminfo") as f:
        total = int(f.readline().split()[1]) * 1024
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw))
    return total


def _status(pid: int) -> dict:
    out = {}
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            k, _, v = line.partition(":")
            out[k] = v.strip()
    return out


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` in MiB."""
    return int(_status(pid)["VmHWM"].split()[0]) / 1024


def children(pid: int) -> list[int]:
    """Direct children of ``pid``."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = children(todo.pop())
        out += kids
        todo += kids
    return out


def cpu_s(pids: list[int]) -> float:
    """utime + stime + reaped children's time of ``pids``, in seconds."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def du_bytes(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)
