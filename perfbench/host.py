"""Host facts recorded with every run, so a degraded run explains itself."""

from __future__ import annotations

import os
import platform
from pathlib import Path


def _read(path: str) -> str | None:
    try:
        return Path(path).read_text().strip()
    except OSError:
        return None


def cpu_times() -> list[int]:
    """Aggregate /proc/stat jiffies: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and iowait as shares of all CPU time between two samples."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d) or 1
    return {"steal_frac": d[7] / total, "iowait_frac": d[4] / total}


def cpu_quota() -> float | None:
    """CPUs granted by the cgroup CPU quota (v1 or v2); None if unlimited."""
    quota, period = _read("/sys/fs/cgroup/cpu/cpu.cfs_quota_us"), _read(
        "/sys/fs/cgroup/cpu/cpu.cfs_period_us"
    )
    if quota is None:
        v2 = _read("/sys/fs/cgroup/cpu.max")
        if v2 is None:
            return None
        quota, _, period = v2.partition(" ")
    if quota in ("-1", "max") or not period:
        return None
    return int(quota) / int(period)


def hwm_mb(pid: int) -> float:
    """Peak resident memory (VmHWM) of a process in MiB; 0 if gone."""
    for line in (_read(f"/proc/{pid}/status") or "").splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        stat = _read(f"/proc/{entry}/stat")
        if stat:
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int, self_too: bool = False) -> float:
    """CPU seconds of every descendant of ``pid`` (the Python workers a
    Spark JVM forks), including children they already reaped, and of
    ``pid`` itself with ``self_too``."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in descendants(pid) + ([pid] if self_too else []):
        stat = _read(f"/proc/{p}/stat")
        if stat:
            f = stat.rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / tick


def git_head(root: Path) -> str | None:
    head = _read(str(root / ".git" / "HEAD"))
    if head and head.startswith("ref: "):
        return _read(str(root / ".git" / head[5:]))
    return head


def facts(root: Path, spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "cpu_quota": cpu_quota(),
        "loadavg": os.getloadavg(),
        "git_head": git_head(root),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
