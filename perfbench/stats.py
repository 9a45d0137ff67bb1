"""Pure arithmetic over measured samples and spans (unit-tested)."""

from __future__ import annotations

import statistics
from typing import Mapping, Sequence


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def tail(values: Sequence[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``.  With ``n`` sorted samples the
    value at 0-based index ``n - beyond - 1`` has exactly ``beyond``
    samples after it; it is the ``100 * (n - beyond) / n`` percentile.
    Fewer than ``beyond + 1`` samples leave no such percentile, so the
    minimum is returned with its percentile (``100 / n``)."""
    if not values:
        raise ValueError("tail of no samples")
    ordered = sorted(values)
    n = len(ordered)
    i = max(0, n - beyond - 1)
    return float(ordered[i]), 100.0 * (i + 1) / n, n


def critical_path(durations: Mapping[str, float], parents: Mapping[str, Sequence[str]]) -> float:
    """Longest chain of task durations through the DAG, over the tasks
    present in ``durations`` (parents outside it are ignored)."""
    memo: dict[str, float] = {}

    def cp(node: str) -> float:
        if node not in memo:
            memo[node] = durations[node] + max(
                (cp(p) for p in parents.get(node, ()) if p in durations), default=0.0
            )
        return memo[node]

    return max((cp(n) for n in durations), default=0.0)


def schedule(
    durations: Mapping[str, float],
    parents: Mapping[str, Sequence[str]],
    makespan: float,
    jobs: int,
) -> dict[str, float]:
    """Scheduler figures for one DAG execution: the task-time sum, the
    critical path, the gap the scheduler adds over it (makespan minus
    critical path) and the share of the ``jobs`` slots kept busy."""
    task_sum = float(sum(durations.values()))
    cpath = critical_path(durations, parents)
    return {
        "task_sum_s": task_sum,
        "critical_path_s": cpath,
        "sched_gap_s": makespan - cpath,
        "busy_frac": task_sum / (makespan * jobs) if makespan > 0 else 0.0,
    }
