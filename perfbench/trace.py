"""Per-layer tracing from outside the program.

Nothing in ``sayn_spark`` is edited.  The tracer wraps each layer's
public functions where their callers look them up (``core.app`` imports
``topological_sort``, ``load_project`` and friends by name, so those are
replaced in ``core.app``'s namespace; methods are replaced on their
class), receives task and step events through an ``EventTracker``
logger, and reads Spark's own job and stage metrics per unit of work
through job groups.

Spark counters are read per unit through a unique job group
``{workload}#{run_id}#{n}``: the unit's jobs come from
``statusTracker().getJobIdsForGroup`` and its stages from each job's
``stageIds`` (never from diffing the length of the status store's
stage list, which keeps only ``spark.ui.retainedStages`` entries).  A
stage shared by several jobs (a reused shuffle) is counted once.  The
listener bus is drained before reading, because a job's end events
reach the status store after the action has returned.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path
from typing import Any, Callable, Optional

from perfbench import host, stats

DB_WRITES = ("replace_table", "create_table", "merge_tables", "move_table")
DB_CATALOG = ("table_exists", "object_type", "drop_object", "replace_view", "_ensure_database")


class Tracer:
    """Spans and counters for one benchmark run.

    With ``enabled=False`` only the task bookkeeping a workload needs for
    its own end-to-end figures is kept (task durations and statuses); no
    wrapper is installed and no job group is set."""

    def __init__(self, spark, workload: str, run_id: str, cores: int, enabled: bool) -> None:
        self.spark = spark
        self.workload = workload
        self.run_id = run_id
        self.cores = cores
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.units: list[dict] = []  # traced units awaiting their Spark counters
        self.unit_stats: list[dict] = []
        self._seen_stages: set[int] = set()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list[Callable[[], None]] = []
        self._t0 = time.perf_counter()

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, unit: Optional[int] = None, parent: Optional[int] = None) -> dict:
        stack = self._stack()
        span = {
            "id": next(self._ids),
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": parent if parent is not None else (stack[-1] if stack else None),
            "unit": unit if unit is not None else getattr(self._local, "unit", None),
        }
        stack.append(span["id"])
        with self._lock:
            self.spans.append(span)
        return span

    def end(self, span: dict) -> float:
        span["end"] = time.perf_counter() - self._t0
        stack = self._stack()
        if stack and stack[-1] == span["id"]:
            stack.pop()
        return span["end"] - span["start"]

    def add(self, metric: str, value: float) -> None:
        with self._lock:
            self.counters[metric] += value

    # -- units and job groups -------------------------------------------

    def start_unit(self, name: str, kind: str, parent: Optional[int] = None) -> Optional[dict]:
        """Open a unit in the calling thread: a fresh job group (groups
        are thread-local in pinned-thread mode) and a span."""
        if not self.enabled:
            return None
        n = next(self._ids)
        group = f"{self.workload}#{self.run_id}#{n}"
        self.spark.sparkContext.setJobGroup(group, name)
        self._local.unit = n
        span = self.begin(name, unit=n, parent=parent)
        unit = {"n": n, "group": group, "name": name, "kind": kind, "span": span}
        with self._lock:
            self.units.append(unit)
        return unit

    def finish_unit(self, unit: Optional[dict]) -> None:
        if unit is not None:
            unit["wall"] = self.end(unit["span"])
            self._local.unit = None

    @contextmanager
    def unit(self, name: str, kind: str):
        u = self.start_unit(name, kind)
        try:
            yield u
        finally:
            self.finish_unit(u)

    def read_spark(self) -> dict[str, dict]:
        """Spark counters of every unit opened since the last call, keyed
        by unit name (several units of one name are summed)."""
        if not self.enabled:
            return {}
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        with self._lock:
            units, self.units = self.units, []
        out: dict[str, dict] = {}
        for u in units:
            c = defaultdict(float)
            for job in sc.statusTracker().getJobIdsForGroup(u["group"]):
                info = sc.statusTracker().getJobInfo(job)
                if info is None:
                    self.add("spark.evicted", 1)
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    if sid in self._seen_stages:
                        continue
                    attempts = store.stageData(sid, False, [], False, no_quantiles)
                    if attempts.size() == 0:
                        self.add("spark.evicted", 1)
                        continue
                    self._seen_stages.add(sid)
                    ran = False
                    for i in range(attempts.size()):
                        d = attempts.apply(i)
                        if d.status().toString() == "SKIPPED":
                            continue
                        ran = True
                        c["tasks"] += d.numCompleteTasks()
                        c["executor_run_s"] += d.executorRunTime() / 1e3
                        c["executor_cpu_s"] += d.executorCpuTime() / 1e9
                        c["shuffle_write_bytes"] += d.shuffleWriteBytes()
                        c["shuffle_read_bytes"] += d.shuffleReadBytes()
                        c["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                        c["output_bytes"] += d.outputBytes()
                    c["stages"] += ran
            wall = u.get("wall", 0.0)
            c["wall"] = wall
            if u["kind"] != "main":
                c["driver_gap_s"] = wall - c["executor_run_s"] / self.cores
            self.unit_stats.append({"name": u["name"], "kind": u["kind"], **c})
            agg = out.setdefault(u["name"], defaultdict(float))
            for k, v in c.items():
                agg[k] += v
            for k, v in c.items():
                if k != "wall":
                    self.add(f"spark.{k}", v)
        return out

    # -- wrappers around layer entry points ------------------------------

    def wrap(
        self,
        owner: Any,
        attr: str,
        metric: str,
        calls: Optional[str] = None,
        span: bool = False,
        around: Optional[Callable] = None,
    ) -> None:
        """Replace ``owner.attr`` with a timing wrapper adding the call's
        wall time to ``metric`` (and a count to ``calls``).  Only the
        outermost call of a metric in a thread is counted, so nested
        calls within one layer are not counted twice.  ``around`` gets
        the call's arguments by name before the call (outside the timed
        region) and may return a callback run after it with the result
        and the call's wall time."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        sig = inspect.signature(orig)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            active = tracer._active()
            if metric in active:
                return orig(*args, **kwargs)
            active.add(metric)
            after = None
            if around is not None:
                bound = sig.bind(*args, **kwargs)
                bound.apply_defaults()
                after = around(bound.arguments)
            s = tracer.begin(f"{metric}:{attr}") if span else None
            t0 = time.perf_counter()
            try:
                result = orig(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                if s is not None:
                    tracer.end(s)
                active.discard(metric)
                tracer.add(metric, dt)
                if calls:
                    tracer.add(calls, 1)
            if after is not None:
                after(result, dt)
            return result

        setattr(owner, attr, wrapper)
        self._restore.append(lambda: setattr(owner, attr, orig))

    def _active(self) -> set:
        if not hasattr(self._local, "active"):
            self._local.active = set()
        return self._local.active

    def install(self, table_bytes: Callable[[str], int]) -> None:
        """Wrap every layer the workloads exercise."""
        if not self.enabled:
            return
        import sayn_spark.core.app as app_mod
        from sayn_spark.core.compiler import Compiler
        from sayn_spark.core.database import SparkDatabase
        from sayn_spark.core.objects import DbObjectCompiler

        for f in ("load_project", "load_settings", "load_task_groups", "apply_env_overrides"):
            self.wrap(app_mod, f, "settings.load_s")
        self.wrap(Compiler, "compile", "compiler.s", calls="compiler.calls")
        for f in ("from_string", "src_value", "out_value"):
            self.wrap(DbObjectCompiler, f, "objects.s", calls="objects.calls")
        for f in ("validate_dag", "topological_sort", "ready_sets", "query_dag"):
            self.wrap(app_mod, f, "dag.s")
        self.wrap(app_mod, "get_query", "task_query.s")
        self.wrap(app_mod.App, "__init__", "app.config_s", span=True)
        self.wrap(app_mod.App, "_execute", "app.makespan_s", span=True, around=self._around_execute)

        def around_create(a):
            name = a["name"]
            before = table_bytes(name) if a["mode"] == "append" else 0
            return lambda _r, _dt: self.add("db.output_bytes", table_bytes(name) - before)

        def around_merge(a):
            src_bytes = table_bytes(a["src_name"])
            dst = a["dst_name"]

            def after(_r, _dt):
                self.add("db.merge_delta_bytes", src_bytes)
                self.add("db.merge_written_bytes", table_bytes(dst))

            return after

        arounds = {"create_table": around_create, "merge_tables": around_merge}
        for f in DB_WRITES:
            self.wrap(SparkDatabase, f, f"db.{f}.s", calls=f"db.{f}.n", span=True, around=arounds.get(f))
        for f in DB_CATALOG:
            self.wrap(SparkDatabase, f, "db.catalog.s", calls="db.catalog.n")

    def uninstall(self) -> None:
        while self._restore:
            self._restore.pop()()

    def _around_execute(self, a):
        app, parallel = a["self"], a["parallel"]
        logger = _find_logger(app)
        mark = len(logger.finished) if logger else 0

        def after(_result, makespan):
            if logger is None:
                return
            durations = {name: d for name, d, _ in logger.finished[mark:]}
            jobs = max(1, app.run_arguments.jobs) if parallel and len(durations) > 1 else 1
            for k, v in stats.schedule(durations, app.dag, makespan, jobs).items():
                self.add(f"app.{k}", v)

        return after

    # -- output ----------------------------------------------------------

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(
            json.dumps({**extra, "spans": self.spans, "units": self.unit_stats}, default=str)
        )


def _find_logger(app) -> Optional["TaskLogger"]:
    for lg in getattr(app.tracker, "loggers", []):
        if isinstance(lg, TaskLogger):
            return lg
    return None


class TaskLogger:
    """``EventTracker`` logger: per-task durations and statuses, and —
    when the tracer is enabled — a unit (job group + span) per task and
    a span per step.  ``start_task`` fires in the task's own thread, so
    the job group it sets covers exactly that task's jobs."""

    def __init__(self, tracer: Tracer, task_types: dict[str, str]) -> None:
        self.tracer = tracer
        self.task_types = task_types  # task name -> task type
        self.finished: list[tuple[str, float, str]] = []
        self._lock = threading.Lock()
        self._units: dict[str, dict] = {}
        self._steps: dict[str, dict] = {}
        self.parent_span: Optional[int] = None

    def report_event(self, **e: Any) -> None:
        ev, task = e.get("event"), e.get("task")
        tr = self.tracer
        if ev == "finish_task":
            with self._lock:
                self.finished.append((task, float(e["duration"]), e["status"]))
            if tr.enabled:
                tr.add(f"op.{self.task_types.get(task, 'unknown')}.s", float(e["duration"]))
                tr.finish_unit(self._units.pop(task, None))
            return
        if not tr.enabled:
            return
        if ev == "start_stage":  # in App._execute's thread, inside its span
            stack = tr._stack()
            self.parent_span = stack[-1] if stack else None
        elif ev == "start_task":
            self._units[task] = tr.start_unit(task, "task", parent=self.parent_span)
        elif ev == "start_step":
            self._steps[task] = tr.begin(f"step:{e['step']}")
        elif ev == "finish_step":
            span = self._steps.pop(task, None)
            if span is not None:
                tr.end(span)
            step = {"compile": "run"}.get(e["step"], e["step"])
            if step in ("setup", "run", "test"):
                tr.add(f"op.{step}_s", float(e["duration"]))

    def reset(self) -> None:
        with self._lock:
            self.finished = []


def python_worker_cpu_s(spark) -> float:
    """CPU seconds used so far by the Python workers of the driver JVM."""
    return host.tree_cpu_s(jvm_pid(spark))


def jobs_submitted(spark) -> int:
    """Jobs the session's scheduler has ever accepted."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())
