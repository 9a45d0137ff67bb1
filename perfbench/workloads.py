"""The benchmark's workloads.

Each workload builds its inputs from the seed in ``setup`` (timed, as
part of set-up), runs one pass in ``run_pass`` (timed), and checks the
pass's outputs in ``check`` (not timed).  ``prepare`` changes inputs
between passes, outside the timed region.  A unit is the piece of work
a pass is made of: one query, or one task.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from pathlib import Path
from time import perf_counter

import duckdb
import numpy as np

from perfbench import datagen
from perfbench.trace import TaskLogger, Tracer
from sayn_spark.core.app import App
from sayn_spark.functions import REGISTRY
from sayn_spark.functions.registry import release_persisted
from sayn_spark.logs import EventTracker
from sayn_spark.operators import TASK_TYPES, RunArguments, TaskStatus
from tests.oracle import _norm_rows, compare_query

NPROC = os.cpu_count() or 1


class Workload:
    name = ""

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        """Change the inputs before pass ``i`` (not timed)."""

    def run_pass(self, i: int) -> list[tuple[str, float]]:
        """One timed pass; returns ``(unit, wall seconds)`` per unit."""
        raise NotImplementedError

    def check(self, i: int) -> tuple[int, list[str]]:
        """Check pass ``i``: ``(units attempted, failure messages)``."""
        raise NotImplementedError

    def account(self, spark_units: dict[str, dict]) -> None:
        """Fold a traced pass's per-unit Spark counters into the tracer."""


# -- query_mix ---------------------------------------------------------------

# A relational join, events sessionization, connected-components dedup
# (with its eager driver-side build) and a text statistic: the SQL
# surface SAYN delegates and the LLM operators, few enough that a run,
# cold pass included, fits the benchmark's time budget.
QUERIES = [
    "q05_region_revenue", "q_events_sessionize", "q_dedup_components",
    "q_text_unigram_surprisal",
]  # fmt: skip
QUERY_SF, QUERY_DOCS, QUERY_VECS = 0.005, 150, 150


class _Collected:
    """Rows already collected, in the shape ``compare_query`` reads."""

    def __init__(self, rows: list, columns: list[str]) -> None:
        self.rows, self.columns = rows, columns

    def collect(self) -> list:
        return self.rows


class QueryMix(Workload):
    """Registry queries, read-only, no App: each query is built by its
    registry function and its rows collected; the order is seeded per
    pass.  Rows are checked against the DuckDB oracle once per query and
    must repeat exactly on later passes."""

    name = "query_mix"

    def setup(self) -> None:
        self.data = str(self.work / "data")
        tables = datagen.make_tables(self.seed, QUERY_SF, QUERY_DOCS, QUERY_VECS)
        datagen.write_tables(self.data, tables)
        self.verified: dict[str, object] = {}

    def run_pass(self, i: int) -> list[tuple[str, float]]:
        order = np.random.default_rng([self.seed, i]).permutation(QUERIES)
        self.results: dict[str, tuple] = {}
        units = []
        tr = self.tracer
        for q in order:
            t0 = perf_counter()
            try:
                with tr.unit(f"{q}:build", "query"):
                    df = REGISTRY[q].fn(self.spark, self.data)
                t1 = perf_counter()
                with tr.unit(f"{q}:exec", "query"):
                    rows = df.collect()
                    columns = df.columns
                self.results[q] = (rows, columns)
            except Exception as e:  # noqa: BLE001 - a failed query is a result
                self.results[q] = e
                t1 = perf_counter()
            finally:
                release_persisted()
            t2 = perf_counter()
            units.append((q, t2 - t0))
            if tr.enabled:
                tr.add(f"q.{q}.s", t2 - t0)
                tr.add("functions.build_s", t1 - t0)
                tr.add("functions.exec_s", t2 - t1)
        return units

    def check(self, i: int) -> tuple[int, list[str]]:
        failures = []
        for q in QUERIES:
            res = self.results.get(q)
            if isinstance(res, Exception) or res is None:
                failures.append(f"{q}: {type(res).__name__}: {res}")
                continue
            rows, columns = res
            got = _norm_rows(columns, [[r[c] for c in columns] for r in rows])
            if q not in self.verified:
                ok, msg = compare_query(
                    self.spark, q, lambda s, d: _Collected(rows, columns),
                    REGISTRY[q].oracle, self.data,
                )
                if not ok:
                    failures.append(f"{q}: oracle mismatch: {msg}")
                    continue
                self.verified[q] = got
            elif got != self.verified[q]:
                failures.append(f"{q}: rows differ from the verified pass")
        return len(QUERIES), failures

    def account(self, spark_units: dict[str, dict]) -> None:
        for unit, c in spark_units.items():
            q, _, phase = unit.partition(":")
            self.tracer.add(f"q.{q}.jobs", c["jobs"])
            if phase == "build":
                self.tracer.add("functions.build_jobs", c["jobs"])


# -- App-driven workloads ----------------------------------------------------


def _app(project: Path, spark, logger: TaskLogger, **run_args):
    tracker = EventTracker(loggers=[logger], project_name=project.name)
    run_args.setdefault("jobs", NPROC)
    app = App(project, spark=spark, run_arguments=RunArguments(**run_args), tracker=tracker)
    names = {cls: name for name, cls in TASK_TYPES.items()}
    logger.task_types = {n: names.get(type(t), "unknown") for n, t in app.tasks.items()}
    return app


def _failed_tasks(statuses: dict) -> list[str]:
    return [f"task {n}: {s.value}" for n, s in statuses.items() if s != TaskStatus.SUCCESS]


# -- incremental_merge -------------------------------------------------------

MERGE_ORDERS, MERGE_CUSTOMERS = 60_000, 6_000
MERGE_EVENTS, MERGE_USERS = 40_000, 600
WINDOW_DAYS = 30
EVENT_UPDATES = 800  # late-arriving event revisions per refresh

MERGE_TASKS = """\
tasks:
  orders_inc:
    type: sql
    file_name: orders_inc.sql
    materialisation: incremental
    delete_key: o_orderkey
    columns:
      - name: o_orderkey
        tests: [unique, not_null]
  events_inc:
    type: copy
    source: {{type: parquet, path: "{events}"}}
    destination: events_inc
    incremental_key: ts
    delete_key: event_id
  revenue_by_status:
    type: sql
    file_name: revenue_by_status.sql
    materialisation: table
  events_by_type:
    type: sql
    file_name: events_by_type.sql
    materialisation: table
    columns:
      - name: event_type
        tests: [unique, not_null]
"""

MERGE_SQL = {
    "orders_inc.sql": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate\n"
        "FROM parquet.`{{ orders_path }}`\n"
        "{% if not full_load %}"
        "WHERE o_orderdate >= {{ start_dt }} AND o_orderdate < date_add({{ end_dt }}, 1)"
        "{% endif %}\n"
    ),
    "revenue_by_status.sql": (
        "SELECT o_orderstatus, count(*) AS n,\n"
        "       sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS revenue_cents\n"
        "FROM {{ src('orders_inc') }} GROUP BY o_orderstatus\n"
    ),
    "events_by_type.sql": (
        "SELECT event_type, count(*) AS n,\n"
        "       sum(CAST(round(value * 100) AS BIGINT)) AS value_cents\n"
        "FROM {{ src('events_inc') }} GROUP BY event_type\n"
    ),
}

# Order-insensitive exact fingerprints, one SQL text for Spark and
# DuckDB (US(col) becomes each engine's timestamp-to-microseconds
# expression).  Every row's key and values enter a weighted integer
# sum, so a lost, duplicated or stale row changes the result.
MERGE_FINGERPRINTS = {
    "orders_inc": (
        "SELECT count(*), count(DISTINCT o_orderkey), sum(o_orderkey), sum(o_custkey),"
        " sum(CAST(round(o_totalprice * 100) AS BIGINT) * (o_orderkey % 97 + 1)),"
        " sum(US(o_orderdate) % 1000003), count(DISTINCT o_orderstatus) FROM {t}",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM orders",
    ),
    "events_inc": (
        "SELECT count(*), count(DISTINCT event_id), sum(event_id), sum(user_id),"
        " sum(CAST(round(value * 100) AS BIGINT) * (event_id % 89 + 1)),"
        " sum((US(ts) % 1000003) * (event_id % 7 + 1)), count(DISTINCT props) FROM {t}",
        "SELECT * FROM events",
    ),
}
US_SPARK, US_DUCKDB = r"unix_micros(CAST(\1 AS TIMESTAMP))", r"epoch_us(\1)"
MERGE_AGGREGATES = ("revenue_by_status", "events_by_type")


class IncrementalMerge(Workload):
    """Incremental refreshes of a generated project: an incremental
    ``sql`` model on ``orders`` over a seeded 30-day window, an
    incremental ``copy`` of ``events`` picking up late revisions, and
    two aggregate tables over them.  Set-up does the full load."""

    name = "incremental_merge"

    def setup(self) -> None:
        rng = np.random.default_rng(self.seed)
        self.rng = rng
        self.src = self.work / "src"
        self.src.mkdir(parents=True)
        self.orders = datagen.orders_frame(rng, MERGE_ORDERS, MERGE_CUSTOMERS)
        self.events = datagen.events_frame(rng, MERGE_EVENTS, MERGE_USERS)
        self._write_sources()
        self.project = self.work / "merge_project"
        (self.project / "sql").mkdir(parents=True)
        (self.project / "tasks").mkdir()
        (self.project / "project.yaml").write_text(
            f"default_db: spark\nparameters:\n  orders_path: {self.src / 'orders.parquet'}\n"
        )
        (self.project / "tasks" / "refresh.yaml").write_text(
            MERGE_TASKS.format(events=self.src / "events.parquet")
        )
        for name, text in MERGE_SQL.items():
            (self.project / "sql" / name).write_text(text)
        self.logger = TaskLogger(self.tracer, {})
        app = _app(self.project, self.spark, self.logger, full_load=True, with_tests=True)
        failed = _failed_tasks(app.run())
        if failed:
            raise RuntimeError(f"incremental_merge full load failed: {failed}")

    def _write_sources(self) -> None:
        datagen.write_table(self.orders, str(self.src / "orders.parquet"))
        datagen.write_table(self.events, str(self.src / "events.parquet"))

    def prepare(self, i: int) -> None:
        """Revise the orders of a seeded 30-day window and re-issue a
        seeded set of events as late arrivals after the current
        watermark."""
        start = int(self.rng.integers(0, datagen.ORDER_DAYS - WINDOW_DAYS))
        self.start_dt = (datagen.ORDER_DAY0 + dt.timedelta(days=start)).date()
        self.end_dt = self.start_dt + dt.timedelta(days=WINDOW_DAYS - 1)
        days = (self.orders["o_orderdate"] - datagen.ORDER_DAY0).dt.days
        in_window = (days >= start) & (days < start + WINDOW_DAYS)
        self.orders.loc[in_window, "o_totalprice"] = (
            self.orders.loc[in_window, "o_totalprice"] + 1.0
        ).round(2)
        ids = self.rng.choice(len(self.events), EVENT_UPDATES, replace=False)
        last = self.events["ts"].max()
        self.events.loc[ids, "ts"] = last + np.arange(1, EVENT_UPDATES + 1) * np.timedelta64(1, "s")
        self.events.loc[ids, "value"] = np.round(self.rng.exponential(50.0, EVENT_UPDATES) + 0.01, 2)
        self._write_sources()

    def run_pass(self, i: int) -> list[tuple[str, float]]:
        self.logger.reset()
        app = _app(
            self.project, self.spark, self.logger,
            start_dt=self.start_dt, end_dt=self.end_dt, with_tests=True,
        )
        self.statuses = app.run()
        return [(name, d) for name, d, _ in self.logger.finished]

    def check(self, i: int) -> tuple[int, list[str]]:
        failures = _failed_tasks(self.statuses)
        con = duckdb.connect()
        try:
            for t in ("orders", "events"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.src / t}.parquet')")
            for table, (fp, source) in MERGE_FINGERPRINTS.items():
                con.execute(f"CREATE OR REPLACE VIEW {table} AS {source}")
                fp = fp.format(t=table)
                want = [int(v) for v in con.execute(re.sub(r"US\((\w+)\)", US_DUCKDB, fp)).fetchone()]
                got = [int(v) for v in self.spark.sql(re.sub(r"US\((\w+)\)", US_SPARK, fp)).first()]
                if got != want:
                    failures.append(f"{table}: {got} != DuckDB recompute {want}")
            for table in MERGE_AGGREGATES:
                sql = MERGE_SQL[f"{table}.sql"].replace("{{ src('orders_inc') }}", "orders_inc")
                sql = sql.replace("{{ src('events_inc') }}", "events_inc")
                want = sorted(tuple(r) for r in con.execute(sql).fetchall())
                got = sorted(tuple(r) for r in self.spark.table(table).collect())
                if got != want:
                    failures.append(f"{table}: rows differ from DuckDB recompute")
        finally:
            con.close()
        return len(self.statuses) + len(MERGE_FINGERPRINTS) + len(MERGE_AGGREGATES), failures


WORKLOADS = {w.name: w for w in (QueryMix, IncrementalMerge)}
