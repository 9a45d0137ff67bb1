"""The benchmark's own tests: the span arithmetic, a small smoke pass of
every workload (traced, so the tracer runs too), each output check
rejecting a corrupted expected value, and job groups staying with their
task under concurrent App tasks.

    python3 -m pytest perfbench -q      (from the checkout root)
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

from perfbench import stats, workloads
from perfbench.trace import TaskLogger, Tracer, jobs_submitted

ROOT = Path(__file__).resolve().parent.parent


# -- arithmetic ------------------------------------------------------------


def test_tail_is_highest_percentile_with_ten_beyond():
    values = list(range(100, 0, -1))  # 1..100, unsorted
    assert stats.tail(values) == (90.0, 90.0, 100)
    assert stats.tail(list(range(1, 12))) == (1.0, 100 / 11, 11)
    # too few samples for ten beyond: the minimum, at its percentile
    assert stats.tail([3.0, 1.0, 2.0, 5.0]) == (1.0, 25.0, 4)
    with pytest.raises(ValueError):
        stats.tail([])


def test_median():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_critical_path_and_schedule_on_synthetic_spans():
    # a -> b -> d and a -> c -> d; e independent; x is outside the run
    durations = {"a": 1.0, "b": 4.0, "c": 2.0, "d": 1.0, "e": 3.0}
    parents = {"a": [], "b": ["a"], "c": ["a"], "d": ["b", "c", "x"], "e": []}
    assert stats.critical_path(durations, parents) == 6.0
    s = stats.schedule(durations, parents, makespan=8.0, jobs=2)
    assert s["task_sum_s"] == 11.0
    assert s["critical_path_s"] == 6.0
    assert s["sched_gap_s"] == 2.0
    assert s["busy_frac"] == 11.0 / 16.0
    assert stats.critical_path({}, {}) == 0.0


# -- Spark-backed smoke passes and check rejections ------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from sayn_spark.session import get_spark

    tmp = tmp_path_factory.mktemp("spark")
    s = get_spark(
        "perfbench-test",
        master="local[2]",
        extra_conf={
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.local.dir": str(tmp / "local"),
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _smoke(cls, spark, tmp_path, seed=5):
    """Set up, then a cold pass and a traced pass, each checked."""
    tracer = Tracer(spark, cls.name, "test", cores=2, enabled=False)
    wl = cls(spark, tmp_path, seed, tracer)
    wl.setup()
    for i in range(2):
        tracer.enabled = i == 1
        if tracer.enabled:
            tracer.install(lambda name: 1)
        wl.prepare(i)
        units = wl.run_pass(i)
        tracer.uninstall()
        by_unit = tracer.read_spark()
        wl.account(by_unit)
        tracer.enabled = False
        n, failures = wl.check(i)
        assert units and n > 0
        assert failures == [], failures
    return wl, tracer, by_unit


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(workloads, "QUERY_SF", 0.001)
    monkeypatch.setattr(workloads, "QUERY_DOCS", 60)
    monkeypatch.setattr(workloads, "QUERY_VECS", 60)
    monkeypatch.setattr(workloads, "MERGE_ORDERS", 3000)
    monkeypatch.setattr(workloads, "MERGE_EVENTS", 2000)
    monkeypatch.setattr(workloads, "EVENT_UPDATES", 50)


def test_query_mix_smoke_and_rejections(spark, tmp_path, small):
    wl, tracer, by_unit = _smoke(workloads.QueryMix, spark, tmp_path)
    assert set(by_unit) == {f"{q}:{p}" for q in workloads.QUERIES for p in ("build", "exec")}
    assert tracer.counters["spark.jobs"] > 0
    assert all(tracer.counters[f"q.{q}.jobs"] > 0 for q in workloads.QUERIES)
    q = workloads.QUERIES[0]
    # a later pass must repeat the verified rows
    rows, cols = wl.results[q]
    vcols, vrows = wl.verified[q]
    wl.verified[q] = (vcols, vrows[1:] + [("corrupt",)])
    assert any("differ from the verified pass" in f for f in wl.check(2)[1])
    # the first pass of a query must match its DuckDB oracle
    wl.verified.clear()
    from pyspark.sql import Row

    bad = [Row(**{c: None for c in cols})] + rows[1:]
    wl.results[q] = (bad, cols)
    assert any(f.startswith(f"{q}: oracle mismatch") for f in wl.check(3)[1])
    wl.results[q] = RuntimeError("boom")
    assert any("RuntimeError" in f for f in wl.check(4)[1])


def test_incremental_merge_smoke_and_rejections(spark, tmp_path, small):
    wl, tracer, _ = _smoke(workloads.IncrementalMerge, spark, tmp_path)
    assert tracer.counters["db.merge_tables.n"] == 2
    assert tracer.counters["app.makespan_s"] > 0
    assert tracer.counters["op.sql.s"] > 0 and tracer.counters["op.copy.s"] > 0
    # corrupt the expected side: DuckDB recomputes from the source parquet
    wl.orders.loc[0, "o_totalprice"] += 5.0
    wl.events.loc[0, "value"] += 5.0
    wl._write_sources()
    failed = " ".join(wl.check(2)[1])
    for table in ("orders_inc", "events_inc", "revenue_by_status", "events_by_type"):
        assert table in failed
    from sayn_spark.operators import TaskStatus

    wl.statuses["orders_inc"] = TaskStatus.FAILED
    assert "task orders_inc: failed" in wl.check(3)[1]


def test_job_groups_stay_with_their_task_under_concurrency(spark, tmp_path):
    """Four tasks run at once on four threads; task k launches exactly k
    jobs, interleaved with the others'."""
    proj = tmp_path / "groups"
    (proj / "python").mkdir(parents=True)
    (proj / "project.yaml").write_text("default_db: spark\n")
    body = "\n".join(
        f"@task(name='t{k}')\n"
        f"def t{k}(context, spark):\n"
        f"    for _ in range({k}):\n"
        f"        spark.sparkContext.parallelize(range(50), 2).count()\n"
        f"        time.sleep(0.05)\n"
        for k in range(1, 5)
    )
    (proj / "python" / "jobs.py").write_text(
        "import time\nfrom sayn_spark.operators import task\n\n" + body
    )
    tracer = Tracer(spark, "groups", "test", cores=2, enabled=True)
    logger = TaskLogger(tracer, {})
    before = jobs_submitted(spark)
    app = workloads._app(proj, spark, logger, jobs=4)
    assert len(app.tasks) == 4
    from sayn_spark.operators import TaskStatus

    assert set(app.run().values()) == {TaskStatus.SUCCESS}
    launched = jobs_submitted(spark) - before
    by_unit = tracer.read_spark()
    assert {n: c["jobs"] for n, c in by_unit.items()} == {f"t{k}": k for k in range(1, 5)}
    assert launched == 10
    # the four tasks really overlapped
    spans = {s["name"]: s for s in tracer.spans}
    assert max(spans[f"t{k}"]["start"] for k in range(1, 5)) < min(
        spans[f"t{k}"]["end"] for k in range(1, 5)
    )
