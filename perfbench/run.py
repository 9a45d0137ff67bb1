"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a sayn-spark checkout.  The last line of standard
output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Host facts, per-pass figures
and (traced) spans go to ``perfbench/out/``.  Everything the run writes
stays inside the checkout and its scratch directory is removed at exit.

One run is one process with one client in a closed loop on
``local[nproc]``: set-up (done ``SETUP_REPS`` times, the median
reported), a first pass in the fresh JVM, then warm passes until
``--seconds`` of pass time have elapsed.  With ``--trace 1`` warm passes
alternate between untraced and traced, so the tracing overhead is
measured in the same process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import uuid
from pathlib import Path
from time import perf_counter

REQUIRED = ("sayn_spark/__init__.py", "tests/oracle.py", "BENCHMARK.json")
SETUP_REPS = 3
NPROC = os.cpu_count() or 1


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: Path, tmp: Path):
    from sayn_spark.session import _DEFAULTS, get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{NPROC}]",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.local.dir": str(tmp / "spark-local"),
            "spark.driver.extraJavaOptions": _DEFAULTS["spark.driver.extraJavaOptions"]
            + f" -Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def table_bytes(warehouse: Path, name: str) -> int:
    """Bytes of a managed table's data files."""
    parts = name.lower().split(".")
    d = warehouse.joinpath(*([f"{parts[0]}.db"] if len(parts) > 1 else []), parts[-1])
    if not d.is_dir():
        return 0
    return sum(
        f.stat().st_size for f in d.rglob("*")
        if f.is_file() and not f.name.startswith((".", "_"))
    )  # fmt: skip


def bound(root: Path, metric: str) -> float:
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return next(m["bound"] for m in spec["end_to_end"] if m["name"] == metric)


def run(args: argparse.Namespace, root: Path, tmp: Path) -> dict:
    from perfbench import host, stats
    from perfbench.trace import Tracer, jobs_submitted, jvm_pid, python_worker_cpu_s
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    run_id = uuid.uuid4().hex[:8]
    tracer = Tracer(None, args.workload, run_id, NPROC, enabled=False)

    # set-up, repeated: the first includes the JVM launch, later ones
    # restart the SparkContext inside it.  Set-up and passes are measured
    # in CPU seconds of the whole process tree (wall times go to the
    # detail file): on a shared host, wall time drifted by more than the
    # benchmark's bounds between runs minutes apart, CPU time far less.
    setup_s, setup_cpu, session_s, spark = [], [], [], None
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            work = tmp / f"rep{rep}"
            cpu0, t0 = host.tree_cpu_s(os.getpid(), self_too=True), perf_counter()
            spark = start_session(work, tmp)
            t1 = perf_counter()
            tracer.spark = spark
            wl = cls(spark, work, args.seed, tracer)
            wl.setup()
            setup_s.append(perf_counter() - t0)
            setup_cpu.append(host.tree_cpu_s(os.getpid(), self_too=True) - cpu0)
            session_s.append(t1 - t0)
        warehouse = work / "warehouse"
        facts = host.facts(root, spark)

        sc = spark.sparkContext
        walls, traced_walls, units_warm, unit_walls, cpus = [], [], [], [], []
        attempted, failures, steal = 0, [], []
        python_cpu = unattributed = 0.0
        cpu_run0 = host.cpu_times()
        i = 0
        while True:
            traced = args.trace == 1 and i % 2 == 1
            wl.prepare(i)
            if traced:
                tracer.enabled = True
                tracer.install(lambda name: table_bytes(warehouse, name))
                py0, jobs0 = python_worker_cpu_s(spark), jobs_submitted(spark)
            main = tracer.start_unit("pass", "main")
            cpu0, tree0 = host.cpu_times(), host.tree_cpu_s(os.getpid(), self_too=True)
            t0 = perf_counter()
            units = wl.run_pass(i)
            wall = perf_counter() - t0
            cpu = host.tree_cpu_s(os.getpid(), self_too=True) - tree0
            unit_walls.append(units)
            steal.append(host.cpu_shares(cpu0, host.cpu_times())["steal_frac"])
            tracer.finish_unit(main)
            if traced:
                jobs = jobs_submitted(spark) - jobs0
                python_cpu += python_worker_cpu_s(spark) - py0
                tracer.uninstall()
                by_unit = tracer.read_spark()
                unattributed += jobs - sum(c["jobs"] for c in by_unit.values())
                wl.account(by_unit)
                tracer.enabled = False
                sc.setLocalProperty("spark.jobGroup.id", None)
                traced_walls.append(wall)
            else:
                walls.append(wall)
                cpus.append(cpu)
                if i > 0:
                    units_warm.extend(d for _, d in units)
            n, fails = wl.check(i)
            attempted += n
            failures.extend(f"pass {i}: {f}" for f in fails)
            i += 1
            enough = len(walls) >= 2 and (args.trace == 0 or traced_walls)
            if enough and sum(walls[1:]) + sum(traced_walls) >= args.seconds:
                break

        shares = host.cpu_shares(cpu_run0, host.cpu_times())
        flagged = max(steal) > bound(root, "run_cpu_s")
        tail, tail_pct, tail_n = stats.tail(units_warm)
        peak_rss = host.hwm_mb(jvm_pid(spark)) + host.hwm_mb(os.getpid())

        if args.trace == 0:
            metrics = {
                "setup_s": (stats.median(setup_cpu), "s"),
                "first_run_cpu_s": (cpus[0], "s"),
                "run_cpu_s": (stats.median(cpus[1:]), "s"),
                "peak_rss_mb": (peak_rss, "MB"),
            }
        else:
            c, n = tracer.counters, len(traced_walls)
            metrics = per_layer(root, c, n, {
                "session.start_s": stats.median(session_s),
                "unit.p50_s": stats.median(units_warm),
                "unit.tail_s": tail,
                "db.write_amp": c["db.merge_written_bytes"] / c["db.merge_delta_bytes"]
                if c["db.merge_delta_bytes"] else 0.0,
                "spark.python_worker_cpu_s": python_cpu / n,
                "spark.core_util": c["spark.executor_run_s"] / (sum(traced_walls) * NPROC),
                "trace.overhead_s": stats.median(traced_walls) - stats.median(walls[1:]),
            })  # fmt: skip
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": {**facts, **shares, "steal_frac_max_pass": max(steal), "flagged": flagged},
            "setup_walls": setup_s, "setup_cpu_s": setup_cpu,
            "pass_walls": walls, "traced_walls": traced_walls,
            "unit_tail": {"percentile": tail_pct, "samples": tail_n},
            "unattributed_jobs": unattributed, "evicted": tracer.counters.get("spark.evicted", 0),
            "failures": failures, "unit_walls": unit_walls, "pass_cpu_s": cpus,
        }  # fmt: skip
        out = root / "perfbench" / "out" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        tracer.write(out, detail)
        print(
            f"perfbench: {args.workload} seed={args.seed} passes={i} "
            f"tail=p{tail_pct:.1f} of {tail_n} units, steal={shares['steal_frac']:.3f}"
            f"{' FLAGGED (steal above the run_cpu_s bound)' if flagged else ''}, "
            f"{len(failures)} failure(s); detail in {out.relative_to(root)}",
            file=sys.stderr,
        )
        for f in failures[:20]:
            print(f"perfbench: FAILED {f}", file=sys.stderr)
    finally:
        if spark is not None:
            stop_jvm(spark)
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def per_layer(root: Path, counters: dict, n_traced: int, derived: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json: a derived value, or a
    counter averaged per traced pass (0 where the layer did no work)."""
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return {
        m["name"]: (derived.get(m["name"], counters.get(m["name"], 0.0) / n_traced), m["unit"])
        for m in spec["per_layer"]
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    missing = [r for r in REQUIRED if not (root / r).is_file()]
    if missing:
        print(
            f"perfbench: run from the root of a sayn-spark checkout; missing {missing}",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, str(root))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    tmp = root / "perfbench" / "tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp.mkdir(parents=True)
    # Python workers inherit this environment: they must import
    # sayn_spark from this checkout and write temporary files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["TMPDIR"] = str(tmp)
    try:
        result = run(args, root, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
