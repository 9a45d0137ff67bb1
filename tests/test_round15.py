"""Round-15 instruments: the bench sentinel-drift flag (VERDICT r14
item 9) and the w<=32 packed-band mask (ADVICE r14; the banded-vs-
allpairs half lives in test_dedup_banding.py)."""

from __future__ import annotations


def test_sentinel_drift_flag_thresholds():
    from bench import drift_flag

    # calm sweep: 0.30 -> 0.29 is 3% drift, not contamination
    ratio, bad = drift_flag(0.30, 0.29)
    assert ratio == 0.967 and bad is False
    # the r14 driver sweep shape: 0.301 -> 0.190 (-37%) must flag
    ratio, bad = drift_flag(0.301, 0.190)
    assert bad is True
    # upward drift flags symmetrically
    _, bad = drift_flag(0.20, 0.26)
    assert bad is True
    # degenerate sentinel never divides by zero
    assert drift_flag(0.0, 0.2) == (None, False)


def test_bench_json_carries_drift_keys():
    """The contract keys must be additions-only: value/queries stay,
    the drift pair rides along."""
    from bench import bench_payload

    full = bench_payload(
        "/data/sf0.1", 2, {"q01": [1.0, 0.5, 0.7]}, [0.3, 0.3, 0.3], [0.3, 0.29, 0.31]
    )
    for key in ("sentinel_drift", "sentinel_contaminated", "queries", "value"):
        assert key in full


def test_as_local_is_bit_exact_and_local(spark):
    """The IVF-PQ/cascade job-chain fusion rebuilds tiny frames as
    LocalRelations via inline VALUES — doubles (including non-finite),
    longs, strings and double-arrays must round-trip bit-exactly and
    the result must plan as LocalTableScan (a Python-RDD-backed local
    frame would re-introduce 32-task Python broadcast builds)."""
    import math

    from pyspark.sql import functions as F

    from sayn_spark.functions.similarity import _as_local

    src = spark.range(0, 4).select(
        "id",
        F.expr(
            "case id when 0 then double('NaN') when 1 then double('Infinity') "
            "when 2 then double('-Infinity') else 0.1 + id / 7.0 end"
        ).alias("x"),
        F.expr("transform(sequence(0, 7), j -> sin(id * 8 + j))").alias("arr"),
        F.expr("concat('s''\"', id)").alias("s"),
    )
    loc = _as_local(src)
    assert "LocalTableScan" in loc._jdf.queryExecution().executedPlan().toString()
    a = {r["id"]: (r["x"], tuple(r["arr"]), r["s"]) for r in src.collect()}
    b = {r["id"]: (r["x"], tuple(r["arr"]), r["s"]) for r in loc.collect()}
    assert set(a) == set(b)
    for k in a:
        xa, arra, sa = a[k]
        xb, arrb, sb = b[k]
        assert sa == sb and arra == arrb
        assert (math.isnan(xa) and math.isnan(xb)) or xa == xb
    # empty frames degrade to an empty local DataFrame, same schema
    empty = _as_local(src.where("id < 0"))
    assert empty.count() == 0 and empty.schema == src.schema


def test_plan_summary_counts_unique_nodes_including_path_scans():
    """The footer regex must match the two-space ``Scan parquet  (N)``
    node a path scan prints, and a cached subtree repeated per consumer
    (same operator ids) must count once."""
    from capture_plans import plan_summary

    plan = """== Physical Plan ==
AdaptiveSparkPlan (12)
+- BroadcastHashJoin Inner BuildRight (11)
   :- InMemoryTableScan (3)
   :     +- InMemoryRelation (2)
   :           +- Scan parquet  (1)
   +- BroadcastExchange (10)
      +- Window (9)
         +- InMemoryTableScan (3)
               +- InMemoryRelation (2)
                     +- Scan parquet  (1)


(1) Scan parquet 
Output [2]: [vec_id#0L, e#1]
"""
    footer = plan_summary(plan)
    assert "Scan parquet=1\n" in footer
    assert "InMemoryTableScan=1\n" in footer
    assert "BroadcastHashJoin=1\n" in footer
    assert "Window=1\n" in footer
    assert footer.endswith("total_unique_nodes=7\n")


def test_containment_band_overflow_raises_value_error(spark):
    """The packed-join-key guard must survive ``python -O``: a 2,048-band
    budget overflows the 10-bit band field and raises ValueError."""
    import pytest

    from sayn_spark.functions.dedup import _containment_candidates

    sigs = spark.createDataFrame([(1, 0, [1, 2])], "doc_id long, part int, sig array<long>")
    with pytest.raises(ValueError, match="band budget 2048"):
        _containment_candidates(sigs, {0: 2048})
