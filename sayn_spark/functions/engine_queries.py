"""Correctness queries that exercise the engine's own relational logic
(not user SQL): incremental merge, incremental extraction, standard
data-quality tests.  Each has a handwritten DuckDB oracle that encodes
the reference semantics independently of the engine code under test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sayn_spark.functions.registry import T, register
from sayn_spark.functions.relational import dec
from sayn_spark.plans.materialise import incremental_filter, merge_dataframes
from sayn_spark.plans.quality import standard_tests_plan


@register(
    "q_incremental_merge",
    oracle="""
WITH src AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(3,1)), 2) AS DOUBLE) AS totalprice,
         CAST(o_orderdate AS DATE) AS orderdate
  FROM orders WHERE o_orderkey % 3 = 0
), dst AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE) AS totalprice,
         CAST(o_orderdate AS DATE) AS orderdate
  FROM orders
)
SELECT * FROM dst WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.o_orderkey = dst.o_orderkey)
UNION ALL
SELECT * FROM src
""",
)
def q_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-materialisation merge semantics (ref:
    tasks/autosql.py:349-358 + merge_tables.sql:1-12).

    dst = current orders table; src = a simulated update batch (every
    3rd order with a repriced total).  The merge must replace exactly
    the src keys and keep everything else.
    """
    o = T(spark, sf_dir, "orders")
    dst = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(dec("o_totalprice"), 2).cast("double").alias("totalprice"),
        F.col("o_orderdate").cast("date").alias("orderdate"),
    )
    src = (
        o.where(F.col("o_orderkey") % 3 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round(dec("o_totalprice") * F.lit(1.1).cast("decimal(3,1)"), 2)
            .cast("double")
            .alias("totalprice"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
        )
    )
    return merge_dataframes(dst, src, delete_key="o_orderkey")


@register(
    "q_incremental_extract",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(o_orderdate AS DATE) AS orderdate,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE) AS totalprice
FROM orders
WHERE o_orderdate >= TIMESTAMP '2000-01-01' OR o_orderdate IS NULL
""",
)
def q_incremental_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental extraction predicate incl. the NULL-reload rule
    (ref: tasks/copy.py:668-675).  Pushes to the parquet scan."""
    o = T(spark, sf_dir, "orders")
    filtered = incremental_filter(o, "o_orderdate", "2000-01-01", include_null=True)
    return filtered.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("orderdate"),
        F.round(dec("o_totalprice"), 2).cast("double").alias("totalprice"),
    )


@register(
    "q_standard_tests",
    oracle="""
SELECT 'unique' AS test_type, 'c_custkey' AS col_name,
       CAST(c_custkey AS VARCHAR) AS col_value, COUNT(*) AS cnt
FROM customer GROUP BY c_custkey HAVING COUNT(*) > 1
UNION ALL
SELECT 'not_null', 'c_custkey', NULL, COUNT(*)
FROM customer WHERE c_custkey IS NULL HAVING COUNT(*) > 0
UNION ALL
SELECT 'allowed_values', 'o_orderstatus', o_orderstatus, COUNT(*)
FROM orders WHERE o_orderstatus NOT IN ('F', 'O') AND o_orderstatus IS NOT NULL
GROUP BY o_orderstatus
""",
)
def q_standard_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard-test generation (ref: database/__init__.py:239-288).

    customer.c_custkey: unique + not_null (expected clean -> no rows);
    orders.o_orderstatus restricted to {F, O} so the 'P' rows surface
    as allowed_values violations — exercising the failure path too.
    """
    cust = standard_tests_plan(
        T(spark, sf_dir, "customer"),
        [{"name": "c_custkey", "tests": ["unique", "not_null"]}],
    )
    orders = standard_tests_plan(
        T(spark, sf_dir, "orders"),
        [{"name": "o_orderstatus", "tests": [{"allowed_values": ["F", "O"]}]}],
    )
    if cust is None or orders is None:
        raise ValueError("q_standard_tests: a declared column test generated no plan")
    return cust.unionByName(orders)


@register(
    "q_snapshot_diff",
    oracle="""
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 101 = 0
),
oh AS (SELECT o_orderkey,
              md5(coalesce(CAST(o_orderstatus AS VARCHAR), ' ')
                  || coalesce(CAST(o_totalprice AS VARCHAR), ' ')) AS h FROM old),
nh AS (SELECT o_orderkey,
              md5(coalesce(CAST(o_orderstatus AS VARCHAR), ' ')
                  || coalesce(CAST(o_totalprice AS VARCHAR), ' ')) AS h FROM new),
diff AS (
  SELECT COALESCE(oh.o_orderkey, nh.o_orderkey) AS o_orderkey,
         CASE WHEN oh.h IS NULL THEN 'added'
              WHEN nh.h IS NULL THEN 'removed'
              WHEN oh.h <> nh.h THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM oh FULL OUTER JOIN nh ON oh.o_orderkey = nh.o_orderkey
)
SELECT change_type, COUNT(*) AS n, MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
FROM diff GROUP BY change_type
""",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (plans/snapshot.py): classify today's orders vs
    yesterday's as added/removed/changed/unchanged by key, comparing
    payload through one md5 per side.  The synthetic 'today' removes
    every 97th key, flips status on every 89th, and appends re-keyed
    copies of every 101st — the diff must count exactly those.

    The double-as-string hash input is safe here because both engines
    read the identical parquet doubles and canonical-format them the
    same way for these values; production diffs should hash decimal/
    string forms (snapshot_diff takes any column set).
    """
    from sayn_spark.plans.snapshot import snapshot_diff

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    new = (
        o.where(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 89 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            "o_totalprice",
        )
        .unionByName(
            o.where(F.col("o_orderkey") % 101 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    diff = snapshot_diff(o, new, keys=["o_orderkey"])
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@register(
    "q_scd2_history",
    oracle="""
WITH old AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp FROM orders
),
new AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END AS st,
         o_totalprice AS tp
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 101 = 0
),
oh AS (SELECT k, st, tp,
              md5(coalesce(CAST(st AS VARCHAR), ' ')
                  || coalesce(CAST(tp AS VARCHAR), ' ')) AS h FROM old),
nh AS (SELECT k, st, tp,
              md5(coalesce(CAST(st AS VARCHAR), ' ')
                  || coalesce(CAST(tp AS VARCHAR), ' ')) AS h FROM new),
j AS (
  SELECT oh.k AS ok, nh.k AS nk, oh.h AS o_h, nh.h AS n_h,
         nh.st AS nst, nh.tp AS ntp
  FROM oh FULL OUTER JOIN nh ON oh.k = nh.k
),
hist AS (
  SELECT ok AS k, '2026-01-01' AS valid_from,
         CASE WHEN n_h IS NULL OR n_h <> o_h THEN '2026-03-01' END AS valid_to
  FROM j WHERE o_h IS NOT NULL
  UNION ALL
  SELECT COALESCE(nk, ok), '2026-03-01', NULL
  FROM j WHERE n_h IS NOT NULL AND (o_h IS NULL OR o_h <> n_h)
)
SELECT valid_from, COALESCE(valid_to, 'open') AS valid_to,
       COUNT(*) AS n, MIN(k) AS min_key, MAX(k) AS max_key
FROM hist GROUP BY valid_from, COALESCE(valid_to, 'open')
""",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history fold (plans/snapshot.py:snapshot_apply): start from a
    history where every order is one open version (valid_from 2026-01-01),
    apply the same synthetic 'today' snapshot as q_snapshot_diff at
    2026-03-01, then count history rows per (valid_from, valid_to) cell:
    unchanged stay open at 01-01, changed/removed close at 03-01, and
    changed/added keys open new 03-01 versions.

    The payload hash is only ever compared within one engine (Spark vs
    Spark, DuckDB vs DuckDB), so double-to-string canonicalisation
    differences between engines cannot flip a classification.
    """
    from sayn_spark.plans.snapshot import snapshot_apply

    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("tp"),
    )
    history = o.select(
        "k", "st", "tp",
        F.lit("2026-01-01").alias("_valid_from"),
        F.lit(None).cast("string").alias("_valid_to"),
    )
    snap = (
        o.where(F.col("k") % 97 != 0)
        .select(
            "k",
            F.when(F.col("k") % 89 == 0, F.lit("X")).otherwise(F.col("st")).alias("st"),
            "tp",
        )
        .unionByName(
            o.where(F.col("k") % 101 == 0).select(
                (F.col("k") + 10000000).alias("k"), "st", "tp"
            )
        )
    )
    hist = snapshot_apply(
        history, snap, keys=["k"], snapshot_ts="2026-03-01",
        # keys are unique by construction (k and k+10000000 branches are
        # disjoint); skip the eager duplicate-key collect so building the
        # DataFrame stays lazy and bench timings measure only the fold
        validate_keys=False,
    )
    return hist.groupBy(
        F.col("_valid_from").alias("valid_from"),
        F.coalesce(F.col("_valid_to"), F.lit("open")).alias("valid_to"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


@register(
    "q_referential_integrity",
    oracle="""
SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_bad
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'orders->customer', COUNT(*)
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'customer_childless', COUNT(*)
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the missing member of the standard
    test family (reference generates unique/not_null/allowed_values,
    database/__init__.py:239-288; FK orphans are what its users
    hand-write as custom test tasks).  Each check is an anti join on
    the key column alone (column pruning keeps the scan narrow; the
    dim side broadcasts when small), counting child rows whose parent
    is missing plus parents with no children.

    At 100 TB each anti join shuffles only (key) pairs — or none at
    all when the parent key set broadcasts; this is the cheap nightly
    gate before publishing a warehouse layer.
    """
    li = T(spark, sf_dir, "lineitem").select("l_orderkey")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = T(spark, sf_dir, "customer").select("c_custkey")

    def check(name: str, child: DataFrame, parent: DataFrame, cond) -> DataFrame:
        return (
            child.join(F.broadcast(parent), cond, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_bad"))
            .select(F.lit(name).alias("fk"), "n_bad")
        )

    li_orders = check(
        "lineitem->orders", li, o.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    orders_cust = check(
        "orders->customer", o.select("o_custkey"), c,
        F.col("o_custkey") == F.col("c_custkey"),
    )
    cust_childless = check(
        "customer_childless", c, o.select("o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"),
    )
    return li_orders.unionByName(orders_cust).unionByName(cust_childless)


@register(
    "q_scd2_asof_read",
    oracle="""
WITH old AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp FROM orders
),
new AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END AS st,
         o_totalprice AS tp
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 101 = 0
),
both_reads AS (
  SELECT '2026-01-15' AS asof_date, k, st FROM old
  UNION ALL
  SELECT '2026-03-15', k, st FROM new
)
SELECT asof_date, st AS orderstatus, COUNT(*) AS n,
       CAST(SUM(k % 1000000007) AS BIGINT) AS key_checksum
FROM both_reads GROUP BY asof_date, st
""",
)
def q_scd2_asof_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the SCD-2 history (plans/snapshot.py:
    snapshot_as_of): build the same history as q_scd2_history, then
    reconstruct the table as of 2026-01-15 (must equal yesterday's
    orders exactly) and as of 2026-03-15 (must equal today's snapshot),
    proving the history losslessly encodes both states.  The oracle
    computes both expected states directly from the base table — it
    never sees the history, so any corruption in the fold or the as-of
    filter shows up as a mismatch.

    The as-of read is a pure filter (no join); the checksum is the
    modular key sum so value equality, not just counts, is pinned.
    """
    from sayn_spark.plans.snapshot import snapshot_apply, snapshot_as_of

    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("tp"),
    )
    history = o.select(
        "k", "st", "tp",
        F.lit("2026-01-01").alias("_valid_from"),
        F.lit(None).cast("string").alias("_valid_to"),
    )
    snap = (
        o.where(F.col("k") % 97 != 0)
        .select(
            "k",
            F.when(F.col("k") % 89 == 0, F.lit("X")).otherwise(F.col("st")).alias("st"),
            "tp",
        )
        .unionByName(
            o.where(F.col("k") % 101 == 0).select(
                (F.col("k") + 10000000).alias("k"), "st", "tp"
            )
        )
    )
    hist = snapshot_apply(
        history, snap, keys=["k"], snapshot_ts="2026-03-01",
        # keys are unique by construction (k and k+10000000 branches are
        # disjoint); skip the eager duplicate-key collect so building the
        # DataFrame stays lazy and bench timings measure only the fold
        validate_keys=False,
    )
    reads = snapshot_as_of(hist, "2026-01-15").select(
        F.lit("2026-01-15").alias("asof_date"), "k", "st"
    ).unionByName(
        snapshot_as_of(hist, "2026-03-15").select(
            F.lit("2026-03-15").alias("asof_date"), "k", "st"
        )
    )
    return reads.groupBy("asof_date", F.col("st").alias("orderstatus")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("k") % 1000000007).alias("key_checksum"),
    )


@register(
    "q_watermark_nan_guard",
    oracle="""
WITH dst AS (
  SELECT CASE WHEN o_orderkey % 97 = 0 THEN CAST('NaN' AS DOUBLE)
              ELSE CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE)
         END AS price
  FROM orders WHERE o_orderkey % 7 = 0
), wm AS (
  SELECT MAX(CASE WHEN isnan(price) THEN NULL ELSE price END) AS watermark,
         SUM(CASE WHEN isnan(price) THEN 1 ELSE 0 END) AS n_nan_dst
  FROM dst
), src AS (
  SELECT CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE) AS price
  FROM orders
)
SELECT CAST(ROUND(wm.watermark, 2) AS DOUBLE) AS watermark,
       CAST(wm.n_nan_dst AS BIGINT) AS n_nan_dst,
       (SELECT COUNT(*) FROM src WHERE src.price >= wm.watermark) AS n_loaded
FROM wm
""",
)
def q_watermark_nan_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrument for the NaN-safe incremental watermark (hazard review
    r14, reproduced then fixed): Spark's MAX ranks NaN above every
    number, so one NaN row in the destination used to poison the
    watermark — ``key >= NaN`` matches only NaN and every later
    incremental load silently skipped all real data.  This runs the
    REAL engine path (plans/materialise.py:nan_safe_max +
    incremental_filter, the same calls CopyTask mode=inc makes) over a
    destination with injected NaN prices and pins three facts against
    the DuckDB oracle: the watermark equals the NaN-free max, the NaN
    rows are counted (witness the hazard is present in the input), and
    the incremental filter loads the correct boundary-inclusive row
    count.  Scale shape: two scalar aggregates + one pushed-down scan
    filter; nothing shuffles.
    """
    from sayn_spark.plans.materialise import nan_safe_max

    o = T(spark, sf_dir, "orders")
    price = F.round(dec("o_totalprice"), 2).cast("double")
    dst = o.where(F.col("o_orderkey") % 7 == 0).select(
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(float("nan")))
        .otherwise(price)
        .alias("price")
    )
    wm = nan_safe_max(dst, "price")  # the engine's own watermark call
    n_nan = dst.where(F.isnan("price")).count()
    src = o.select(price.alias("price"))
    n_loaded = incremental_filter(src, "price", wm).count()
    return spark.createDataFrame(
        [(float(round(wm, 2)), int(n_nan), int(n_loaded))],
        "watermark double, n_nan_dst long, n_loaded long",
    )
