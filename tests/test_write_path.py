"""The shared incremental write path (SparkDatabase.merge_into /
append_into / stage and the streaming foreachBatch runner): empty
reruns write nothing, staging tables never outlive a merge, and the
unchunked incremental copy runs no row count."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sayn_spark.core.compiler import Compiler
from sayn_spark.core.database import SparkDatabase
from sayn_spark.core.objects import DbObjectCompiler
from sayn_spark.operators import RunArguments, TaskContext
from sayn_spark.operators.chunk import ChunkTask
from sayn_spark.operators.copy import CopyTask
from sayn_spark.operators.decontaminate import DecontaminateTask
from sayn_spark.operators.embed import EmbedTask
from sayn_spark.operators.filter import FilterTask
from sayn_spark.operators.sample import SampleTask
from sayn_spark.operators.sql import SqlTask
from tests.conftest import SF_SMOKE as SF


@pytest.fixture
def ctx(spark, tmp_path):
    return TaskContext(
        spark=spark,
        db=SparkDatabase(spark),
        compiler=Compiler(parameters={}),
        obj_compiler=DbObjectCompiler(default_db="spark"),
        run_arguments=RunArguments(),
        parameters={},
        connections={},
        project_dir=tmp_path,
    )


def _run(task_cls, ctx, name, cfg):
    t = task_cls(name, cfg, ctx)
    t.config()
    t.run()
    return t


_INCREMENTAL = {
    "chunk": (ChunkTask, {"chunk_tokens": 16, "stride": 12, "mode": "incremental"}),
    "decontaminate": (
        DecontaminateTask,
        {"eval_table": "wp_eval", "ngram": 8, "load_mode": "incremental"},
    ),
    "embed": (EmbedTask, {"dim": 16, "mode": "incremental"}),
    "filter": (FilterTask, {"scorer": "gopher", "min_words": 30, "mode": "incremental"}),
    "sample": (SampleTask, {"rate_in": 3, "seed": 5, "mode": "incremental"}),
}


@pytest.mark.parametrize("kind", sorted(_INCREMENTAL))
def test_incremental_rerun_over_unchanged_source_writes_nothing(ctx, spark, kind):
    """A second incremental run over an unchanged source has nothing
    new to append: append_into skips the empty frame, so the
    destination keeps its rows AND its files (an empty append would
    still commit a new empty parquet file)."""
    task_cls, extra = _INCREMENTAL[kind]
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ctx.db.replace_table("wp_src", docs)
    if kind == "decontaminate":
        ctx.db.replace_table(
            "wp_eval", docs.where("doc_id % 9 = 0").select("text")
        )
    dst = f"wp_{kind}_out"
    spark.sql(f"DROP TABLE IF EXISTS {dst}")
    cfg = {"source": "wp_src", "destination": dst, **extra}
    _run(task_cls, ctx, f"wp_{kind}", cfg)
    rows, files = spark.table(dst).count(), sorted(spark.table(dst).inputFiles())
    assert rows > 0
    _run(task_cls, ctx, f"wp_{kind}", cfg)
    assert spark.table(dst).count() == rows
    assert sorted(spark.table(dst).inputFiles()) == files
    spark.sql(f"DROP TABLE IF EXISTS {dst}")


def _staging_tables(spark) -> list:
    return [t.name for t in spark.catalog.listTables() if t.name.startswith("sayn_tmp_wp_")]


def test_incremental_writes_leave_no_staging_tables(ctx, spark, tmp_path):
    """Every staged merge drops its sayn_tmp_ table: an incremental sql
    refresh, an incremental copy, and a streaming twin whose second
    trigger merges into an existing destination."""
    from sayn_spark.streaming import stream_chunk

    db = ctx.db
    schema = "id long, updated_at long, name string"
    db.load_data(
        "wp_rows",
        [{"id": 1, "updated_at": 1, "name": "a"}, {"id": 2, "updated_at": 2, "name": "b"}],
        schema=schema,
        replace=True,
    )
    db.load_data("wp_sql_out", [{"id": 1, "updated_at": 0, "name": "old"}], schema=schema, replace=True)
    (tmp_path / "wp.sql").write_text("SELECT * FROM wp_rows")
    _run(
        SqlTask,
        ctx,
        "wp_sql",
        {
            "file_name": "wp.sql",
            "materialisation": "incremental",
            "delete_key": "id",
            "destination": "wp_sql_out",
        },
    )
    assert sorted(tuple(r) for r in spark.table("wp_sql_out").collect()) == [
        (1, 1, "a"),
        (2, 2, "b"),
    ]
    db.load_data("wp_copy_out", [{"id": 1, "updated_at": 1, "name": "old"}], schema=schema, replace=True)
    _run(
        CopyTask,
        ctx,
        "wp_copy",
        {
            "source": {"table": "wp_rows"},
            "destination": "wp_copy_out",
            "incremental_key": "updated_at",
            "delete_key": "id",
        },
    )
    assert sorted(tuple(r) for r in spark.table("wp_copy_out").collect()) == [
        (1, 1, "a"),
        (2, 2, "b"),
    ]

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    src = tmp_path / "wp_docs"
    src.mkdir()
    spark.sql("DROP TABLE IF EXISTS wp_chunks")
    ckpt = str(tmp_path / "wp_ckpt")
    for wave in (0, 1):
        docs.where(F.col("doc_id") % 2 == wave).coalesce(1).write.parquet(
            str(src / f"w{wave}")
        )
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        stream_chunk(stream, "wp_chunks", ckpt, chunk_tokens=16, stride=12).awaitTermination(120)
    assert spark.table("wp_chunks").select("ingest_id").distinct().count() == 2
    assert _staging_tables(spark) == []
    for t in ("wp_rows", "wp_sql_out", "wp_copy_out", "wp_chunks"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_unchunked_incremental_copy_counts_no_rows(ctx, spark, monkeypatch):
    """Without max_merge_rows the incremental copy has no chunk size to
    compare against, so it must not count the staged rows: the count
    was a full Spark job per run whose result was never read."""
    schema = "id long, updated_at long, name string"
    ctx.db.load_data(
        "wp_cnt_src",
        [{"id": 1, "updated_at": 1, "name": "x"}, {"id": 2, "updated_at": 2, "name": "y"}],
        schema=schema,
        replace=True,
    )
    ctx.db.load_data("wp_cnt_dst", [{"id": 1, "updated_at": 1, "name": "old"}], schema=schema, replace=True)

    def no_count(self):
        raise AssertionError("DataFrame.count() called by the unchunked incremental copy")

    # the concrete (classic) DataFrame class defines count
    monkeypatch.setattr(type(spark.table("wp_cnt_src")), "count", no_count)
    _run(
        CopyTask,
        ctx,
        "wp_cnt",
        {
            "source": {"table": "wp_cnt_src"},
            "destination": "wp_cnt_dst",
            "incremental_key": "updated_at",
            "delete_key": "id",
        },
    )
    monkeypatch.undo()
    assert sorted(tuple(r) for r in spark.table("wp_cnt_dst").collect()) == [
        (1, 1, "x"),
        (2, 2, "y"),
    ]
    for t in ("wp_cnt_src", "wp_cnt_dst"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
