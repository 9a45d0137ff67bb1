"""Copy task: distributed load from a named source into the catalog
(ref: tasks/copy.py:69-290,345-541).

The reference streams rows source->Python->target in 50k batches; here
the copy is one distributed read -> (optional incremental filter) ->
write/merge.  Modes (ref mode calc tasks/copy.py:245-252):

- full:   whole table, overwrite (tmp+swap parity option)
- inc:    rows with inc_key >= MAX(dst.inc_key) OR NULL, merged on
          delete_key (ref :634-637, :668-675)
- append: incremental filter, append-only, audit column
          _sayn_load_ts = current_timestamp (ref :458-461, :486-494)

``max_merge_rows`` chunks the incremental merge in bounded, resumable
passes capped at 100 iterations (ref :350-363).
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sayn_spark.operators.base import Task, TaskStatus
from sayn_spark.plans.materialise import incremental_filter
from sayn_spark.sources.registry import read_source

LOAD_TS_COL = "_sayn_load_ts"
MAX_MERGE_ITERATIONS = 100  # ref: tasks/copy.py:359-362


class CopyTask(Task):
    def config(self) -> None:
        c = self.config_dict
        self.source_cfg = self.compile_property(c.get("source"))
        if not self.source_cfg:
            raise ValueError(f"copy task {self.name!r} needs source")
        dest = self.compile_property(c.get("destination"))
        if not dest:
            raise ValueError(f"copy task {self.name!r} needs destination")
        self.sink_cfg = None
        if isinstance(dest, dict) and ("path" in dest or dest.get("type") == "jdbc"):
            # file/JDBC sink destination (beyond-reference: distributed
            # export; the reference only writes warehouse tables)
            self.sink_cfg = dest
            self.destination = None
            self.dst_value = dest.get("path") or dest.get("table")
        else:
            if isinstance(dest, dict):
                parts = [dest.get("database") or dest.get("db"), dest.get("schema"), dest["table"]]
                dest = ".".join(p for p in parts if p)
            self.destination = self.context.obj_compiler.from_string(dest)
            self.outputs.add(self.destination)
            self.dst_value = self.context.obj_compiler.out_value(self.destination)

        self.incremental_key: Optional[str] = c.get("incremental_key")
        self.delete_key: Optional[str] = c.get("delete_key")
        self.append: bool = bool(c.get("append", False))
        self.max_merge_rows: Optional[int] = c.get("max_merge_rows")
        from sayn_spark.core.ddl import validate_columns

        self.columns: list[dict] = validate_columns(
            list(c.get("columns", [])), self.name
        )
        # validation (ref: tasks/copy.py:85-109)
        if self.append and self.delete_key:
            raise ValueError(f"copy task {self.name!r}: append excludes delete_key")
        if not self.append and (self.incremental_key is None) != (self.delete_key is None):
            raise ValueError(
                f"copy task {self.name!r}: incremental_key and delete_key go together"
            )
        if self.max_merge_rows and not (self.incremental_key and self.delete_key):
            raise ValueError(f"copy task {self.name!r}: max_merge_rows requires incremental")
        self.status = TaskStatus.READY

    # -- helpers ---------------------------------------------------------

    def _read_source(self) -> DataFrame:
        cfg = self.source_cfg
        if isinstance(cfg, str):  # shorthand: a catalog table or named connection table
            if ":" in cfg:
                conn_name, table = cfg.split(":", 1)
                conn = self.context.connections[conn_name]
                return read_source(self.context.spark, {**conn, "table": table})
            return self.context.spark.table(self.src(cfg))
        if "connection" in cfg:
            conn = dict(self.context.connections[cfg["connection"]])
            conn.update({k: v for k, v in cfg.items() if k != "connection"})
            return read_source(self.context.spark, conn)
        if "table" in cfg and "type" not in cfg:
            return self.context.spark.table(self.src(cfg["table"]))
        return read_source(self.context.spark, cfg)

    def _select_columns(self, df: DataFrame) -> DataFrame:
        """Declared-DDL projection with dst_name renames
        (ref: tasks/copy.py:559-624)."""
        from sayn_spark.core.ddl import project_columns

        return project_columns(df, self.columns, self.name)

    @property
    def _mode(self) -> str:
        # ref: tasks/copy.py:245-252
        if self.incremental_key is None or self.context.run_arguments.full_load:
            return "full"
        return "append" if self.append else "inc"

    # -- execution -------------------------------------------------------

    def run(self) -> None:
        db = self.context.db
        src_df = self._select_columns(self._read_source())
        mode = self._mode

        if self.sink_cfg is not None:
            self._run_sink(src_df, mode)
            return

        if mode == "full":
            if self.append:
                src_df = src_df.withColumn(LOAD_TS_COL, F.current_timestamp())
            db.replace_table(self.dst_value, src_df)
            return

        last_max = db.get_max_value(self.dst_value, self.incremental_key)
        batch = incremental_filter(src_df, self.incremental_key, last_max)

        if mode == "append":
            # REFERENCE PARITY, deliberately kept: the reference's read
            # query keeps `key IS NULL OR key >= max` for append mode
            # too (tasks/copy.py:668-675), so NULL-incremental-key rows
            # re-append every run and an all-NULL destination re-appends
            # the whole source (its MAX query is NOT NULL-filtered the
            # same way).  Users who need exactly-once NULL handling use
            # mode=inc (delete-key merge), where the NULL arm is
            # idempotent by the merge.
            batch = batch.withColumn(LOAD_TS_COL, F.current_timestamp())
            if db.table_exists(self.dst_value):
                db.create_table(
                    self.dst_value,
                    batch,
                    mode="append",
                    merge_schema=bool(self.config_dict.get("schema_evolution")),
                )
            else:
                db.create_table(self.dst_value, batch, mode="overwrite")
            return

        # mode == "inc": create-or-merge, in chunks if requested
        if not self.max_merge_rows or not db.table_exists(self.dst_value):
            db.merge_into(self.dst_value, batch, self.delete_key)
            return
        # drain the NULL-incremental-key rows FIRST, as their own
        # chunk sequence: the watermark can never page through
        # NULLs (they don't order against it), so the old single
        # asc_nulls_first first chunk took at most max_merge_rows
        # of them and the include_null=False re-derive then
        # stranded the rest for the run (second-pass review r12).
        # Pagination is a row_number over the DISTINCT delete keys
        # (advice r12): the earlier anti-join anchor skipped any
        # NULL-key row whose delete_key already existed in dst, so
        # updates carried on NULL-incremental-key rows were silently
        # dropped — the unchunked inc path re-merges every NULL row
        # each run, and chunking must not change that.  Ranking
        # keys (not rows) also keeps one delete_key inside one
        # chunk: a key split across merges would have its first
        # chunk's rows deleted by its second chunk's merge.  A
        # chunk therefore holds max_merge_rows KEYS and can exceed
        # that in rows when keys repeat — the same hot-key caveat
        # the watermark loop documents.  eqNullSafe keeps rows with
        # NULL delete keys drainable (an equi-join would strand
        # them in every chunk's complement).
        from pyspark.sql.window import Window

        keys = (
            [self.delete_key]
            if isinstance(self.delete_key, str)
            else list(self.delete_key)
        )
        src_nulls = batch.where(F.col(self.incremental_key).isNull())
        keyrank = (
            src_nulls.select(*keys)
            .distinct()
            .withColumn(
                "__sayn_kr__",
                F.row_number().over(Window.orderBy(*[F.col(k) for k in keys])),
            )
        )
        total_keys = keyrank.count()
        offset = 0
        # the drain has its OWN iteration budget (advice r13): sharing
        # the cap with the watermark loop meant a large NULL backlog
        # could exhaust it and silently skip watermark rows, and the
        # watermark loop's while-else warning then reported the
        # NULL-drain's row count as "the last merged chunk".
        drain_iterations = 0
        while offset < total_keys and drain_iterations < MAX_MERGE_ITERATIONS:
            kchunk = keyrank.where(
                (F.col("__sayn_kr__") > offset)
                & (F.col("__sayn_kr__") <= offset + self.max_merge_rows)
            ).drop("__sayn_kr__")
            cond = None
            for k in keys:
                c = src_nulls[k].eqNullSafe(kchunk[k])
                cond = c if cond is None else (cond & c)
            chunk = src_nulls.join(kchunk, cond, "left_semi")
            db.merge_into(self.dst_value, chunk, self.delete_key)
            offset += self.max_merge_rows
            drain_iterations += 1
        if offset < total_keys:
            import logging

            logging.getLogger("sayn_spark").warning(
                "copy task %r: NULL-incremental-key drain hit its "
                "iteration cap (%d) with %d of %d delete keys still "
                "pending — those NULL-key rows were NOT merged this run "
                "(they will be retried next run; raise max_merge_rows=%s "
                "to drain faster)",
                self.name,
                MAX_MERGE_ITERATIONS,
                total_keys - offset,
                total_keys,
                self.max_merge_rows,
            )
        batch = batch.where(F.col(self.incremental_key).isNotNull())
        iterations = 0
        while iterations < MAX_MERGE_ITERATIONS:
            chunk = batch.orderBy(F.col(self.incremental_key).asc()).limit(
                self.max_merge_rows
            )
            tmp = db.stage(self.dst_value, chunk)
            n = self.context.spark.table(tmp).count()
            db.merge_tables(tmp, self.dst_value, self.delete_key)
            iterations += 1
            if n < self.max_merge_rows:
                break
            # next chunk: re-derive the watermark from the merged dst
            last_max = db.get_max_value(self.dst_value, self.incremental_key)
            batch = incremental_filter(
                src_df, self.incremental_key, last_max, include_null=False
            )
        else:
            # loop exhausted the cap with a full chunk still pending —
            # the reference's silent `for _ in range(100)` (tasks/
            # copy.py:359-362) would report SUCCESS on an incomplete
            # load; surface it.  A chunk of exactly max_merge_rows can
            # also mean >max_merge_rows rows share one incremental_key
            # value, which this chunking can never drain.
            import logging

            logging.getLogger("sayn_spark").warning(
                "copy task %r: merge iteration cap (%d) reached; the last "
                "merged chunk was full (%d rows), so an unknown number of "
                "remaining source rows were NOT loaded — load may be "
                "incomplete (possible hot incremental_key value exceeding "
                "max_merge_rows=%s)",
                self.name,
                MAX_MERGE_ITERATIONS,
                n,
                self.max_merge_rows,
            )

    def _run_sink(self, src_df: DataFrame, mode: str) -> None:
        """File/JDBC sink path: full overwrite or incremental append.

        Delete-key merges need a transactional table (catalog/Delta) —
        refused here rather than silently rewritten.
        """
        from sayn_spark.sources.registry import write_sink

        if mode == "inc":
            raise ValueError(
                f"copy task {self.name!r}: delete_key merge requires a catalog "
                "table destination (file sinks are append-only)"
            )
        if mode == "append":
            import os

            last_max = None
            path = self.sink_cfg.get("path")
            if path and os.path.exists(path):
                kind = self.sink_cfg.get("type", "parquet")
                reader = self.context.spark.read.format(kind)
                if kind == "csv":
                    reader = reader.option("header", "true").option("inferSchema", "true")
                existing = reader.load(path)
                # NaN-safe: same watermark contract as get_max_value
                from sayn_spark.plans.materialise import nan_safe_max

                last_max = nan_safe_max(existing, self.incremental_key)
            batch = incremental_filter(src_df, self.incremental_key, last_max)
            batch = batch.withColumn(LOAD_TS_COL, F.current_timestamp())
            write_sink(batch, self.sink_cfg, mode="append")
        else:
            if self.append:
                src_df = src_df.withColumn(LOAD_TS_COL, F.current_timestamp())
            write_sink(src_df, self.sink_cfg, mode="overwrite")

    def compile(self) -> None:
        self.write_compilation_output(
            f"-- copy {self.source_cfg!r} -> {self.dst_value} mode={self._mode}\n"
        )
