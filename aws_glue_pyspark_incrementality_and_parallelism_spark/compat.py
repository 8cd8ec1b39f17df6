"""Glue-API compatibility façade — the switchability layer.

A user of the reference job (glue_rds_to_redshift.py) programs against
four surfaces: ``GlueContext.create_dynamic_frame.from_catalog`` /
``write_dynamic_frame.from_options`` (glue_rds_to_redshift.py:28-40,86),
DynamicFrame methods ``rename_field``/``toDF``/``fromDF``
(glue_rds_to_redshift.py:44,47,63), and the ``Join``/``SelectFields``
transforms (glue_rds_to_redshift.py:9,46-47). This module re-expresses
exactly that surface on DataFrames so reference-style job code runs on
this engine unchanged in shape:

* the "catalog" is a directory of parquet tables (TESTDATA layout),
* ``jobBookmarkKeys`` + ``jobBookmarkKeysSortOrder`` additional_options
  are honored through the same bookmark path ``run_etl`` uses
  (sources.incremental.incremental_read) — filter > HWM on read, commit
  via ``commit_bookmarks()`` after the sink succeeds (the Job.commit
  the reference forgot, Bug B10),
* every transform is a thin lazy DataFrame wrapper: no row-level
  record-model emulation (SURVEY §1.4 maps DynamicFrame → DataFrame
  one-to-one; choice types never occur on parquet sources),
* choice types (the self-describing-record model's answer to
  per-record type ambiguity, SURVEY §1.1) are represented the way Glue
  itself surfaces them in a DataFrame — ``struct<long:bigint,
  string:string>`` with exactly one non-null variant per record — and
  resolved via ``DynamicFrameShim.resolveChoice`` with Glue's four
  actions (``cast:<type>``, ``project:<type>``, ``make_cols``,
  ``make_struct``). ``infer_choice`` builds the struct from a mixed
  string column (the MySQL→Redshift int-vs-string ambiguity class).

Glue semantic notes implemented faithfully:

* ``Join.apply(frame1, frame2, keys1, keys2)`` is an INNER equi-join
  that keeps BOTH key columns. Colliding non-key column names get a
  ``_2`` suffix on the right side (Spark cannot hold duplicate names;
  the reference avoids collisions by renaming first, so suffixing only
  defends misuse).
* ``SelectFields.apply(frame, paths)`` keeps listed columns, silently
  ignoring absent ones (DynamicFrame semantics — unknown paths are not
  an error).
"""

from __future__ import annotations

import threading
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .sources.incremental import BookmarkStore, IncrementalBatch, incremental_read
from .sources.io import load_table, swap_parquet


class DynamicFrameShim:
    """Lazy DataFrame wrapper with the DynamicFrame methods the
    reference uses. ``fromDF``/``toDF`` cross for free (SURVEY §2.2
    P3/P4 are identity here)."""

    def __init__(self, df: DataFrame, glue_ctx: "GlueCompatContext", name: str = ""):
        self.df = df
        self._glue_ctx = glue_ctx
        self.name = name

    def rename_field(self, old: str, new: str) -> "DynamicFrameShim":
        return DynamicFrameShim(self.df.withColumnRenamed(old, new), self._glue_ctx, self.name)

    def drop_fields(self, paths: list[str]) -> "DynamicFrameShim":
        return DynamicFrameShim(self.df.drop(*paths), self._glue_ctx, self.name)

    def select_fields(self, paths: list[str]) -> "DynamicFrameShim":
        keep = [c for c in self.df.columns if c in set(paths)]
        return DynamicFrameShim(self.df.select(*keep), self._glue_ctx, self.name)

    def toDF(self) -> DataFrame:
        return self.df

    def count(self) -> int:
        return self.df.count()

    def resolveChoice(self, specs: list[tuple[str, str]]) -> "DynamicFrameShim":
        """Glue's choice-type resolution, acting on columns encoded as
        ``struct<<typename>:<type>, ...>`` (one non-null variant per
        record — the shape ``infer_choice`` builds and Glue's own
        DynamicFrame.toDF() produces for unresolved choices):

        - ``cast:<type>``  — coalesce every variant cast to <type>
        - ``project:<type>`` — keep only that variant, others become null
        - ``make_cols``   — one output column per variant (col_type)
        - ``make_struct`` — keep the struct encoding as-is
        """
        from pyspark.sql import functions as F

        df = self.df
        for col, action in specs:
            variants = _choice_variants(df, col)
            if variants is None:
                raise ValueError(
                    f"resolveChoice: column {col!r} is not a choice struct"
                )
            if action == "make_struct":
                continue
            if action == "make_cols":
                df = df.select(
                    *[c for c in df.columns if c != col],
                    *[F.col(f"{col}.{v}").alias(f"{col}_{v}") for v in variants],
                )
            elif action.startswith("cast:"):
                target = action.split(":", 1)[1]
                df = df.withColumn(
                    col,
                    F.coalesce(
                        *[F.col(f"{col}.{v}").try_cast(target) for v in variants]
                    ),
                )
            elif action.startswith("project:"):
                target = action.split(":", 1)[1]
                if target not in variants:
                    raise ValueError(
                        f"resolveChoice: {col!r} has no {target!r} variant "
                        f"(has {sorted(variants)})"
                    )
                df = df.withColumn(col, F.col(f"{col}.{target}"))
            else:
                raise ValueError(f"resolveChoice: unknown action {action!r}")
        return DynamicFrameShim(df, self._glue_ctx, self.name)

    @staticmethod
    def fromDF(df: DataFrame, glue_ctx: "GlueCompatContext", name: str) -> "DynamicFrameShim":
        return DynamicFrameShim(df, glue_ctx, name)


#: Variant names a choice struct may carry (Glue's scalar type names).
_CHOICE_VARIANT_TYPES = frozenset(
    {"boolean", "byte", "short", "int", "long", "float", "double", "string", "binary"}
)


def _choice_variants(df: DataFrame, col: str) -> list[str] | None:
    """Field names of ``col`` if it is a choice struct (every field named
    after a scalar type), else None."""
    from pyspark.sql.types import StructType

    for f in df.schema.fields:
        if f.name == col and isinstance(f.dataType, StructType):
            names = [sf.name for sf in f.dataType.fields]
            if names and all(n in _CHOICE_VARIANT_TYPES for n in names):
                return names
    return None


def infer_choice(df: DataFrame, col: str) -> DataFrame:
    """Record-level choice detection for a string column with mixed
    encodings — the ambiguity the reference's MySQL→Redshift catalog
    surfaces as ``choice`` (SURVEY §1.1): integer-looking values land in
    the ``long`` variant, everything else in ``string``. Pure column
    expressions (one codegen'd pass, no Python in the loop), so the
    detection scales like any other projection."""
    from pyspark.sql import functions as F

    is_long = F.col(col).rlike(r"^-?\d+$") & F.col(col).try_cast("long").isNotNull()
    return df.withColumn(
        col,
        F.struct(
            F.when(is_long, F.col(col).try_cast("long")).alias("long"),
            F.when(~is_long, F.col(col)).alias("string"),
        ),
    )


class Join:
    """Glue's Join transform: inner equi-join keeping both key columns."""

    @staticmethod
    def apply(
        frame1: DynamicFrameShim, frame2: DynamicFrameShim, keys1: Any, keys2: Any
    ) -> DynamicFrameShim:
        k1 = [keys1] if isinstance(keys1, str) else list(keys1)
        k2 = [keys2] if isinstance(keys2, str) else list(keys2)
        left, right = frame1.df, frame2.df
        # de-collide non-key right columns Spark can't express twice
        for c in right.columns:
            if c in left.columns and c not in k2:
                right = right.withColumnRenamed(c, f"{c}_2")
        cond = None
        for a, b in zip(k1, k2):
            clause = left[a] == right[b]
            cond = clause if cond is None else cond & clause
        return DynamicFrameShim(left.join(right, cond, "inner"), frame1._glue_ctx)


class SelectFields:
    """Glue's SelectFields transform: projection, absent paths ignored."""

    @staticmethod
    def apply(frame: DynamicFrameShim, paths: list[str]) -> DynamicFrameShim:
        return frame.select_fields(paths)


class _DynamicFrameReader:
    def __init__(self, ctx: "GlueCompatContext"):
        self._ctx = ctx

    def from_catalog(
        self,
        database: str,
        table_name: str,
        redshift_tmp_dir: str = "",
        transformation_ctx: str = "",
        additional_options: dict[str, Any] | None = None,
    ) -> DynamicFrameShim:
        """Catalog scan with job-bookmark semantics
        (glue_rds_to_redshift.py:28-31). ``database`` maps to the
        sf_dir; bookmark state keys on transformation_ctx — per-source,
        fixing the reference's shared-ctx collision (Bug B8: all three
        sources reused "datasource0")."""
        opts = additional_options or {}
        df = load_table(self._ctx.spark, self._ctx.sf_dir, table_name)
        keys = opts.get("jobBookmarkKeys")
        if self._ctx.bookmarks is not None and keys:
            order = opts.get("jobBookmarkKeysSortOrder", "asc")
            if order != "asc":
                raise ValueError("only asc bookmark order is supported (as in the reference)")
            ctx_key = transformation_ctx or table_name
            # composite jobBookmarkKeys order lexicographically, exactly
            # Glue's multi-key bookmark semantic
            batch = incremental_read(
                df, keys[0] if len(keys) == 1 else list(keys), self._ctx.bookmarks, ctx_key
            )
            df = batch.df
            with self._ctx._lock:
                self._ctx._pending[ctx_key] = batch
        return DynamicFrameShim(df, self._ctx, table_name)


class _DynamicFrameWriter:
    def __init__(self, ctx: "GlueCompatContext"):
        self._ctx = ctx

    def from_options(
        self,
        frame: DynamicFrameShim,
        connection_type: str = "parquet",
        connection_options: dict[str, Any] | None = None,
    ) -> None:
        """Sink (glue_rds_to_redshift.py:86-92). ``dbtable`` maps to the
        output subdirectory under the context's output_dir; Redshift's
        staging/preactions machinery has no analog on a parquet sink.
        The write replaces the table's directory through ``swap_parquet``,
        so a failed write leaves the previous output in place."""
        opts = connection_options or {}
        table = opts.get("dbtable", frame.name or "output")
        swap_parquet(frame.df, f"{self._ctx.output_dir}/{table}")


class GlueCompatContext:
    """Stand-in for GlueContext over (SparkSession, table dir, output
    dir). Bookmarks persist under ``output_dir/_bookmarks`` when
    enabled — commit explicitly after your sinks succeed."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        output_dir: str,
        job_bookmarks: bool = False,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.output_dir = output_dir
        self.bookmarks = (
            BookmarkStore(f"{output_dir}/_bookmarks.json") if job_bookmarks else None
        )
        self._pending: dict[str, IncrementalBatch] = {}
        self._lock = threading.Lock()
        self.create_dynamic_frame = _DynamicFrameReader(self)
        self.write_dynamic_frame = _DynamicFrameWriter(self)

    def get_logger(self):
        import logging

        return logging.getLogger("glue_compat")

    def commit_bookmarks(self) -> None:
        """The Job.commit() the reference never called (Bug B10): advance
        each source's HWM to the max key observed this run. Call AFTER
        sinks succeed — crash-before-commit reruns the same window into
        an idempotent (overwrite) sink."""
        if self.bookmarks is None:
            return
        with self._lock:
            pending, self._pending = self._pending, {}
        for batch in pending.values():
            batch.commit()
