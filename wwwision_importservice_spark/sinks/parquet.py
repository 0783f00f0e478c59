"""Parquet-snapshot target — the pure-Spark MERGE emulation.

No reference counterpart (the reference writes to SQL tables / CR nodes);
this is the idiomatic Spark sink for file-based targets: the new table
state is computed as anti-join + union (the classic MERGE emulation when
no Delta/Iceberg jars are available) and written as a fresh snapshot to
the sibling ``<path>.staging``, then swapped in by
:func:`fsutil.replace_dir`. A crash between its two renames leaves the
previous snapshot in the hidden backup ``.<name>__replaced``; every
read calls :func:`fsutil.recover_dir` first, so the retried run diffs
against the previous snapshot, never against an empty target.

Semantics parity:
- hard delete drops removed rows (W3);
- ``soft_delete=True`` keeps them with ``hidden = true`` (W7,
  ``ContentRepositoryTarget.php:245-256``);
- updates overwrite matched rows and **un-hide** them (W6,
  ``ContentRepositoryTarget.php:199``);
- the target's version column is refreshed from the source's ``_version``.

Scale: snapshot-rewrite is O(table) per run — fine for dimension-sized
targets; a 100 TB target wants a transactional format (Delta MERGE with
file skipping). The CDC-frame interface is format-agnostic, so swapping
the writer for ``DeltaTable.merge`` is localized here.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wwwision_importservice_spark import fsutil
from wwwision_importservice_spark.operators.diff import CHANGE_TYPE_COL, ChangeType
from wwwision_importservice_spark.plans.result import Result
from wwwision_importservice_spark.plans.schema import OptionsSchema
from wwwision_importservice_spark.record import ID_COL, VERSION_COL
from wwwision_importservice_spark.session import local_frame
from wwwision_importservice_spark.sinks.base import ApplyStats, DataTarget


class SnapshotTarget(DataTarget):
    """A target stored as one parquet snapshot directory at ``path``,
    rewritten whole by every apply (parquet, SCD2)."""

    path: str
    #: how ``setup`` names the target in its notices
    label: str

    def exists(self) -> bool:
        return self._present(SparkSession.active())

    def _present(self, spark: SparkSession) -> bool:
        # restore a swap a crash interrupted before probing, so that
        # snapshot never reads as "never written"
        fsutil.recover_dir(spark, self.path)
        return fsutil.path_exists(spark, self.path)

    def setup(self, spark: SparkSession) -> Result:
        result = Result()
        head, sep, _ = self.path.rstrip("/").rpartition("/")
        parent = head or sep or "."
        if not fsutil.path_exists(spark, parent):
            result.add_error(f'Parent directory "{parent}" does not exist')
        elif self._present(spark):
            result.add_notice(f'{self.label} "{self.path}" exists')
        else:
            result.add_notice(f'{self.label} "{self.path}" will be created on first run')
        return result

    def read(self, spark: SparkSession) -> DataFrame | None:
        if not self._present(spark):
            return None
        return spark.read.parquet(self.path)

    def _write_snapshot(self, df: DataFrame) -> None:
        staging = self.path.rstrip("/") + ".staging"
        df.write.mode("overwrite").parquet(staging)
        fsutil.replace_dir(df.sparkSession, staging, self.path)


class ParquetTarget(SnapshotTarget):
    label = "Target table"

    def __init__(
        self,
        path: str,
        id_column: str = "id",
        version_column: str | None = "version",
        hidden_column: str | None = None,
        soft_delete: bool = False,
        id_prefix: str | None = None,
    ) -> None:
        self.path = path
        self.id_column = id_column
        self.version_column = version_column
        # soft delete implies a hidden flag column
        self.hidden_column = hidden_column or ("hidden" if soft_delete else None)
        self.soft_delete = soft_delete
        self.id_prefix = id_prefix

    @classmethod
    def options_schema(cls) -> OptionsSchema:
        return (
            OptionsSchema.create()
            .requires("path", "string")
            .has("id_column", "string")
            .has("version_column", "string")
            .has("hidden_column", "string")
            .has("soft_delete", "boolean")
            .has("id_prefix", "string")
        )

    # ------------------------------------------------------------------ #
    def current_state(self, spark: SparkSession) -> DataFrame:
        existing = self.read(spark)
        if existing is None:
            cols = f"{self.id_column} string"
            if self.version_column:
                cols += f", {self.version_column} long"
            if self.hidden_column:
                cols += f", {self.hidden_column} boolean"
            return local_frame(spark, cols)
        keep = [self.id_column]
        if self.version_column and self.version_column in existing.columns:
            keep.append(self.version_column)
        if self.hidden_column and self.hidden_column in existing.columns:
            keep.append(self.hidden_column)
        return existing.select(*keep)

    # ------------------------------------------------------------------ #
    def _target_row(self, cdc: DataFrame, hidden: bool = False) -> DataFrame:
        """Project a CDC slice to the target schema (id/version/hidden +
        mapped attribute columns)."""
        reserved = {ID_COL, VERSION_COL, CHANGE_TYPE_COL, self.id_column,
                    self.version_column, self.hidden_column}
        attr_cols = [
            c
            for c in cdc.columns
            if c not in reserved and not c.startswith("_local_")
        ]
        write_id = F.col(ID_COL)
        if self.id_prefix:
            write_id = F.concat(F.lit(self.id_prefix), write_id)
        cols = [write_id.alias(self.id_column)]
        if self.version_column:
            src_ver = (
                F.col(VERSION_COL) if VERSION_COL in cdc.columns else F.lit(None)
            )
            cols.append(src_ver.cast("long").alias(self.version_column))
        if self.hidden_column:
            cols.append(F.lit(hidden).alias(self.hidden_column))
        cols += [F.col(c) for c in attr_cols]
        return cdc.select(*cols)

    def apply(self, spark: SparkSession, cdc: DataFrame) -> ApplyStats:
        cdc = cdc.cache()
        adds = cdc.filter(F.col(CHANGE_TYPE_COL) == ChangeType.ADD)
        updates = cdc.filter(F.col(CHANGE_TYPE_COL) == ChangeType.UPDATE)
        removes = cdc.filter(F.col(CHANGE_TYPE_COL) == ChangeType.REMOVE)

        stats = ApplyStats(
            added=adds.count(), updated=updates.count(), removed=removes.count()
        )

        existing = self.read(spark)
        touched_ids = (
            cdc.filter(F.col(CHANGE_TYPE_COL) != ChangeType.REMOVE)
            .select(F.col(ID_COL))
        )
        removed_ids = removes.select(F.col(ID_COL))
        if self.id_prefix:
            touched_ids = touched_ids.select(
                F.concat(F.lit(self.id_prefix), F.col(ID_COL)).alias(ID_COL)
            )
            removed_ids = removed_ids.select(
                F.concat(F.lit(self.id_prefix), F.col(ID_COL)).alias(ID_COL)
            )

        new_rows = self._target_row(adds).unionByName(self._target_row(updates))

        if existing is not None:
            # untouched rows carry over; matched rows are replaced (MERGE
            # WHEN MATCHED THEN UPDATE emulation via anti-join + union)
            untouched = existing.join(
                touched_ids, existing[self.id_column] == touched_ids[ID_COL], "left_anti"
            )
            if self.soft_delete and self.hidden_column:
                # W7: removal hides instead of deleting
                marked = (
                    untouched.join(
                        removed_ids.withColumnRenamed(ID_COL, "__rm_id"),
                        untouched[self.id_column] == F.col("__rm_id"),
                        "left",
                    )
                    .withColumn(
                        self.hidden_column,
                        F.when(F.col("__rm_id").isNotNull(), F.lit(True)).otherwise(
                            F.coalesce(F.col(self.hidden_column), F.lit(False))
                        ),
                    )
                    .drop("__rm_id")
                )
                untouched = marked
            else:
                untouched = untouched.join(
                    removed_ids.withColumnRenamed(ID_COL, "__rm_id"),
                    untouched[self.id_column] == F.col("__rm_id"),
                    "left_anti",
                )
            new_state = untouched.unionByName(new_rows, allowMissingColumns=True)
        else:
            new_state = new_rows

        self._write_snapshot(new_state)
        cdc.unpersist()
        return stats

    def remove_all(self, spark: SparkSession) -> int:
        existing = self.read(spark)
        if existing is None:
            return 0
        count = existing.count()
        fsutil.delete_dir(spark, self.path)
        return count

    def compact(
        self, spark: SparkSession, target_file_bytes: int = 128 * 1024 * 1024
    ) -> int:
        """Bin-pack the snapshot into ~``target_file_bytes`` files,
        range-clustered on the id column, and swap it in. Returns the
        resulting file count.

        Why it exists: every sync rewrites the snapshot with however
        many partitions the diff produced — after many small incremental
        syncs the table is a pile of KB-files, and scan planning starts
        to cost more than scanning (the classic small-files problem).
        ``repartitionByRange`` on the key both sizes the files and
        clusters ids, so point lookups and the diff join's sort both
        read fewer row groups. File count derives from the CURRENT
        on-disk bytes — no sampling job.
        """
        existing = self.read(spark)
        if existing is None:
            return 0
        total_bytes = fsutil.data_bytes(spark, self.path)
        n_files = max(1, -(-total_bytes // target_file_bytes))  # ceil
        self._write_snapshot(
            existing.repartitionByRange(n_files, F.col(self.id_column))
        )
        return len(fsutil.list_data_files(spark, self.path))
