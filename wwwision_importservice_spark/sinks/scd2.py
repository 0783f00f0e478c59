"""SCD2 (slowly-changing-dimension type 2) parquet target — full history.

The reference's strongest history story is soft delete (hide, don't
drop — ``ContentRepositoryTarget.php:245-256``); this target extends
W1-W7 to the audit-grade variant a data platform actually wants for
dimension tables: every add/update/remove APPENDS to an immutable-ish
history rather than overwriting, and any past state is reconstructible.

Row schema = target columns + three SCD2 bookkeeping columns:

- ``valid_from``  LONG — the run sequence that produced the row,
- ``valid_to``    LONG, NULL while the row is current — the run
  sequence that superseded/removed it,
- ``is_current``  BOOLEAN — exactly one current row per live id.

Apply semantics per CDC class (one run = one ``run_seq``):

- **add**    → insert ``(valid_from=seq, valid_to=NULL, current)``,
- **update** → close the current row (``valid_to=seq, not current``)
  and insert the new version,
- **remove** → close the current row; nothing inserted — the id simply
  has no current row, so a later re-appearance diffs as a fresh add
  (its history chain keeps the gap, which is the honest record).

``run_seq`` is NOT wall-clock: it defaults to 1 + the highest sequence
in EITHER bookkeeping column (1 for a fresh target; a removal-only run
advances only ``valid_to``) so that replaying the same runs reproduces
byte-identical history — event time belongs in the version
column, bookkeeping in the sequence. Pass ``run_seq`` explicitly to pin
runs to an external ledger (e.g. the pipeline's changelog run ids).

Scale: same snapshot-rewrite trade-off as ``ParquetTarget`` (see its
module header) — but only CURRENT rows of touched ids are rewritten;
closed history is carried over untouched, so the per-run delta is
O(churn + table scan), and the format-swap point for a 100 TB target is
the same (Delta/Iceberg MERGE keeps this class's semantics verbatim).

``current_state`` exposes only current rows, so the engine-level diff
(J1-J7) works against this target unchanged — SCD2 is purely an apply-
side policy, which is exactly the separation the CDC-frame interface
(SURVEY §1.1 ChangeSet mapping) was designed for.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wwwision_importservice_spark.operators.diff import CHANGE_TYPE_COL, ChangeType
from wwwision_importservice_spark.plans.result import Result
from wwwision_importservice_spark.plans.schema import OptionsSchema
from wwwision_importservice_spark.record import ID_COL, VERSION_COL
from wwwision_importservice_spark.session import local_frame
from wwwision_importservice_spark.sinks.base import ApplyStats, DataTarget
from wwwision_importservice_spark.sinks.parquet import swap_snapshot

VALID_FROM_COL = "valid_from"
VALID_TO_COL = "valid_to"
IS_CURRENT_COL = "is_current"


class Scd2ParquetTarget(DataTarget):
    def __init__(
        self,
        path: str,
        id_column: str = "id",
        version_column: str | None = "version",
        id_prefix: str | None = None,
    ) -> None:
        self.path = path
        self.id_column = id_column
        self.version_column = version_column
        self.hidden_column = None  # soft delete is subsumed by history
        self.id_prefix = id_prefix

    @classmethod
    def options_schema(cls) -> OptionsSchema:
        return (
            OptionsSchema.create()
            .requires("path", "string")
            .has("id_column", "string")
            .has("version_column", "string")
            .has("id_prefix", "string")
        )

    # ------------------------------------------------------------------ #
    def exists(self) -> bool:
        return os.path.exists(self.path)

    def read(self, spark: SparkSession) -> DataFrame | None:
        if not self.exists():
            return None
        return spark.read.parquet(self.path)

    def history(self, spark: SparkSession) -> DataFrame:
        """The full history table (every version of every id)."""
        existing = self.read(spark)
        if existing is None:
            cols = f"{self.id_column} string"
            if self.version_column:
                cols += f", {self.version_column} long"
            cols += (
                f", {VALID_FROM_COL} long, {VALID_TO_COL} long,"
                f" {IS_CURRENT_COL} boolean"
            )
            return local_frame(spark, cols)
        return existing

    def as_of(self, spark: SparkSession, seq: int) -> DataFrame:
        """Time travel: the table as it stood AFTER run ``seq`` applied
        (rows valid in the half-open interval [valid_from, valid_to))."""
        h = self.history(spark)
        return h.filter(
            (F.col(VALID_FROM_COL) <= seq)
            & (
                F.col(VALID_TO_COL).isNull()
                | (F.col(VALID_TO_COL) > seq)
            )
        ).drop(VALID_FROM_COL, VALID_TO_COL, IS_CURRENT_COL)

    def current_state(self, spark: SparkSession) -> DataFrame:
        h = self.history(spark)
        keep = [self.id_column]
        if self.version_column and self.version_column in h.columns:
            keep.append(self.version_column)
        return h.filter(F.col(IS_CURRENT_COL)).select(*keep)

    # ------------------------------------------------------------------ #
    def _new_rows(self, cdc: DataFrame, seq: int) -> DataFrame:
        reserved = {ID_COL, VERSION_COL, CHANGE_TYPE_COL, self.id_column,
                    self.version_column}
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
        cols += [F.col(c) for c in attr_cols]
        cols += [
            F.lit(seq).cast("long").alias(VALID_FROM_COL),
            F.lit(None).cast("long").alias(VALID_TO_COL),
            F.lit(True).alias(IS_CURRENT_COL),
        ]
        return cdc.filter(
            F.col(CHANGE_TYPE_COL) != ChangeType.REMOVE
        ).select(*cols)

    def next_run_seq(self, spark: SparkSession) -> int:
        """1 + the highest sequence that ever touched the table — across
        BOTH bookkeeping columns: a removal-only run advances only
        ``valid_to`` (it closes rows without inserting), so looking at
        ``valid_from`` alone would hand the next run the same sequence
        number, gluing a later re-add flush against the closure and
        destroying the removal gap / ``as_of`` reconstruction."""
        existing = self.read(spark)
        if existing is None:
            return 1
        row = existing.agg(
            F.greatest(
                F.coalesce(F.max(VALID_FROM_COL), F.lit(0)),
                F.coalesce(F.max(VALID_TO_COL), F.lit(0)),
            ).alias("m")
        ).collect()[0]
        return int(row["m"] or 0) + 1

    def apply(
        self, spark: SparkSession, cdc: DataFrame, run_seq: int | None = None
    ) -> ApplyStats:
        cdc = cdc.cache()
        try:
            counts = {
                r[CHANGE_TYPE_COL]: r["n"]
                for r in cdc.groupBy(CHANGE_TYPE_COL)
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            stats = ApplyStats(
                added=counts.get(ChangeType.ADD, 0),
                updated=counts.get(ChangeType.UPDATE, 0),
                removed=counts.get(ChangeType.REMOVE, 0),
            )
            seq = run_seq if run_seq is not None else self.next_run_seq(spark)

            closing_ids = cdc.filter(
                F.col(CHANGE_TYPE_COL) != ChangeType.ADD
            ).select(F.col(ID_COL))
            if self.id_prefix:
                closing_ids = closing_ids.select(
                    F.concat(F.lit(self.id_prefix), F.col(ID_COL)).alias(ID_COL)
                )

            new_rows = self._new_rows(cdc, seq)
            existing = self.read(spark)
            if existing is not None:
                closed = (
                    existing.join(
                        closing_ids.withColumnRenamed(ID_COL, "__close_id"),
                        (existing[self.id_column] == F.col("__close_id"))
                        & existing[IS_CURRENT_COL],
                        "left",
                    )
                    .withColumn(
                        VALID_TO_COL,
                        F.when(
                            F.col("__close_id").isNotNull(), F.lit(seq).cast("long")
                        ).otherwise(F.col(VALID_TO_COL)),
                    )
                    .withColumn(
                        IS_CURRENT_COL,
                        F.when(
                            F.col("__close_id").isNotNull(), F.lit(False)
                        ).otherwise(F.col(IS_CURRENT_COL)),
                    )
                    .drop("__close_id")
                )
                new_state = closed.unionByName(
                    new_rows, allowMissingColumns=True
                )
            else:
                new_state = new_rows
            self._write_snapshot(new_state)
            return stats
        finally:
            cdc.unpersist()

    def _write_snapshot(self, df: DataFrame) -> None:
        swap_snapshot(df, self.path)

    def remove_all(self, spark: SparkSession) -> int:
        """W4 in SCD2: close every current row (history is the point —
        a prune that erased it would defeat the target's contract; to
        truly drop the table, delete the directory)."""
        existing = self.read(spark)
        if existing is None:
            return 0
        seq = self.next_run_seq(spark)
        current = F.col(IS_CURRENT_COL)
        count = existing.filter(current).count()
        if count:
            self._write_snapshot(
                existing.withColumn(
                    VALID_TO_COL,
                    F.when(current, F.lit(seq).cast("long")).otherwise(
                        F.col(VALID_TO_COL)
                    ),
                ).withColumn(
                    IS_CURRENT_COL, F.when(current, F.lit(False)).otherwise(current)
                )
            )
        return count

    def setup(self, spark: SparkSession) -> Result:
        result = Result()
        parent = os.path.dirname(self.path.rstrip("/")) or "."
        if not os.path.isdir(parent):
            result.add_error(f'Parent directory "{parent}" does not exist')
        elif self.exists():
            result.add_notice(f'SCD2 target "{self.path}" exists')
        else:
            result.add_notice(
                f'SCD2 target "{self.path}" will be created on first run'
            )
        return result
