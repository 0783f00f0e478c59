"""Target contract (``Classes/DataTarget/DataTargetInterface.php:14-29``).

The reference's per-record ``addRecord``/``updateRecord``/``removeRecord``
become one set-oriented ``apply(cdc)``; diffing is engine-level
(:func:`~wwwision_importservice_spark.operators.diff.compute_changes`)
against the target's ``current_state()`` frame.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from wwwision_importservice_spark.plans.result import Result
from wwwision_importservice_spark.plans.schema import OptionsSchema


@dataclass
class ApplyStats:
    """Outcome of one apply run (feeds the reference's progress events
    A1 and the O3 error quarantine)."""

    added: int = 0
    updated: int = 0
    removed: int = 0
    errors: int = 0
    #: UPDATE/DELETE statements that matched zero rows (driver reported
    #: a reliable rowcount shortfall): the record drifted out-of-band
    #: between current_state() and apply() and will re-diff next run
    unmatched: int = 0
    error_samples: list[str] = field(default_factory=list)


class DataTarget(ABC):
    @classmethod
    def options_schema(cls) -> OptionsSchema:
        return OptionsSchema.create().allow_additional_options()

    @classmethod
    def from_options(cls, options: dict[str, Any]) -> "DataTarget":
        cls.options_schema().validate(options)
        return cls(**options)  # type: ignore[call-arg]

    # -- diff input ------------------------------------------------------ #
    @abstractmethod
    def current_state(self, spark: SparkSession) -> DataFrame:
        """The narrow local frame: id column (+ version, + hidden) only —
        mirrors the reference's pruned target-state scan
        (``DbalTarget.php:118-128``)."""

    def release_state(self, spark: SparkSession) -> None:
        """Free what the ``current_state`` frames returned so far hold
        once their user is done with them (no-op by default)."""

    # column names the diff kernel should use on current_state()
    id_column: str = "id"
    version_column: str | None = None
    hidden_column: str | None = None
    id_prefix: str | None = None

    # -- mutation -------------------------------------------------------- #
    @abstractmethod
    def apply(self, spark: SparkSession, cdc: DataFrame) -> ApplyStats:
        """Apply a CDC frame (columns: ``_id``, mapped attribute columns,
        ``change_type``)."""

    @abstractmethod
    def remove_all(self, spark: SparkSession) -> int:
        """W4 — delete everything, return affected count."""

    def finalize(self, spark: SparkSession) -> None:
        """W9 — post-apply commit hook (no-op default like DbalTarget)."""

    def setup(self, spark: SparkSession) -> Result:
        return Result()
