"""Mapper — per-target-column projection with rename and expressions.

Reference: ``Classes/Mapper.php:24-49`` — for each configured
``targetColumn → rule``, emit either the source attribute named ``rule``
(missing attribute → NULL, the lenient default at ``Mapper.php:39-40``)
or the result of evaluating ``rule`` as an Eel expression against
``record`` + target-provided variables.

Here the whole mapping compiles to a **single narrow select** — one
projection node Catalyst folds into the scan (column pruning reaches the
parquet reader), instead of a per-record PHP loop.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wwwision_importservice_spark.errors import ConfigurationError
from wwwision_importservice_spark.functions.eel import is_eel_expression, translate_eel
from wwwision_importservice_spark.operators.diff import CHANGE_TYPE_COL
from wwwision_importservice_spark.record import ID_COL, VERSION_COL

_RECORD_REF = re.compile(r"\brecord\.([A-Za-z_][A-Za-z0-9_]*)")


class Mapper:
    """Compile a ``{target_column: rule}`` mapping to Spark columns."""

    def __init__(self, mapping: dict[str, str], variables: dict[str, str] | None = None):
        for name, rule in mapping.items():
            # Mapping rules have to be strings (Mapper.php:17-21).
            if not isinstance(rule, str):
                raise ConfigurationError(
                    f"Mapping rules have to be strings, got {type(rule).__name__} "
                    f'for mapping "{name}"'
                )
        self.mapping = mapping
        self.variables = variables or {}

    def columns_for(self, df: DataFrame) -> list[Column]:
        cols: list[Column] = []
        for target, rule in self.mapping.items():
            if is_eel_expression(rule):
                try:
                    sql = translate_eel(rule, self.variables)
                    col = F.expr(sql)
                except Exception as exc:  # surface which column failed, like Mapper.php:46-48
                    raise ConfigurationError(
                        f'Failed to map column "{target}": {exc}'
                    ) from exc
            else:
                # attribute passthrough; absent attribute → NULL (Mapper.php:39-40)
                col = F.col(rule) if rule in df.columns else F.lit(None)
            cols.append(col.alias(target))
        return cols

    def required_source_columns(self, df_columns: list[str]) -> list[str]:
        """The source attributes this mapping actually reads.

        Lets the pipeline project BEFORE the keying dedup: the last-wins
        ``max_by(struct(all columns))`` is opaque to Catalyst's column
        pruning (struct-field pruning doesn't reach aggregate buffers),
        so without this pre-projection the scan reads every column even
        when the mapping needs three. Attribute-passthrough rules
        contribute themselves; Eel rules contribute their ``record.x``
        references.
        """
        need: set[str] = set()
        for rule in self.mapping.values():
            if is_eel_expression(rule):
                need.update(_RECORD_REF.findall(rule))
            elif rule in df_columns:
                need.add(rule)
        return [c for c in df_columns if c in need]

    def apply(self, df: DataFrame, keep: list[str] | None = None) -> DataFrame:
        """Project ``df`` to the mapped target columns (K11).

        ``keep`` carries through engine columns (e.g. ``_id``,
        ``change_type``) unmapped.
        """
        extra = [F.col(c) for c in (keep or []) if c in df.columns]
        return df.select(*extra, *self.columns_for(df))

    def apply_changes(self, cdc: DataFrame) -> DataFrame:
        """Map a CDC frame: the engine columns ``_id``, ``_version``,
        ``change_type`` and every ``_local_*`` column carry through
        unmapped, so the sink still sees the diff's verdict."""
        keep = [ID_COL, VERSION_COL, CHANGE_TYPE_COL]
        keep += [c for c in cdc.columns if c.startswith("_local_")]
        return self.apply(cdc, keep=keep)
