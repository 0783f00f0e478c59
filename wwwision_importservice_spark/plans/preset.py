"""Preset: a named pipeline configuration, and its registry/factory.

Reference: ``Classes/Preset.php:16-24`` — a preset bundles
``(dataSource, dataTarget, options)`` where options are
``skipAddedRecords``/``skipRemovedRecords``/``dataProcessor``; presets
come from settings with an optional ``template`` deep-merged *under* the
preset (preset wins, ``Classes/Factory/ImportServiceFactory.php:55-68``);
source/target are built via a factory-class lookup with options
validation (``Classes/Factory/PresetFactory.php:27-93``).

Config shape (YAML or dict)::

    presets:
      users:
        template: base            # optional, deep-merged under (preset wins)
        source:
          type: file              # file | http | jdbc | callable | registered
          id_attribute: id        # K1 keying config
          version_attribute: version
          options: {path: /data/users.json, format: json}
        target:
          type: parquet           # parquet | dbapi | jdbc | registered
          options: {path: /data/target, id_column: id, version_column: version}
        mapping:                  # K11; omit = pass-through
          given_name: firstName
          price_gross: "${record.priceNet + record.vat}"
        options:
          skipAddedRecords: false
          skipRemovedRecords: false
          dataProcessor: my_processor   # registered name or dotted path
    presetTemplates:
      base: {...}
"""

from __future__ import annotations

import importlib
import warnings
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wwwision_importservice_spark.errors import ConfigurationError
from wwwision_importservice_spark.mapping import Mapper
from wwwision_importservice_spark.operators.quality_checks import (
    from_config as quality_checks_from_config,
)
from wwwision_importservice_spark.plans.schema import OptionsSchema
from wwwision_importservice_spark.record import RecordFrame
from wwwision_importservice_spark.sinks import TARGET_TYPES
from wwwision_importservice_spark.sinks.base import DataTarget
from wwwision_importservice_spark.sources import SOURCE_TYPES
from wwwision_importservice_spark.sources.base import DataSource
from wwwision_importservice_spark.sources.file import FileSource

# dataProcessor registry — the reference's 'Class::method' callable strings
# (Resources/.../Settings.schema.yaml:18-20) become registered names or
# dotted import paths resolving to DataFrame → DataFrame callables.
_PROCESSORS: dict[str, Callable[[DataFrame], DataFrame]] = {}


def register_processor(name: str, fn: Callable[[DataFrame], DataFrame]) -> None:
    _PROCESSORS[name] = fn


def resolve_processor(ref: str | Callable) -> Callable[[DataFrame], DataFrame]:
    if callable(ref):
        return ref
    if ref in _PROCESSORS:
        return _PROCESSORS[ref]
    if "." in ref:
        module_name, _, attr = ref.rpartition(".")
        try:
            return getattr(importlib.import_module(module_name), attr)
        except (ImportError, AttributeError) as exc:
            raise ConfigurationError(f'Cannot resolve dataProcessor "{ref}": {exc}') from exc
    raise ConfigurationError(f'Unknown dataProcessor "{ref}"')


# Preset-level options schema (PresetFactory.php:87-91)
_PRESET_OPTIONS = (
    OptionsSchema.create()
    .has("skipAddedRecords", "boolean")
    .has("skipRemovedRecords", "boolean")
    .has("dataProcessor", "callable")
    .has("qualityChecks", "array")
    # Ignored since the diff has one plan (one full-outer join); still
    # type-checked so old preset files keep loading, with a warning.
    .has("forceBroadcastState", "boolean")
    .has("diffStrategy", "string")
    .has("autoBroadcastRows", "integer")
)
_IGNORED_OPTIONS = ("forceBroadcastState", "diffStrategy", "autoBroadcastRows")


@dataclass
class Preset:
    """An executable pipeline spec (source → keying → processor → diff →
    mapping → target)."""

    name: str
    source: DataSource
    target: DataTarget
    id_attribute: str
    version_attribute: str | None = None
    order_attribute: str | None = None
    mapper: Mapper | None = None
    skip_added: bool = False
    skip_removed: bool = False
    data_processor: Callable[[DataFrame], DataFrame] | None = None
    # Declarative data-quality preflight (operators/quality_checks.py):
    # evaluated over the keyed record frame (source attribute names plus
    # _id/_version) before the diff; any failed constraint aborts the
    # run with every violation named — one extra aggregate job per sync
    quality_checks: list | None = None

    def load(self, spark: SparkSession) -> RecordFrame:
        """Extract + key + process (``Preset::load``, ``Preset.php:41-52``)."""
        raw = self.source.load(spark)
        if self.mapper is not None and self.data_processor is None:
            # Mapping-aware pruning: project to the columns the mapping
            # reads (plus keying config) BEFORE the dedup aggregate —
            # max_by's struct buffer is opaque to Catalyst pruning, so
            # this projection is what reaches the scan. Skipped when a
            # dataProcessor exists (it may read any column).
            keep = set(self.mapper.required_source_columns(raw.columns))
            for col in (self.id_attribute, self.version_attribute, self.order_attribute):
                if col:
                    keep.add(col)
            pruned = [c for c in raw.columns if c in keep]
            if len(pruned) < len(raw.columns):
                raw = raw.select(*pruned)
        order = F.col(self.order_attribute) if self.order_attribute else None
        rf = RecordFrame.from_raw(
            raw,
            id_attribute=self.id_attribute,
            version_attribute=self.version_attribute,
            order_by=order,
        )
        if self.data_processor is not None:
            rf = rf.map(self.data_processor)
        return rf


def deep_merge(base: dict, override: dict) -> dict:
    """Template merge — override (the preset) wins
    (``ImportServiceFactory.php:61-66`` uses Flow's positivelist merge)."""
    out = dict(base)
    for key, value in override.items():
        if isinstance(value, dict) and isinstance(out.get(key), dict):
            out[key] = deep_merge(out[key], value)
        else:
            out[key] = value
    return out


class PresetRegistry:
    """Named presets + templates, built from a dict or YAML file."""

    def __init__(self, config: dict[str, Any]) -> None:
        self.presets: dict[str, dict] = dict(config.get("presets", {}))
        self.templates: dict[str, dict] = dict(config.get("presetTemplates", {}))

    @classmethod
    def from_yaml(cls, path: str) -> "PresetRegistry":
        import yaml

        with open(path) as fh:
            return cls(yaml.safe_load(fh) or {})

    def preset_names(self) -> list[str]:
        return sorted(self.presets)

    def preset_configuration(self, name: str) -> dict:
        """Resolved (template-merged) raw config — also what the CLI's
        ``preset`` command dumps (``ImportCommandController.php:122-149``)."""
        if name not in self.presets:
            raise ConfigurationError(
                f'Preset "{name}" is not configured. Configured presets: '
                f"{', '.join(self.preset_names()) or '(none)'}"
            )
        cfg = self.presets[name]
        template_name = cfg.get("template")
        if template_name:
            if template_name not in self.templates:
                raise ConfigurationError(
                    f'Preset "{name}" refers to unknown template "{template_name}"'
                )
            cfg = deep_merge(self.templates[template_name], cfg)
            cfg.pop("template", None)
        return cfg

    def build(
        self,
        name: str,
        source_option_overrides: dict | None = None,
        target_option_overrides: dict | None = None,
        from_fixture: bool = False,
    ) -> Preset:
        """PresetFactory::create — type lookup, option merge + validation.

        ``from_fixture`` swaps the configured source for a local FileSource
        at ``source.fixture`` (S6, ``ImportServiceFactory.php:36-48``);
        mutually exclusive with source-option overrides (``:48-50``).
        """
        cfg = self.preset_configuration(name)
        if from_fixture and source_option_overrides:
            raise ConfigurationError(
                "fixture mode and source option overrides are mutually exclusive"
            )

        source_cfg = cfg.get("source") or {}
        target_cfg = cfg.get("target") or {}
        if from_fixture:
            fixture = source_cfg.get("fixture")
            if not fixture:
                raise ConfigurationError(
                    f'Preset "{name}" has no source.fixture configuration'
                )
            source: DataSource = FileSource.from_options(dict(fixture))
        else:
            source = self._build_source(source_cfg, source_option_overrides)
        target = self._build_target(target_cfg, target_option_overrides)

        mapping = cfg.get("mapping")
        mapper = Mapper(mapping) if mapping else None

        options = dict(cfg.get("options") or {})
        _PRESET_OPTIONS.validate(options)
        processor_ref = options.get("dataProcessor")
        processor = resolve_processor(processor_ref) if processor_ref else None

        ignored = [key for key in _IGNORED_OPTIONS if key in options]
        if ignored:
            warnings.warn(
                f'Preset "{name}": option(s) {", ".join(ignored)} ignored — '
                "the diff always uses one full-outer join",
                stacklevel=2,
            )

        return Preset(
            name=name,
            source=source,
            target=target,
            id_attribute=source_cfg.get("id_attribute", "id"),
            version_attribute=source_cfg.get("version_attribute"),
            order_attribute=source_cfg.get("order_attribute"),
            mapper=mapper,
            skip_added=bool(options.get("skipAddedRecords", False)),
            skip_removed=bool(options.get("skipRemovedRecords", False)),
            data_processor=processor,
            quality_checks=(
                quality_checks_from_config(options["qualityChecks"])
                if options.get("qualityChecks")
                else None
            ),
        )

    @staticmethod
    def _build_source(cfg: dict, overrides: dict | None) -> DataSource:
        type_name = cfg.get("type")
        if not type_name or type_name not in SOURCE_TYPES:
            raise ConfigurationError(
                f'Unknown source type "{type_name}"; registered: '
                f"{sorted(SOURCE_TYPES)}"
            )
        options = deep_merge(cfg.get("options") or {}, overrides or {})
        return SOURCE_TYPES[type_name].from_options(options)

    @staticmethod
    def _build_target(cfg: dict, overrides: dict | None) -> DataTarget:
        type_name = cfg.get("type")
        if not type_name or type_name not in TARGET_TYPES:
            raise ConfigurationError(
                f'Unknown target type "{type_name}"; registered: '
                f"{sorted(TARGET_TYPES)}"
            )
        options = deep_merge(cfg.get("options") or {}, overrides or {})
        target_cls = TARGET_TYPES[type_name]
        if isinstance(options.get("connection_factory"), str):
            # dotted-path factories for config files
            options["connection_factory"] = resolve_processor(
                options["connection_factory"]
            )
        return target_cls.from_options(options)
