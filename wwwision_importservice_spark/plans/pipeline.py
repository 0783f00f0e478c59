"""The pipeline runner — ``ImportService`` re-expressed over DataFrames.

Reference: ``Classes/ImportService.php:71-88`` — load → preComputeChanges
→ diff → preImportData → skip guards → add → update → remove → finalize,
with a 13-event callback bus (``:17-31``) and per-record error isolation
(``:140-150``).

Spark shape: the whole run is ONE lazy DataFrame DAG; jobs trigger at the
guard counts and the sink write. Per-record events become per-phase
events carrying counts (per-item callbacks would force row-at-a-time
execution — the exact anti-pattern this engine replaces); the O3 error
quarantine lives in the sink writers and surfaces through
``ApplyStats.errors`` + the ``error`` event.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from wwwision_importservice_spark import fsutil
from wwwision_importservice_spark.errors import ImportServiceError
from wwwision_importservice_spark.operators.diff import (
    CHANGE_TYPE_COL,
    ChangeType,
    changeset_counts,
    compute_changes,
)
from wwwision_importservice_spark.plans.preset import Preset
from wwwision_importservice_spark.plans.result import Result


class Events:
    """Event names (``ImportService.php:17-31``)."""

    ERROR = "error"
    PRE_COMPUTE_CHANGES = "preComputeChanges"
    PRE_IMPORT_DATA = "preImportData"
    PRE_ADD_DATA = "preAddData"
    ADD_DATA = "addData"
    POST_ADD_DATA = "postAddData"
    PRE_UPDATE_DATA = "preUpdateData"
    UPDATE_DATA = "updateData"
    POST_UPDATE_DATA = "postUpdateData"
    PRE_REMOVE_DATA = "preRemoveData"
    REMOVE_DATA = "removeData"
    POST_REMOVE_DATA = "postRemoveData"


def replay_changelog(
    spark: SparkSession,
    target,
    changelog_dir: str,
    runs: list[str] | None = None,
) -> dict[str, int]:
    """Apply a changelog's run directories to a target, in order — the
    consumer half of the CDC feed contract: a replica built purely from
    the changelog reproduces the primary's state (pinned by
    ``test_changelog_replay_reproduces_target``).

    ``runs=None`` discovers ``run_id=*`` directories and applies them in
    LEXICOGRAPHIC order — use sortable run ids (zero-padded sequence
    numbers or ISO timestamps) or pass the order explicitly. Staging
    directories and swap backups (``.staging_run_id=*`` /
    ``.run_id=*__replaced``) are hidden and never replayed — only
    committed runs exist under ``run_id=``.
    """
    if runs is None:
        if not fsutil.path_exists(spark, changelog_dir):
            raise ImportServiceError(
                f'Changelog directory "{changelog_dir}" does not exist'
            )
        runs = sorted(
            n.split("=", 1)[1]
            for n in fsutil.list_child_dirs(spark, changelog_dir)
            if n.startswith("run_id=")
        )
    totals = {"added": 0, "updated": 0, "removed": 0, "errors": 0, "runs": 0}
    base = changelog_dir.rstrip("/")
    for run in runs:
        cdc = spark.read.parquet(f"{base}/run_id={run}")
        stats = target.apply(spark, cdc)
        totals["added"] += stats.added
        totals["updated"] += stats.updated
        totals["removed"] += stats.removed
        totals["errors"] += stats.errors
        totals["runs"] += 1
    return totals


class ImportPipeline:
    def __init__(self, preset: Preset, spark: SparkSession) -> None:
        self.preset = preset
        self.spark = spark
        self._callbacks: dict[str, list[Callable[..., Any]]] = {}

    # -- events (ImportService::on / dispatch) --------------------------- #
    def on(self, event: str, callback: Callable[..., Any]) -> None:
        self._callbacks.setdefault(event, []).append(callback)

    def _dispatch(self, event: str, *args: Any) -> None:
        for cb in self._callbacks.get(event, []):
            cb(*args)

    # -- the run (ImportService::importData) ----------------------------- #
    def compute_changes(self, force_updates: bool = False) -> DataFrame:
        """Extract + key + process + diff → CDC frame (lazy): one
        full-outer join of the keyed records against the target's
        current keyset (``operators/diff.py``). The frame reads the
        target's ``current_state``; call ``target.release_state`` once
        done with it (``run`` and ``explain`` do)."""
        records = self.preset.load(self.spark)
        if self.preset.quality_checks:
            # data-quality preflight (operators/quality_checks.py): the
            # whole declared suite is ONE aggregate job over the keyed
            # frame; any failed constraint aborts before the diff ever
            # plans, with every violation named in the error
            from wwwision_importservice_spark.operators.quality_checks import (
                assert_checks,
            )

            try:
                assert_checks(records.df, self.preset.quality_checks)
            except ValueError as exc:
                raise ImportServiceError(str(exc)) from exc
        self._dispatch(Events.PRE_COMPUTE_CHANGES, records)
        target = self.preset.target
        state = target.current_state(self.spark)
        try:
            return compute_changes(
                records.df,
                state,
                force_updates=force_updates,
                skip_added=self.preset.skip_added,
                skip_removed=self.preset.skip_removed,
                local_id_col=target.id_column,
                local_version_col=target.version_column,
                local_hidden_col=target.hidden_column,
                id_prefix=target.id_prefix,
            )
        except BaseException:
            target.release_state(self.spark)
            raise

    def explain(self, force_updates: bool = False) -> str:
        """Formatted physical plan of the diff, without executing it —
        the preflight a pipeline operator reads before pointing a new
        preset at a 100 TB target (are the scans pruned? which side
        shuffles?)."""
        cdc = self._apply_mapping(self.compute_changes(force_updates))
        mode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        try:
            return cdc._jdf.queryExecution().explainString(mode)
        finally:
            self.preset.target.release_state(self.spark)

    def run(
        self,
        force_updates: bool = False,
        changelog_dir: str | None = None,
        run_id: str | None = None,
    ) -> dict[str, int]:
        """Execute the sync; ``changelog_dir`` additionally persists the
        mapped CDC frame as parquet under ``<dir>/run_id=<id>/``
        partitioned by change_type — the audit/incremental-consumer feed
        (Delta CDF shape) downstream jobs read instead of re-diffing.

        Changelog consistency contract: the CDC frame is STAGED to the
        hidden sibling ``.staging_run_id=<id>/`` before ``target.apply``
        (it must be materialized pre-apply — its lineage reads the
        target's current state, which apply rewrites) and COMMITTED to
        ``run_id=<id>/`` by :func:`fsutil.replace_dir` only after apply
        succeeds; a failed apply deletes the staging. A failed sync
        leaves no changelog entries to replay-diverge from the primary,
        and re-running a run id replaces its directory — idempotent,
        never append-duplicating CDC rows. A crash inside the commit
        leaves the previous ``run_id=<id>/`` in the hidden backup
        ``.run_id=<id>__replaced``, which the next commit of that run id
        restores before it swaps. The target swap and this commit are
        two swaps: a crash between them leaves the run applied with no
        changelog entry. Records quarantined by the sink
        (``ApplyStats.errors``) still appear in the changelog: it
        documents the computed change set, not per-record sink
        outcomes."""
        cdc = self.compute_changes(force_updates).cache()
        try:
            self._dispatch(Events.PRE_IMPORT_DATA, cdc)

            counts = {
                row[CHANGE_TYPE_COL]: row["n"]
                for row in changeset_counts(cdc).collect()
            }
            added = counts.get(ChangeType.ADD, 0)
            updated = counts.get(ChangeType.UPDATE, 0)
            removed = counts.get(ChangeType.REMOVE, 0)

            # Skip guards (ImportService.php:77-82): with a conforming
            # target these can't fire (compute_changes already suppressed
            # the branches); they protect against targets that ignore the
            # flags.
            if self.preset.skip_added and added:
                raise ImportServiceError(
                    "This preset is configured to skip added records, but the "
                    "data target returned new records. Check your configuration "
                    "and consider executing migrations"
                )
            if self.preset.skip_removed and removed:
                raise ImportServiceError(
                    "This preset is configured to skip removed records, but the "
                    "data target returned removed records. Check your "
                    "configuration and consider executing migrations"
                )

            mapped = self._apply_mapping(cdc)

            # stage the changelog BEFORE apply (see docstring contract)
            staging = run_dir = None
            if changelog_dir is not None:
                base = changelog_dir.rstrip("/")
                sub = f"run_id={run_id}" if run_id else "run_id=unlabeled"
                run_dir = f"{base}/{sub}"
                staging = f"{base}/.staging_{sub}"
                if sum(counts.values()):
                    (
                        mapped.write.partitionBy(CHANGE_TYPE_COL)
                        .mode("overwrite")
                        .parquet(staging)
                    )
                else:
                    # an all-noop run writes an EMPTY frame: partitionBy
                    # would emit no part files (directory unreadable —
                    # no schema to infer). Write the empty frame into an
                    # explicit hive-style partition dir instead, so the
                    # leaf-file DEPTH stays uniform with partitioned
                    # runs and a consumer reading the changelog ROOT
                    # (partition discovery over run_id=/change_type=)
                    # never sees conflicting directory structures. That
                    # write replaces only its own partition, so first
                    # drop any staging a crashed run left behind.
                    fsutil.delete_dir(self.spark, staging)
                    (
                        mapped.drop(CHANGE_TYPE_COL)
                        .write.mode("overwrite")
                        .parquet(f"{staging}/{CHANGE_TYPE_COL}=__none__")
                    )

            if added:
                self._dispatch(Events.PRE_ADD_DATA, added)
            if updated:
                self._dispatch(Events.PRE_UPDATE_DATA, updated, force_updates)
            if removed:
                self._dispatch(Events.PRE_REMOVE_DATA, removed)

            try:
                stats = self.preset.target.apply(self.spark, mapped)
            except BaseException:
                if staging is not None:
                    fsutil.delete_dir(self.spark, staging)
                raise

            if staging is not None:
                fsutil.replace_dir(self.spark, staging, run_dir)

            if stats.errors:
                self._dispatch(
                    Events.ERROR,
                    f"{stats.errors} record(s) failed to apply and were quarantined",
                )
            if added:
                self._dispatch(Events.POST_ADD_DATA)
            if updated:
                self._dispatch(Events.POST_UPDATE_DATA)
            if removed:
                self._dispatch(Events.POST_REMOVE_DATA)

            self.preset.target.finalize(self.spark)
            return {
                "added": stats.added,
                "updated": stats.updated,
                "removed": stats.removed,
                "errors": stats.errors,
            }
        finally:
            cdc.unpersist()
            self.preset.target.release_state(self.spark)

    def _apply_mapping(self, cdc: DataFrame) -> DataFrame:
        """K11 at the set level: map attribute columns, carry engine columns."""
        mapper = self.preset.mapper
        if mapper is None:
            return cdc
        return mapper.apply_changes(cdc)

    # -- prune (ImportService::removeAllData) ---------------------------- #
    def remove_all(self) -> int:
        if self.preset.skip_added or self.preset.skip_removed:
            raise ImportServiceError(
                "This preset is configured to skip added/removed records, so "
                "no local records must be removed."
            )
        try:
            return self.preset.target.remove_all(self.spark)
        except ImportServiceError:
            raise
        except Exception as exc:
            raise ImportServiceError(
                f"Exception while removing all local records: {exc}"
            ) from exc

    # -- setup (ImportService::setup) ------------------------------------ #
    def setup(self) -> Result:
        result = Result()
        result.merge(self.preset.source.setup(self.spark))
        result.merge(self.preset.target.setup(self.spark))
        return result
