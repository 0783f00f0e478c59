"""Streaming diff-sync: each micro-batch = one import run.

The reference's whole lifecycle (``Classes/ImportService.php:71-88``:
extract → key → process → diff → apply) re-runs per micro-batch via
``foreachBatch``. The batch kernel is reused verbatim — ``foreachBatch``
hands us a plain batch DataFrame, so :func:`compute_changes` and the
sink writers apply unchanged.

Semantics note (this is where streaming differs from batch sync): a
micro-batch usually carries only *new* records, not the full source
set, so removed-detection (local ∖ batch) would treat every record
absent from the batch as deleted. ``skip_removed`` therefore defaults
to ``True``; pass ``skip_removed=False`` only when each batch is a full
snapshot of the source (e.g. a periodic full-feed drop directory).

Scale notes: target state is re-read per batch — correct (another
writer may have touched the target between batches) but at very high
batch rates a cached state frame refreshed on a period is the cheaper
choice; pass ``state_provider`` (a ``spark → DataFrame`` callable, e.g.
one returning a periodically-refreshed cached frame) to swap that in.
Checkpointing is the caller's standard Spark concern
(``option("checkpointLocation", …)``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql.streaming import DataStreamWriter

from wwwision_importservice_spark.mapping import Mapper
from wwwision_importservice_spark.operators.diff import compute_changes
from wwwision_importservice_spark.record import RecordFrame
from wwwision_importservice_spark.sinks.base import DataTarget


def stream_sync(
    stream_df: DataFrame,
    target: DataTarget,
    *,
    id_attribute: str,
    version_attribute: str | None = None,
    order_by: str | Column | None = None,
    processor: Callable[[DataFrame], DataFrame] | None = None,
    mapper: Mapper | None = None,
    force_updates: bool = False,
    skip_added: bool = False,
    skip_removed: bool = True,
    broadcast_batch: bool = True,
    state_provider: Callable[..., DataFrame] | None = None,
    on_batch: Callable[[int, dict[str, int]], None] | None = None,
    quality_checks: list | None = None,
    on_quality_failure: str = "fail",
) -> DataStreamWriter:
    """Wire a streaming source to a sync target; returns the
    ``DataStreamWriter`` (caller sets trigger/checkpoint and ``start()``\\s).

    Per micro-batch: key by ``id_attribute`` (K1 last-wins dedup within
    the batch), optional ``processor`` (M2), diff against the target's
    current state (J1-J5), optional ``mapper`` (K11/M1), apply (W1-W8).
    ``on_batch(batch_id, stats)`` receives the apply counts — the
    streaming analogue of the batch event bus.

    ``broadcast_batch`` (default on; auto-disabled in full-snapshot
    mode, i.e. ``skip_removed=False``): micro-batches are small by
    construction, so the diff uses ``compute_changes``'
    ``broadcast_source`` plan — the big target state is semi-pruned by
    the broadcast batch id set and NEVER shuffled. Without it every
    micro-batch pays a full-outer sort-merge join that shuffles the
    entire target state per trigger — the dominant cost at any real
    state size.

    ``quality_checks`` (operators/quality_checks.py Check list) preflights
    every keyed micro-batch with one aggregate job — the streaming form
    of the batch pipeline's ``qualityChecks`` preset gate.
    ``on_quality_failure``: ``"fail"`` stops the stream (the violation
    propagates through the StreamingQuery — a poisoned feed should not
    silently keep syncing), ``"skip"`` drops the offending batch, reports
    it via ``on_batch`` with a ``quality_failed`` marker, and keeps the
    stream alive (the checkpointed offset still advances — skipped means
    SKIPPED, not retried forever).
    """
    if on_quality_failure not in ("fail", "skip"):
        raise ValueError('on_quality_failure must be "fail" or "skip"')
    if quality_checks:
        # Fail fast on a misconfigured suite (empty handled above,
        # duplicate names here) at wiring time — in "skip" mode a config
        # error surfacing per-batch would otherwise skip every batch
        # forever while checkpoint offsets advance (unbounded data loss).
        from wwwision_importservice_spark.operators.quality_checks import (
            validate_checks,
        )

        validate_checks(quality_checks)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        rf = RecordFrame.from_raw(
            batch_df, id_attribute, version_attribute, order_by=order_by
        )
        if quality_checks:
            from wwwision_importservice_spark.errors import QualityCheckFailure
            from wwwision_importservice_spark.operators.quality_checks import (
                assert_checks,
            )

            try:
                assert_checks(rf.df, quality_checks)
            # ONLY a data violation is skippable — config ValueErrors
            # propagate (and are pre-validated at wiring time above).
            except QualityCheckFailure:
                if on_quality_failure == "fail":
                    raise
                if on_batch is not None:
                    on_batch(
                        batch_id,
                        {"added": 0, "updated": 0, "removed": 0,
                         "errors": 0, "quality_failed": 1},
                    )
                return
        records = processor(rf.df) if processor else rf.df
        local_state = (
            state_provider(spark) if state_provider else target.current_state(spark)
        )
        cdc = compute_changes(
            records,
            local_state,
            force_updates=force_updates,
            skip_added=skip_added,
            skip_removed=skip_removed,
            local_id_col=target.id_column,
            local_version_col=target.version_column,
            local_hidden_col=target.hidden_column,
            id_prefix=target.id_prefix,
            broadcast_source=broadcast_batch and skip_removed,
        )
        if mapper is not None:
            cdc = mapper.apply_changes(cdc)
        # Pin the ChangeSet BEFORE mutating the target: apply() evaluates the
        # frame several times (adds count, append, updates, deletes), and for
        # targets with a lazy current_state (e.g. JdbcTarget reads the target
        # table through spark.read) each pass would otherwise re-read the
        # target MID-apply — after adds land, unversioned rows reclassify as
        # updates, inflating stats and issuing redundant writes. The batch
        # pipeline caches cdc for the same reason (plans/pipeline.py).
        cdc = cdc.persist()
        try:
            stats = target.apply(spark, cdc)
            target.finalize(spark)
        finally:
            cdc.unpersist()
            target.release_state(spark)
        if on_batch is not None:
            on_batch(
                batch_id,
                {
                    "added": stats.added,
                    "updated": stats.updated,
                    "removed": stats.removed,
                    "errors": stats.errors,
                },
            )

    return stream_df.writeStream.foreachBatch(process_batch)
