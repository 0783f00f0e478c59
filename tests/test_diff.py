"""Diff-kernel tests: every version-predicate branch, skip flags, soft
delete, idPrefix (SURVEY §5 sync-semantics list)."""

from __future__ import annotations

from wwwision_importservice_spark.operators.diff import (
    ChangeType,
    changeset_counts,
    compute_changes,
)
from wwwision_importservice_spark.record import RecordFrame


def source(spark, rows):
    df = spark.createDataFrame(rows, "id string, v long, payload string, _ord long")
    return RecordFrame.from_raw(df, "id", version_attribute="v", order_by="_ord").df


def local(spark, rows, schema="id string, version long, hidden boolean"):
    return spark.createDataFrame(rows, schema)


def by_type(cdc):
    out = {}
    for row in cdc.collect():
        out.setdefault(row["change_type"], set()).add(row["_id"])
    return out


def test_add_update_remove_noop(spark):
    src = source(
        spark,
        [
            ("new", 5, "p", 1),        # absent locally → add
            ("stale", 9, "p", 2),      # local older → update
            ("same", 7, "p", 3),       # equal versions → no-op
            ("older", 3, "p", 4),      # local newer → no-op
        ],
    )
    loc = local(
        spark,
        [("stale", 5, False), ("same", 7, False), ("older", 9, False), ("gone", 1, False)],
    )
    got = by_type(
        compute_changes(src, loc, local_id_col="id", local_version_col="version")
    )
    assert got == {
        ChangeType.ADD: {"new"},
        ChangeType.UPDATE: {"stale"},
        ChangeType.REMOVE: {"gone"},
    }


def test_unversioned_always_updates(spark):
    # DbalTarget.php:106-110 — NULL source or local version ⇒ update
    src = source(spark, [("a", None, "p", 1), ("b", 5, "p", 2)])
    loc = local(spark, [("a", 99, False), ("b", None, False)])
    got = by_type(
        compute_changes(src, loc, local_id_col="id", local_version_col="version")
    )
    assert got[ChangeType.UPDATE] == {"a", "b"}


def test_no_version_column_always_updates(spark):
    # versionColumn === null → localVersion NONE → every intersect updates
    src = source(spark, [("a", 1, "p", 1)])
    loc = local(spark, [("a", 999, False)])
    got = by_type(compute_changes(src, loc, local_id_col="id"))
    assert got[ChangeType.UPDATE] == {"a"}


def test_force_updates(spark):
    src = source(spark, [("older", 3, "p", 1)])
    loc = local(spark, [("older", 9, False)])
    got = by_type(
        compute_changes(
            src, loc, local_id_col="id", local_version_col="version", force_updates=True
        )
    )
    assert got[ChangeType.UPDATE] == {"older"}


def test_skip_flags(spark):
    src = source(spark, [("new", 1, "p", 1)])
    loc = local(spark, [("gone", 1, False)])
    cdc = compute_changes(
        src, loc, local_id_col="id", local_version_col="version",
        skip_added=True, skip_removed=True,
    )
    assert cdc.count() == 0


def test_soft_delete_hidden_not_removed_again(spark):
    # ContentRepositoryTarget.php:95-107 — hidden rows are not removal
    # candidates, but re-appearing hidden rows update (un-hide), not add.
    src = source(spark, [("reappears", 9, "p", 1)])
    loc = local(
        spark,
        [("reappears", 1, True), ("hidden_gone", 1, True), ("active_gone", 1, False)],
    )
    got = by_type(
        compute_changes(
            src, loc,
            local_id_col="id", local_version_col="version", local_hidden_col="hidden",
        )
    )
    assert got == {
        ChangeType.UPDATE: {"reappears"},
        ChangeType.REMOVE: {"active_gone"},
    }


def test_id_prefix_strip(spark):
    # ContentRepositoryTarget.php:99 — local ids carry idPrefix
    src = source(spark, [("a", 9, "p", 1), ("b", 9, "p", 2)])
    loc = local(spark, [("pfx-a", 1, False), ("pfx-zzz", 1, False)])
    got = by_type(
        compute_changes(
            src, loc, local_id_col="id", local_version_col="version", id_prefix="pfx-"
        )
    )
    assert got == {
        ChangeType.ADD: {"b"},
        ChangeType.UPDATE: {"a"},
        ChangeType.REMOVE: {"zzz"},
    }


def test_changeset_counts(spark):
    src = source(spark, [("new", 1, "p", 1), ("stale", 9, "p", 2)])
    loc = local(spark, [("stale", 1, False), ("gone", 1, False)])
    cdc = compute_changes(src, loc, local_id_col="id", local_version_col="version")
    got = {r["change_type"]: r["n"] for r in changeset_counts(cdc).collect()}
    assert got == {"add": 1, "update": 1, "remove": 1}


def test_empty_source_yields_removes_only(spark):
    """Empty source frame → every active local row removes, hidden rows
    excluded (the verify-recipe probe)."""
    src = source(spark, []).limit(0)
    loc = local(spark, [("a", 1, False), ("b", 2, True), ("c", 3, False)])
    kw = dict(local_id_col="id", local_version_col="version",
              local_hidden_col="hidden")
    got = by_type(compute_changes(src, loc, **kw))
    assert got == {ChangeType.REMOVE: {"a", "c"}}


def test_empty_local_state_yields_adds_only(spark):
    src = source(spark, [("a", 1, "p", 1), ("b", 2, "p", 2)])
    loc = local(spark, []).limit(0)
    kw = dict(local_id_col="id", local_version_col="version")
    got = by_type(compute_changes(src, loc, **kw))
    assert got == {ChangeType.ADD: {"a", "b"}}


def test_broadcast_source_matches_full_outer_sans_removes(spark):
    """broadcast_source (the streaming micro-batch plan): identical
    add/update classification to the full-outer plan with skip_removed,
    across every predicate branch."""
    src = source(
        spark,
        [
            ("new", 5, "p", 1),
            ("stale", 9, "p", 2),
            ("same", 7, "p", 3),
            ("older", 3, "p", 4),
            ("unv", None, "p", 5),
        ],
    )
    loc = local(
        spark,
        [("stale", 5, False), ("same", 7, False), ("older", 9, False),
         ("gone", 1, False), ("unv", 3, False)],
    )
    kw = dict(local_id_col="id", local_version_col="version",
              local_hidden_col="hidden", skip_removed=True)
    expected = by_type(compute_changes(src, loc, **kw))
    got = by_type(compute_changes(src, loc, broadcast_source=True, **kw))
    assert got == expected == {
        ChangeType.ADD: {"new"},
        ChangeType.UPDATE: {"stale", "unv"},
    }
    # requires skip_removed — remove detection needs the full local set
    import pytest as _pytest

    with _pytest.raises(ValueError, match="skip_removed"):
        compute_changes(
            src, loc, broadcast_source=True,
            local_id_col="id", local_version_col="version",
        )
