"""End-to-end pipeline runs: preset registry (templates, validation),
events, skip guards, forceUpdates, prune, setup, fixture mode, CLI."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from wwwision_importservice_spark.errors import ConfigurationError, ImportServiceError
from wwwision_importservice_spark.plans.pipeline import Events, ImportPipeline
from wwwision_importservice_spark.plans.preset import (
    Preset,
    PresetRegistry,
    register_processor,
)
from wwwision_importservice_spark.sinks.parquet import ParquetTarget
from wwwision_importservice_spark.sources.memory import CallableSource


def make_preset(tmp_path, rows, mapper=None, target=None, **kwargs) -> Preset:
    return Preset(
        name="test",
        source=CallableSource(
            rows=rows, schema="id string, v long, title string, _ord long"
        ),
        target=target or ParquetTarget(
            path=str(tmp_path / "tgt"), id_column="id", version_column="version"
        ),
        id_attribute="id",
        version_attribute="v",
        order_attribute="_ord",
        mapper=mapper,
        **kwargs,
    )


def test_first_run_adds_second_run_noop_third_updates(spark, tmp_path):
    rows_v1 = [("a", 1, "t1", 1), ("b", 2, "t2", 2)]
    preset = make_preset(tmp_path, rows_v1)
    pipeline = ImportPipeline(preset, spark)

    stats = pipeline.run()
    assert stats == {"added": 2, "updated": 0, "removed": 0, "errors": 0}

    # identical second run: all no-ops
    stats = pipeline.run()
    assert stats == {"added": 0, "updated": 0, "removed": 0, "errors": 0}

    # bump a's version; drop b → update + remove
    preset.source.rows = [("a", 9, "t1b", 1)]
    stats = pipeline.run()
    assert stats == {"added": 0, "updated": 1, "removed": 1, "errors": 0}
    rows = {r["id"]: (r["version"], r["title"]) for r in spark.read.parquet(str(tmp_path / "tgt")).collect()}
    assert rows == {"a": (9, "t1b")}


def test_e2e_testdata_sync_idempotent(spark, sf_dir, tmp_path):
    """Full pipeline over driver testdata: parquet file source → keying →
    Eel mapping → diff → parquet target. The second run must be a
    complete no-op (the defining sync property), and a source shrink
    must remove exactly the missing keys."""
    from wwwision_importservice_spark.mapping import Mapper
    from wwwision_importservice_spark.sources.file import FileSource

    preset = Preset(
        name="orders-sync",
        source=FileSource(path=f"{sf_dir}/orders.parquet", format="parquet"),
        target=ParquetTarget(
            path=str(tmp_path / "orders_tgt"),
            id_column="id",
            version_column="version",
        ),
        id_attribute="o_orderkey",
        version_attribute="o_orderdate",
        order_attribute="o_orderkey",
        mapper=Mapper(
            {
                "status": "o_orderstatus",
                "price_class": '${record.o_totalprice > 100000 ? "high" : "normal"}',
            }
        ),
    )
    pipeline = ImportPipeline(preset, spark)
    n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()

    stats = pipeline.run()
    assert stats == {"added": n, "updated": 0, "removed": 0, "errors": 0}

    stats = pipeline.run()
    assert stats == {"added": 0, "updated": 0, "removed": 0, "errors": 0}

    out = spark.read.parquet(str(tmp_path / "orders_tgt"))
    assert out.count() == n
    assert set(out.columns) == {"id", "version", "status", "price_class"}
    assert out.filter(F.col("price_class") == "high").count() > 0


def test_force_updates(spark, tmp_path):
    preset = make_preset(tmp_path, [("a", 1, "t", 1)])
    pipeline = ImportPipeline(preset, spark)
    pipeline.run()
    stats = pipeline.run(force_updates=True)
    assert stats["updated"] == 1


def test_events_fire(spark, tmp_path):
    preset = make_preset(tmp_path, [("a", 1, "t", 1)])
    pipeline = ImportPipeline(preset, spark)
    seen = []
    pipeline.on(Events.PRE_COMPUTE_CHANGES, lambda rf: seen.append("pre_compute"))
    pipeline.on(Events.PRE_IMPORT_DATA, lambda cdc: seen.append("pre_import"))
    pipeline.on(Events.PRE_ADD_DATA, lambda n: seen.append(f"pre_add:{n}"))
    pipeline.on(Events.POST_ADD_DATA, lambda: seen.append("post_add"))
    pipeline.run()
    assert seen == ["pre_compute", "pre_import", "pre_add:1", "post_add"]


def test_skip_flags_suppress(spark, tmp_path):
    preset = make_preset(tmp_path, [("a", 1, "t", 1)])
    ImportPipeline(preset, spark).run()
    # new source with an add and an implicit remove, both skipped
    preset2 = make_preset(tmp_path, [("b", 1, "t", 1)], skip_added=True, skip_removed=True)
    stats = ImportPipeline(preset2, spark).run()
    assert stats == {"added": 0, "updated": 0, "removed": 0, "errors": 0}


def test_prune_and_guard(spark, tmp_path):
    preset = make_preset(tmp_path, [("a", 1, "t", 1)])
    pipeline = ImportPipeline(preset, spark)
    pipeline.run()
    assert pipeline.remove_all() == 1

    guarded = make_preset(tmp_path, [("a", 1, "t", 1)], skip_removed=True)
    with pytest.raises(ImportServiceError, match="no local records must be removed"):
        ImportPipeline(guarded, spark).remove_all()


def test_mapping_applied_at_write(spark, tmp_path):
    from wwwision_importservice_spark.mapping import Mapper

    mapper = Mapper({"headline": "${String.toUpperCase(record.title)}"})
    preset = make_preset(tmp_path, [("a", 1, "hello", 1)], mapper=mapper)
    ImportPipeline(preset, spark).run()
    rows = spark.read.parquet(str(tmp_path / "tgt")).collect()
    assert rows[0]["headline"] == "HELLO"
    assert "title" not in rows[0].asDict()


def test_data_processor(spark, tmp_path):
    register_processor(
        "only_positive", lambda df: df.filter(F.col("v") > 0)
    )
    preset = make_preset(tmp_path, [("a", 1, "t", 1), ("b", -0, "t", 2)])
    # resolve via registry name like the reference's callable strings
    from wwwision_importservice_spark.plans.preset import resolve_processor

    preset.data_processor = resolve_processor("only_positive")
    stats = ImportPipeline(preset, spark).run()
    assert stats["added"] == 1


def test_setup_merges_results(spark, tmp_path):
    preset = make_preset(tmp_path, [("a", 1, "t", 1)])
    result = ImportPipeline(preset, spark).setup()
    assert not result.has_errors


# --------------------------------------------------------------------- #
# Preset registry: templates, validation, fixture mode
# --------------------------------------------------------------------- #

CONFIG = {
    "presetTemplates": {
        "base": {
            "source": {"type": "file", "options": {"format": "json"}},
            "options": {"skipRemovedRecords": True},
        }
    },
    "presets": {
        "users": {
            "template": "base",
            "source": {
                "id_attribute": "id",
                "options": {"path": "/tmp/users.json"},
                "fixture": {"path": "/tmp/fixture.json"},
            },
            "target": {"type": "parquet", "options": {"path": "/tmp/users_tgt"}},
            "mapping": {"name": "userName"},
            "options": {
                "qualityChecks": [
                    {"type": "unique", "column": "id"},
                    {"type": "rowCount", "lo": 1},
                ]
            },
        },
        "broken": {
            "source": {"type": "nope"},
            "target": {"type": "parquet", "options": {"path": "/x"}},
        },
    },
}


def test_template_deep_merge():
    registry = PresetRegistry(CONFIG)
    cfg = registry.preset_configuration("users")
    # template contributes format + skipRemovedRecords; preset wins elsewhere
    assert cfg["source"]["options"] == {"format": "json", "path": "/tmp/users.json"}
    assert cfg["options"]["skipRemovedRecords"] is True


def test_build_preset_from_config():
    registry = PresetRegistry(CONFIG)
    preset = registry.build("users")
    assert preset.skip_removed is True and preset.skip_added is False
    assert preset.id_attribute == "id"
    assert preset.mapper is not None
    # the qualityChecks option parsed into Check objects
    assert [c.name for c in preset.quality_checks] == ["unique(id)", "row_count"]


def test_unknown_preset_and_type():
    registry = PresetRegistry(CONFIG)
    with pytest.raises(ConfigurationError, match="not configured"):
        registry.preset_configuration("nope")
    with pytest.raises(ConfigurationError, match="Unknown source type"):
        registry.build("broken")


def test_fixture_mode(tmp_path):
    cfg = json.loads(json.dumps(CONFIG))
    fixture = tmp_path / "fixture.json"
    fixture.write_text('[{"id": "f1", "userName": "x"}]')
    cfg["presets"]["users"]["source"]["fixture"] = {"path": str(fixture)}
    registry = PresetRegistry(cfg)
    preset = registry.build("users", from_fixture=True)
    from wwwision_importservice_spark.sources.file import FileSource

    assert isinstance(preset.source, FileSource)
    assert preset.source.path == str(fixture)
    # mutually exclusive with source overrides (ImportServiceFactory.php:48-50)
    with pytest.raises(ConfigurationError, match="mutually exclusive"):
        registry.build("users", from_fixture=True, source_option_overrides={"path": "/x"})


def test_source_option_overrides():
    registry = PresetRegistry(CONFIG)
    preset = registry.build("users", source_option_overrides={"path": "/override.json"})
    assert preset.source.path == "/override.json"


@pytest.mark.parametrize(
    "key, value",
    [("diffStrategy", "incremental"), ("forceBroadcastState", True),
     ("autoBroadcastRows", 10)],
)
def test_retired_diff_plan_options_warn_and_are_ignored(key, value):
    """Preset files written when the diff had several plans still load:
    the retired keys are type-checked, warned about, and change nothing."""
    import dataclasses

    cfg = {
        "presets": {
            "users": {
                "source": {
                    "type": "file",
                    "options": {"path": "/tmp/x.json"},
                    "id_attribute": "id",
                },
                "target": {
                    "type": "parquet",
                    "options": {"path": "/tmp/t", "id_column": "id"},
                },
            }
        }
    }

    def state(preset):
        return {
            f.name: (type(v), vars(v)) if f.name in ("source", "target") else v
            for f in dataclasses.fields(preset)
            for v in [getattr(preset, f.name)]
        }

    default = PresetRegistry(cfg).build("users")
    cfg["presets"]["users"]["options"] = {key: value}
    with pytest.warns(UserWarning, match=f"{key} ignored"):
        preset = PresetRegistry(cfg).build("users")
    assert state(preset) == state(default)
    # the key's type is still validated
    cfg["presets"]["users"]["options"] = {key: [value]}
    with pytest.raises(ConfigurationError, match=key):
        PresetRegistry(cfg).build("users")


# --------------------------------------------------------------------- #
# CLI (argparse surface; run covered via a real preset file)
# --------------------------------------------------------------------- #

def test_cli_run_and_presets(tmp_path, capsys):
    import yaml

    from wwwision_importservice_spark.cli import main

    feed = tmp_path / "feed.json"
    feed.write_text(json.dumps([{"id": "a", "v": 1, "title": "t"}]))
    presets_file = tmp_path / "presets.yaml"
    presets_file.write_text(
        yaml.safe_dump(
            {
                "presets": {
                    "demo": {
                        "source": {
                            "type": "file",
                            "id_attribute": "id",
                            "version_attribute": "v",
                            "options": {"path": str(feed), "format": "json"},
                        },
                        "target": {
                            "type": "parquet",
                            "options": {
                                "path": str(tmp_path / "tgt"),
                                "id_column": "id",
                                "version_column": "version",
                            },
                        },
                    }
                }
            }
        )
    )
    assert main(["--presets-file", str(presets_file), "presets"]) == 0
    assert "demo" in capsys.readouterr().out

    assert main(["--presets-file", str(presets_file), "preset", "demo"]) == 0
    assert "file" in capsys.readouterr().out

    assert main(["--presets-file", str(presets_file), "setup", "demo"]) == 0
    assert main(["--presets-file", str(presets_file), "run", "demo"]) == 0
    out = capsys.readouterr().out
    assert "added=1" in out
    assert main(["--presets-file", str(presets_file), "compact", "demo"]) == 0
    assert "Compacted to" in capsys.readouterr().out

    assert main(["--presets-file", str(presets_file), "prune", "demo", "--assume-yes"]) == 0
    assert "Removed 1" in capsys.readouterr().out


def test_soft_delete_reappearance_lifecycle(spark, tmp_path):
    """SURVEY §7.4 hard part, end to end through the pipeline: a record
    vanishes (hidden, not deleted), stays quiet on the next no-op run
    (hidden rows are not removal candidates again), then re-appears and
    is un-hidden via UPDATE — never duplicated as an add."""
    preset = Preset(
        name="soft",
        source=CallableSource(
            rows=[("a", 1, "ta", 1), ("b", 1, "tb", 2)],
            schema="id string, v long, title string, _ord long",
        ),
        target=ParquetTarget(
            path=str(tmp_path / "soft_tgt"),
            id_column="id",
            version_column="version",
            soft_delete=True,
        ),
        id_attribute="id",
        version_attribute="v",
        order_attribute="_ord",
    )
    pipeline = ImportPipeline(preset, spark)

    assert pipeline.run() == {"added": 2, "updated": 0, "removed": 0, "errors": 0}

    # b vanishes → hidden, not deleted
    preset.source.rows = [("a", 1, "ta", 1)]
    assert pipeline.run() == {"added": 0, "updated": 0, "removed": 1, "errors": 0}
    rows = {
        r["id"]: r["hidden"]
        for r in spark.read.parquet(str(tmp_path / "soft_tgt")).collect()
    }
    assert rows == {"a": False, "b": True}

    # identical run: the hidden row must NOT be removed again
    assert pipeline.run() == {"added": 0, "updated": 0, "removed": 0, "errors": 0}

    # b re-appears with a higher version → un-hidden via update, no dup
    preset.source.rows = [("a", 1, "ta", 1), ("b", 5, "tb2", 2)]
    assert pipeline.run() == {"added": 0, "updated": 1, "removed": 0, "errors": 0}
    out = spark.read.parquet(str(tmp_path / "soft_tgt")).collect()
    rows = {r["id"]: (r["hidden"], r["version"], r["title"]) for r in out}
    assert len(out) == 2  # no duplicate b
    assert rows["b"] == (False, 5, "tb2")


def test_cli_explain_and_changelog(tmp_path, capsys, spark):
    import yaml

    from wwwision_importservice_spark.cli import main

    feed = tmp_path / "feed.json"
    feed.write_text(json.dumps(
        [{"id": "a", "v": 1, "title": "t"}, {"id": "b", "v": 1, "title": "u"}]
    ))
    presets_file = tmp_path / "presets.yaml"
    presets_file.write_text(yaml.safe_dump({
        "presets": {"demo": {
            "source": {
                "type": "file",
                "id_attribute": "id",
                "version_attribute": "v",
                "options": {"path": str(feed), "format": "json"},
            },
            "target": {
                "type": "parquet",
                "options": {
                    "path": str(tmp_path / "tgt"),
                    "id_column": "id",
                    "version_column": "version",
                },
            },
        }}
    }))

    # --explain prints a physical plan and does NOT execute the sync
    assert main(["--presets-file", str(presets_file), "run", "demo", "--explain"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    assert not (tmp_path / "tgt").exists()

    # --changelog-dir persists the CDC frame partitioned by change type
    clog = tmp_path / "clog"
    assert main([
        "--presets-file", str(presets_file), "run", "demo", "--quiet",
        "--changelog-dir", str(clog), "--run-id", "r1",
    ]) == 0
    cdc = spark.read.parquet(str(clog / "run_id=r1"))
    got = {(r["_id"], r["change_type"]) for r in cdc.collect()}
    assert got == {("a", "add"), ("b", "add")}


def test_changelog_replay_reproduces_target(spark, tmp_path):
    """CDC replication e2e: the changelog written by one pipeline run,
    replayed into a SECOND target, must reproduce the first target's
    state — the property that makes the changelog an incremental feed
    rather than just an audit log."""
    preset = make_preset(tmp_path, [("a", 1, "t1", 1), ("b", 2, "t2", 2)])
    pipeline = ImportPipeline(preset, spark)
    clog = str(tmp_path / "clog")
    pipeline.run(changelog_dir=clog, run_id="r1")

    # second sync: update a, drop b, add c — its own changelog entry
    preset.source.rows = [("a", 9, "t1b", 1), ("c", 1, "t3", 2)]
    pipeline.run(changelog_dir=clog, run_id="r2")

    primary = {
        r["id"]: (r["version"], r["title"])
        for r in spark.read.parquet(str(tmp_path / "tgt")).collect()
    }

    replica = ParquetTarget(
        path=str(tmp_path / "replica"), id_column="id", version_column="version"
    )
    for run in ("r1", "r2"):
        cdc = spark.read.parquet(f"{clog}/run_id={run}")
        replica.apply(spark, cdc)
    got = {
        r["id"]: (r["version"], r["title"])
        for r in spark.read.parquet(str(tmp_path / "replica")).collect()
    }
    assert got == primary == {"a": (9, "t1b"), "c": (1, "t3")}


def test_changelog_idempotent_rerun_and_no_entries_on_failed_apply(
    spark, tmp_path, monkeypatch
):
    """Changelog consistency contract: (a) re-running the SAME run_id
    overwrites its directory instead of append-duplicating CDC rows;
    (b) a run whose apply FAILS leaves no changelog entries for that
    run_id — replaying the changelog can never diverge from the primary
    by including changes that were never applied."""
    preset = make_preset(tmp_path, [("a", 1, "t1", 1), ("b", 2, "t2", 2)])
    pipeline = ImportPipeline(preset, spark)
    clog = str(tmp_path / "clog")

    pipeline.run(changelog_dir=clog, run_id="r1")
    n1 = spark.read.parquet(f"{clog}/run_id=r1").count()
    # rerun same id: the state already matches, so THIS run's change set
    # is empty — the directory is REPLACED with a readable empty
    # changelog (under append it would keep the stale 2 rows and, had
    # the rerun produced changes, duplicate them)
    pipeline.run(changelog_dir=clog, run_id="r1")
    n2 = spark.read.parquet(f"{clog}/run_id=r1").count()
    assert n1 == 2 and n2 == 0

    # a consumer reading the changelog ROOT (hive partition discovery
    # over run_id=/change_type=) must not hit conflicting directory
    # depths even though r1 is now an EMPTY run dir: empty runs write
    # into an explicit change_type=__none__ leaf to keep depths uniform
    preset.source.rows = [("a", 5, "t1c", 1), ("b", 3, "t2c", 2)]
    pipeline.run(changelog_dir=clog, run_id="r3")
    root = spark.read.parquet(clog)
    assert set(root.columns) >= {"_id", "change_type", "run_id"}
    per_run = {
        r["run_id"]: r["n"]
        for r in root.groupBy("run_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_run == {"r1": 0, "r3": 2} or per_run == {"r3": 2}

    # now make apply blow up mid-run
    preset.source.rows = [("a", 9, "t1b", 1)]

    def boom(spark_, df):
        raise RuntimeError("sink down")

    monkeypatch.setattr(preset.target, "apply", boom)
    with pytest.raises(RuntimeError, match="sink down"):
        pipeline.run(changelog_dir=clog, run_id="r2")
    import os

    assert not os.path.exists(f"{clog}/run_id=r2")


def test_replay_changelog_helper_and_discovery(spark, tmp_path):
    """replay_changelog: discovers committed run dirs, applies them in
    lexicographic order, skips nothing, and reproduces the primary —
    including an intermediate EMPTY (all-noop) run directory."""
    from wwwision_importservice_spark.plans.pipeline import replay_changelog

    preset = make_preset(tmp_path, [("a", 1, "t1", 1), ("b", 2, "t2", 2)])
    pipeline = ImportPipeline(preset, spark)
    clog = str(tmp_path / "clog")
    pipeline.run(changelog_dir=clog, run_id="r01")
    pipeline.run(changelog_dir=clog, run_id="r02")  # no-op run, empty dir
    preset.source.rows = [("a", 9, "t1b", 1), ("c", 1, "t3", 2)]
    pipeline.run(changelog_dir=clog, run_id="r03")

    replica = ParquetTarget(
        path=str(tmp_path / "replica"), id_column="id", version_column="version"
    )
    totals = replay_changelog(spark, replica, clog)
    assert totals == {
        "added": 3, "updated": 1, "removed": 1, "errors": 0, "runs": 3
    }
    primary = {
        r["id"]: (r["version"], r["title"])
        for r in spark.read.parquet(str(tmp_path / "tgt")).collect()
    }
    got = {
        r["id"]: (r["version"], r["title"])
        for r in spark.read.parquet(str(tmp_path / "replica")).collect()
    }
    assert got == primary

    # missing directory -> clean error
    from wwwision_importservice_spark.errors import ImportServiceError

    with pytest.raises(ImportServiceError, match="does not exist"):
        replay_changelog(spark, replica, str(tmp_path / "nope"))


def _sync_and_crash_mid_swap(pipeline, path):
    """Run a sync, then leave ``path`` as a crash between the two renames
    of ``fsutil.replace_dir`` would: the previous snapshot in the swap
    backup, the new one in ``<path>.staging``, and no changelog entry."""
    import os
    import shutil

    from wwwision_importservice_spark.fsutil import _backup_path

    before = path + ".before"
    shutil.copytree(path, before)
    pipeline.run()
    os.rename(path, path + ".staging")
    os.rename(before, _backup_path(path))


def test_parquet_crash_mid_swap_retry_applies_the_same_changes(spark, tmp_path):
    """A sync that dies between the snapshot swap's two renames loses
    nothing: the retried run diffs against the previous snapshot, so it
    reports the same update and remove, the removed row stays hidden,
    and a replica replayed from the changelog equals the primary."""
    from wwwision_importservice_spark.plans.pipeline import replay_changelog

    def soft(name):
        return ParquetTarget(
            path=str(tmp_path / name), id_column="id",
            version_column="version", soft_delete=True,
        )

    preset = make_preset(
        tmp_path, [("a", 1, "t1", 1), ("b", 1, "t2", 2), ("c", 1, "t3", 3)],
        target=soft("tgt"),
    )
    pipeline = ImportPipeline(preset, spark)
    clog = str(tmp_path / "clog")
    pipeline.run(changelog_dir=clog, run_id="r1")

    preset.source.rows = [("a", 2, "t1b", 1), ("b", 1, "t2", 2)]
    _sync_and_crash_mid_swap(pipeline, preset.target.path)
    stats = pipeline.run(changelog_dir=clog, run_id="r2")
    assert stats == {"added": 0, "updated": 1, "removed": 1, "errors": 0}

    def rows(path):
        return {
            r["id"]: (r["version"], r["title"], r["hidden"])
            for r in spark.read.parquet(path).collect()
        }

    primary = rows(preset.target.path)
    assert primary == {
        "a": (2, "t1b", False), "b": (1, "t2", False), "c": (1, "t3", True)
    }
    replica = soft("replica")
    assert replay_changelog(spark, replica, clog)["runs"] == 2
    assert rows(replica.path) == primary


def test_scd2_crash_mid_swap_retry_keeps_history(spark, tmp_path):
    """The SCD2 target under the same crash: the retried run closes a and
    c at run 2, every earlier version survives in ``history()``, and a
    replica replayed from the changelog has the same history."""
    from wwwision_importservice_spark.plans.pipeline import replay_changelog
    from wwwision_importservice_spark.sinks.scd2 import Scd2ParquetTarget

    def scd2(name):
        return Scd2ParquetTarget(
            path=str(tmp_path / name), id_column="id", version_column="version"
        )

    preset = make_preset(
        tmp_path, [("a", 1, "t1", 1), ("b", 1, "t2", 2), ("c", 1, "t3", 3)],
        target=scd2("tgt"),
    )
    pipeline = ImportPipeline(preset, spark)
    clog = str(tmp_path / "clog")
    pipeline.run(changelog_dir=clog, run_id="r1")

    preset.source.rows = [("a", 2, "t1b", 1), ("b", 1, "t2", 2)]
    _sync_and_crash_mid_swap(pipeline, preset.target.path)
    stats = pipeline.run(changelog_dir=clog, run_id="r2")
    assert stats == {"added": 0, "updated": 1, "removed": 1, "errors": 0}

    def history(target):
        return sorted(
            (r["id"], r["version"], r["title"], r["valid_from"],
             r["valid_to"], r["is_current"])
            for r in target.history(spark).collect()
        )

    primary = history(preset.target)
    assert primary == [
        ("a", 1, "t1", 1, 2, False),
        ("a", 2, "t1b", 2, None, True),
        ("b", 1, "t2", 1, None, True),
        ("c", 1, "t3", 1, 2, False),
    ]
    replica = scd2("replica")
    replay_changelog(spark, replica, clog)
    assert history(replica) == primary


def test_changelog_crash_mid_commit_backup_stays_hidden(spark, tmp_path):
    """A crash between the two renames of a changelog commit leaves the
    previous ``run_id=X`` in the swap backup. Neither a reader of the
    changelog root nor ``replay_changelog`` sees that backup, and
    re-running X restores it and then replaces it."""
    import os
    import shutil

    from wwwision_importservice_spark.fsutil import _backup_path, path_exists
    from wwwision_importservice_spark.plans.pipeline import replay_changelog

    preset = make_preset(tmp_path, [("a", 1, "t1", 1), ("b", 2, "t2", 2)])
    pipeline = ImportPipeline(preset, spark)
    clog = str(tmp_path / "clog")
    pipeline.run(changelog_dir=clog, run_id="r1")
    preset.source.rows = [("a", 9, "t1b", 1), ("b", 2, "t2", 2)]
    pipeline.run(changelog_dir=clog, run_id="r2")

    run_dir, staging = f"{clog}/run_id=r2", f"{clog}/.staging_run_id=r2"
    shutil.copytree(run_dir, staging)
    os.rename(run_dir, _backup_path(run_dir))

    seen = {r["run_id"] for r in spark.read.parquet(clog).collect()}
    assert seen == {"r1"}
    replica = ParquetTarget(
        path=str(tmp_path / "replica"), id_column="id", version_column="version"
    )
    assert replay_changelog(spark, replica, clog)["runs"] == 1

    # the re-run's change set is empty (the target already holds r2):
    # its commit restores the backup, then replaces it with the new run
    assert pipeline.run(changelog_dir=clog, run_id="r2")["updated"] == 0
    assert not path_exists(spark, _backup_path(run_dir))
    assert not path_exists(spark, staging)
    assert spark.read.parquet(run_dir).count() == 0
    seen = {r["run_id"] for r in spark.read.parquet(clog).collect()}
    assert seen == {"r1"}  # r2 is an empty run now


def test_quality_checks_gate_the_run(spark, sf_dir, tmp_path):
    """O-family: a preset-declared qualityChecks suite preflights every
    run — a violated constraint aborts before the diff (target never
    written), a passing suite syncs normally."""
    from wwwision_importservice_spark.operators.quality_checks import from_config
    from wwwision_importservice_spark.sources.file import FileSource

    def preset(checks):
        return Preset(
            name="orders-gated",
            source=FileSource(path=f"{sf_dir}/orders.parquet", format="parquet"),
            target=ParquetTarget(
                path=str(tmp_path / "gated_tgt"),
                id_column="id",
                version_column="version",
            ),
            id_attribute="o_orderkey",
            version_attribute="o_orderdate",
            order_attribute="o_orderkey",
            quality_checks=from_config(checks),
        )

    failing = [
        {"type": "unique", "column": "o_orderkey"},          # passes
        {"type": "inRange", "column": "o_totalprice", "lo": 0, "hi": 1},  # fails
        {"type": "acceptedValues", "column": "o_orderstatus",
         "values": ["NOPE"]},                                 # fails
    ]
    with pytest.raises(ImportServiceError) as e:
        ImportPipeline(preset(failing), spark).run()
    assert "in_range(o_totalprice)" in str(e.value)
    assert "accepted_values(o_orderstatus)" in str(e.value)
    assert "unique(o_orderkey)" not in str(e.value)
    import os
    assert not os.path.exists(str(tmp_path / "gated_tgt"))  # aborted pre-diff

    passing = [
        {"type": "unique", "column": "o_orderkey"},
        {"type": "notNull", "column": "o_custkey"},
        {"type": "rowCount", "lo": 1},
    ]
    stats = ImportPipeline(preset(passing), spark).run()
    assert stats["added"] > 0 and stats["errors"] == 0

    # the YAML-config path: unknown check type is a configuration error
    with pytest.raises(ValueError, match="Unknown quality check type"):
        from_config([{"type": "bogus", "column": "x"}])


def test_cli_check_subcommand(tmp_path, capsys):
    import yaml

    from wwwision_importservice_spark.cli import main

    feed = tmp_path / "check_feed.json"
    feed.write_text(json.dumps(
        [{"id": "a", "v": 1, "title": "t"}, {"id": "b", "v": 1, "title": None}]
    ))

    def presets_file(checks):
        cfg = {
            "presets": {
                "demo": {
                    "source": {
                        "type": "file",
                        "id_attribute": "id",
                        "version_attribute": "v",
                        "options": {"path": str(feed), "format": "json"},
                    },
                    "target": {
                        "type": "parquet",
                        "options": {
                            "path": str(tmp_path / "check_tgt"),
                            "id_column": "id",
                            "version_column": "version",
                        },
                    },
                }
            }
        }
        if checks is not None:
            cfg["presets"]["demo"]["options"] = {"qualityChecks": checks}
        p = tmp_path / "check_presets.yaml"
        p.write_text(yaml.safe_dump(cfg))
        return str(p)

    failing = presets_file(
        [{"type": "unique", "column": "id"}, {"type": "notNull", "column": "title"}]
    )
    assert main(["--presets-file", failing, "check", "demo"]) == 1
    out = capsys.readouterr().out
    assert "FAIL  not_null(title)" in out and "PASS  unique(id)" in out
    assert "1/2 checks passed" in out

    passing = presets_file([{"type": "unique", "column": "id"}])
    assert main(["--presets-file", passing, "check", "demo"]) == 0
    assert "1/1 checks passed" in capsys.readouterr().out

    none_declared = presets_file(None)
    assert main(["--presets-file", none_declared, "check", "demo"]) == 2


def test_cli_run_respects_quality_gate(tmp_path, capsys):
    import yaml

    from wwwision_importservice_spark.cli import main

    feed = tmp_path / "gate_feed.json"
    feed.write_text(json.dumps([{"id": "a", "v": 1, "title": None}]))
    presets_file = tmp_path / "gate_presets.yaml"
    presets_file.write_text(yaml.safe_dump({
        "presets": {"demo": {
            "source": {
                "type": "file", "id_attribute": "id", "version_attribute": "v",
                "options": {"path": str(feed), "format": "json"},
            },
            "target": {"type": "parquet", "options": {
                "path": str(tmp_path / "gate_tgt"),
                "id_column": "id", "version_column": "version",
            }},
            "options": {"qualityChecks": [{"type": "notNull", "column": "title"}]},
        }}
    }))
    assert main(["--presets-file", str(presets_file), "run", "demo"]) == 1
    err = capsys.readouterr().err
    assert "not_null(title)" in err and "Import failed" in err
    import os
    assert not os.path.exists(str(tmp_path / "gate_tgt"))


def test_custom_eel_helper_udf_e2e_with_quarantine(spark, tmp_path):
    """The Eel custom-helper escape hatch, end-to-end (VERDICT r8 ask #8):
    a preset mapping calls ``Myapp.slug(record.title)``, registered via
    ``register_helper`` and backed by ``spark.udf.register`` — the
    reference's custom-EelHelper extension point (README.md:240) mapped
    onto Spark's UDF registry. The run flows through the full pipeline
    into a DBAPI target under the O3 quarantine discipline: the helper
    returns NULL for one record, sqlite's NOT NULL constraint rejects
    exactly that row, the rest of the batch lands."""
    import functools
    import sqlite3

    from wwwision_importservice_spark.functions.eel import register_helper
    from wwwision_importservice_spark.mapping import Mapper
    from wwwision_importservice_spark.sinks.dbapi import DbapiTarget

    def myapp_slug(title):
        # empty titles have no slug — the bad-record trigger
        return title.strip().lower().replace(" ", "-") if title and title.strip() else None

    spark.udf.register("myapp_slug", myapp_slug, "string")
    register_helper("Myapp.slug", "myapp_slug({0})")

    db = str(tmp_path / "helper.db")
    conn = sqlite3.connect(db)
    conn.execute(
        "CREATE TABLE articles (id TEXT PRIMARY KEY, slug TEXT NOT NULL, "
        "version INTEGER, hidden INTEGER DEFAULT 0)"
    )
    conn.commit()
    conn.close()

    preset = Preset(
        name="articles",
        source=CallableSource(
            rows=[("a", 1, "Hello World", 1), ("b", 1, "  ", 2), ("c", 1, "Für Elise", 3)],
            schema="id string, v long, title string, _ord long",
        ),
        target=DbapiTarget(
            connection_factory=functools.partial(sqlite3.connect, db),
            table="articles",
            id_column="id",
            version_column="version",
            hidden_column="hidden",
            write_partitions=1,  # sqlite: single writer
        ),
        id_attribute="id",
        version_attribute="v",
        order_attribute="_ord",
        mapper=Mapper({"slug": "${Myapp.slug(record.title)}"}),
    )
    stats = ImportPipeline(preset, spark).run()
    assert stats == {"added": 2, "updated": 0, "removed": 0, "errors": 1}

    rows = sqlite3.connect(db).execute(
        "SELECT id, slug FROM articles ORDER BY id"
    ).fetchall()
    assert rows == [("a", "hello-world"), ("c", "für-elise")]
