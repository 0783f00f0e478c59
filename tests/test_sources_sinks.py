"""Source readers and sink writers: file/http/memory sources, parquet and
sqlite (DBAPI) targets with batching, soft delete, and quarantine."""

from __future__ import annotations

import functools
import json
import os
import sqlite3
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from wwwision_importservice_spark.errors import ConfigurationError, DataError
from wwwision_importservice_spark.operators.diff import compute_changes
from wwwision_importservice_spark.record import RecordFrame
from wwwision_importservice_spark.sinks.dbapi import DbapiTarget
from wwwision_importservice_spark.sinks.parquet import ParquetTarget
from wwwision_importservice_spark.sources.file import FileSource
from wwwision_importservice_spark.sources.http import HttpSource
from wwwision_importservice_spark.sources.memory import CallableSource


# --------------------------------------------------------------------- #
# Sources
# --------------------------------------------------------------------- #

def test_file_source_json_array(spark, tmp_path):
    # S1: one JSON file containing an array of objects (FileSource.php:37-41)
    path = tmp_path / "feed.json"
    path.write_text(json.dumps([
        {"id": "a", "title": "first"},
        {"id": "b", "title": "second"},
    ]))
    src = FileSource(path=str(path), format="json")
    df = src.load(spark)
    assert df.count() == 2 and set(df.columns) == {"id", "title"}
    assert not src.setup(spark).has_errors


def test_file_source_missing_file_setup(spark):
    src = FileSource(path="/no/such/file.json")
    assert src.setup(spark).has_errors


def test_file_source_parquet(spark, sf_dir):
    src = FileSource(path=f"{sf_dir}/orders.parquet", format="parquet")
    assert src.load(spark).count() > 0


def test_callable_source(spark):
    # S5: closure source (test seam), incl. replaceClosure
    src = CallableSource(rows=[("a", 1)], schema="id string, v long")
    assert src.load(spark).count() == 1
    src.replace_callable(
        lambda sp, opts: sp.createDataFrame([("x", 1), ("y", 2)], "id string, v long")
    )
    assert src.load(spark).count() == 2


def test_http_source_parses_and_validates(spark, monkeypatch):
    # S2: 200 + non-empty JSON array required (HttpSource.php:50-74)
    import wwwision_importservice_spark.sources.http as http_mod

    monkeypatch.setattr(
        http_mod, "_fetch", lambda url, headers, timeout: (200, '[{"id": "a", "n": 1}]')
    )
    src = HttpSource(endpoint="http://example.test/feed")
    assert src.load(spark).count() == 1

    monkeypatch.setattr(http_mod, "_fetch", lambda *a: (500, "oops"))
    with pytest.raises(DataError, match="HTTP 500"):
        HttpSource(endpoint="http://example.test/feed").load(spark)

    monkeypatch.setattr(http_mod, "_fetch", lambda *a: (200, "[]"))
    with pytest.raises(DataError, match="empty array"):
        HttpSource(endpoint="http://example.test/feed").load(spark)

    monkeypatch.setattr(http_mod, "_fetch", lambda *a: (200, '{"not": "array"}'))
    with pytest.raises(DataError, match="not a JSON array"):
        HttpSource(endpoint="http://example.test/feed").load(spark)


def test_http_source_page_urls_executor_fanout(spark):
    """S2 at scale: many page URLs fetched executor-side via mapInPandas.
    A real local HTTP server exercises the self-contained worker closure
    (no monkeypatching possible — the fetch happens in worker processes)."""
    import http.server
    import threading

    pages = {
        "/p1": '[{"id": "a", "n": 1}, {"id": "b", "n": 2}]',
        "/p2": '[{"id": "c", "n": 3}]',
    }

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            body = pages.get(self.path, "[]").encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # silence
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = server.server_address[1]
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        src = HttpSource(
            endpoint=f"http://127.0.0.1:{port}/p1",
            schema="id string, n long",
            page_urls=[
                f"http://127.0.0.1:{port}/p1",
                f"http://127.0.0.1:{port}/p2",
            ],
        )
        rows = {(r["id"], r["n"]) for r in src.load(spark).collect()}
        assert rows == {("a", 1), ("b", 2), ("c", 3)}
    finally:
        server.shutdown()
        server.server_close()


def test_options_schema_on_source():
    with pytest.raises(ConfigurationError, match="Missing required option"):
        FileSource.from_options({"format": "json"})


# --------------------------------------------------------------------- #
# Sink helpers
# --------------------------------------------------------------------- #

def make_cdc(spark, rows):
    """rows: (id, version, title, change_type)"""
    return spark.createDataFrame(
        rows, "_id string, _version long, title string, change_type string"
    )


# --------------------------------------------------------------------- #
# Parquet target
# --------------------------------------------------------------------- #

def test_parquet_target_full_lifecycle(spark, tmp_path):
    path = str(tmp_path / "tgt")
    target = ParquetTarget(path=path, id_column="id", version_column="version")

    # first run: everything adds
    stats = target.apply(spark, make_cdc(spark, [("a", 1, "t1", "add"), ("b", 2, "t2", "add")]))
    assert (stats.added, stats.updated, stats.removed) == (2, 0, 0)
    state = {r["id"]: r["version"] for r in target.current_state(spark).collect()}
    assert state == {"a": 1, "b": 2}

    # second run: update a, remove b, add c
    stats = target.apply(
        spark,
        make_cdc(spark, [("a", 5, "t1b", "update"), ("b", None, None, "remove"), ("c", 3, "t3", "add")]),
    )
    assert (stats.added, stats.updated, stats.removed) == (1, 1, 1)
    rows = {r["id"]: (r["version"], r["title"]) for r in spark.read.parquet(path).collect()}
    assert rows == {"a": (5, "t1b"), "c": (3, "t3")}

    # prune
    assert target.remove_all(spark) == 2
    assert not target.exists()


def test_parquet_target_soft_delete_and_unhide(spark, tmp_path):
    path = str(tmp_path / "tgt")
    target = ParquetTarget(
        path=path, id_column="id", version_column="version", soft_delete=True
    )
    target.apply(spark, make_cdc(spark, [("a", 1, "t", "add"), ("b", 1, "t", "add")]))
    # remove b → hidden, not deleted (W7)
    target.apply(spark, make_cdc(spark, [("b", None, None, "remove")]))
    rows = {r["id"]: r["hidden"] for r in spark.read.parquet(path).collect()}
    assert rows == {"a": False, "b": True}
    # b re-appears → update un-hides (W6)
    target.apply(spark, make_cdc(spark, [("b", 9, "t2", "update")]))
    rows = {r["id"]: (r["hidden"], r["version"]) for r in spark.read.parquet(path).collect()}
    assert rows["b"] == (False, 9)


def test_parquet_target_id_prefix_roundtrip(spark, tmp_path):
    # J6: stored ids are prefixed; diff sees stripped ids
    path = str(tmp_path / "tgt")
    target = ParquetTarget(path=path, id_column="id", version_column="version", id_prefix="node-")
    target.apply(spark, make_cdc(spark, [("a", 1, "t", "add")]))
    stored = [r["id"] for r in spark.read.parquet(path).collect()]
    assert stored == ["node-a"]
    # diff against prefixed state: same id should be no-op/update, not add
    src = RecordFrame.from_raw(
        spark.createDataFrame([("a", 2, "t2", 1)], "id string, v long, title string, _ord long"),
        "id", version_attribute="v", order_by="_ord",
    ).df
    cdc = compute_changes(
        src, target.current_state(spark),
        local_id_col="id", local_version_col="version", id_prefix="node-",
    )
    assert {(r["_id"], r["change_type"]) for r in cdc.collect()} == {("a", "update")}


# --------------------------------------------------------------------- #
# DBAPI (sqlite) target — the relational round-trip
# --------------------------------------------------------------------- #

@pytest.fixture()
def sqlite_target(request, tmp_path):
    # indirect param: the SQL type of the id column (default TEXT)
    id_type = getattr(request, "param", "TEXT")
    db = str(tmp_path / "t.db")
    conn = sqlite3.connect(db)
    conn.execute(
        f"CREATE TABLE records (id {id_type} PRIMARY KEY, title TEXT, version INTEGER, hidden INTEGER DEFAULT 0)"
    )
    conn.commit()
    conn.close()
    factory = functools.partial(sqlite3.connect, db)
    target = DbapiTarget(
        connection_factory=factory,
        table="records",
        id_column="id",
        version_column="version",
        hidden_column="hidden",
        soft_delete=False,
        write_partitions=1,  # sqlite: single writer
    )
    return target, db


def q(db, sql):
    conn = sqlite3.connect(db)
    try:
        return conn.execute(sql).fetchall()
    finally:
        conn.close()


def test_dbapi_target_insert_update_delete(spark, sqlite_target):
    target, db = sqlite_target
    stats = target.apply(spark, make_cdc(spark, [("a", 1, "t1", "add"), ("b", 2, "t2", "add")]))
    assert stats.added == 2 and stats.errors == 0
    assert q(db, "SELECT id, title, version FROM records ORDER BY id") == [
        ("a", "t1", 1),
        ("b", "t2", 2),
    ]

    stats = target.apply(
        spark, make_cdc(spark, [("a", 7, "t1b", "update"), ("b", None, None, "remove")])
    )
    assert stats.updated == 1 and stats.removed == 1
    assert q(db, "SELECT id, title, version FROM records") == [("a", "t1b", 7)]

    # current_state reads narrow columns back
    state = {r["id"]: r["version"] for r in target.current_state(spark).collect()}
    assert state == {"a": 7}

    assert target.remove_all(spark) == 1
    assert q(db, "SELECT count(*) FROM records") == [(0,)]


def test_dbapi_target_soft_delete(spark, sqlite_target, tmp_path):
    target, db = sqlite_target
    target.soft_delete = True
    target.apply(spark, make_cdc(spark, [("a", 1, "t", "add"), ("b", 1, "t", "add")]))
    target.apply(spark, make_cdc(spark, [("b", None, None, "remove")]))
    assert q(db, "SELECT id, hidden FROM records ORDER BY id") == [("a", 0), ("b", 1)]
    # update un-hides (W6)
    target.apply(spark, make_cdc(spark, [("b", 9, "t2", "update")]))
    assert q(db, "SELECT id, hidden, version FROM records WHERE id='b'") == [("b", 0, 9)]


def test_dbapi_target_quarantine_continues(spark, sqlite_target):
    # O3: one bad row (PK collision) must not sink the batch
    target, db = sqlite_target
    target.apply(spark, make_cdc(spark, [("dup", 1, "t", "add")]))
    stats = target.apply(
        spark, make_cdc(spark, [("dup", 1, "t", "add"), ("ok", 1, "t", "add")])
    )
    assert stats.errors == 1 and stats.added == 1
    ids = [r[0] for r in q(db, "SELECT id FROM records ORDER BY id")]
    assert ids == ["dup", "ok"]


def test_dbapi_setup(spark, sqlite_target):
    target, db = sqlite_target
    assert not target.setup(spark).has_errors
    bad = DbapiTarget(
        connection_factory=functools.partial(sqlite3.connect, db),
        table="no_such_table",
    )
    assert bad.setup(spark).has_errors


@pytest.mark.parametrize("sqlite_target", ["TEXT", "INTEGER"], indirect=True)
def test_dbapi_current_state_normalises_keyset(spark, sqlite_target):
    """The keyset read's per-value contract: ids come back as strings
    whatever their SQL type, NULL version stays NULL, NULL hidden reads
    as False."""
    target, db = sqlite_target
    conn = sqlite3.connect(db)
    conn.executemany(
        "INSERT INTO records (id, version, hidden) VALUES (?, ?, ?)",
        [(7, None, None), (8, 3, 1), (9, 4, 0)],
    )
    conn.commit()
    conn.close()
    state = target.current_state(spark)
    assert state.schema.simpleString() == (
        "struct<id:string,version:bigint,hidden:boolean>"
    )
    assert sorted(tuple(r) for r in state.collect()) == [
        ("7", None, False), ("8", 3, True), ("9", 4, False),
    ]


def test_dbapi_current_state_empty_table(spark, sqlite_target):
    target, _ = sqlite_target
    state = target.current_state(spark)
    assert state.count() == 0
    assert state.schema.simpleString() == (
        "struct<id:string,version:bigint,hidden:boolean>"
    )


def test_dbapi_current_state_crosses_fetch_batches(spark, sqlite_target):
    """N + 1 rows: the read spans two fetchmany batches and loses or
    repeats no row at the boundary."""
    from wwwision_importservice_spark.sinks.dbapi import KEYSET_FETCH_ROWS

    target, db = sqlite_target
    n = KEYSET_FETCH_ROWS + 1
    conn = sqlite3.connect(db)
    conn.executemany(
        "INSERT INTO records (id, version, hidden) VALUES (?, ?, ?)",
        [(f"r{i}", i, i % 2) for i in range(n)],
    )
    conn.commit()
    conn.close()
    got = sorted(tuple(r) for r in target.current_state(spark).collect())
    assert got == sorted((f"r{i}", i, bool(i % 2)) for i in range(n))


def test_dbapi_current_state_is_an_eager_snapshot(spark, sqlite_target):
    """The pipeline applies to the table while the frame diffed against
    it is still in use: the frame must not read the table again, and
    the read's connection is closed when current_state returns."""
    target, db = sqlite_target
    opened = []

    def factory():
        opened.append(sqlite3.connect(db))
        return opened[-1]

    target.connection_factory = factory
    conn = sqlite3.connect(db)
    conn.execute("INSERT INTO records (id, version) VALUES ('a', 1)")
    conn.commit()
    state = target.current_state(spark)
    for c in opened:
        with pytest.raises(sqlite3.ProgrammingError):
            c.execute("SELECT 1")
    conn.execute("INSERT INTO records (id, version) VALUES ('b', 1)")
    conn.execute("UPDATE records SET version = 2 WHERE id = 'a'")
    conn.commit()
    conn.close()
    assert [tuple(r) for r in state.collect()] == [("a", 1, False)]


def test_dbapi_current_state_plans_a_parquet_scan_without_a_job(spark, sqlite_target):
    """The keyset reaches the diff as a file scan of the parquet spill,
    not as a ``LocalRelation`` holding every row in a plan field that
    each Catalyst rule copies, and reading it starts no Spark job."""
    from wwwision_importservice_spark.sinks.dbapi import spill_root

    target, db = sqlite_target
    conn = sqlite3.connect(db)
    conn.executemany(
        "INSERT INTO records (id, version) VALUES (?, ?)",
        [("1", 1), ("5", 1)],
    )
    conn.commit()
    conn.close()
    sc = spark.sparkContext
    sc.setJobGroup("keyset-read", "current_state")
    try:
        state = target.current_state(spark)
        assert sc.statusTracker().getJobIdsForGroup("keyset-read") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    src = spark.range(3).select(
        F.col("id").cast("string").alias("_id"),
        F.lit(2).cast("long").alias("_version"),
    )
    cdc = compute_changes(
        src, state, local_id_col="id", local_version_col="version",
        local_hidden_col="hidden",
    )
    plan = cdc._jdf.queryExecution().optimizedPlan()
    assert "LocalRelation" not in plan.toString()
    leaves = plan.collectLeaves()
    scans = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            relation = leaf.relation()
            roots = relation.location().rootPaths()
            scans.append((
                relation.fileFormat().toString(),
                [str(roots.apply(j)) for j in range(roots.size())],
            ))
    assert len(scans) == 1
    file_format, roots = scans[0]
    assert file_format == "Parquet"
    assert [Path(r.removeprefix("file:")).parent for r in roots] == [spill_root(spark)]
    assert sorted((r["_id"], r["change_type"]) for r in cdc.collect()) == [
        ("0", "add"), ("1", "update"), ("2", "add"), ("5", "remove"),
    ]
    target.release_state(spark)


def _fetch_hooked_factory(db, before_fetch):
    """A ``connection_factory`` for ``db`` whose cursors call
    ``before_fetch()`` before every ``fetchmany``."""

    class Cursor:
        def __init__(self, cur):
            self.cur = cur

        def execute(self, *args):
            return self.cur.execute(*args)

        def fetchmany(self, size):
            before_fetch()
            return self.cur.fetchmany(size)

    class Connection:
        def __init__(self):
            self.conn = sqlite3.connect(db)

        def cursor(self):
            return Cursor(self.conn.cursor())

        def close(self):
            self.conn.close()

    return Connection


def test_dbapi_current_state_memory_stays_flat_across_fetch_batches(
    spark, sqlite_target
):
    """Python (``tracemalloc``) and Arrow (``total_allocated_bytes``)
    memory, read at every ``fetchmany``, stays within one fetch batch
    over six batches: each batch goes to the parquet spill before the
    next one is fetched. ``tracemalloc`` alone cannot see Arrow buffers."""
    import tracemalloc

    import pyarrow as pa

    from wwwision_importservice_spark.sinks.dbapi import KEYSET_FETCH_ROWS

    target, db = sqlite_target
    rows = [(f"r{i:07d}", i, i % 2) for i in range(6 * KEYSET_FETCH_ROWS)]
    conn = sqlite3.connect(db)
    conn.executemany("INSERT INTO records (id, version, hidden) VALUES (?, ?, ?)", rows)
    conn.commit()
    conn.close()
    batch = rows[:KEYSET_FETCH_ROWS]
    arrow_batch = pa.RecordBatch.from_pydict({
        "id": [r[0] for r in batch],
        "version": [r[1] for r in batch],
        "hidden": [bool(r[2]) for r in batch],
    }).get_total_buffer_size()

    readings = []
    target.connection_factory = _fetch_hooked_factory(
        db,
        lambda: readings.append(
            (pa.total_allocated_bytes(), tracemalloc.get_traced_memory()[0])
        ),
    )
    tracemalloc.start()
    try:
        state = target.current_state(spark)
    finally:
        tracemalloc.stop()
    assert state.count() == len(rows)
    target.release_state(spark)
    assert len(readings) == 7  # six full batches, then the empty fetch
    # from the second fetch on, one batch of tuples is alive at each
    # reading; what it costs in Python is the rise over the first fetch
    python_batch = readings[1][1] - readings[0][1]
    arrow_growth = readings[-1][0] - readings[1][0]
    python_growth = readings[-1][1] - readings[1][1]
    assert arrow_growth < arrow_batch, (arrow_growth, arrow_batch, readings)
    assert python_growth < python_batch, (python_growth, python_batch, readings)


def test_dbapi_keyset_spill_is_released(spark, tmp_path, monkeypatch):
    """The spill is deleted after a successful run, after a run whose
    apply raises, after ``explain()``, and by a ``current_state`` whose
    fetch raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wwwision_importservice_spark.plans.pipeline import Events, ImportPipeline
    from wwwision_importservice_spark.plans.preset import Preset
    from wwwision_importservice_spark.sinks.dbapi import spill_root

    src = tmp_path / "src.parquet"
    pq.write_table(pa.table({"id": ["a", "b"], "title": ["x", "y"]}), src)
    db = str(tmp_path / "t.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE records (id TEXT PRIMARY KEY, title TEXT)")
    conn.execute("INSERT INTO records VALUES ('a', 'x'), ('z', 'z')")
    conn.commit()
    conn.close()
    target = DbapiTarget(
        connection_factory=functools.partial(sqlite3.connect, db), table="records"
    )
    preset = Preset(
        name="spill", source=FileSource(path=str(src), format="parquet"),
        target=target, id_attribute="id",
    )
    root = spill_root(spark)
    root.mkdir(parents=True, exist_ok=True)
    before = set(os.listdir(root))

    def new_spills():
        return set(os.listdir(root)) - before

    seen = []
    pipeline = ImportPipeline(preset, spark)
    pipeline.on(Events.PRE_IMPORT_DATA, lambda cdc: seen.append(new_spills()))
    assert pipeline.run()["added"] == 1
    assert len(seen[-1]) == 1 and new_spills() == set()

    def broken_apply(spark, cdc):
        raise RuntimeError("apply failed")

    monkeypatch.setattr(target, "apply", broken_apply)
    with pytest.raises(RuntimeError, match="apply failed"):
        pipeline.run()
    assert len(seen[-1]) == 1 and new_spills() == set()

    assert "Scan parquet" in pipeline.explain()
    assert new_spills() == set()

    fetches = []

    def fail_after_first_batch():
        fetches.append(1)
        if len(fetches) > 1:
            raise sqlite3.OperationalError("fetch failed")

    target.connection_factory = _fetch_hooked_factory(db, fail_after_first_batch)
    with pytest.raises(sqlite3.OperationalError, match="fetch failed"):
        target.current_state(spark)
    assert new_spills() == set()


def test_bucketed_target_lifecycle(spark, tmp_path):
    """BucketedParquetTarget: two sync applies with a generation swap —
    same MERGE semantics as ParquetTarget, state persisted bucketed."""
    from pyspark.sql import functions as F

    from wwwision_importservice_spark.operators.diff import compute_changes
    from wwwision_importservice_spark.record import RecordFrame
    from wwwision_importservice_spark.sinks.bucketed import BucketedParquetTarget

    target = BucketedParquetTarget(
        str(tmp_path / "state"), table_name="bkt_target_t1", n_buckets=4
    )
    try:
        src1 = RecordFrame.from_keyed(
            spark.createDataFrame(
                [("1", 10, "x"), ("2", 10, "y")],
                "_id string, _version long, payload string",
            )
        )
        cdc1 = compute_changes(
            src1.df, target.current_state(spark),
            local_id_col="id", local_version_col="version",
        )
        stats1 = target.apply(spark, cdc1)
        assert (stats1.added, stats1.updated, stats1.removed) == (2, 0, 0)

        # second run: 1 updated, 2 unchanged, 3 added; then 2 removed
        src2 = RecordFrame.from_keyed(
            spark.createDataFrame(
                [("1", 20, "x2"), ("3", 5, "z")],
                "_id string, _version long, payload string",
            )
        )
        cdc2 = compute_changes(
            src2.df, target.current_state(spark),
            local_id_col="id", local_version_col="version",
        )
        stats2 = target.apply(spark, cdc2)
        assert (stats2.added, stats2.updated, stats2.removed) == (1, 1, 1)

        final = {
            r["id"]: (r["version"], r["payload"])
            for r in spark.table("bkt_target_t1").collect()
        }
        assert final == {"1": (20, "x2"), "3": (5, "z")}
        # exactly one generation directory remains after the swap
        assert len(target._generations()) == 1
    finally:
        target.remove_all(spark)


def test_bucketed_target_diff_has_no_target_side_exchange(spark, tmp_path):
    """The point of bucketing the state: the diff join's target side is
    pre-distributed on the key — the plan has at most ONE shuffle (the
    source side), never one per side."""
    import re as _re

    from pyspark.sql import functions as F

    from wwwision_importservice_spark.operators.diff import compute_changes
    from wwwision_importservice_spark.record import RecordFrame
    from wwwision_importservice_spark.sinks.bucketed import BucketedParquetTarget

    target = BucketedParquetTarget(
        str(tmp_path / "state2"), table_name="bkt_target_t2", n_buckets=4
    )
    try:
        seed = RecordFrame.from_keyed(
            spark.createDataFrame(
                [(str(i), 1, "p") for i in range(100)],
                "_id string, _version long, payload string",
            )
        )
        target.apply(
            spark,
            compute_changes(
                seed.df, target.current_state(spark),
                local_id_col="id", local_version_col="version",
            ),
        )

        src = RecordFrame.from_keyed(
            spark.createDataFrame(
                [(str(i), 2, "q") for i in range(50, 150)],
                "_id string, _version long, payload string",
            )
        )
        cdc = compute_changes(
            src.df, target.current_state(spark),
            local_id_col="id", local_version_col="version",
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        tree = cdc._jdf.queryExecution().explainString(mode).split("\n\n")[0]
        shuffles = len(_re.findall(r"\bExchange\b", tree)) - len(
            _re.findall(r"\bReusedExchange\b", tree)
        )
        assert shuffles <= 1, tree
    finally:
        target.remove_all(spark)


def test_bucketed_target_survives_catalog_loss(spark, tmp_path):
    """Generations are the source of truth: when the (in-memory) catalog
    entry vanishes — new session, or a crash between the swap's DROP and
    RENAME — read() re-registers the newest generation with its bucket
    spec instead of silently serving empty state (which would re-diff
    everything as adds and delete the surviving generation)."""
    import re as _re

    from wwwision_importservice_spark.operators.diff import compute_changes
    from wwwision_importservice_spark.record import RecordFrame
    from wwwision_importservice_spark.sinks.bucketed import BucketedParquetTarget

    target = BucketedParquetTarget(
        str(tmp_path / "state3"), table_name="bkt_target_t3", n_buckets=4
    )
    try:
        seed = RecordFrame.from_keyed(
            spark.createDataFrame(
                [("1", 1, "a"), ("2", 1, "b")],
                "_id string, _version long, payload string",
            )
        )
        target.apply(
            spark,
            compute_changes(
                seed.df, target.current_state(spark),
                local_id_col="id", local_version_col="version",
            ),
        )

        # simulate a fresh session: catalog entry gone, generation stays
        spark.sql("DROP TABLE bkt_target_t3")
        assert target.exists()
        got = {r["id"]: r["payload"] for r in target.read(spark).collect()}
        assert got == {"1": "a", "2": "b"}

        # the re-registered table must still be bucketed: a diff against
        # it keeps the single-exchange plan
        src = RecordFrame.from_keyed(
            spark.createDataFrame(
                [("2", 2, "b2"), ("3", 1, "c")],
                "_id string, _version long, payload string",
            )
        )
        cdc = compute_changes(
            src.df, target.current_state(spark),
            local_id_col="id", local_version_col="version",
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        tree = cdc._jdf.queryExecution().explainString(mode).split("\n\n")[0]
        shuffles = len(_re.findall(r"\bExchange\b", tree)) - len(
            _re.findall(r"\bReusedExchange\b", tree)
        )
        assert shuffles <= 1, tree

        # and a crash mid-swap (serving dropped, staging rename pending)
        # recovers too: stale staging metadata is cleared on re-register
        stats = target.apply(spark, cdc)
        assert (stats.added, stats.updated, stats.removed) == (1, 1, 1)
        spark.sql("DROP TABLE bkt_target_t3")
        got = {r["id"]: r["payload"] for r in target.read(spark).collect()}
        assert got == {"2": "b2", "3": "c"}
    finally:
        target.remove_all(spark)


def test_dbapi_quarantine_chaos_at_batch_scale(spark, tmp_path):
    """O3 continue-on-error at partition scale (ImportService.php:140-150):
    poison rows scattered across MANY executemany batches must each
    quarantine individually — every good row before, between, and after
    a failure still lands, counts are exact, and a later sync against
    the survivors works. batch_size=10 forces the batch → row-by-row
    retry path to fire in multiple chunks, not just once."""
    db = str(tmp_path / "chaos.db")
    conn = sqlite3.connect(db)
    conn.execute(
        "CREATE TABLE records (id TEXT PRIMARY KEY, title TEXT, "
        "version INTEGER, hidden INTEGER DEFAULT 0)"
    )
    # pre-seed PK conflicts: every 7th id of the incoming add stream
    poisoned = [f"id{i:03d}" for i in range(100) if i % 7 == 0]
    conn.executemany(
        "INSERT INTO records (id, title, version) VALUES (?, 'seeded', 0)",
        [(p,) for p in poisoned],
    )
    conn.commit()
    conn.close()

    target = DbapiTarget(
        connection_factory=functools.partial(sqlite3.connect, db),
        table="records",
        id_column="id",
        version_column="version",
        hidden_column="hidden",
        write_partitions=1,  # sqlite: single writer
        batch_size=10,
    )
    rows = [(f"id{i:03d}", 1, f"t{i}", "add") for i in range(100)]
    stats = target.apply(spark, make_cdc(spark, rows))

    assert stats.errors == len(poisoned) == 15
    assert stats.added == 100 - 15
    got = q(db, "SELECT count(*), sum(version) FROM records")
    # all 100 ids present; survivors at version 1, seeded conflicts at 0
    assert got == [(100, 85)]
    # the quarantined ids kept their pre-existing (seeded) rows intact
    seeded = [r[0] for r in q(
        db, "SELECT id FROM records WHERE title='seeded' ORDER BY id"
    )]
    assert seeded == poisoned

    # import continues next run: updates flow to every id, including the
    # previously-quarantined ones (version rises, un-hide semantics apply)
    upd = [(f"id{i:03d}", 2, f"u{i}", "update") for i in range(100)]
    stats2 = target.apply(spark, make_cdc(spark, upd))
    assert stats2.errors == 0 and stats2.updated == 100
    assert q(db, "SELECT count(*) FROM records WHERE version=2") == [(100,)]


def test_dbapi_connection_failure_aborts(spark, tmp_path):
    """The complement of quarantine: a CONNECTION-level failure is not a
    per-record error — it aborts the apply (the reference continues on
    per-record \\Error but rethrows \\Exception)."""
    def broken_factory():
        raise OSError("database host unreachable")

    target = DbapiTarget(
        connection_factory=broken_factory,
        table="records",
        write_partitions=1,
    )
    with pytest.raises(Exception, match="unreachable"):
        target.apply(spark, make_cdc(spark, [("a", 1, "t", "add")]))


def test_file_sinks_probe_through_hadoop_filesystem(spark, tmp_path):
    """A ``file:///`` target path works in ``setup()`` and ``compact()``
    as it does in ``apply``: both probe through the Hadoop filesystem,
    not through ``os`` calls that read the URI as a relative path."""
    from wwwision_importservice_spark.sinks.scd2 import Scd2ParquetTarget

    uri = tmp_path.as_uri()
    target = ParquetTarget(path=f"{uri}/tgt", id_column="id", version_column="version")
    assert not target.setup(spark).has_errors
    target.apply(spark, make_cdc(spark, [("a", 1, "t", "add"), ("b", 2, "t", "add")]).repartition(2))
    assert not target.setup(spark).has_errors
    assert target.compact(spark) == 1
    assert sorted(r["id"] for r in spark.read.parquet(f"{uri}/tgt").collect()) == ["a", "b"]
    scd2 = Scd2ParquetTarget(path=f"{uri}/scd2", id_column="id")
    assert not scd2.setup(spark).has_errors
    assert Scd2ParquetTarget(path=f"{uri}/missing/scd2").setup(spark).has_errors
    assert ParquetTarget(path=f"{uri}/missing/tgt").setup(spark).has_errors


def test_parquet_target_compaction(spark, tmp_path):
    """Many incremental syncs leave a pile of small files; compact()
    bin-packs the snapshot (range-clustered on the id) without changing
    its contents."""
    path = str(tmp_path / "ctgt")
    target = ParquetTarget(path=path, id_column="id", version_column="version")
    # several applies, each writing its own fragment set
    for batch in range(4):
        rows = [(f"{batch}-{i}", 1, f"t{i}", "add") for i in range(25)]
        target.apply(spark, make_cdc(spark, rows).repartition(8))

    import os as _os
    before_files = sum(
        1 for e in _os.scandir(path) if e.name.endswith(".parquet")
    )
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    n_after = target.compact(spark)
    after_files = sum(
        1 for e in _os.scandir(path) if e.name.endswith(".parquet")
    )
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    assert after == before, "compaction must not change table contents"
    assert n_after == after_files == 1  # tiny table -> one file
    assert after_files < before_files


def test_file_source_malformed_json_modes(spark, tmp_path):
    """Malformed input rows: PERMISSIVE mode surfaces them in a corrupt-
    record column (the scan-level analogue of the per-record quarantine
    O3 — count them, keep the good rows) while FAILFAST aborts the read,
    mirroring the strict/lenient split of the record layer."""
    from wwwision_importservice_spark.sources.file import FileSource

    feed = tmp_path / "feed.jsonl"
    feed.write_text(
        '{"id": "a", "v": 1}\n'
        "{THIS IS NOT JSON}\n"
        '{"id": "b", "v": 2}\n'
    )

    src = FileSource(
        str(feed),
        format="json",
        multi_line=False,
        schema="id string, v long, _corrupt string",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
    )
    df = src.load(spark).cache()  # cache: corrupt-col queries need the raw rows
    good = df.filter(F.col("_corrupt").isNull())
    bad = df.filter(F.col("_corrupt").isNotNull())
    assert {r["id"] for r in good.collect()} == {"a", "b"}
    assert bad.count() == 1
    df.unpersist()

    strict = FileSource(
        str(feed),
        format="json",
        multi_line=False,
        schema="id string, v long",
        mode="FAILFAST",
    )
    with pytest.raises(Exception, match="FAILFAST|Malformed"):
        strict.load(spark).collect()


def test_bucketed_target_compaction_preserves_bucketing(spark, tmp_path):
    """BucketedParquetTarget.compact collapses per-(task, bucket)
    fragments to one file per bucket while keeping the bucket spec —
    the diff join still plans without a target-side exchange."""
    import os as _os
    import re as _re

    from wwwision_importservice_spark.operators.diff import compute_changes
    from wwwision_importservice_spark.record import RecordFrame
    from wwwision_importservice_spark.sinks.bucketed import BucketedParquetTarget

    target = BucketedParquetTarget(
        str(tmp_path / "cstate"), table_name="bkt_compact_t", n_buckets=4
    )
    try:
        seed = RecordFrame.from_keyed(
            spark.createDataFrame(
                [(str(i), 1, "p") for i in range(200)],
                "_id string, _version long, payload string",
            ).repartition(8)  # many writer tasks -> many files per bucket
        )
        target.apply(
            spark,
            compute_changes(
                seed.df, target.current_state(spark),
                local_id_col="id", local_version_col="version",
            ),
        )
        before = sorted(tuple(r) for r in target.read(spark).collect())
        gen0 = target._generations()[-1]
        files_before = sum(
            1 for e in _os.scandir(gen0) if e.name.endswith(".parquet")
        )

        n_files = target.compact(spark)
        after = sorted(tuple(r) for r in target.read(spark).collect())
        assert after == before
        # compaction's hard guarantees: at most one file per bucket,
        # never MORE files than before. How fragmented the seed write
        # was (files_before) depends on the planned-write exchange's
        # AQE-chosen task count — some runs land exactly at n_buckets
        # already, so a strict files_before > n_buckets precondition
        # would flake (observed); assert strict collapse only when the
        # precondition actually materialized.
        assert n_files <= 4
        assert n_files <= files_before
        if files_before > 4:
            assert n_files < files_before

        # bucket metadata survived: a fresh diff still has <= 1 exchange
        src = RecordFrame.from_keyed(
            spark.createDataFrame(
                [(str(i), 2, "q") for i in range(100, 300)],
                "_id string, _version long, payload string",
            )
        )
        cdc = compute_changes(
            src.df, target.current_state(spark),
            local_id_col="id", local_version_col="version",
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        tree = cdc._jdf.queryExecution().explainString(mode).split("\n\n")[0]
        shuffles = len(_re.findall(r"\bExchange\b", tree)) - len(
            _re.findall(r"\bReusedExchange\b", tree)
        )
        assert shuffles <= 1, tree
    finally:
        target.remove_all(spark)


def test_bucketed_target_crash_windows_never_serve_half_state(spark, tmp_path):
    """Generation-swap durability contract (bucketed.py module
    docstring): whatever window a crash hits, a reader is always served
    one COMPLETE committed generation — never a half-written directory,
    never a mix of generations."""
    import os as _os

    from wwwision_importservice_spark.operators.diff import compute_changes
    from wwwision_importservice_spark.record import RecordFrame
    from wwwision_importservice_spark.sinks.bucketed import BucketedParquetTarget

    target = BucketedParquetTarget(
        str(tmp_path / "state4"), table_name="bkt_target_t4", n_buckets=4
    )

    def sync(rows):
        src = RecordFrame.from_keyed(
            spark.createDataFrame(
                rows, "_id string, _version long, payload string"
            )
        )
        cdc = compute_changes(
            src.df, target.current_state(spark),
            local_id_col="id", local_version_col="version",
        )
        target.apply(spark, cdc)

    try:
        sync([("1", 1, "a"), ("2", 1, "b")])  # g0 committed

        # --- crash MID-STAGING-WRITE: partial generation, no _SUCCESS
        gens = target._generations()
        partial = f"{target.path.rstrip('/')}.g{int(gens[-1].rsplit('.g', 1)[1]) + 1}"
        _os.makedirs(partial)
        with open(_os.path.join(partial, "part-00000.parquet"), "wb") as f:
            f.write(b"\x00garbage not parquet")
        spark.sql("DROP TABLE IF EXISTS bkt_target_t4")  # fresh session
        got = {
            r["id"]: r["payload"] for r in target.read(spark).collect()
        }
        assert got == {"1": "a", "2": "b"}  # previous committed state

        # the next sync must not collide with the partial dir's number,
        # and its cleanup removes the junk
        sync([("1", 2, "a2"), ("2", 2, "b2")])
        assert not _os.path.exists(partial)
        assert len(target._committed_generations()) == 1

        # --- crash BETWEEN DROP AND RENAME: no serving catalog entry,
        # newest committed generation recovers
        spark.sql("DROP TABLE IF EXISTS bkt_target_t4")
        got = {
            r["id"]: r["payload"] for r in target.read(spark).collect()
        }
        assert got == {"1": "a2", "2": "b2"}  # the complete NEW state
    finally:
        target.remove_all(spark)


# --------------------------------------------------------------------------- #
# SCD2 parquet target — full-history apply
# --------------------------------------------------------------------------- #

def test_scd2_lifecycle(spark, tmp_path):
    """add → update → remove → re-add across four runs: every version is
    kept with correct [valid_from, valid_to) intervals, current_state
    exposes only live rows, and as_of() reconstructs any past state."""
    from wwwision_importservice_spark.plans.pipeline import ImportPipeline
    from wwwision_importservice_spark.plans.preset import Preset
    from wwwision_importservice_spark.sinks.scd2 import Scd2ParquetTarget
    from wwwision_importservice_spark.sources.memory import CallableSource

    target = Scd2ParquetTarget(
        path=str(tmp_path / "scd2"), id_column="id", version_column="version"
    )
    preset = Preset(
        name="scd2-test",
        source=CallableSource(
            rows=[("a", 1, "v1", 1), ("b", 1, "w1", 2)],
            schema="id string, v long, title string, _ord long",
        ),
        target=target,
        id_attribute="id",
        version_attribute="v",
        order_attribute="_ord",
    )
    pipeline = ImportPipeline(preset, spark)

    assert pipeline.run() == {"added": 2, "updated": 0, "removed": 0, "errors": 0}
    # run 2: bump a, drop b
    preset.source.rows = [("a", 5, "v2", 1)]
    assert pipeline.run() == {"added": 0, "updated": 1, "removed": 1, "errors": 0}
    # run 3: no-op
    assert pipeline.run() == {"added": 0, "updated": 0, "removed": 0, "errors": 0}
    # run 4: b re-appears → fresh add (gap preserved). Sequence
    # numbers count STATE-CHANGING runs (next_run_seq = max(valid_from)+1),
    # so the no-op run 3 consumed none and this lands at seq 3 —
    # replaying the same runs reproduces identical history.
    preset.source.rows = [("a", 5, "v2", 1), ("b", 9, "w2", 2)]
    assert pipeline.run() == {"added": 1, "updated": 0, "removed": 0, "errors": 0}

    hist = sorted(
        (r["id"], r["version"], r["title"], r["valid_from"], r["valid_to"],
         r["is_current"])
        for r in target.history(spark).collect()
    )
    assert hist == [
        ("a", 1, "v1", 1, 2, False),
        ("a", 5, "v2", 2, None, True),
        ("b", 1, "w1", 1, 2, False),
        ("b", 9, "w2", 3, None, True),
    ]
    current = sorted(
        (r["id"], r["version"]) for r in target.current_state(spark).collect()
    )
    assert current == [("a", 5), ("b", 9)]
    # time travel: after run 1 both originals live; after run 2 only a's v2
    asof1 = sorted((r["id"], r["version"]) for r in target.as_of(spark, 1).collect())
    assert asof1 == [("a", 1), ("b", 1)]
    asof2 = sorted((r["id"], r["version"]) for r in target.as_of(spark, 2).collect())
    assert asof2 == [("a", 5)]
    asof3 = sorted((r["id"], r["version"]) for r in target.as_of(spark, 3).collect())
    assert asof3 == [("a", 5), ("b", 9)]


def test_scd2_remove_all_closes_history(spark, tmp_path):
    from wwwision_importservice_spark.plans.pipeline import ImportPipeline
    from wwwision_importservice_spark.plans.preset import Preset
    from wwwision_importservice_spark.sinks.scd2 import Scd2ParquetTarget
    from wwwision_importservice_spark.sources.memory import CallableSource

    target = Scd2ParquetTarget(path=str(tmp_path / "scd2"), id_column="id")
    preset = Preset(
        name="scd2-prune",
        source=CallableSource(
            rows=[("a", 1, "t", 1)], schema="id string, v long, t string, _ord long"
        ),
        target=target,
        id_attribute="id",
        version_attribute="v",
        order_attribute="_ord",
    )
    ImportPipeline(preset, spark).run()
    assert target.remove_all(spark) == 1
    assert target.current_state(spark).count() == 0
    # history retained, interval closed
    rows = target.history(spark).collect()
    assert len(rows) == 1 and rows[0]["valid_to"] == 2 and not rows[0]["is_current"]


def test_parquet_target_schema_evolution_on_new_column(spark, tmp_path):
    """A source that grows a column mid-life: rows written before the
    column existed read back NULL, new/updated rows carry it — the
    allowMissingColumns union contract of the MERGE emulation, pinned
    so a refactor can't silently start dropping late columns."""
    from wwwision_importservice_spark.plans.pipeline import ImportPipeline
    from wwwision_importservice_spark.plans.preset import Preset
    from wwwision_importservice_spark.sinks.parquet import ParquetTarget
    from wwwision_importservice_spark.sources.memory import CallableSource

    target = ParquetTarget(
        path=str(tmp_path / "tgt"), id_column="id", version_column="version"
    )
    preset = Preset(
        name="evolve",
        source=CallableSource(
            rows=[("a", 1, "t1", 1), ("b", 1, "t2", 2)],
            schema="id string, v long, title string, _ord long",
        ),
        target=target,
        id_attribute="id",
        version_attribute="v",
        order_attribute="_ord",
    )
    ImportPipeline(preset, spark).run()

    # the source gains a column; only 'a' is touched (version bump)
    preset.source = CallableSource(
        rows=[("a", 5, "t1b", "extra-a", 1), ("b", 1, "t2", "extra-b", 2)],
        schema="id string, v long, title string, note string, _ord long",
    )
    stats = ImportPipeline(preset, spark).run()
    assert stats == {"added": 0, "updated": 1, "removed": 0, "errors": 0}

    rows = {
        r["id"]: (r["version"], r["title"], r["note"])
        for r in spark.read.parquet(str(tmp_path / "tgt")).collect()
    }
    # updated row carries the new column; untouched row reads back NULL
    assert rows == {"a": (5, "t1b", "extra-a"), "b": (1, "t2", None)}


def test_scd2_remove_only_run_consumes_a_sequence(spark, tmp_path):
    """Regression (review finding): a removal-only run advances only
    valid_to, so next_run_seq must consider BOTH bookkeeping columns —
    otherwise a later re-add reuses the closure's sequence, erasing the
    removal gap and making the post-remove state unreachable by as_of."""
    from wwwision_importservice_spark.plans.pipeline import ImportPipeline
    from wwwision_importservice_spark.plans.preset import Preset
    from wwwision_importservice_spark.sinks.scd2 import Scd2ParquetTarget
    from wwwision_importservice_spark.sources.memory import CallableSource

    target = Scd2ParquetTarget(
        path=str(tmp_path / "scd2"), id_column="id", version_column="version"
    )
    preset = Preset(
        name="scd2-gap",
        source=CallableSource(
            rows=[("a", 1, "t", 1), ("b", 1, "u", 2)],
            schema="id string, v long, title string, _ord long",
        ),
        target=target,
        id_attribute="id",
        version_attribute="v",
        order_attribute="_ord",
    )
    pipeline = ImportPipeline(preset, spark)
    pipeline.run()                               # seq 1: add a, b
    preset.source.rows = [("b", 1, "u", 2)]
    pipeline.run()                               # seq 2: REMOVE-ONLY (a closes)
    preset.source.rows = [("a", 9, "t2", 1), ("b", 1, "u", 2)]
    pipeline.run()                               # must be seq 3, not 2

    hist = sorted(
        (r["id"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in target.history(spark).collect()
    )
    assert hist == [
        ("a", 1, 2, False),
        ("a", 3, None, True),   # re-add AFTER the gap
        ("b", 1, None, True),
    ]
    # the post-remove state is reachable: at seq 2, only b exists
    asof2 = sorted(r["id"] for r in target.as_of(spark, 2).collect())
    assert asof2 == ["b"]


def test_clustered_layout_prunes_filtered_scans(spark, tmp_path):
    """operators/layout.py: a range-clustered write must let a point
    filter touch O(1) files, where the same data written round-robin is
    touched everywhere — the storage-side half of predicate pushdown."""
    from wwwision_importservice_spark.operators.layout import (
        files_touched,
        write_clustered,
    )

    rows = spark.range(0, 20_000).select(
        (F.col("id") % 100).alias("user_id"), F.col("id").alias("payload")
    )
    clustered_path = str(tmp_path / "clustered")
    flat_path = str(tmp_path / "flat")
    write_clustered(rows, clustered_path, ["user_id"], n_partitions=16)
    rows.repartition(16).write.parquet(flat_path)

    pred = F.col("user_id") == 42
    got = spark.read.parquet(clustered_path).filter(pred)
    flat = spark.read.parquet(flat_path).filter(pred)
    # same answer either way
    assert got.count() == flat.count() == 200
    # clustered: the key lives in 1 (or 2, straddling a range boundary)
    # of 16 files; round-robin: every file carries every key
    assert files_touched(got) <= 2, files_touched(got)
    assert files_touched(flat) == 16
    # rows inside each clustered file are sorted on the key (footer
    # min-max stats are tight because of this)
    first_file = (
        spark.read.parquet(clustered_path)
        .withColumn("f", F.input_file_name())
        .filter(pred).select("f").first()["f"]
    )
    vals = [
        r["user_id"]
        for r in spark.read.parquet(first_file).select("user_id").collect()
    ]
    assert vals == sorted(vals)


def test_zorder_layout_prunes_on_both_dimensions(spark, tmp_path):
    """clustered_zorder: with two independently-filtered columns, a
    selective filter on EITHER column must prune files, where linear
    clustering only prunes its leading column — the reason Z-order
    exists. 16 files over a 2D uniform grid → a Z-range per file is a
    compact rectangle, so one coordinate line crosses ~sqrt(16) of them."""
    from wwwision_importservice_spark.operators.layout import (
        clustered_zorder,
        files_touched,
        write_clustered,
    )

    rows = spark.range(0, 40_000).select(
        (F.col("id") % 200).alias("x"),
        ((F.col("id") / 200).cast("long") % 200).alias("y"),
        F.col("id").alias("payload"),
    )
    z_path = str(tmp_path / "zorder")
    lin_path = str(tmp_path / "linear")
    clustered_zorder(rows, ["x", "y"], n_partitions=16).write.parquet(z_path)
    write_clustered(rows, lin_path, ["x", "y"], n_partitions=16)

    z = spark.read.parquet(z_path)
    lin = spark.read.parquet(lin_path)
    # layout changes nothing about the data
    assert z.count() == lin.count() == 40_000

    fx = F.col("x") == 57
    fy = F.col("y") == 123
    # range-partition boundary SAMPLING can leave a partition empty, so
    # "all files" is the measured total, not necessarily exactly 16
    z_total, lin_total = files_touched(z), files_touched(lin)
    assert z_total >= 12 and lin_total >= 12, (z_total, lin_total)
    zx, zy = files_touched(z.filter(fx)), files_touched(z.filter(fy))
    lx, ly = files_touched(lin.filter(fx)), files_touched(lin.filter(fy))
    # z-order prunes BOTH dimensions. The ideal is ~sqrt(files), but a
    # contiguous z-range need not align with the bucket grid, so a
    # coordinate slab can cross up to ~2*sqrt ranges — assert half the
    # files as the honest bound (linear reads ALL of them on y)
    assert zx <= z_total // 2 and zy <= z_total // 2, (zx, zy, z_total)
    # linear prunes its leading column hard but not the trailing one
    assert lx <= 2, lx
    assert ly == lin_total, (ly, lin_total)


def test_zorder_key_rejects_degenerate_columns(spark):
    """zorder_key must raise on non-numeric or all-NULL clustering
    columns instead of silently mapping every row to bucket 0 (which
    would degrade that dimension to no pruning with no error)."""
    import pytest

    from wwwision_importservice_spark.operators.layout import zorder_key

    df = spark.range(0, 100).select(
        F.col("id").alias("x"),
        F.col("id").cast("string").alias("s"),
        F.lit(None).cast("double").alias("empty"),
    )
    with pytest.raises(TypeError, match="non-numeric"):
        zorder_key(df, ["x", "s"])
    with pytest.raises(ValueError, match="no non-null values"):
        zorder_key(df, ["x", "empty"])
    with pytest.raises(ValueError, match="unknown column"):
        zorder_key(df, ["x", "missing"])
    # the happy path is untouched
    keyed, key = zorder_key(df, ["x"], bits=4)
    assert keyed.select(key).distinct().count() > 1


def test_recluster_recovers_append_degraded_pruning(spark, tmp_path):
    """layout.py recluster-on-append: appends to a clustered table
    silently degrade pruning (each appended file spans the whole key
    range); clustering_staleness must MEASURE the decay, recluster()
    must RECOVER the fresh floor, and the filtered-scan file counts
    must show degradation then recovery."""
    from wwwision_importservice_spark.operators.layout import (
        clustering_staleness,
        files_touched,
        recluster,
        write_clustered,
    )

    rows = spark.range(0, 20_000).select(
        (F.col("id") % 100).alias("user_id"), F.col("id").alias("payload")
    )
    path = str(tmp_path / "t")
    write_clustered(rows, path, ["user_id"], n_partitions=16)

    fresh = clustering_staleness(spark.read.parquet(path), ["user_id"])
    assert fresh["n_files"] >= 12
    # fresh range layout: a point lives in 1 file (2 on a boundary)
    assert fresh["avg_files_per_point"] <= 2.0, fresh

    # 4 unclustered appends, each spanning the whole key range
    extra = spark.range(20_000, 28_000).select(
        (F.col("id") % 100).alias("user_id"), F.col("id").alias("payload")
    )
    for _ in range(4):
        extra.coalesce(1).write.mode("append").parquet(path)

    pred = F.col("user_id") == 42
    stale = clustering_staleness(spark.read.parquet(path), ["user_id"])
    degraded_files = files_touched(spark.read.parquet(path).filter(pred))
    # decay is real and the metric sees it: every appended file now
    # holds every key
    assert stale["avg_files_per_point"] >= fresh["avg_files_per_point"] + 4, stale
    assert degraded_files >= 5, degraded_files

    report = recluster(spark, path, ["user_id"], n_partitions=16)
    assert report["before"]["avg_files_per_point"] == stale["avg_files_per_point"]
    assert report["after"]["avg_files_per_point"] <= 2.0, report
    # data intact, pruning floor restored
    got = spark.read.parquet(path)
    assert got.count() == 52_000  # 20k original + 4 appends x 8k
    assert files_touched(got.filter(pred)) <= 2
    assert got.filter(pred).count() == 200 + 80 * 4
    # no backup/tmp residue from the crash-safe swap
    from wwwision_importservice_spark.fsutil import _backup_path, path_exists

    assert not path_exists(spark, _backup_path(path))
    assert not path_exists(spark, path + "__reclustering")


def test_dbapi_paramstyle_whitelist():
    """Numeric/named paramstyles can't take positional placeholders —
    rejected at construction instead of failing on every row at
    execute time (r11 review catch)."""
    for bad in ("numeric", "named", "nonsense"):
        with pytest.raises(ValueError, match="paramstyle"):
            DbapiTarget(connection_factory=lambda: None, table="t",
                        paramstyle=bad)
    for ok, ph in [("qmark", "?"), ("format", "%s"), ("pyformat", "%s")]:
        t = DbapiTarget(connection_factory=lambda: None, table="t",
                        paramstyle=ok)
        assert t.placeholder == ph


def test_dbapi_error_samples_and_unmatched(spark, tmp_path):
    """New ApplyStats surfaces (r11 review catches): quarantined rows
    carry up to 5 (statement, params, error) samples, and UPDATEs that
    matched zero target rows count in `unmatched` instead of being
    silently reported as applied."""
    db = str(tmp_path / "stats.db")
    conn = sqlite3.connect(db)
    conn.execute(
        "CREATE TABLE records (id TEXT PRIMARY KEY, title TEXT, "
        "version INTEGER, hidden INTEGER DEFAULT 0)"
    )
    conn.execute("INSERT INTO records VALUES ('dup', 'seeded', 0, 0)")
    conn.commit()
    conn.close()
    target = DbapiTarget(
        connection_factory=functools.partial(sqlite3.connect, db),
        table="records",
        id_column="id",
        version_column="version",
        hidden_column="hidden",
        write_partitions=1,
    )
    stats = target.apply(
        spark, make_cdc(spark, [("dup", 1, "clash", "add")])
    )
    assert stats.errors == 1
    assert stats.error_samples and "dup" in stats.error_samples[0]
    # update aimed at a row that does not exist in the target
    stats2 = target.apply(
        spark, make_cdc(spark, [("ghost", 2, "u", "update")])
    )
    assert stats2.unmatched == 1


def test_dbapi_write_partitions_is_ignored_with_a_warning(tmp_path):
    """``write_partitions`` still loads from old configurations; apply
    writes over one driver connection whatever it says."""
    with pytest.warns(UserWarning, match="write_partitions is ignored"):
        DbapiTarget(connection_factory=lambda: None, table="t",
                    write_partitions=8)


def _no_python_worker(monkeypatch):
    """Make ``foreachPartition``, the way a sink would run its writer in
    Python workers, fail loudly."""
    from pyspark.rdd import RDD
    from pyspark.sql import DataFrame

    def refuse(self, *args, **kwargs):
        raise AssertionError("foreachPartition starts a Python worker")

    monkeypatch.setattr(DataFrame, "foreachPartition", refuse)
    monkeypatch.setattr(RDD, "foreachPartition", refuse)


def test_dbapi_apply_starts_no_python_worker(spark, sqlite_target, monkeypatch):
    from wwwision_importservice_spark.session import local_frame

    target, db = sqlite_target
    target.batch_size = 2
    _no_python_worker(monkeypatch)
    cdc = local_frame(
        spark,
        "_id string, _version long, title string, change_type string",
        [("a", 1, "t1", "add"), ("b", 1, "t2", "add"), ("c", 1, "t3", "add")],
    ).repartition(3)
    stats = target.apply(spark, cdc)
    assert (stats.added, stats.errors) == (3, 0)
    assert q(db, "SELECT id, title FROM records ORDER BY id") == [
        ("a", "t1"), ("b", "t2"), ("c", "t3"),
    ]


def test_dbapi_pipeline_run_starts_no_python_worker(spark, tmp_path, monkeypatch):
    """A whole sync into a DbapiTarget — parquet source, keying, state
    read, diff, Eel mapping, apply — runs on the JVM and the driver."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wwwision_importservice_spark.mapping import Mapper
    from wwwision_importservice_spark.plans.pipeline import ImportPipeline
    from wwwision_importservice_spark.plans.preset import Preset

    src = tmp_path / "src.parquet"
    pq.write_table(pa.table({
        "id": ["a", "b", "c"], "v": [1, 2, 3], "title": ["x", "y", "straße"],
    }), src)
    db = str(tmp_path / "t.db")
    conn = sqlite3.connect(db)
    conn.execute(
        "CREATE TABLE records (id TEXT PRIMARY KEY, title TEXT, version INTEGER)"
    )
    conn.execute("INSERT INTO records VALUES ('a', 'X', 1), ('z', 'Z', 1)")
    conn.commit()
    conn.close()
    preset = Preset(
        name="no-worker",
        source=FileSource(path=str(src), format="parquet"),
        target=DbapiTarget(
            connection_factory=functools.partial(sqlite3.connect, db),
            table="records", version_column="version",
        ),
        id_attribute="id",
        version_attribute="v",
        mapper=Mapper({"title": "${String.toUpperCase(record.title)}"}),
    )
    _no_python_worker(monkeypatch)
    stats = ImportPipeline(preset, spark).run()
    assert stats == {"added": 2, "updated": 0, "removed": 1, "errors": 0}
    assert q(db, "SELECT id, title, version FROM records ORDER BY id") == [
        ("a", "X", 1), ("b", "Y", 2), ("c", "STRASSE", 3),
    ]


def test_dbapi_failed_sync_leaves_target_and_replica_consistent(spark, tmp_path):
    """One transaction per apply: a sync (batch 3, 10 adds) that loses
    its connection after the first chunk raises and leaves the table as
    it was; the next run records all 10 adds, and replaying the
    changelog builds a replica equal to the primary."""
    from wwwision_importservice_spark.mapping import Mapper
    from wwwision_importservice_spark.plans.pipeline import (
        ImportPipeline,
        replay_changelog,
    )
    from wwwision_importservice_spark.plans.preset import Preset

    class LosesConnectionAfterFirstChunk:
        """A sqlite3 connection (and its own cursor) that is lost when the
        second ``executemany`` chunk starts: the real connection closes,
        dropping whatever it has not committed, and that call and every
        later one raise, as a dropped server connection would."""

        def __init__(self, db: str) -> None:
            self._conn = sqlite3.connect(db)
            self._cur = self._conn.cursor()
            self._chunks = 0
            self._lost = False

        def _alive(self) -> None:
            if self._lost:
                raise sqlite3.OperationalError("connection lost")

        def cursor(self):
            return self

        @property
        def rowcount(self) -> int:
            return self._cur.rowcount

        def execute(self, sql, params=()):
            self._alive()
            self._cur.execute(sql, params)

        def executemany(self, sql, rows):
            if self._chunks:
                self._conn.close()
                self._lost = True
            self._alive()
            self._cur.executemany(sql, rows)
            self._chunks += 1

        def fetchone(self):
            self._alive()
            return self._cur.fetchone()

        def fetchmany(self, size):
            self._alive()
            return self._cur.fetchmany(size)

        def commit(self):
            self._alive()
            self._conn.commit()

        def rollback(self):
            self._alive()
            self._conn.rollback()

        def close(self):
            self._conn.close()

    def make_db(name):
        db = str(tmp_path / name)
        conn = sqlite3.connect(db)
        conn.execute(
            "CREATE TABLE records (id TEXT PRIMARY KEY, title TEXT, version INTEGER)"
        )
        conn.commit()
        conn.close()
        return db

    primary, replica = make_db("primary.db"), make_db("replica.db")
    lose = {"on": True}

    def factory():
        if lose["on"]:
            return LosesConnectionAfterFirstChunk(primary)
        return sqlite3.connect(primary)

    preset = Preset(
        name="atomic",
        source=CallableSource(
            rows=[(f"id{i}", 1, f"t{i}") for i in range(10)],
            schema="id string, v long, title string",
        ),
        target=DbapiTarget(
            connection_factory=factory, table="records",
            version_column="version", batch_size=3,
        ),
        id_attribute="id",
        version_attribute="v",
        mapper=Mapper({"title": "${record.title}"}),
    )
    clog = str(tmp_path / "clog")
    pipeline = ImportPipeline(preset, spark)
    with pytest.raises(Exception, match="connection lost"):
        pipeline.run(changelog_dir=clog, run_id="r1")
    assert q(primary, "SELECT count(*) FROM records") == [(0,)]
    assert not (tmp_path / "clog" / "run_id=r1").exists()

    lose["on"] = False
    stats = pipeline.run(changelog_dir=clog, run_id="r2")
    assert stats == {"added": 10, "updated": 0, "removed": 0, "errors": 0}
    assert spark.read.parquet(f"{clog}/run_id=r2").count() == 10

    replay_changelog(
        spark,
        DbapiTarget(functools.partial(sqlite3.connect, replica), "records",
                    version_column="version"),
        clog,
    )
    everything = "SELECT id, title, version FROM records ORDER BY id"
    assert q(replica, everything) == q(primary, everything)
    assert len(q(primary, everything)) == 10


def test_dbapi_apply_needs_no_package_on_worker_path(tmp_path):
    """A driver started from a foreign working directory, with the
    package only on its sys.path and no PYTHONPATH, must still apply:
    the apply writes from the driver and starts no Python worker, which
    would need the package on its own path."""
    db = tmp_path / "t.db"
    conn = sqlite3.connect(db)
    conn.execute(
        "CREATE TABLE records (id TEXT PRIMARY KEY, title TEXT, version INTEGER)"
    )
    conn.commit()
    conn.close()
    script = textwrap.dedent(f"""
        import functools, sqlite3, sys
        sys.path.insert(0, {str(Path(__file__).resolve().parents[1])!r})
        from wwwision_importservice_spark.session import get_spark
        from wwwision_importservice_spark.sinks.dbapi import DbapiTarget

        spark = get_spark("no-pythonpath")
        target = DbapiTarget(
            functools.partial(sqlite3.connect, {str(db)!r}), "records",
            version_column="version", write_partitions=1,
        )
        cdc = spark.createDataFrame(
            [("a", 1, "t", "add")],
            "_id string, _version long, title string, change_type string",
        )
        stats = target.apply(spark, cdc)
        assert (stats.added, stats.errors) == (1, 0), stats
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert q(str(db), "SELECT id, title, version FROM records") == [("a", "t", 1)]


# --------------------------------------------------------------------- #
# Live JDBC round-trip (probe-gated: embedded Apache Derby — r13,
# VERDICT r12 ask #8). The Spark distribution bundles derby*.jar for
# the Hive metastore, so this runs for real in most deployments; where
# the jar is absent the probe skips, the Kafka/TWS pattern.
# --------------------------------------------------------------------- #

def _derby_props(spark):
    from wwwision_importservice_spark.sources.jdbc import (
        DERBY_EMBEDDED_DRIVER,
        jdbc_driver_available,
    )

    if not jdbc_driver_available(spark, DERBY_EMBEDDED_DRIVER):
        pytest.skip("no embedded Derby jar on the Spark classpath")
    return {"driver": DERBY_EMBEDDED_DRIVER}


def test_jdbc_source_live_derby(spark, tmp_path):
    """S3 executed against a live JDBC endpoint: full scan, lazy pruned
    scan (S4's narrow read), partitioned parallel read, and the setup
    preflight — all over embedded Derby."""
    from wwwision_importservice_spark.sources.jdbc import JdbcSource

    props = _derby_props(spark)
    url = f"jdbc:derby:{tmp_path}/srcdb;create=true"
    spark.createDataFrame(
        [(1, 3, "alpha"), (2, 1, "beta"), (3, 2, "gamma"), (4, 1, "delta")],
        "id int, version int, title string",
    ).write.option(
        "createTableColumnTypes", "id INT, version INT, title VARCHAR(64)"
    ).jdbc(url, "feed", properties=props)

    src = JdbcSource(url, "feed", properties=props)
    rows = {(r["id"], r["version"], r["title"]) for r in src.load(spark).collect()}
    assert rows == {(1, 3, "alpha"), (2, 1, "beta"), (3, 2, "gamma"), (4, 1, "delta")}

    lazy = JdbcSource(
        url, "feed", properties=props,
        lazy_loading=True, id_column="id", version_column="version",
    )
    pruned = lazy.load(spark)
    # the narrow scan carries ONLY id+version (the projection reaches
    # the JDBC SELECT via Catalyst pushdown)
    assert pruned.columns == ["id", "version"]
    assert {(r["id"], r["version"]) for r in pruned.collect()} == {
        (1, 3), (2, 1), (3, 2), (4, 1)
    }
    assert set(lazy.load_full(spark).columns) == {"id", "version", "title"}

    part = JdbcSource(
        url, "feed", properties=props,
        partition_column="id", num_partitions=2, lower_bound=1, upper_bound=5,
    )
    pdf = part.load(spark)
    assert pdf.rdd.getNumPartitions() == 2
    assert {r["id"] for r in pdf.collect()} == {1, 2, 3, 4}

    result = src.setup(spark)
    assert not result.has_errors
    assert any("reachable" in m.text for m in result.messages)
    missing = JdbcSource(url, "no_such_table", properties=props)
    assert missing.setup(spark).has_errors


def test_jdbc_sink_live_derby_end_to_end(spark, tmp_path):
    """Source → diff → sink against live Derby: the changeset's adds
    land through the native batched appender (W1/W8), current_state
    reads the narrow projection back, and update/delete without a
    DBAPI connection_factory raise the documented guidance instead of
    silently no-opping."""
    from wwwision_importservice_spark.operators.diff import compute_changes
    from wwwision_importservice_spark.record import RecordFrame
    from wwwision_importservice_spark.sinks.jdbc import JdbcTarget
    from wwwision_importservice_spark.sources.jdbc import JdbcSource

    props = _derby_props(spark)
    url = f"jdbc:derby:{tmp_path}/syncdb;create=true"
    # target state: one pre-existing record
    spark.createDataFrame(
        [("a", "old-title", 1)], "id string, title string, version long"
    ).write.option(
        "createTableColumnTypes",
        "id VARCHAR(64), title VARCHAR(64), version BIGINT",
    ).jdbc(url, "records", properties=props)
    # source feed: same record (same version) + two new ones
    spark.createDataFrame(
        [("a", "old-title", 1), ("b", "brand-new", 1), ("c", "also-new", 2)],
        "id string, title string, version long",
    ).write.option(
        "createTableColumnTypes",
        "id VARCHAR(64), title VARCHAR(64), version BIGINT",
    ).jdbc(url, "feed", properties=props)

    source = JdbcSource(url, "feed", properties=props)
    records = RecordFrame.from_raw(
        source.load(spark), "id", version_attribute="version"
    ).df
    target = JdbcTarget(
        url, "records", properties=props,
        id_column="id", version_column="version",
    )
    cdc = compute_changes(
        records, target.current_state(spark),
        local_id_col="id", local_version_col="version",
    )
    assert {(r["_id"], r["change_type"]) for r in cdc.collect()} == {
        ("b", "add"), ("c", "add")
    }
    stats = target.apply(spark, cdc)
    assert stats.added == 2 and stats.errors == 0
    state = {
        r["id"]: r["version"] for r in target.current_state(spark).collect()
    }
    assert state == {"a": 1, "b": 1, "c": 2}

    # a second diff is now a no-op — the sync converged
    cdc2 = compute_changes(
        records, target.current_state(spark),
        local_id_col="id", local_version_col="version",
    )
    assert cdc2.isEmpty()

    # updates/deletes need the DBAPI path; without a connection_factory
    # the target must refuse loudly (no native UPDATE/DELETE over JDBC)
    bumped = RecordFrame.from_raw(
        spark.createDataFrame(
            [("a", "new-title", 2)], "id string, title string, version long"
        ),
        "id", version_attribute="version",
    ).df
    upd = compute_changes(
        bumped, target.current_state(spark),
        local_id_col="id", local_version_col="version", skip_removed=True,
    )
    assert {r["change_type"] for r in upd.collect()} == {"update"}
    with pytest.raises(ConfigurationError, match="connection_factory"):
        target.apply(spark, upd)
