"""The benchmark's own tests: ``python3 -m pytest perfbench/tests -q``
from the repository root (takes a few minutes: it runs every workload
once at a tiny size)."""

from __future__ import annotations

import hashlib
import json
import os
import sqlite3
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
ALL_WORKLOADS = ["sync_delta_sql", "initial_load_sql", "sync_churn_parquet", "neardup_dedup"]


def _tree_digest(path: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            full = os.path.join(dirpath, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_generator_is_deterministic(tmp_path, workload):
    a = gen.generate(workload, 7, 0.02, str(tmp_path / "a"))
    b = gen.generate(workload, 7, 0.02, str(tmp_path / "b"))
    c = gen.generate(workload, 8, 0.02, str(tmp_path / "c"))
    assert a == b
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))


@pytest.mark.parametrize("workload", ["sync_delta_sql", "sync_churn_parquet"])
def test_generator_plants_what_the_oracle_derives(tmp_path, workload):
    info = gen.generate(workload, 3, 0.05, str(tmp_path))
    expected = oracle.expected_sync(str(tmp_path), gen.SYNC_SHAPES[workload].soft_delete)
    assert expected["counts"] == info["planted"]


def _write_expected(inputs: str, soft_delete: bool, sql: bool, target: str) -> None:
    """Materialize the oracle's expected state as a target on disk."""
    con = duckdb.connect()
    try:
        oracle.create_expected(con, inputs, soft_delete)
        table = con.execute("SELECT * FROM expected").arrow()
    finally:
        con.close()
    if sql:
        gen._write_sqlite(table.drop(["hidden"]), target)
    else:
        gen._write_parquet_dir(table, target, 2)


@pytest.mark.parametrize("workload", ["sync_delta_sql", "sync_churn_parquet"])
def test_check_rejects_one_altered_row(tmp_path, workload):
    shape = gen.SYNC_SHAPES[workload]
    sql = workload.endswith("_sql")
    inputs = str(tmp_path / "in")
    info = gen.generate(workload, 5, 0.05, inputs)
    expected = oracle.expected_sync(inputs, shape.soft_delete)
    target = str(tmp_path / ("t.sqlite" if sql else "t"))
    _write_expected(inputs, shape.soft_delete, sql, target)
    stats = dict(info["planted"], errors=0)
    assert oracle.check_sync(target, expected, stats, info["planted"]) == []

    if sql:
        conn = sqlite3.connect(target)
        conn.execute("UPDATE items SET city = city || 'x' WHERE id = (SELECT min(id) FROM items)")
        conn.commit()
        conn.close()
    else:
        import pyarrow.parquet as pq

        part = os.path.join(target, sorted(os.listdir(target))[0])
        t = pq.read_table(part)
        prices = t.column("price_gross").to_pylist()
        prices[0] += 1
        t = t.set_column(t.column_names.index("price_gross"), "price_gross", [prices])
        pq.write_table(t, part)
    problems = oracle.check_sync(target, expected, stats, info["planted"])
    assert problems == ["target state hash differs from the DuckDB oracle"]
    # wrong ApplyStats counts are caught even when the state is right
    bad = dict(stats, removed=stats["removed"] + 1)
    assert any("removed" in p for p in oracle.check_sync(target, expected, bad, info["planted"]))


def test_union_find_reference():
    assert oracle.union_find([1, 2, 3, 4, 5], [(4, 2), (2, 5)]) == {1: 1, 2: 2, 3: 3, 4: 2, 5: 2}


def test_benchmark_json_names_only_runnable_workloads():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)
    assert set(ALL_WORKLOADS) == set(WORKLOADS)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "0.02"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_tiny_dry_run(workload):
    out = _run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert [m for m in out["metrics"]] == [m["name"] for m in SPEC["end_to_end"]]
    for m in SPEC["end_to_end"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        assert out["metrics"][m["name"]]["value"] > 0


@pytest.mark.parametrize("workload", ["sync_churn_parquet", "neardup_dedup"])
def test_tiny_traced_run_prints_every_layer_metric(workload):
    out = _run(workload, 1)
    assert out["correct"]
    assert [m for m in out["metrics"]] == [m["name"] for m in SPEC["per_layer"]]
    for m in SPEC["per_layer"]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
