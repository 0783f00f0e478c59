"""Differential tests: every registered query vs its DuckDB oracle —
emulates the driver's CORRECTNESS gate (row count + schema-insensitive,
order-insensitive value comparison) at sf0.001 for speed."""

from __future__ import annotations

import math

import duckdb
import pytest

from wwwision_importservice_spark.entry_queries import (
    ORACLES,
    PYTEST_ORACLES,
    PYTEST_QUERIES,
    QUERIES,
)

# pytest checks the full surface: driver-checked + pytest-only queries
ALL_QUERIES = {**QUERIES, **PYTEST_QUERIES}
ALL_ORACLES = {**ORACLES, **PYTEST_ORACLES}

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(value):
    if value is None:
        return None
    if isinstance(value, float):
        if math.isnan(value):
            return None
        return float(value)
    return value


def frame_to_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))


@pytest.fixture(scope="session")
def oracle(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


@pytest.mark.parametrize("name", sorted(ALL_ORACLES))
def test_query_matches_oracle(name, spark, sf_dir, oracle):
    sdf = ALL_QUERIES[name](spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    res = oracle.execute(ALL_ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    left = frame_to_rows(spark_cols, spark_rows)
    right = frame_to_rows(duck_cols, duck_rows)
    mismatches = [
        (i, l, r) for i, (l, r) in enumerate(zip(left, right)) if l != r
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_all_queries_have_callables():
    for name in ALL_ORACLES:
        assert name in ALL_QUERIES


def test_driver_registry_within_check_budget():
    """The round driver oracle-checks the FIRST 50 registered queries;
    anything past that is silently unverified. Keep the driver-facing
    registry at ≤50 (pytest-only queries live in PYTEST_QUERIES)."""
    assert len(QUERIES) <= 50, sorted(QUERIES)
    # every driver query that has an oracle must actually be checkable
    assert set(ORACLES) <= set(QUERIES)


def test_entry_smoke(spark):
    # load the entry point of the tree under test, whatever sys.path
    # or an earlier import holds
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    entry_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry_mod)
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "change_type" in df.columns


# --------------------------------------------------------------------- #
# Driver-scale parity tier (sf0.01) — deselected by default (pytest.ini
# addopts), run with `pytest -m sf001`. Exists because a divergence can
# be scale-dependent: the r3 s3b_sessionize red row only manifested at
# the driver's sf0.01 (ns-vs-us session boundaries), which the sf0.001
# default tier never exercised. Covers every DRIVER-checked query (the
# 50-slot registry) with the same comparison the default tier uses.
# --------------------------------------------------------------------- #

SF001_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def oracle_sf001():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF001_DIR}/{t}.parquet'"
        )
    return con


@pytest.mark.sf001
@pytest.mark.parametrize("name", sorted(ALL_ORACLES))
def test_driver_query_matches_oracle_at_sf001(name, spark, oracle_sf001):
    sdf = ALL_QUERIES[name](spark, SF001_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    res = oracle_sf001.execute(ALL_ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    left = frame_to_rows(spark_cols, spark_rows)
    right = frame_to_rows(duck_cols, duck_rows)
    mismatches = [
        (i, l, r) for i, (l, r) in enumerate(zip(left, right)) if l != r
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


# --------------------------------------------------------------------- #
# Oracle type hygiene — the r3/r4 s3b_sessionize lesson. The driver's
# value-hasher serializes by physical type: integer WIDTH differences
# within 64 bits hash equal (15 long-green rows pair Spark int with
# DuckDB BIGINT), but DuckDB HUGEINT (int128, e.g. from a windowed
# sum() of integers) hashes differently from BIGINT even on
# numerically identical rows — rows+schema green, hash red. This guard
# rejects any oracle whose output (or nested element) type cannot be
# represented in the 64-bit family of its Spark twin, so that class of
# red row cannot recur.
# --------------------------------------------------------------------- #

# DuckDB physical types the driver hasher cannot reconcile with any
# Spark column type (Spark has no 128-bit ints, and a DECIMAL/FLOAT
# oracle next to a DOUBLE Spark column hashes by different buffers).
_FORBIDDEN_DUCK = ("HUGEINT", "UHUGEINT", "INT128", "DECIMAL", "FLOAT")

# Spark dtype family -> DuckDB type families that hash-reconcile.
_FAMILY = {
    "int": {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"},
    "bigint": {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"},
    "smallint": {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"},
    "tinyint": {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"},
    "double": {"DOUBLE"},
    "float": {"DOUBLE"},  # oracle must widen: FLOAT is forbidden above
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"},
    "timestamp_ntz": {"TIMESTAMP"},
    "binary": {"BLOB"},
}


def _strip_array(spark_dtype, duck_type):
    """Peel matching array<>/[] wrappers so element families compare."""
    while spark_dtype.startswith("array<") and duck_type.endswith("[]"):
        spark_dtype = spark_dtype[len("array<"):-1]
        duck_type = duck_type[:-2]
    return spark_dtype, duck_type


@pytest.mark.parametrize("name", sorted(ALL_ORACLES))
def test_oracle_type_hygiene(name, spark, sf_dir, oracle):
    sdf = ALL_QUERIES[name](spark, sf_dir)
    spark_types = dict(sdf.dtypes)
    rel = oracle.sql(ALL_ORACLES[name])
    duck_types = dict(zip(rel.columns, (str(t) for t in rel.types)))

    assert sorted(spark_types) == sorted(duck_types), (
        f"{name}: column sets differ {sorted(spark_types)} vs "
        f"{sorted(duck_types)}"
    )
    for col, duck_t in duck_types.items():
        up = duck_t.upper()
        for bad in _FORBIDDEN_DUCK:
            assert bad not in up, (
                f"{name}.{col}: oracle emits {duck_t} — the driver hasher "
                f"cannot reconcile it with Spark; CAST it (s3b lesson)"
            )
        sp_t, dk_t = _strip_array(spark_types[col], up)
        allowed = _FAMILY.get(sp_t)
        if allowed is None:
            continue  # struct/map — value parity tier covers these
        assert dk_t in allowed, (
            f"{name}.{col}: Spark {spark_types[col]} vs DuckDB {duck_t} "
            f"are different hash families"
        )
