"""Independent correctness oracle: DuckDB and plain Python, no Spark.

The expected post-pass state of a sync target is derived in DuckDB SQL
from the generated files alone (the deduped source, the pre-pass target
and a SQL twin of the preset mapping), so a defect shared by the Spark
code paths cannot hide itself. States are compared by row count plus an
order-insensitive hash: the sum of DuckDB ``hash()`` over the canonical
row ``(id, version, hidden, <mapped columns>)``.

Near-dup results are compared against a plain-Python union-find over the
same candidate pairs the Spark pass produced.
"""

from __future__ import annotations

import os
import sqlite3

import duckdb
import pyarrow as pa

from gen import MAPPED_COLS

#: DuckDB twin of ``gen.MAPPING`` (Eel -> SQL by hand, not by translator)
MAPPING_SQL = {
    "given_name": "first_name",
    "family_name": "last_name",
    "full_name": "first_name || ' ' || last_name",
    "price_gross": "price_net + vat",
    "name_upper": "upper(last_name)",
    "city": "city",
    "summary": "substr(description, 1, 40)",
    "description": "description",
}

_CANONICAL = (
    "CAST(id AS VARCHAR), CAST(version AS BIGINT), CAST({hidden} AS BOOLEAN), "
    + ", ".join(
        f"CAST({c} AS {'BIGINT' if c == 'price_gross' else 'VARCHAR'})"
        for c in MAPPED_COLS
    )
)


def _lit(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    return con


def _digest(con: duckdb.DuckDBPyConnection, relation: str, has_hidden: bool) -> tuple[int, int]:
    row = con.execute(
        f"SELECT count(*), coalesce(sum(hash({_CANONICAL.format(hidden='hidden' if has_hidden else 'false')})), 0) "
        f"FROM {relation}"
    ).fetchone()
    return int(row[0]), int(row[1])


def create_expected(con: duckdb.DuckDBPyConnection, inputs: str, soft_delete: bool) -> tuple[int, int, int]:
    """Create view ``expected`` (the post-pass target state) on ``con``;
    return the (added, updated, removed) change counts."""
    con.execute(
        f"CREATE VIEW src AS SELECT * FROM read_parquet({_lit(os.path.join(inputs, 'source', '*.parquet'))}) "
        "QUALIFY row_number() OVER (PARTITION BY id ORDER BY seq DESC) = 1"
    )
    con.execute(
        f"CREATE VIEW tgt AS SELECT * FROM read_parquet({_lit(os.path.join(inputs, 'target_initial.parquet'))})"
    )
    hidden_col = "t.hidden" if soft_delete else "false"
    mapped = ", ".join(f"{sql} AS {c}" for c, sql in MAPPING_SQL.items())
    cols = ", ".join(MAPPED_COLS)
    t_cols = ", ".join(f"t.{c}" for c in MAPPED_COLS)
    m_cols = ", ".join(f"m.{c}" for c in MAPPED_COLS)
    con.execute(
        f"CREATE VIEW m AS SELECT CAST(id AS VARCHAR) AS id, version, "
        f"false AS hidden, {mapped} FROM src"
    )
    newer = "(m.version > t.version OR m.version IS NULL OR t.version IS NULL)"
    # soft delete keeps removed rows, hidden; hard delete drops them
    removed_rows = (
        f"SELECT t.id, t.version, true AS hidden, {t_cols} "
        f"FROM tgt t ANTI JOIN m USING (id) WHERE {str(soft_delete).lower()}"
    )
    con.execute(
        f"""CREATE VIEW expected AS
        SELECT t.id, t.version, {hidden_col} AS hidden, {t_cols}
          FROM tgt t JOIN m USING (id) WHERE NOT {newer}
        UNION ALL SELECT m.id, m.version, m.hidden, {m_cols}
          FROM m JOIN tgt t USING (id) WHERE {newer}
        UNION ALL SELECT id, version, hidden, {cols} FROM m ANTI JOIN tgt USING (id)
        UNION ALL {removed_rows}"""
    )
    active = "AND NOT t.hidden" if soft_delete else ""
    return con.execute(
        f"""SELECT
          (SELECT count(*) FROM m ANTI JOIN tgt USING (id)),
          (SELECT count(*) FROM m JOIN tgt t USING (id) WHERE {newer}),
          (SELECT count(*) FROM tgt t ANTI JOIN m USING (id) WHERE true {active})"""
    ).fetchone()


def expected_sync(inputs: str, soft_delete: bool) -> dict:
    """Expected post-pass state digest and change counts for one sync."""
    con = _connect()
    try:
        counts = create_expected(con, inputs, soft_delete)
        n, digest = _digest(con, "expected", has_hidden=True)
    finally:
        con.close()
    return {
        "rows": n,
        "digest": digest,
        "counts": {"added": counts[0], "updated": counts[1], "removed": counts[2]},
    }


def actual_sync(target: str) -> tuple[int, int]:
    """Digest of a target as it is on disk: a SQLite file or a parquet dir."""
    con = _connect()
    try:
        if target.endswith(".sqlite"):
            lite = sqlite3.connect(f"file:{target}?mode=ro", uri=True)
            try:
                cur = lite.execute("SELECT * FROM items")
                names = [d[0] for d in cur.description]
                rows = cur.fetchall()
            finally:
                lite.close()
            cols = list(zip(*rows)) if rows else [[] for _ in names]
            table = pa.table({n: list(c) for n, c in zip(names, cols)})
            con.register("actual", table)
            return _digest(con, "actual", has_hidden="hidden" in names)
        con.execute(
            f"CREATE VIEW actual AS SELECT * FROM read_parquet({_lit(os.path.join(target, '*.parquet'))})"
        )
        return _digest(con, "actual", has_hidden=True)
    finally:
        con.close()


def check_sync(target: str, expected: dict, stats: dict, planted: dict) -> list[str]:
    """Problems with one sync pass (empty = correct)."""
    problems = []
    for key in ("added", "updated", "removed"):
        if stats.get(key) != planted[key]:
            problems.append(f"{key}: ApplyStats {stats.get(key)} != planted {planted[key]}")
    if stats.get("errors"):
        problems.append(f"{stats['errors']} quarantined rows")
    rows, digest = actual_sync(target)
    if rows != expected["rows"]:
        problems.append(f"target rows {rows} != expected {expected['rows']}")
    elif digest != expected["digest"]:
        problems.append("target state hash differs from the DuckDB oracle")
    return problems


def union_find(ids, pairs) -> dict:
    """Component minimum for every id (isolated ids map to themselves)."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def check_dedup(inputs: str, out: str, pairs: list[tuple[int, int]]) -> list[str]:
    """Problems with one dedup pass: the cluster map must partition the
    corpus ids and equal union-find over ``pairs``; the kept corpus must
    be exactly the cluster representatives, text unchanged."""
    con = _connect()
    try:
        corpus = _lit(os.path.join(inputs, "corpus", "*.parquet"))
        ids = [r[0] for r in con.execute(f"SELECT id FROM read_parquet({corpus}) ORDER BY id").fetchall()]
        got = con.execute(
            f"SELECT id, cluster_id FROM read_parquet({_lit(os.path.join(out, 'clusters', '*.parquet'))})"
        ).fetchall()
        problems = []
        labels = dict(got)
        if len(got) != len(ids) or set(labels) != set(ids):
            problems.append(
                f"cluster map does not partition the corpus ({len(got)} rows, "
                f"{len(set(labels))} ids, corpus {len(ids)})"
            )
            return problems
        want = union_find(ids, pairs)
        wrong = sum(1 for i in ids if labels[i] != want[i])
        if wrong:
            problems.append(f"{wrong} ids disagree with union-find over the candidate pairs")
        keep = sorted(i for i in ids if want[i] == i)
        con.register("keep_ids", pa.table({"id": pa.array(keep, pa.int64())}))
        mism = con.execute(
            """SELECT
                 (SELECT count(*) FROM read_parquet($kept) k),
                 (SELECT count(*) FROM (
                    SELECT id, text FROM read_parquet($kept)
                    EXCEPT SELECT c.id, c.text FROM read_parquet($corpus) c SEMI JOIN keep_ids USING (id)))""",
            {
                "kept": os.path.join(out, "kept", "*.parquet"),
                "corpus": os.path.join(inputs, "corpus", "*.parquet"),
            },
        ).fetchone()
        if mism[0] != len(keep) or mism[1]:
            problems.append(f"kept corpus has {mism[0]} rows ({mism[1]} wrong), want {len(keep)}")
        return problems
    finally:
        con.close()


def pair_quality(clusters: list[list[int]], pairs: list[tuple[int, int]]) -> dict:
    planted = {(a, b) for c in clusters for i, a in enumerate(c) for b in c[i + 1 :]}
    found = planted & {(min(a, b), max(a, b)) for a, b in pairs}
    return {
        "pair_precision": len(found) / len(pairs) if pairs else 0.0,
        "planted_recall": len(found) / len(planted) if planted else 0.0,
    }
