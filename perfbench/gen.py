"""Seeded input generator for every benchmark workload.

Everything here is a pure function of ``(workload, seed, scale)``: the
same arguments write byte-identical files. Randomness comes from one
``numpy.random.Generator`` per call; strings are drawn from small seeded
pools so generation stays well under a second per 100k rows.

Sync workloads write three inputs:

- ``source/``          the wide source rows (parquet, 4 files),
- ``target_initial.parquet``  the pre-pass target state (the oracle's copy),
- the target itself:   ``target.sqlite`` (SQL workloads) or
  ``target_pristine/`` (parquet snapshot), copied back before every pass.

``neardup_dedup`` writes ``corpus/`` (id, text) with planted near-copy
clusters and returns the planted clusters for recall/precision.
"""

from __future__ import annotations

import os
import sqlite3
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: target columns produced by :data:`MAPPING` (order = SQL table order)
MAPPED_COLS = (
    "given_name",
    "family_name",
    "full_name",
    "price_gross",
    "name_upper",
    "city",
    "summary",
    "description",
)

#: the preset's Eel mapping (K11); ``oracle.MAPPING_SQL`` is its DuckDB twin
MAPPING = {
    "given_name": "first_name",
    "family_name": "last_name",
    "full_name": '${record.first_name + " " + record.last_name}',
    "price_gross": "${record.price_net + record.vat}",
    "name_upper": "${String.toUpperCase(record.last_name)}",
    "city": "city",
    "summary": "${String.substr(record.description, 0, 40)}",
    "description": "description",
}

SOURCE_FILES = 4


@dataclass(frozen=True)
class SyncShape:
    """Input properties of one sync workload at ``scale=1``."""

    target_rows: int  # rows in the pre-pass target (0 = initial load)
    source_rows: int  # rows in the source when the target is empty
    churn: float  # share of target ids changed, split evenly add/update/remove
    dup_share: float  # share of source ids that appear twice
    soft_delete: bool


SYNC_SHAPES = {
    "sync_delta_sql": SyncShape(60_000, 0, 0.03, 0.0, False),
    "initial_load_sql": SyncShape(0, 12_000, 0.0, 0.0, False),
    "sync_churn_parquet": SyncShape(20_000, 0, 0.30, 0.10, True),
}


@dataclass(frozen=True)
class CorpusShape:
    docs: int
    words: int  # words per document (+-5)
    planted_share: float  # share of documents inside planted clusters
    edits: int  # word substitutions per near copy


CORPUS_SHAPE = CorpusShape(docs=3_000, words=60, planted_share=0.2, edits=2)


def _pool(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """``n`` distinct-ish lowercase words of length ``lo..hi``."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(lo, hi + 1, n)
    chars = letters[rng.integers(0, 26, int(lens.sum()))]
    out, pos = [], 0
    for k in lens:
        out.append("".join(chars[pos : pos + k]))
        pos += k
    return np.array(out, dtype=object)


def _phrases(rng: np.random.Generator, vocab: np.ndarray, n: int, words: int) -> np.ndarray:
    picks = vocab[rng.integers(0, len(vocab), (n, words))]
    return np.array([" ".join(row) for row in picks], dtype=object)


class _Attrs:
    """Seeded pools the wide source attributes are drawn from."""

    def __init__(self, rng: np.random.Generator) -> None:
        vocab = _pool(rng, 4000, 3, 9)
        self.first = _pool(rng, 500, 4, 8)
        self.last = _pool(rng, 2000, 4, 10)
        self.city = _pool(rng, 300, 5, 12)
        self.desc = _phrases(rng, vocab, 5000, 30)
        self.payload = _phrases(rng, vocab, 5000, 6)

    def draw(self, rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
        def pick(pool):
            return pool[rng.integers(0, len(pool), n)]

        cols = {
            "first_name": pick(self.first),
            "last_name": pick(self.last),
            "price_net": rng.integers(100, 100_000, n),
            "vat": rng.integers(0, 20_000, n),
            "city": pick(self.city),
            "description": pick(self.desc),
        }
        for i in range(1, 7):
            cols[f"payload_{i}"] = pick(self.payload)
        return cols


def _mapped(cols: dict[str, np.ndarray]) -> dict[str, list]:
    """Python twin of :data:`MAPPING` (used only to build the pre-pass
    target; the oracle re-derives expected rows in DuckDB)."""
    first, last, desc = cols["first_name"], cols["last_name"], cols["description"]
    return {
        "given_name": list(first),
        "family_name": list(last),
        "full_name": [f"{a} {b}" for a, b in zip(first, last)],
        "price_gross": (cols["price_net"] + cols["vat"]).tolist(),
        "name_upper": [s.upper() for s in last],
        "city": list(cols["city"]),
        "summary": [s[:40] for s in desc],
        "description": list(desc),
    }


def _write_parquet_dir(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // files) or 1
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _write_sqlite(table: pa.Table, path: str) -> None:
    conn = sqlite3.connect(path)
    try:
        # generation only; the synced target later runs with the defaults
        conn.execute("PRAGMA synchronous = OFF")
        cols = ", ".join(
            f"{c} {'INTEGER' if c in ('version', 'price_gross') else 'TEXT'}"
            + (" PRIMARY KEY" if c == "id" else "")
            for c in table.column_names
        )
        conn.execute(f"CREATE TABLE items ({cols})")
        marks = ", ".join("?" * table.num_columns)
        conn.executemany(
            f"INSERT INTO items VALUES ({marks})",
            zip(*(table.column(c).to_pylist() for c in table.column_names)),
        )
        conn.commit()
    finally:
        conn.close()


def generate_sync(workload: str, seed: int, scale: float, out: str) -> dict:
    """Write one sync workload's inputs under ``out``; return the planted
    change counts and input properties."""
    shape = SYNC_SHAPES[workload]
    rng = np.random.default_rng([seed, 1])
    attrs = _Attrs(rng)
    n_target = int(shape.target_rows * scale)
    n_change = int(n_target * shape.churn / 3)
    n_add = n_change if n_target else int(shape.source_rows * scale)

    # ids: target holds a shuffled range; adds use fresh ids above it
    target_ids = rng.permutation(n_target) * 7 + 1
    added_ids = (np.arange(n_add) + n_target) * 7 + 3
    # order[:n_change] are removed: they are simply left out of the source
    order = rng.permutation(n_target)
    updated = target_ids[order[n_change : 2 * n_change]]
    kept = target_ids[order[n_change:]]

    target_versions = rng.integers(1, 1000, n_target)
    old = attrs.draw(rng, n_target)

    # source = target minus removes, with updates re-drawn, plus adds
    pos = {int(i): k for k, i in enumerate(target_ids)}
    kept_pos = np.array([pos[int(i)] for i in kept], dtype=np.int64)
    upd_mask = np.zeros(len(kept), dtype=bool)
    upd_mask[: len(updated)] = True  # `kept` starts with the updated ids
    src_cols = {k: v[kept_pos].copy() for k, v in old.items()}
    fresh = attrs.draw(rng, len(kept))
    for k in src_cols:
        src_cols[k][upd_mask] = fresh[k][upd_mask]
    src_ids = kept.copy()
    src_versions = target_versions[kept_pos] + np.where(upd_mask, rng.integers(1, 4, len(kept)), 0)
    add_cols = attrs.draw(rng, n_add)
    src_ids = np.concatenate([src_ids, added_ids])
    src_versions = np.concatenate([src_versions, rng.integers(1, 1000, n_add)])
    for k in src_cols:
        src_cols[k] = np.concatenate([src_cols[k], add_cols[k]])

    # duplicates: a stale copy (earlier arrival, random version) of some ids
    n_src = len(src_ids)
    n_dup = int(n_src * shape.dup_share)
    dup_pos = rng.choice(n_src, n_dup, replace=False) if n_dup else np.array([], dtype=np.int64)
    stale = attrs.draw(rng, n_dup)
    all_ids = np.concatenate([src_ids, src_ids[dup_pos]])
    all_versions = np.concatenate([src_versions, rng.integers(1, 1000, n_dup)])
    all_cols = {k: np.concatenate([v, stale[k]]) for k, v in src_cols.items()}
    # arrival order: stale copies always arrive before their winner
    seq = np.concatenate([rng.permutation(n_src) + n_dup + 1, rng.permutation(n_dup) + 1])
    shuffle = rng.permutation(len(all_ids))
    source = pa.table(
        {
            "id": all_ids[shuffle],
            "version": all_versions[shuffle],
            "seq": seq[shuffle],
            **{k: pa.array(v[shuffle], pa.string()) if v.dtype == object else v[shuffle] for k, v in all_cols.items()},
        }
    )
    _write_parquet_dir(source, os.path.join(out, "source"), SOURCE_FILES)

    target = {
        "id": pa.array([str(i) for i in target_ids], pa.string()),
        "version": pa.array(target_versions, pa.int64()),
    }
    if shape.soft_delete:
        target["hidden"] = pa.array(np.zeros(n_target, dtype=bool))
    for k, v in _mapped(old).items():
        target[k] = pa.array(v, pa.int64() if k == "price_gross" else pa.string())
    target_table = pa.table(target)
    pq.write_table(target_table, os.path.join(out, "target_initial.parquet"))
    if workload.endswith("_sql"):
        _write_sqlite(target_table, os.path.join(out, "target.sqlite"))
    else:
        _write_parquet_dir(target_table, os.path.join(out, "target_pristine"), SOURCE_FILES)

    row_bytes = sum(
        source.column(c).nbytes for c in source.column_names
    ) / max(source.num_rows, 1)
    return {
        "planted": {"added": n_add, "updated": len(updated), "removed": n_change},
        "source_rows": source.num_rows,
        "target_rows": n_target,
        "row_bytes": round(row_bytes, 1),
        "duplicates": n_dup,
    }


def generate_corpus(seed: int, scale: float, out: str) -> dict:
    """Write ``corpus/`` and return the planted clusters (lists of ids)."""
    shape = CORPUS_SHAPE
    rng = np.random.default_rng([seed, 2])
    vocab = _pool(rng, 20_000, 3, 9)
    n_docs = int(shape.docs * scale)
    n_planted = int(n_docs * shape.planted_share)

    texts: list[str] = []
    clusters: list[list[int]] = []
    while len(texts) < n_planted:
        size = int(rng.integers(2, 5))
        base = list(vocab[rng.integers(0, len(vocab), shape.words + int(rng.integers(-5, 6)))])
        members = [len(texts)]
        texts.append(" ".join(base))
        for _ in range(size - 1):
            copy = list(base)
            for p in rng.integers(0, len(copy), shape.edits):
                copy[p] = vocab[rng.integers(0, len(vocab))]
            members.append(len(texts))
            texts.append(" ".join(copy))
        clusters.append(members)
    while len(texts) < n_docs:
        n_words = shape.words + int(rng.integers(-5, 6))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_words)]))

    # ids are a seeded permutation so clusters are spread over the files
    ids = rng.permutation(len(texts)) * 3 + 11
    clusters = [sorted(int(ids[m]) for m in c) for c in clusters]
    order = np.argsort(ids)
    table = pa.table(
        {"id": ids[order], "text": pa.array([texts[i] for i in order], pa.string())}
    )
    _write_parquet_dir(table, os.path.join(out, "corpus"), SOURCE_FILES)
    return {
        "docs": table.num_rows,
        "clusters": clusters,
        "planted_docs": sum(len(c) for c in clusters),
    }


def generate(workload: str, seed: int, scale: float, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    if workload == "neardup_dedup":
        return generate_corpus(seed, scale, out)
    return generate_sync(workload, seed, scale, out)
