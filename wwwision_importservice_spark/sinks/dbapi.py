"""DBAPI-2 relational target: batched upsert/delete with error quarantine.

The Python analogue of the reference's Doctrine-DBAL target
(``Classes/DataTarget/Dbal/DbalTarget.php``):

- W1 addRecord    → batched ``INSERT`` (executemany),
- W2 updateRecord → batched ``UPDATE … WHERE id = ?`` (un-hides on update
  when a hidden column is configured, W6),
- W3 removeRecord → batched ``DELETE … WHERE id = ?``; soft-delete mode
  issues ``UPDATE … SET hidden = 1`` instead (W7),
- W8 batching     → ``batch_size`` rows per executemany chunk (the
  reference's ``MAXIMUM_BATCH_SIZE = 1000``),
- O3 isolation    → a failed chunk is rolled back to its savepoint and
  retried row-by-row; bad rows are counted + sampled
  (``ApplyStats.error_samples`` carries up to ``_MAX_ERROR_SAMPLES``
  ``(statement, params, error)`` examples), good rows still land.
  Connection-level failures ABORT rather than quarantine: when every row
  of a chunk fails AND the connection no longer answers a ``SELECT 1``
  probe, the apply raises so the sync fails loudly instead of
  mislabeling its contents as quarantined rows (the reference continues
  on per-record \\Error and aborts on \\Exception),
- W4 removeAll    → single ``DELETE FROM`` returning the count.

State read (``current_state``, ``DbalTarget.php:118-128``): the narrow
keyset ``(id[, version][, hidden])`` is fetched driver-side in
``fetchmany`` batches of ``KEYSET_FETCH_ROWS``; each batch is normalised
column by column into one Arrow record batch and written through one
``ParquetWriter`` into a private spill directory under Spark's driver
temp dir (``SparkFiles.getRootDirectory()``, deleted when the session
stops). The frame Spark gets is a parquet scan of that spill, so the
plan carries a file-scan leaf whose size does not grow with the keyset
(a ``LocalRelation`` would hold every row in a plan field that each
Catalyst rule copies). Python holds one fetch batch at a time, and the
frame is an eager snapshot: the connection is closed before it is
returned and it never reads the table again. :meth:`release_state`
deletes the spill once the diff is done with it. The spill is a
driver-local path, so a non-local master needs executors that share
that filesystem.

Distribution model: one driver connection, like the reference's single
DBAL connection. ``apply`` streams the projected change set into the
driver with ``toLocalIterator(prefetchPartitions=True)`` (at most two
partitions held at a time) and writes it over one connection from
``connection_factory``, which ``current_state``, ``setup`` and
``remove_all`` also call on the driver. No Python worker runs, so the
factory need not pickle. ``write_partitions`` is accepted for old
configurations and ignored, with a warning.

Delivery semantics: ONE TRANSACTION per ``apply``. The run opens an
outer savepoint that is never released, each chunk runs under its own
savepoint and each row of a retried chunk under one more, and the
connection commits once, after the last chunk. Nesting the chunk
savepoints under the outer one matters for drivers that begin a
transaction only before DML (Python's ``sqlite3``): there a ``SAVEPOINT``
issued outside a transaction opens one, and releasing that outermost
savepoint would commit. A failure that aborts the apply rolls the whole
change set back, so a failed sync leaves the target as it was and the
next run re-diffs every change. UPDATE/DELETE chunks whose driver reports
a reliable rowcount shortfall count the difference in
``ApplyStats.unmatched`` (the target row drifted out-of-band; the next
run's diff re-converges it).
"""

from __future__ import annotations

import contextlib
import shutil
import tempfile
import warnings
from collections.abc import Callable
from pathlib import Path
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from wwwision_importservice_spark.operators.diff import CHANGE_TYPE_COL, ChangeType
from wwwision_importservice_spark.plans.result import Result
from wwwision_importservice_spark.record import ID_COL, VERSION_COL
from wwwision_importservice_spark.sinks.base import ApplyStats, DataTarget

MAXIMUM_BATCH_SIZE = 1000  # ContentRepositoryTarget.php:43-45

#: positional-placeholder paramstyles this sink can generate SQL for;
#: numeric/named styles would need per-parameter naming and are
#: rejected at construction (r11 review catch: mapping them to '%s'
#: produced SQL that failed on every row at execute time)
_PARAMSTYLES = {"qmark": "?", "format": "%s", "pyformat": "%s"}

_MAX_ERROR_SAMPLES = 5

#: rows per ``fetchmany`` in ``current_state``: the keyset read holds at
#: most this many Python tuples at a time, whatever the table size
KEYSET_FETCH_ROWS = 10_000


# per-column normalisers of the keyset read (one fetch batch at a time)
def _str_column(values: tuple) -> list:
    return [str(v) if v is not None else None for v in values]


def _int_column(values: tuple) -> list:
    return [int(v) if v is not None else None for v in values]


def _hidden_column(values: tuple) -> list:
    return [bool(v) if v is not None else False for v in values]


def spill_root(spark: SparkSession) -> Path:
    """The directory that holds every keyset spill of this session:
    under the driver temp dir, which Spark deletes on ``stop()``."""
    jvm = spark.sparkContext._jvm
    return Path(jvm.org.apache.spark.SparkFiles.getRootDirectory()) / "dbapi_keyset"


class _ChunkWriter:
    """Writes chunks of one ``apply`` inside its open transaction and
    counts quarantined rows, samples and rowcount shortfalls into
    ``stats``."""

    def __init__(self, cur, stats: ApplyStats) -> None:
        self.cur = cur
        self.stats = stats

    def _track_shortfall(self, n_rows: int) -> None:
        # UPDATE/DELETE matching zero rows: the driver's rowcount (when
        # reliable, i.e. >= 0) reveals how many statements wrote
        # nothing — out-of-band drift the next diff re-converges
        rc = self.cur.rowcount
        if rc is not None and 0 <= rc < n_rows:
            self.stats.unmatched += n_rows - rc

    def write(self, sql: str, chunk: list[tuple], counts_matter: bool = False) -> int:
        """Write one chunk under a savepoint; returns the rows written."""
        if not chunk:
            return 0
        cur = self.cur
        cur.execute("SAVEPOINT apply_chunk")
        try:
            cur.executemany(sql, chunk)
            if counts_matter:
                self._track_shortfall(len(chunk))
            written = len(chunk)
        except Exception:
            # O3: undo the partial chunk, retry row-by-row, quarantine
            # bad rows
            cur.execute("ROLLBACK TO SAVEPOINT apply_chunk")
            written = self._write_rows(sql, chunk, counts_matter)
        cur.execute("RELEASE SAVEPOINT apply_chunk")
        return written

    def _write_rows(self, sql: str, chunk: list[tuple], counts_matter: bool) -> int:
        cur, stats = self.cur, self.stats
        written = 0
        last_exc: Exception | None = None
        for row in chunk:
            cur.execute("SAVEPOINT apply_row")
            try:
                cur.execute(sql, row)
                if counts_matter:
                    self._track_shortfall(1)
                written += 1
            except Exception as exc:
                cur.execute("ROLLBACK TO SAVEPOINT apply_row")
                last_exc = exc
                stats.errors += 1
                if len(stats.error_samples) < _MAX_ERROR_SAMPLES:
                    stats.error_samples.append(f"{sql} :: {row!r} :: {exc!r}"[:500])
            cur.execute("RELEASE SAVEPOINT apply_row")
        if written == 0:
            # every row failed: bad rows, or a dead connection? A
            # liveness probe decides — genuinely-bad whole chunks (all
            # rows violate a constraint) stay quarantined, but a
            # connection that no longer answers ABORTS the apply instead
            # of mislabeling its entire contents as quarantined rows
            try:
                cur.execute("SELECT 1")
                cur.fetchone()
            except Exception:
                raise RuntimeError(
                    f"entire chunk of {len(chunk)} rows failed and the "
                    "connection no longer answers — connection-level "
                    "failure, aborting apply"
                ) from last_exc
        return written


class DbapiTarget(DataTarget):
    def __init__(
        self,
        connection_factory: Callable[[], Any],
        table: str,
        id_column: str = "id",
        version_column: str | None = None,
        hidden_column: str | None = None,
        soft_delete: bool = False,
        id_prefix: str | None = None,
        batch_size: int = MAXIMUM_BATCH_SIZE,
        write_partitions: int | None = None,
        paramstyle: str = "qmark",
    ) -> None:
        self.connection_factory = connection_factory
        self.table = table
        self.id_column = id_column
        self.version_column = version_column
        self.hidden_column = hidden_column or ("hidden" if soft_delete else None)
        self.soft_delete = soft_delete
        self.id_prefix = id_prefix
        self.batch_size = batch_size
        if write_partitions is not None:
            warnings.warn(
                "DbapiTarget: write_partitions is ignored — apply writes "
                "over one driver connection",
                UserWarning,
                stacklevel=2,
            )
        if paramstyle not in _PARAMSTYLES:
            raise ValueError(
                f"unsupported paramstyle {paramstyle!r}: this sink generates "
                f"positional placeholders ({sorted(_PARAMSTYLES)}); numeric/"
                "named styles would fail on every statement at execute time"
            )
        self.placeholder = _PARAMSTYLES[paramstyle]
        self._spills: list[Path] = []

    # ------------------------------------------------------------------ #
    def current_state(self, spark: SparkSession) -> DataFrame:
        """Narrow scan: SELECT id[, version][, hidden] — DbalTarget.php:118-128.

        The keyset is read columnar: each ``fetchmany(KEYSET_FETCH_ROWS)``
        batch is transposed, normalised per column (id → ``str``,
        version → ``int``, both keeping NULL; NULL hidden → ``False``)
        and written as one row group of a driver-local parquet spill
        (see :func:`spill_root`), so at most one batch is alive in Python
        and Arrow at a time. The frame is a parquet scan of the spill
        with the keyset schema given, so reading it back starts no job.
        It is an eager snapshot: the connection is closed before it is
        returned, so later writes to the table (``apply`` of this very
        run) never show through it. The spill lives until
        :meth:`release_state`; a failed fetch deletes it at once. On a
        non-local master the executors must share the driver's
        filesystem to read it."""
        keyset = [(self.id_column, pa.string(), _str_column)]
        if self.version_column:
            keyset.append((self.version_column, pa.int64(), _int_column))
        if self.hidden_column:
            keyset.append((self.hidden_column, pa.bool_(), _hidden_column))
        schema = pa.schema([(name, typ) for name, typ, _ in keyset])
        root = spill_root(spark)
        root.mkdir(parents=True, exist_ok=True)
        spill = Path(tempfile.mkdtemp(dir=root))
        try:
            conn = self.connection_factory()
            try:
                cur = conn.cursor()
                cur.execute(f"SELECT {', '.join(schema.names)} FROM {self.table}")
                # the ids are unique: a dictionary would only cost CPU
                with pq.ParquetWriter(
                    spill / "keyset.parquet", schema, use_dictionary=False
                ) as writer:
                    while rows := cur.fetchmany(KEYSET_FETCH_ROWS):
                        writer.write_batch(pa.RecordBatch.from_arrays(
                            [
                                pa.array(norm(column), typ)
                                for (_, typ, norm), column in zip(keyset, zip(*rows))
                            ],
                            schema=schema,
                        ))
            finally:
                conn.close()
        except BaseException:
            shutil.rmtree(spill, ignore_errors=True)
            raise
        self._spills.append(spill)
        return spark.read.schema(from_arrow_schema(schema)).parquet(spill.as_uri())

    def release_state(self, spark: SparkSession) -> None:
        """Delete the spills of every ``current_state`` frame this target
        has returned; those frames must not be read again."""
        while self._spills:
            shutil.rmtree(self._spills.pop(), ignore_errors=True)

    # ------------------------------------------------------------------ #
    def _attr_columns(self, cdc: DataFrame) -> list[str]:
        reserved = {ID_COL, VERSION_COL, CHANGE_TYPE_COL, self.id_column,
                    self.version_column, self.hidden_column}
        return [
            c
            for c in cdc.columns
            if c not in reserved and not c.startswith("_local_")
        ]

    def apply(self, spark: SparkSession, cdc: DataFrame) -> ApplyStats:
        """Write ``cdc`` over one driver connection, in one transaction.

        Rows reach the driver through ``toLocalIterator(prefetchPartitions=True)``.
        Each change type gathers ``batch_size`` rows into a chunk, written
        by one ``executemany`` under a chunk savepoint; a failed chunk is
        rolled back to it and retried row by row, each row under its own
        savepoint, so bad rows are quarantined and good rows kept (O3).
        The connection commits once, after the last chunk. Any exception
        before that rolls the whole change set back, closes the
        connection and propagates."""
        attr_cols = self._attr_columns(cdc)
        ph = self.placeholder
        table = self.table
        id_col, ver_col, hid_col = self.id_column, self.version_column, self.hidden_column

        write_id = F.col(ID_COL)
        if self.id_prefix:
            write_id = F.concat(F.lit(self.id_prefix), write_id)

        # payload rows are (wid, *attrs[, ver], change_type)
        cols_for_write = [write_id.alias("__wid")] + [F.col(c) for c in attr_cols]
        if ver_col:
            src_ver = F.col(VERSION_COL) if VERSION_COL in cdc.columns else F.lit(None)
            cols_for_write.append(src_ver.cast("long").alias("__wver"))
        payload = cdc.select(*cols_for_write, F.col(CHANGE_TYPE_COL))

        insert_cols = [id_col] + attr_cols + ([ver_col] if ver_col else [])
        insert_sql = (
            f"INSERT INTO {table} ({', '.join(insert_cols)}) "
            f"VALUES ({', '.join([ph] * len(insert_cols))})"
        )
        set_parts = [f"{c} = {ph}" for c in attr_cols]
        if ver_col:
            set_parts.append(f"{ver_col} = {ph}")
        if hid_col:
            set_parts.append(f"{hid_col} = 0")  # W6: un-hide on update
        update_sql = (
            f"UPDATE {table} SET {', '.join(set_parts)} WHERE {id_col} = {ph}"
        )
        if self.soft_delete and hid_col:
            remove_sql = f"UPDATE {table} SET {hid_col} = 1 WHERE {id_col} = {ph}"
        else:
            remove_sql = f"DELETE FROM {table} WHERE {id_col} = {ph}"

        stats = ApplyStats()
        inserts: list[tuple] = []
        updates: list[tuple] = []
        removes: list[tuple] = []
        conn = self.connection_factory()
        try:
            cur = conn.cursor()
            # never released: see the module docstring's delivery section
            cur.execute("SAVEPOINT apply_run")
            writer = _ChunkWriter(cur, stats)
            for row in payload.toLocalIterator(prefetchPartitions=True):
                ct = row[-1]
                if ct == ChangeType.ADD:
                    inserts.append(row[:-1])
                elif ct == ChangeType.UPDATE:
                    updates.append(row[1:-1] + (row[0],))
                else:
                    removes.append((row[0],))
                if len(inserts) >= self.batch_size:
                    stats.added += writer.write(insert_sql, inserts)
                    inserts = []
                if len(updates) >= self.batch_size:
                    stats.updated += writer.write(update_sql, updates, counts_matter=True)
                    updates = []
                if len(removes) >= self.batch_size:
                    stats.removed += writer.write(remove_sql, removes, counts_matter=True)
                    removes = []
            stats.added += writer.write(insert_sql, inserts)
            stats.updated += writer.write(update_sql, updates, counts_matter=True)
            stats.removed += writer.write(remove_sql, removes, counts_matter=True)
            conn.commit()
        except BaseException:
            # the abort's own error is what the caller needs to see
            with contextlib.suppress(Exception):
                conn.rollback()
            raise
        finally:
            conn.close()
        return stats

    def remove_all(self, spark: SparkSession) -> int:
        """W4 — DELETE FROM, count first (``DbalTarget.php:160-167``)."""
        conn = self.connection_factory()
        try:
            cur = conn.cursor()
            cur.execute(f"SELECT count(*) FROM {self.table}")
            count = cur.fetchone()[0]
            cur.execute(f"DELETE FROM {self.table}")
            conn.commit()
            return int(count)
        finally:
            conn.close()

    def setup(self, spark: SparkSession) -> Result:
        """Table-existence probe (``DbalTarget.php:47-64``)."""
        result = Result()
        try:
            conn = self.connection_factory()
            try:
                cur = conn.cursor()
                cur.execute(f"SELECT 1 FROM {self.table} LIMIT 1")
                result.add_notice(f'Target table "{self.table}" exists')
            finally:
                conn.close()
        except Exception as exc:
            result.add_error(f'Target table "{self.table}" is not accessible: {exc}')
        return result
