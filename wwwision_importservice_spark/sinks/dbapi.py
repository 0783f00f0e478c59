"""DBAPI-2 relational target: batched upsert/delete with error quarantine.

The Python analogue of the reference's Doctrine-DBAL target
(``Classes/DataTarget/Dbal/DbalTarget.php``):

- W1 addRecord    → batched ``INSERT`` (executemany),
- W2 updateRecord → batched ``UPDATE … WHERE id = ?`` (un-hides on update
  when a hidden column is configured, W6),
- W3 removeRecord → batched ``DELETE … WHERE id = ?``; soft-delete mode
  issues ``UPDATE … SET hidden = 1`` instead (W7),
- W8 batching     → ``batch_size`` rows per executemany flush (the
  reference's ``MAXIMUM_BATCH_SIZE = 1000``),
- O3 isolation    → a failed batch retries row-by-row; bad rows are
  counted + sampled (``ApplyStats.error_samples`` carries up to
  ``_MAX_ERROR_SAMPLES`` ``(statement, params, error)`` examples), good
  rows still land. Connection-level failures ABORT rather than
  quarantine: when every row of a chunk fails AND the connection no
  longer answers a ``SELECT 1`` probe, the partition raises so the
  sync fails loudly instead of mislabeling its contents as quarantined
  rows (r11 review catch; the reference continues on per-record
  \\Error and aborts on \\Exception),
- W4 removeAll    → single ``DELETE FROM`` returning the count.

State read (``current_state``, ``DbalTarget.php:118-128``): the narrow
keyset ``(id[, version][, hidden])`` is fetched driver-side in
``fetchmany`` batches of ``KEYSET_FETCH_ROWS``; each batch is normalised
column by column into one Arrow record batch, and the batches reach
Spark as one Arrow table. The Python-tuple footprint is one fetch batch,
not the whole keyset (the reference holds it all in a PHP array), and
the frame is an eager snapshot: the connection is closed before it is
returned and it never reads the table again.

Delivery semantics are AT-LEAST-ONCE per Spark task: a task retry
(executor loss, speculation) re-runs a partition whose chunks may have
already committed. Re-applied UPDATE/DELETEs are naturally idempotent;
re-applied INSERTs are detected ON RETRY ATTEMPTS ONLY
(``TaskContext.attemptNumber() > 0``) by comparing the stored row's
CONTENT to what was being written — an identical row counts toward
``added`` (the failed attempt's accumulator adds were discarded, its
commits were not), a same-id row with different values stays a
quarantined conflict, and first attempts keep the reference's
duplicate-add-is-an-error semantics untouched. UPDATE/DELETE chunks whose driver reports a
reliable rowcount shortfall count the difference in
``ApplyStats.unmatched`` (the target row drifted out-of-band; the next
run's diff re-converges it).

Distribution model: writes run **executor-side** via
``DataFrame.foreachPartition`` — each partition opens its own connection
from the picklable ``connection_factory`` and writes its slice, giving
partition-parallel batched writes instead of the reference's single
connection. ``write_partitions`` caps the fan-in for stores that dislike
concurrent writers (sqlite: 1). Error counts travel through a Spark
accumulator, not driver-side state.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

import pyarrow as pa
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def _make_replay_probe(table: str, id_col: str, ph: str, insert_cols: list[str]):
    """Factory for the at-least-once INSERT replay predicate: True iff
    the target already holds EXACTLY the row an INSERT was about to
    write. Content, not just id, is compared: a same-id row with
    different values is a genuine conflict (out-of-band drift,
    duplicate feed) and must stay quarantined — the o3 chaos test
    pre-seeds exactly that shape. Returns a NESTED function so
    cloudpickle ships it by value into the self-contained
    foreachPartition closure (the _make_image_decoder convention), and
    the factory itself is unit-testable against a plain connection."""
    sql = (
        f"SELECT {', '.join(insert_cols)} FROM {table} WHERE {id_col} = {ph}"
    )

    def probe(conn, cur, row: tuple) -> bool:
        try:
            cur.execute(sql, (row[0],))
            got = cur.fetchone()
        except Exception:
            conn.rollback()
            return False
        return got is not None and tuple(got) == tuple(row)

    return probe


def _make_error_samples_param(limit: int) -> AccumulatorParam:
    """AccumulatorParam collecting at most ``limit`` quarantine examples
    executor-side. The class is defined inside the factory so cloudpickle
    ships it by value with the ``foreachPartition`` closure; a
    module-level class pickles by reference, and every Python worker
    would then have to import this package."""

    class ErrorSamples(AccumulatorParam):
        def zero(self, value):
            return []

        def addInPlace(self, a, b):
            a.extend(b)
            del a[limit:]
            return a

    return ErrorSamples()


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
        self.write_partitions = write_partitions
        if paramstyle not in _PARAMSTYLES:
            raise ValueError(
                f"unsupported paramstyle {paramstyle!r}: this sink generates "
                f"positional placeholders ({sorted(_PARAMSTYLES)}); numeric/"
                "named styles would fail on every statement at execute time"
            )
        self.placeholder = _PARAMSTYLES[paramstyle]

    # ------------------------------------------------------------------ #
    def current_state(self, spark: SparkSession) -> DataFrame:
        """Narrow scan: SELECT id[, version][, hidden] — DbalTarget.php:118-128.

        The keyset is read columnar: each ``fetchmany(KEYSET_FETCH_ROWS)``
        batch is transposed, normalised per column (id → ``str``,
        version → ``int``, both keeping NULL; NULL hidden → ``False``)
        and becomes one Arrow record batch, so at most one batch of
        Python tuples is alive at a time. The frame is an eager
        snapshot: the connection is closed before the Arrow table is
        handed to Spark, so later writes to the table (``apply`` of this
        very run) never show through it."""
        keyset = [(self.id_column, pa.string(), _str_column)]
        if self.version_column:
            keyset.append((self.version_column, pa.int64(), _int_column))
        if self.hidden_column:
            keyset.append((self.hidden_column, pa.bool_(), _hidden_column))
        schema = pa.schema([(name, typ) for name, typ, _ in keyset])
        batches = []
        conn = self.connection_factory()
        try:
            cur = conn.cursor()
            cur.execute(f"SELECT {', '.join(schema.names)} FROM {self.table}")
            while rows := cur.fetchmany(KEYSET_FETCH_ROWS):
                batches.append(pa.RecordBatch.from_arrays(
                    [
                        pa.array(norm(column), typ)
                        for (_, typ, norm), column in zip(keyset, zip(*rows))
                    ],
                    schema=schema,
                ))
        finally:
            conn.close()
        return spark.createDataFrame(pa.Table.from_batches(batches, schema))

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
        attr_cols = self._attr_columns(cdc)
        ph = self.placeholder
        table = self.table
        id_col, ver_col, hid_col = self.id_column, self.version_column, self.hidden_column
        soft = self.soft_delete
        batch = self.batch_size
        factory = self.connection_factory

        write_id = F.col(ID_COL)
        if self.id_prefix:
            write_id = F.concat(F.lit(self.id_prefix), write_id)

        cols_for_write = [write_id.alias("__wid")] + [F.col(c) for c in attr_cols]
        if ver_col:
            src_ver = F.col(VERSION_COL) if VERSION_COL in cdc.columns else F.lit(None)
            cols_for_write.append(src_ver.cast("long").alias("__wver"))
        payload = cdc.select(*cols_for_write, F.col(CHANGE_TYPE_COL))
        if self.write_partitions:
            payload = payload.repartition(self.write_partitions)

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
        if soft and hid_col:
            remove_sql = f"UPDATE {table} SET {hid_col} = 1 WHERE {id_col} = {ph}"
        else:
            remove_sql = f"DELETE FROM {table} WHERE {id_col} = {ph}"

        sc = spark.sparkContext
        err_acc = sc.accumulator(0)
        add_acc = sc.accumulator(0)
        upd_acc = sc.accumulator(0)
        rem_acc = sc.accumulator(0)
        unmatched_acc = sc.accumulator(0)
        sample_acc = sc.accumulator([], _make_error_samples_param(_MAX_ERROR_SAMPLES))

        has_ver = ver_col is not None
        ct_col = CHANGE_TYPE_COL
        ct_add, ct_update = ChangeType.ADD, ChangeType.UPDATE

        # Self-contained closure: write_partition captures plain values,
        # the nested replay probe and accumulators whose param class is
        # local to its factory, so cloudpickle ships all of it by value
        # and Python workers never import this package (tested from a
        # foreign cwd without PYTHONPATH).
        replay_probe = _make_replay_probe(table, id_col, ph, insert_cols)

        def write_partition(rows_iter) -> None:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            is_retry_attempt = ctx is not None and ctx.attemptNumber() > 0
            conn = factory()
            try:
                cur = conn.cursor()

                def chunks(rows: list, size: int):
                    for i in range(0, len(rows), size):
                        yield rows[i : i + size]

                def track_shortfall(n_rows: int) -> None:
                    # UPDATE/DELETE matching zero rows: the driver's
                    # rowcount (when reliable, i.e. >= 0) reveals how
                    # many statements wrote nothing — out-of-band drift
                    # the next diff re-converges; surfaced, not hidden
                    rc = cur.rowcount
                    if rc is not None and 0 <= rc < n_rows:
                        unmatched_acc.add(n_rows - rc)

                def run_batch(
                    sql: str, params: list[tuple], acc,
                    is_insert: bool = False, counts_matter: bool = False,
                ) -> None:
                    for chunk in chunks(params, batch):
                        try:
                            cur.executemany(sql, chunk)
                            if counts_matter:
                                track_shortfall(len(chunk))
                            conn.commit()
                            acc.add(len(chunk))
                        except Exception:
                            # O3: retry row-by-row, quarantine bad rows
                            conn.rollback()
                            chunk_errors = 0
                            last_exc: Exception | None = None
                            for row in chunk:
                                try:
                                    cur.execute(sql, row)
                                    if counts_matter:
                                        track_shortfall(1)
                                    conn.commit()
                                    acc.add(1)
                                except Exception as exc:
                                    conn.rollback()
                                    if (
                                        is_insert
                                        and is_retry_attempt
                                        and replay_probe(conn, cur, row)
                                    ):
                                        # at-least-once replay: a prior
                                        # attempt of THIS task committed
                                        # this exact row (its accumulator
                                        # adds were discarded, its commit
                                        # was not) — correct accounting is
                                        # "added", not "error". Gated on
                                        # attemptNumber so FIRST attempts
                                        # keep duplicate-add-is-an-error.
                                        acc.add(1)
                                        continue
                                    chunk_errors += 1
                                    last_exc = exc
                                    err_acc.add(1)
                                    sample_acc.add(
                                        [f"{sql} :: {row!r} :: {exc!r}"[:500]]
                                    )
                            if chunk and chunk_errors == len(chunk):
                                # every row failed: bad rows, or a dead
                                # connection? A liveness probe decides —
                                # genuinely-bad whole chunks (all rows
                                # violate a constraint) stay quarantined,
                                # but a connection that no longer answers
                                # ABORTS the partition instead of
                                # mislabeling its entire contents as
                                # quarantined rows
                                try:
                                    cur.execute("SELECT 1")
                                    cur.fetchone()
                                except Exception:
                                    raise RuntimeError(
                                        f"entire chunk of {len(chunk)} rows "
                                        "failed and the connection no longer "
                                        "answers — connection-level failure, "
                                        "aborting partition"
                                    ) from last_exc

                inserts: list[tuple] = []
                updates: list[tuple] = []
                removes: list[tuple] = []
                for row in rows_iter:
                    wid = row["__wid"]
                    attrs = tuple(row[c] for c in attr_cols)
                    ver = (row["__wver"],) if has_ver else ()
                    ct = row[ct_col]
                    if ct == ct_add:
                        inserts.append((wid,) + attrs + ver)
                    elif ct == ct_update:
                        updates.append(attrs + ver + (wid,))
                    else:
                        removes.append((wid,))
                    if len(inserts) >= batch:
                        run_batch(insert_sql, inserts, add_acc, is_insert=True)
                        inserts = []
                    if len(updates) >= batch:
                        run_batch(update_sql, updates, upd_acc,
                                  counts_matter=True)
                        updates = []
                    if len(removes) >= batch:
                        run_batch(remove_sql, removes, rem_acc,
                                  counts_matter=True)
                        removes = []
                run_batch(insert_sql, inserts, add_acc, is_insert=True)
                run_batch(update_sql, updates, upd_acc, counts_matter=True)
                run_batch(remove_sql, removes, rem_acc, counts_matter=True)
            finally:
                conn.close()

        payload.foreachPartition(write_partition)
        return ApplyStats(
            added=add_acc.value,
            updated=upd_acc.value,
            removed=rem_acc.value,
            errors=err_acc.value,
            unmatched=unmatched_acc.value,
            error_samples=list(sample_acc.value),
        )

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
