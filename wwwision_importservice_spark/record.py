"""RecordFrame — the keyed record collection as a DataFrame wrapper.

The reference's central collection is ``DataRecords``: an immutable,
**id-keyed** map of records (``Classes/ValueObject/DataRecords.php:11-20``).
Its keyed-ness is an invariant: one record per id, established at ingest by
PHP assoc-array overwrite — duplicate ids resolve **last-write-wins**
(``DataRecords.php:39-41``).

Here the collection is a DataFrame plus two reserved derived columns:

- ``_id``      StringType, non-null, unique (the key),
- ``_version`` LongType, nullable (NULL = unversioned; the reference's
  ``DataVersion::NONE`` ``-1`` sentinel, ``DataVersion.php:13``).

Scale notes:

- Last-wins dedup is a ``row_number() = 1`` window, NOT a
  ``max_by(struct)`` aggregate: Spark's ``InferWindowGroupLimit``
  (3.5+) plants a *Partial* ``WindowGroupLimit`` before the exchange,
  so each map task forwards at most one row per key — the same
  shuffle-volume bound as a partial aggregation — and the reduce side
  does a single sort instead of the SortAggregate's two sort passes.
  ``max_by(struct(<payload>), ord)`` cannot take Spark's HashAggregate
  fast path (struct buffers with strings are not mutable fixed-width),
  so it silently planned partial+final SortAggregate: measured at
  sf0.1 the window form is 1.8-2.0× faster on both unique-key and
  4×-duplicate shapes, and it also fixes the all-NULL-order corner
  (``max_by`` yields a NULL struct; the window keeps the last arrival).
  PHP array order is replaced by an **explicit order column** for
  determinism under parallel reads (SURVEY §7.4).
- Null-id rejection is a codegen'd ``raise_error`` expression — no
  validation pass, no extra action.
- All methods stay lazy; nothing here triggers a job except
  ``count``/``is_empty``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wwwision_importservice_spark.errors import ConfigurationError
from wwwision_importservice_spark.functions.versions import version_expr

ID_COL = "_id"
VERSION_COL = "_version"


def dedup_last_wins(df: DataFrame, key: str, order_col: str | Column) -> DataFrame:
    """Keep exactly one row per ``key``: the one with the greatest order value.

    Mirrors assoc-array overwrite keying (``DataRecords.php:39-41``) with an
    explicit order column instead of PHP iteration order. Implemented as a
    ``row_number() = 1`` window: ``InferWindowGroupLimit`` plants a Partial
    ``WindowGroupLimit`` before the exchange (≤1 row per key per map task
    enters the shuffle — the partial-aggregation volume bound) and a single
    reduce-side sort finishes, measurably faster than the ``max_by(struct)``
    aggregate whose var-width buffer forces SortAggregate (see module
    docstring; pinned by ``tests/test_plans.py``). Ties on the order value
    resolve to the later arrival via a monotonic tiebreaker.
    """
    from pyspark.sql import Window

    order = F.col(order_col) if isinstance(order_col, str) else order_col
    # Materialize the order expression first: Spark 4 rejects
    # non-deterministic expressions (monotonically_increasing_id) inside
    # window order specs just as inside aggregate functions.
    tmp = df.withColumn("__dedup_ord", order).withColumn(
        "__dedup_tie", F.monotonically_increasing_id()
    )
    w = Window.partitionBy(key).orderBy(
        F.col("__dedup_ord").desc(), F.col("__dedup_tie").desc()
    )
    return (
        tmp.withColumn("__dedup_rn", F.row_number().over(w))
        .filter(F.col("__dedup_rn") == 1)
        .drop("__dedup_ord", "__dedup_tie", "__dedup_rn")
    )


class RecordFrame:
    """A DataFrame carrying the keyed-record invariant (unique string ``_id``)."""

    def __init__(self, df: DataFrame, *, versioned: bool) -> None:
        self.df = df
        self.versioned = versioned

    # ------------------------------------------------------------------ #
    # Construction (K1: DataRecords::fromRawArray, DataRecords.php:27-45)
    # ------------------------------------------------------------------ #
    @classmethod
    def from_raw(
        cls,
        df: DataFrame,
        id_attribute: str,
        version_attribute: str | None = None,
        order_by: str | Column | None = None,
        strict: bool = True,
    ) -> "RecordFrame":
        """Key a raw DataFrame by ``id_attribute``.

        - id cast to string (``DataRecords.php:34``); missing column →
          ConfigurationError; NULL id → runtime error when ``strict``
          (``DataRecords.php:31-33``), silently dropped otherwise.
        - duplicate ids: **last write wins** by ``order_by`` (an explicit
          arrival-order column; defaults to ``monotonically_increasing_id()``
          which follows file/partition order — pass a real column for
          cross-run determinism).
        - ``version_attribute``: parsed through the polymorphic ladder to
          LongType (``DataVersion.php:48-70``); missing column →
          ConfigurationError (``DataRecords.php:36-38``); NULL value →
          unversioned (NULL).
        """
        if id_attribute not in df.columns:
            raise ConfigurationError(
                f'Missing configured id attribute "{id_attribute}"; '
                f"have columns {df.columns}"
            )
        id_col = F.col(id_attribute).cast("string")
        if strict:
            id_col = F.when(
                id_col.isNull(),
                F.raise_error(F.lit(f'Missing id attribute "{id_attribute}" on a record')),
            ).otherwise(id_col)
        out = df.withColumn(ID_COL, id_col)
        if not strict:
            out = out.filter(F.col(ID_COL).isNotNull())

        versioned = version_attribute is not None
        if versioned:
            if version_attribute not in df.columns:
                raise ConfigurationError(
                    f'Missing configured version attribute "{version_attribute}"'
                )
            vtype = df.schema[version_attribute].dataType
            out = out.withColumn(
                VERSION_COL, version_expr(F.col(version_attribute), vtype, strict=strict)
            )

        if order_by is None:
            order_by = F.monotonically_increasing_id()
        out = dedup_last_wins(out, ID_COL, order_by)
        return cls(out, versioned=versioned)

    @classmethod
    def from_keyed(cls, df: DataFrame, *, versioned: bool | None = None) -> "RecordFrame":
        """Adopt a DataFrame that already satisfies the invariant."""
        if versioned is None:
            versioned = VERSION_COL in df.columns
        return cls(df, versioned=versioned)

    # ------------------------------------------------------------------ #
    # Collection ops (K3/K4/K8/K9/K10)
    # ------------------------------------------------------------------ #
    @property
    def attribute_columns(self) -> list[str]:
        return [c for c in self.df.columns if c not in (ID_COL, VERSION_COL)]

    def map(self, fn: Callable[[DataFrame], DataFrame]) -> "RecordFrame":
        """Whole-collection transform (K3, ``DataRecords.php:102-105``).

        ``fn`` may rewrite ``_id``; the result is re-deduplicated
        (re-keyed via ``fromRecords``, ``DataRecords.php:47-57``) to
        preserve the invariant — first-seen wins on collision there, but
        with no PHP iteration order we keep max-order semantics with a
        fresh order column.
        """
        out = fn(self.df)
        out = dedup_last_wins(out, ID_COL, F.monotonically_increasing_id())
        return RecordFrame(out, versioned=self.versioned)

    def filter(self, condition: Column) -> "RecordFrame":
        """K4 (``DataRecords.php:107-110``); subset keeps the invariant."""
        return RecordFrame(self.df.filter(condition), versioned=self.versioned)

    def with_attribute(self, name: str, value: Column) -> "RecordFrame":
        """K5 — functional attribute upsert (``DataRecord.php:33-38``)."""
        return RecordFrame(self.df.withColumn(name, value), versioned=self.versioned)

    def with_id(self, id_expr: Column) -> "RecordFrame":
        """K6 — rewrite ids (``DataRecord.php:28-31``), then re-key."""
        out = self.df.withColumn(ID_COL, id_expr.cast("string"))
        out = dedup_last_wins(out, ID_COL, F.monotonically_increasing_id())
        return RecordFrame(out, versioned=self.versioned)

    def with_records(self, other: "RecordFrame") -> "RecordFrame":
        """K8 — union that adds records **iff their id is absent** (first
        collection wins; ``DataRecords.php:59-67``). A left-anti join keeps
        it one shuffle, broadcast-able when ``other`` is small."""
        new_rows = other.df.join(self.df.select(ID_COL), ID_COL, "left_anti")
        return RecordFrame(
            self.df.unionByName(new_rows, allowMissingColumns=True),
            versioned=self.versioned,
        )

    def get_ids(self) -> DataFrame:
        """K9 — the key set (distinct by invariant; ``DataRecords.php:97-100``)."""
        return self.df.select(ID_COL)

    def count(self) -> int:
        """K10 (action)."""
        return self.df.count()

    def is_empty(self) -> bool:
        """K10 (action)."""
        return self.df.isEmpty()
