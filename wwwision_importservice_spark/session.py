"""SparkSession factory with scale-oriented defaults.

Defaults chosen for correctness-vs-oracle (UTC session timezone, Arrow
enabled) and for scale (AQE on, skew-join handling, sane shuffle
partitioning). On a real cluster the same config applies — only
``master`` and memory sizing change.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def get_spark(
    app_name: str = "wwwision_importservice_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Local mode reads ``SPARK_GRAFT_CPUS`` (default: all cores); on a
    cluster pass ``master=None`` with spark-submit providing the master.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Local mode runs every task thread inside the driver JVM, whose
        # default 1g heap forces constant GC under 32 concurrent tasks —
        # a major source of run-to-run timing noise. Size it for the
        # local thread count; ignored when a cluster deployment sets its
        # own executor/driver memory.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
        # Match parallelism to cores locally; a cluster deployment would
        # raise this (or rely on AQE coalescing, which is enabled below).
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-planning — coalesces small shuffle partitions,
        # converts sort-merge→broadcast when a side turns out small, and
        # splits skewed partitions. Essential at 100 TB, free at sf0.01.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE rewrite sort-merge joins to shuffled-hash at runtime
        # when every post-shuffle partition's build side fits under the
        # threshold (guide §3.1: often faster than SMJ — skips both
        # sides' sorts; default 0 = off). 128m per-partition build is
        # safe wherever the advisory partition size (64m default)
        # governs and far under executor task memory on any sane
        # deployment; it matters most for the FULL OUTER diff kernel,
        # which can never broadcast (measured at sf0.1: j4 0.81→0.67s,
        # j5 0.83→0.60s, same rows). Runtime-only: static plans, their
        # digests, and the SMJ plan pins are unchanged. Tunable per
        # deployment via SPARK_GRAFT_SHJ_THRESHOLD (set 0 to disable).
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "128m"),
        )
        # Deterministic wall-clock semantics vs the DuckDB oracle
        # (duckdb reads parquet timestamps as UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas_udf / toPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # The driver testdata's events table stores TIMESTAMP(NANOS) which
        # Spark rejects by default; read as raw nanos (LongType) instead.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, schema: StructType | str, rows: Iterable[tuple] = ()
) -> DataFrame:
    """A frame of driver-side ``rows`` (tuples in ``schema`` order),
    handed to Spark as one Arrow table typed by ``schema`` (a
    ``StructType`` or DDL string; names, types and nullability are kept).

    Spark plans it as a ``LocalTableScan``. ``createDataFrame`` over a
    Python list plans ``Scan ExistingRDD`` over a ``PythonRDD`` instead,
    which starts a Python worker per partition even for zero rows."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(column, field.type) for column, field in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
