"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` (single JVM); the configs below are the
ones that matter identically on a 1000-executor cluster:

- AQE on (runtime re-plan: skew-join splitting, partition coalescing,
  dynamic broadcast conversion).
- Arrow on (Pandas UDF batches cross the Python boundary columnar).
- ``spark.sql.session.timeZone=UTC`` — parquet timestamps are naive UTC in
  the test data; this keeps Spark/DuckDB/pandas agreeing bit-for-bit.
- shuffle partitions sized by env (32 locally; on a real cluster this is
  left to AQE's coalescing from a high initial number).

``literal_df`` turns a small driver-side table into a DataFrame whose plan
stays in the JVM.
"""

from __future__ import annotations

import os
from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "odc-stac-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the synthetic events table carries TIMESTAMP(NANOS) which the
        # vectorized parquet reader rejects; read as int64 nanos and convert
        # in sources.tables (same ns→µs truncation DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()


#: driver-side tables up to this many rows / bytes of literal values are
#: planned as JVM literals (see :func:`literal_df`)
LITERAL_MAX_ROWS = 1024
LITERAL_MAX_BYTES = 4 << 20


def literal_df(spark: SparkSession, rows: Sequence[tuple], schema: StructType) -> DataFrame:
    """A small driver-side table as a DataFrame with a JVM-only plan.

    ``createDataFrame(list)`` plans a Python-RDD scan, so every action over
    it pays a Python worker round trip per partition. Here the rows become
    an ``inline`` of literal structs cast to ``schema`` (an all-NULL column
    keeps its type). Past ``LITERAL_MAX_ROWS`` rows or ``LITERAL_MAX_BYTES``
    of values the plan itself would grow too large, so those tables keep
    ``createDataFrame`` in one partition."""
    n_bytes = sum(len(str(v)) for r in rows for v in r)
    if not rows or len(rows) > LITERAL_MAX_ROWS or n_bytes > LITERAL_MAX_BYTES:
        return spark.createDataFrame(list(rows), schema).coalesce(1)
    structs = [
        F.struct(*[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(r, schema.fields)])
        for r in rows
    ]
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))
