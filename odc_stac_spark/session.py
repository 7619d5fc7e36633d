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

- ``spark.executorEnv.PYTHONPATH`` holds the directory this package sits
  in, so Python workers import ``odc_stac_spark`` whatever the driver's
  cwd or ``PYTHONPATH`` (a worker does not inherit the driver's
  ``sys.path``).

``literal_df`` turns a driver-side table into a one-partition DataFrame
built through Arrow: a JVM ``LocalTableScan`` that no Python worker reads.
``sql_literal`` and ``sql_in`` write driver values into SQL expression text.
"""

from __future__ import annotations

import math
import numbers
import os
from typing import Sequence

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import BooleanType, StructField, StructType

#: the directory holding the ``odc_stac_spark`` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        # Python workers merge this into their own PYTHONPATH
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    return builder.getOrCreate()


def literal_df(spark: SparkSession, rows: Sequence[tuple], schema: StructType) -> DataFrame:
    """A driver-side table as a one-partition DataFrame with a JVM-only plan.

    ``createDataFrame(list)`` plans a Python-RDD scan, so every action over
    it pays a Python worker round trip per partition. Here the rows become
    a ``pyarrow.Table`` typed by ``schema`` (an all-NULL column keeps its
    type), which Spark turns into a ``LocalRelation`` on the driver. Values
    go through Spark's own ``toInternal`` first, so a naive ``datetime``
    means the same instant it does in ``F.lit``. One partition: a
    ``LocalTableScan`` otherwise splits a few rows over every core."""
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for values, field, arrow_field in zip(cols, schema.fields, arrow):
        if field.dataType.needConversion():
            values = [field.dataType.toInternal(v) for v in values]
        arrays.append(pa.array(values, type=arrow_field.type))
    # pyspark rebuilds a map of nested values without its null mask under
    # pyarrow < 17 (SPARK-48302), so a NULL map would read back as {}: a
    # top-level NULL map is restored from a null-flag column (the Project
    # folds into the LocalRelation); a NULL map below the top level is
    # refused rather than read back as {}
    for field, a in zip(schema.fields, arrays):
        if _ARROW_DROPS_MAP_NULLS and _nested_null_map(a, 0, False):
            raise ValueError(
                f"literal_df: column {field.name!r} holds a NULL map inside a struct, "
                f"array or map, which pyarrow {pa.__version__} would read back as {{}}"
            )
    lost = [i for i, a in enumerate(arrays) if pa.types.is_map(a.type) and a.null_count]
    full = StructType(schema.fields + [StructField(f"_null{i}", BooleanType()) for i in lost])
    arrays += [arrays[i].is_null() for i in lost]
    df = spark.createDataFrame(pa.Table.from_arrays(arrays, schema=to_arrow_schema(full)), full)
    if lost:
        df = df.select(
            *[
                F.when(F.col(f"_null{i}"), None).otherwise(F.col(f.name)).alias(f.name)
                if i in lost
                else f.name
                for i, f in enumerate(schema.fields)
            ]
        )
    return df.coalesce(1)


#: pyspark's Arrow conversion drops a rebuilt map's null mask (SPARK-48302)
_ARROW_DROPS_MAP_NULLS = int(pa.__version__.split(".")[0]) < 17


def _nested_null_map(a: pa.Array, inherited: int, nested: bool) -> bool:
    """Whether ``a`` holds, below its top level, a NULL map that pyspark's
    Arrow conversion rebuilds (one with nested or timestamp keys or
    values). ``inherited`` counts the nulls ``a`` takes from its parent
    struct, which are not NULL maps of its own."""
    t = a.type
    if pa.types.is_struct(t):
        return any(_nested_null_map(c, a.null_count, True) for c in a.flatten())
    if pa.types.is_list(t):
        return _nested_null_map(a.flatten(), 0, True)
    if pa.types.is_map(t):
        rebuilt = any(
            pa.types.is_nested(x) or pa.types.is_timestamp(x) for x in (t.key_type, t.item_type)
        )
        if nested and rebuilt and a.null_count > inherited:
            return True
        return _nested_null_map(a.keys, 0, True) or _nested_null_map(a.items, 0, True)
    return False


def sql_literal(v) -> str:
    """``None``, a bool, an integer, a real number or a str as Spark SQL
    literal text.

    Strings escape backslash and quote for Spark's default string-literal
    parser; floats are exact ``DOUBLE`` literals (``repr`` round-trips),
    and NaN and the infinities are casts from their names."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, numbers.Integral):
        return str(int(v))
    if isinstance(v, numbers.Real):
        v = float(v)
        return f"{v!r}D" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {v!r}")


def sql_in(column: str, values) -> str:
    """``column IN (values)`` as SQL text; an empty list matches nothing."""
    values = list(values)
    return f"{column} IN ({', '.join(map(sql_literal, values))})" if values else "false"
