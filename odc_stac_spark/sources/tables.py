"""Parquet table sources for the driver-generated synthetic tables.

Scale notes: ``spark.read.parquet`` is a v2 file scan — predicate pushdown
and column pruning reach the parquet reader for free as long as queries are
declarative (check ``PushedFilters`` / ``ReadSchema`` in ``.explain``).
At 100 TB the same code path works unchanged: the scan parallelizes by
row-group, `maxPartitionBytes` controls split size, and partition-directory
layouts (e.g. date-partitioned `events`) add partition pruning on top.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension tables small enough to broadcast at any realistic scale factor
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: fixture columns that are timestamps-by-convention (naive UTC on disk).
#: The NTZ→TIMESTAMP normalization below is scoped to THESE columns only, so
#: a future fixture column with genuine wall-clock semantics is never
#: silently reinterpreted as a UTC instant.
TIMESTAMP_COLUMNS = frozenset({"ts", "o_orderdate", "l_shipdate"})

#: zone ids equivalent to UTC (offset 0, no DST) — the fast NTZ cast path
_UTC_ZONES = frozenset(
    {"UTC", "Etc/UTC", "GMT", "Etc/GMT", "GMT0", "Etc/GMT0", "Etc/GMT+0",
     "Etc/GMT-0", "Greenwich", "Universal", "Etc/Universal", "Zulu",
     "Etc/Zulu", "+00:00", "Z"}
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic fixture table, normalizing timestamp encodings.

    .. warning:: **Session side effect.** This sets one runtime conf on the
       *caller's* session and leaves it set:
       ``spark.sql.legacy.parquet.nanosAsLong=true`` (the events fixture may
       carry TIMESTAMP(NANOS), which the vectorized reader otherwise rejects
       with PARQUET_TYPE_ILLEGAL). It cannot be restored after this call:
       the returned DataFrame is lazy, and the parquet scan consults the
       session's SQLConf at *action* time, so flipping the conf back would
       make a later ``.collect()`` fail on nanos files. The conf's only
       effect is letting nanos columns arrive as int64, which
       :func:`normalize_timestamps` immediately normalizes.

       The session ``timeZone`` is NOT mutated: the fixture timestamps are
       naive-UTC by convention, and :func:`normalize_timestamps` yields the
       same instants under any session tz — nanos convert via the epoch-based
       ``timestamp_micros``; TIMESTAMP_NTZ converts via a plain cast when
       the session is already UTC (pushdown-friendly — see the inline note)
       and via zone-explicit ``make_timestamp(..., 'UTC')`` otherwise.
       One caveat of the fast path: the cast consults the session tz at
       *action* time, so flipping the session to a non-UTC zone between
       ``load_table`` and the action would shift the instants — don't.
       Downstream *rendering* functions (``date_format`` etc.) in queries
       still follow the session tz; sessions built via
       :func:`odc_stac_spark.get_spark` pin UTC.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_timestamps(spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")))


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """``df`` (a batch or streaming read of a fixture table) with each
    :data:`TIMESTAMP_COLUMNS` column as a UTC-instant TIMESTAMP, whichever
    encoding the fixture generation wrote (see :func:`load_table`)."""
    # Fixture generations differ in how events.ts is written:
    #   (a) TIMESTAMP(NANOS) — arrives as bigint under nanosAsLong;
    #   (b) TIMESTAMP(MICROS, isAdjustedToUTC=false) — arrives as
    #       TIMESTAMP_NTZ, which epoch functions (unix_micros, window,
    #       to_utc_timestamp) reject.
    # Normalize both to a UTC-instant TIMESTAMP so every downstream query
    # sees one type.
    for field in df.schema.fields:
        if field.name not in TIMESTAMP_COLUMNS:
            continue
        kind = field.dataType.simpleString()
        if kind == "bigint":
            # int64 nanos under nanosAsLong — truncate to µs (integer
            # `div`, not double division: ns epochs exceed 2^53) exactly
            # as DuckDB does when reading the same file. Epoch-based, so
            # session-timezone independent.
            df = df.withColumn(field.name, F.expr(f"timestamp_micros({field.name} div 1000)"))
        elif kind == "timestamp_ntz":
            # Interpret the naive wall-clock as UTC. Two paths:
            #
            # - UTC session (the default everywhere, incl. a bare driver
            #   session — container tz is Etc/UTC): a plain
            #   ``cast(ntz as timestamp)`` is correct AND pushdown-friendly:
            #   Catalyst's UnwrapCastInBinaryComparison rewrites
            #   ``cast(col) <= lit`` back onto the raw column, so range
            #   predicates reach the parquet scan (verified: PushedFilters
            #   carries LessThanOrEqual; the make_timestamp form pushed only
            #   IsNotNull and re-evaluated a 6-function chain per row — a
            #   2-3x slowdown on the date-filtered TPC-H queries).
            # - non-UTC session: the cast would be re-evaluated with the
            #   session tz at *action* time and shift the instants, so fall
            #   back to zone-explicit ``make_timestamp(..., 'UTC')`` —
            #   slower, but correct under any session configuration.
            c = field.name
            tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
            if tz in _UTC_ZONES:
                df = df.withColumn(c, F.col(c).cast("timestamp"))
            else:
                df = df.withColumn(
                    c,
                    F.expr(
                        f"make_timestamp(year({c}), month({c}), day({c}), "
                        f"hour({c}), minute({c}), extract(SECOND FROM {c}), 'UTC')"
                    ),
                )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works on them."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
