"""Parquet table sources for the driver-generated synthetic tables.

Scale notes: ``spark.read.parquet`` is a v2 file scan — predicate pushdown
and column pruning reach the parquet reader for free as long as queries are
declarative (check ``PushedFilters`` / ``ReadSchema`` in ``.explain``).
At 100 TB the same code path works unchanged: the scan parallelizes by
row-group, `maxPartitionBytes` controls split size, and partition-directory
layouts (e.g. date-partitioned `events`) add partition pruning on top.

Schemas are memoized: inferring a parquet schema is a Spark job (it reads
the footers), so :func:`load_table` infers each file once and later reads
name that schema (``spark.read.load(path, format="parquet", schema=s)``),
which runs no job. The memo is keyed by the file's identity: its absolute
path, ``st_mtime_ns`` and ``st_size``, and for a table directory the same
of every file below it. A table rewritten in place is therefore inferred
again. The memo holds 256 entries and is not released with the query
caches (see :func:`table_schema`).
"""

from __future__ import annotations

import os
from collections import OrderedDict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


#: inferred schemas held by :func:`table_schema`, least recently used first
_SCHEMAS: "OrderedDict[tuple, tuple[StructType, str]]" = OrderedDict()
_SCHEMAS_MAX = 256


def _file_identity(path: str) -> tuple:
    """``path`` as a memo key: its absolute path, ``st_mtime_ns`` and
    ``st_size``, and for a directory (a Spark-written table) the sorted
    ``(relative name, st_mtime_ns, st_size)`` of every file below it."""
    path = os.path.abspath(path)
    st = os.stat(path)
    parts = []
    if os.path.isdir(path):
        for d, _, files in os.walk(path):
            for f in files:
                fst = os.stat(os.path.join(d, f))
                rel = os.path.relpath(os.path.join(d, f), path)
                parts.append((rel, fst.st_mtime_ns, fst.st_size))
    return (path, st.st_mtime_ns, st.st_size, tuple(sorted(parts)))


def table_schema(spark: SparkSession, path: str) -> tuple[StructType, str]:
    """The schema Spark infers for the parquet table at ``path`` with
    ``spark.sql.legacy.parquet.nanosAsLong`` set (see :func:`load_table`),
    as a ``StructType`` and as Spark's own DDL text of it, inferred once
    per file identity.

    The memo is keyed by :func:`_file_identity`, so rewriting the file (or
    any file of a table directory) changes the key and the next call infers
    again; an untouched table returns the same objects. It holds the last
    256 identities. It is catalog metadata, not query results, so
    ``queries.release_caches`` leaves it alone."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = _file_identity(path)
    hit = _SCHEMAS.get(key)
    if hit is None:
        df = spark.read.parquet(path)
        hit = _SCHEMAS[key] = (df.schema, df._jdf.schema().toDDL())
        if len(_SCHEMAS) > _SCHEMAS_MAX:
            _SCHEMAS.popitem(last=False)
    else:
        _SCHEMAS.move_to_end(key)
    return hit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic fixture table, normalizing timestamp encodings.

    The read names the table's schema (``spark.read.load(path,
    format="parquet", schema=s)``), taken from :func:`table_schema`:
    the first call per file runs Spark's schema-inference job, later calls
    run no job until the file changes. ``s`` is Spark's DDL text of the
    inferred ``StructType``, and :func:`normalize_timestamps` reads the
    memoized ``StructType`` instead of asking the new DataFrame, so a call
    makes no more py4j round trips than an inferring read did.

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
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, ddl = table_schema(spark, path)
    return normalize_timestamps(spark.read.load(path, format="parquet", schema=ddl), schema)


def normalize_timestamps(df: DataFrame, schema: StructType) -> DataFrame:
    """``df`` (a batch or streaming read of a fixture table with the
    :func:`table_schema` ``schema``) with each :data:`TIMESTAMP_COLUMNS`
    column as a UTC-instant TIMESTAMP, whichever encoding the fixture
    generation wrote (see :func:`load_table`)."""
    # Fixture generations differ in how events.ts is written:
    #   (a) TIMESTAMP(NANOS) — arrives as bigint under nanosAsLong;
    #   (b) TIMESTAMP(MICROS, isAdjustedToUTC=false) — arrives as
    #       TIMESTAMP_NTZ, which epoch functions (unix_micros, window,
    #       to_utc_timestamp) reject.
    # Normalize both to a UTC-instant TIMESTAMP so every downstream query
    # sees one type.
    for field in schema.fields:
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
