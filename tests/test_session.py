"""``session``: the literal relation builder and the executor import path."""

from __future__ import annotations

import datetime
import os
import subprocess
import sys
import textwrap

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from odc_stac_spark.session import _ARROW_DROPS_MAP_NULLS, literal_df, sql_in, sql_literal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCHEMA = StructType(
    [
        StructField("s", StringType()),
        StructField("n", LongType()),
        StructField("t", TimestampType()),
        StructField("x", DoubleType()),
    ]
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_literal_df_values_and_types(spark):
    """Strings with quotes, backslashes and non-ASCII text, 64-bit longs,
    naive and aware timestamps (the same instants ``F.lit`` gives) and an
    all-NULL double column come back exactly, typed by the schema."""
    naive = datetime.datetime(2021, 3, 4, 5, 6, 7, 891011)
    aware = datetime.datetime(2021, 3, 4, 5, 6, 7, tzinfo=datetime.timezone(datetime.timedelta(hours=2)))
    rows = [
        ("it's \"quoted\" \\ é 中文 🚀", (1 << 62) + 1, naive, None),
        ("", -(1 << 63), aware, None),
        (None, None, None, None),
    ]
    df = literal_df(spark, rows, SCHEMA)
    assert df.schema == SCHEMA
    got = df.collect()
    assert [tuple(r) for r in got[:1]] == [rows[0]]
    assert tuple(got[2]) == rows[2]
    assert got[1]["s"] == "" and got[1]["n"] == -(1 << 63) and got[1]["x"] is None
    lit = spark.range(1).select(F.lit(naive).alias("a"), F.lit(aware).alias("b")).first()
    assert (got[0]["t"], got[1]["t"]) == (lit["a"], lit["b"])
    # NULL-only columns keep their type through an expression
    assert df.select((F.col("x") + 1).alias("y")).dtypes == [("y", "double")]


def test_literal_df_sizes_and_plan(spark):
    """0 rows and more than 1024 rows both plan a one-partition
    ``LocalTableScan``: no Python worker reads them."""
    schema = StructType([StructField("a", LongType()), StructField("b", StringType())])
    empty = literal_df(spark, [], schema)
    assert empty.schema == schema
    assert empty.collect() == []
    rows = [(i, f"v{i}") for i in range(3000)]
    big = literal_df(spark, rows, schema)
    for df in (empty, big):
        plan = _plan(df)
        assert "LocalTableScan" in plan and "PythonRDD" not in plan, plan
        assert df.rdd.getNumPartitions() == 1
    assert [tuple(r) for r in big.collect()] == rows


def test_literal_df_keeps_null_maps(spark):
    """A NULL map and an empty map stay apart, also for a map of structs
    (which the Arrow path would otherwise read back as an empty map), and
    the plan stays one ``LocalTableScan``."""
    inner = StructType([StructField("a", IntegerType()), StructField("b", StringType())])
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("m", MapType(StringType(), inner)),
            StructField("p", MapType(StringType(), StringType())),
        ]
    )
    rows = [(0, None, None), (1, {}, {}), (2, {"x": {"a": 1, "b": None}}, {"y": "z"})]
    df = literal_df(spark, rows, schema)
    assert df.schema.simpleString() == schema.simpleString()
    got = [(r.k, r.m, r.p) for r in df.orderBy("k").collect()]
    assert got[:2] == [(0, None, None), (1, {}, {})]
    assert got[2][1]["x"].asDict() == {"a": 1, "b": None} and got[2][2] == {"y": "z"}
    plan = _plan(df)
    assert "LocalTableScan" in plan and "Project" not in plan, plan
    assert df.rdd.getNumPartitions() == 1


def test_literal_df_nested_null_maps(spark):
    """A NULL map inside a struct or an array cannot be built under a
    pyarrow that reads it back as an empty map: ``literal_df`` raises
    naming the column. A NULL struct around a map and a NULL map of plain
    strings inside a struct still read back as NULL."""
    inner = MapType(StringType(), StructType([StructField("a", IntegerType())]))
    key = StructField("k", LongType())
    in_struct = StructType([key, StructField("s", StructType([StructField("m", inner)]))])
    in_array = StructType([key, StructField("l", ArrayType(inner))])
    cases = [
        (in_struct, [(0, {"m": None}), (1, {"m": {}})], "s"),
        (in_array, [(0, [{}, None])], "l"),
    ]
    for schema, rows, col in cases:
        if _ARROW_DROPS_MAP_NULLS:
            with pytest.raises(ValueError, match=repr(col)):
                literal_df(spark, rows, schema)
        else:
            got = literal_df(spark, rows, schema).orderBy("k").collect()
            assert [r.asDict(recursive=True)[col] for r in got] == [r[1] for r in rows]
    plain_map = StructType([StructField("m", MapType(StringType(), StringType()))])
    plain = StructType([key, StructField("s", plain_map)])
    ok = [
        (in_struct, [(0, None), (1, {"m": {"x": {"a": 1}}})]),
        (plain, [(0, {"m": None}), (1, {"m": {}})]),
    ]
    for schema, rows in ok:
        got = literal_df(spark, rows, schema).orderBy("k").collect()
        assert [r.asDict(recursive=True)["s"] for r in got] == [r[1] for r in rows]


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A driver started outside the repo with no PYTHONPATH still gets
    ``odc_stac_spark`` into its Python workers."""
    script = tmp_path / "worker_import.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {REPO!r})
            from odc_stac_spark.session import get_spark

            def fn(batches):
                import odc_stac_spark
                for pdf in batches:
                    yield pdf.assign(ok=1)

            spark = get_spark(master="local[1]", shuffle_partitions=1)
            print("OK", spark.range(2).mapInPandas(fn, "id long, ok int").count())
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "OK 2" in out.stdout, out.stderr[-3000:]


def test_sql_literal_round_trips(spark):
    """Driver values written as SQL text read back as the same values:
    quotes, backslashes and non-ASCII text, shortest-repr doubles, NaN,
    the infinities, -0.0, 64-bit integers and NULL."""
    import math

    values = [
        "it's \\ \"q\" é 中文 \\'", "", 0.1, 1e-300, -999.0, 0.30000000000000004,
        float("nan"), float("inf"), float("-inf"), -0.0, (1 << 62) + 1, -7, True, None,
    ]
    row = spark.sql("SELECT " + ", ".join(sql_literal(v) for v in values)).first()
    for want, got in zip(values, row):
        if isinstance(want, float) and math.isnan(want):
            assert math.isnan(got)
        else:
            assert got == want and type(got) is type(want), (want, got)
    assert math.copysign(1.0, row[9]) == -1.0
    n = spark.range(5).where(sql_in("id", [1, 3])).count()
    assert (n, spark.range(5).where(sql_in("id", [])).count()) == (2, 0)
