"""``sources.tables``: the memoized table schemas behind ``load_table``.

Inferring a parquet schema is a Spark job, so ``load_table`` infers each
file once and reads it with that schema afterwards. These tests pin both
sides of the memo: a table read before runs no job, and a table rewritten
at the same path is inferred again."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from odc_stac_spark.sources.tables import TABLES, load_table, table_schema


def _jobs(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs, counted in a job group of its own."""
    sc = spark.sparkContext
    group = f"tables-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _bump_mtime(path: str) -> None:
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 2_000_000_000))


def test_load_table_runs_no_job_once_read(spark, sf_dir):
    """After one call per table, ``load_table`` on each of the ten tables
    runs 0 jobs."""
    for t in TABLES:
        load_table(spark, sf_dir, t)
    assert _jobs(spark, lambda: [load_table(spark, sf_dir, t) for t in TABLES]) == 0


def test_rewritten_file_table_is_inferred_again(spark, tmp_path):
    """A single-file table rewritten at the same path with another schema
    reads back with the new schema; an untouched one keeps the cached
    ``StructType`` object."""
    region = pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]})
    pq.write_table(region, tmp_path / "region.parquet")
    pq.write_table(pa.table({"n_nationkey": [0]}), tmp_path / "nation.parquet")
    # the counter sees the first read's inference job
    assert _jobs(spark, lambda: load_table(spark, str(tmp_path), "region")) >= 1
    nation = table_schema(spark, str(tmp_path / "nation.parquet"))[0]
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]

    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [7], "r_comment": ["x"], "r_extra": [1.5]}), path)
    _bump_mtime(path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_comment", "r_extra"]
    assert [tuple(r) for r in df.collect()] == [(7, "x", 1.5)]
    assert table_schema(spark, str(tmp_path / "nation.parquet"))[0] is nation


def test_rewritten_directory_table_is_inferred_again(spark, tmp_path):
    """A Spark-written table directory whose part file is rewritten in
    place (the directory's own mtime kept) reads back with the new
    schema; an untouched directory keeps the cached ``StructType``."""
    spark.range(4).selectExpr("id AS r_regionkey", "'R' AS r_name").coalesce(1).write.parquet(
        str(tmp_path / "region.parquet")
    )
    spark.range(3).selectExpr("id AS n_nationkey").coalesce(1).write.parquet(
        str(tmp_path / "nation.parquet")
    )
    table = str(tmp_path / "region.parquet")
    # the in-place rewrite below bypasses Hadoop, so drop its checksum files
    for f in os.listdir(table):
        if f.endswith(".crc"):
            os.remove(os.path.join(table, f))
    nation = table_schema(spark, str(tmp_path / "nation.parquet"))[0]
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    assert _jobs(spark, lambda: load_table(spark, str(tmp_path), "region")) == 0

    (part,) = [f for f in os.listdir(table) if f.endswith(".parquet")]
    dir_st = os.stat(table)
    pq.write_table(pa.table({"r_regionkey": [9], "r_comment": ["y"]}), os.path.join(table, part))
    _bump_mtime(os.path.join(table, part))
    os.utime(table, ns=(dir_st.st_atime_ns, dir_st.st_mtime_ns))
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_comment"]
    assert [tuple(r) for r in df.collect()] == [(9, "y")]
    assert table_schema(spark, str(tmp_path / "nation.parquet"))[0] is nation


def test_missing_table_still_raises(spark, tmp_path):
    with pytest.raises(KeyError):
        load_table(spark, str(tmp_path), "no_such_table")
    with pytest.raises(FileNotFoundError):
        load_table(spark, str(tmp_path), "region")
