"""Continuous aggregate — streaming/continuous.py (stream == batch,
partition-scoped maintenance, real-time tail serving)."""

import os

import pyspark.sql.functions as F

from odc_stac_spark.queries.temporal import _await_stream
from odc_stac_spark.sources.tables import load_table
from odc_stac_spark.streaming.continuous import (
    _rollup,
    continuous_aggregate,
    make_batch_processor,
    read_continuous,
    rollup_to_day,
    serve_with_tail,
)

SF = "/root/testdata/sf0.001"


def _events(spark):
    return load_table(spark, SF, "events").select("ts", "event_type", "value")


def _feed(spark, df, in_dir, n_files):
    import shutil

    os.makedirs(in_dir, exist_ok=True)
    splits = df.randomSplit([1.0] * n_files, seed=7)
    for i, part in enumerate(splits):
        tmp = f"{in_dir}/tmp{i}"
        part.coalesce(1).write.parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                shutil.move(f"{tmp}/{f}", f"{in_dir}/part{i}.parquet")
        shutil.rmtree(tmp)


def _norm(rows):
    return sorted(
        (r.bucket, r.event_type, r.n, round(r.value_sum, 6)) for r in rows
    )


def test_stream_equals_batch(spark, tmp_path):
    ev = _events(spark)
    in_dir = str(tmp_path / "in")
    _feed(spark, ev, in_dir, 3)
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    agg = str(tmp_path / "agg")
    _await_stream(continuous_aggregate(spark, stream, agg, str(tmp_path / "ckpt")), 120)

    got = _norm(read_continuous(spark, agg).collect())
    want = _norm(_rollup(ev).collect())
    assert got == want

    # the state table is DAY-partitioned on disk (r13: hour dirs made a
    # backfill batch pay one dir commit per hour; day dirs keep pruning
    # while cutting the metadata work 24x)
    parts = [d for d in os.listdir(agg) if d.startswith("bucket_p=")]
    assert len(parts) > 1
    assert all(len(d) == len("bucket_p=YYYYMMDD") for d in parts), parts


def test_serving_with_unmaterialized_tail(spark, tmp_path):
    ev = _events(spark)
    head = ev.where(F.dayofmonth("ts") <= 3)
    tail = ev.where(F.dayofmonth("ts") > 3)
    in_dir = str(tmp_path / "in")
    _feed(spark, head, in_dir, 1)
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .parquet(in_dir)
    )
    agg = str(tmp_path / "agg")
    _await_stream(continuous_aggregate(spark, stream, agg, str(tmp_path / "ckpt")), 120)

    got = _norm(serve_with_tail(spark, agg, tail).collect())
    want = _norm(_rollup(ev).collect())
    assert got == want


def test_replay_is_exactly_once(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the parquet commit and
    the checkpoint commit re-delivers the same (batch_df, batch_id). The
    last_batch_id stamp must make the re-delivery a no-op (no double count),
    while a genuinely NEW batch id with the same hours still merges."""
    ev = _events(spark)
    b0 = ev.where(F.dayofmonth("ts") <= 3)
    b1 = ev.where(F.dayofmonth("ts").between(3, 5))  # overlaps b0's hours on day 3
    agg = str(tmp_path / "agg")
    process = make_batch_processor(spark, agg)

    process(b0, 0)
    process(b1, 1)
    want = _norm(read_continuous(spark, agg).collect())

    # replay of the last batch (the only kind Structured Streaming re-delivers)
    process(b1, 1)
    assert _norm(read_continuous(spark, agg).collect()) == want

    # replay of an older batch is also a no-op on its partitions
    process(b0, 0)
    assert _norm(read_continuous(spark, agg).collect()) == want

    # a NEW batch id over the same hours is NOT skipped
    process(b1, 2)
    doubled = _norm(read_continuous(spark, agg).collect())
    assert doubled != want
    total_n = sum(r[2] for r in doubled)
    assert total_n == b0.count() + 2 * b1.count()


def test_daily_rollup_composes_from_partials(spark, tmp_path):
    ev = _events(spark)
    in_dir = str(tmp_path / "in")
    _feed(spark, ev, in_dir, 1)
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .parquet(in_dir)
    )
    agg = str(tmp_path / "agg")
    _await_stream(continuous_aggregate(spark, stream, agg, str(tmp_path / "ckpt")), 120)

    got = sorted(
        (r.day, r.event_type, r.n, round(r.value_sum, 6))
        for r in rollup_to_day(read_continuous(spark, agg)).collect()
    )
    want = sorted(
        (r.day, r.event_type, r.n, round(r.value_sum, 6))
        for r in ev.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
        .collect()
    )
    assert got == want
