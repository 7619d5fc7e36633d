"""Continuous aggregate: an incrementally-maintained time rollup with a
real-time serving view (the hypertable/continuous-aggregate pattern of
time-series stores, expressed as stock Structured Streaming).

State = a parquet table of per-(hour, event_type) partials, partitioned
into DAY directories (r13: hour-level dirs made a backfill-shaped batch
pay one directory commit per touched HOUR — 7200 dirs for a 10-month
replay, minutes of filesystem metadata work; day dirs cut that 24× while
time-range pruning still skips whole days). Each micro-batch:

1. aggregates its rows to the hour grain (map-side partials, tiny result),
2. determines the touched hour buckets and their day partitions,
3. re-aggregates ONLY the touched hour buckets (existing partials ∪
   increment), carries every other hour row in the touched days through
   verbatim, and rewrites those day dirs via **dynamic partition
   overwrite** — untouched days are never read or written, so maintenance
   cost follows the batch's time span, not table size.

Replay safety: ``foreachBatch`` is at-least-once, so a crash between the
parquet commit and the checkpoint commit replays the batch. Every written
row carries ``last_batch_id`` (the id of the most recent batch merged into
its hour bucket); on replay, buckets whose stored ``last_batch_id`` is
already ≥ the incoming batch id have absorbed this batch's contribution
and move to the carry set with their ORIGINAL stamp (re-written verbatim,
never re-merged) — a batch whose touched buckets are ALL absorbed skips
the write entirely — so the replay is exactly-once per bucket.
(File-source / Kafka batches are deterministic per batch_id, which this
relies on.)

Partials are (count, sum) — mergeable — so the rollup composes upward
(hour → day) without rescanning raw events, and the serving view
(:func:`serve_with_tail`) unions the materialized rollup with an
aggregation of the un-materialized tail of raw events — TimescaleDB's
"real-time aggregate" semantics: queries see up-to-the-second results
while the heavy lifting stays incremental.
"""

from __future__ import annotations

import os
from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

GRAIN = "hour"


def _rollup(df: DataFrame) -> DataFrame:
    return df.groupBy(
        F.date_trunc(GRAIN, "ts").alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("value_sum"),
    )


def _merge_partials(df: DataFrame) -> DataFrame:
    """Partials are mergeable: counts add, sums add."""
    return df.groupBy("bucket", "event_type").agg(
        F.sum("n").alias("n"), F.sum("value_sum").alias("value_sum")
    )


def make_batch_processor(spark: SparkSession, agg_path: str):
    """The foreachBatch body, exposed for direct (replay) testing."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        inc0 = _rollup(batch_df).persist()
        inc = inc0
        touched = [r.bucket for r in inc.select("bucket").distinct().collect()]
        if not touched:
            inc0.unpersist()
            return
        carry = None
        existing_cached = None
        merged = inc
        if os.path.exists(agg_path):
            # Day-partitioned dirs (r13) hold many hour buckets, and the
            # dynamic overwrite rewrites WHOLE dirs — so read back every
            # row living in a day this batch touches: hours being merged
            # re-aggregate, all other hours in those days CARRY THROUGH
            # unchanged (original stamps included). Untouched days are
            # never read or written.
            touched_days = sorted({b.strftime("%Y%m%d") for b in touched})
            existing_all = spark.read.parquet(agg_path).where(
                F.date_format("bucket", "yyyyMMdd").isin(touched_days)
            )
            if "last_batch_id" not in existing_all.columns:  # pre-upgrade table
                existing_all = existing_all.withColumn("last_batch_id", F.lit(-1).cast("long"))
            existing_all = existing_all.select(
                "bucket", "event_type", "n", "value_sum", "last_batch_id"
            ).persist()
            existing_cached = existing_all
            existing_all.count()  # materialize BEFORE overwriting the dirs it reads
            # Replay guard: hour buckets already stamped with this (or a
            # later) batch id have absorbed this batch — they join the
            # carry set (rewritten verbatim, original stamp kept) instead
            # of re-merging. Driver-sized collect: one row per touched hour.
            done = set(
                r.bucket
                for r in existing_all.groupBy("bucket")
                .agg(F.max("last_batch_id").alias("mb"))
                .where(F.col("mb") >= batch_id)
                .collect()
            )
            todo = [b for b in touched if b not in done]
            if not todo:
                # full replay of an absorbed batch: every touched day dir
                # already holds the right rows — leave them untouched
                existing_cached.unpersist()
                inc0.unpersist()
                return
            inc = inc.where(F.col("bucket").isin(todo))
            existing = existing_all.where(F.col("bucket").isin(todo)).select(
                "bucket", "event_type", "n", "value_sum"
            )
            carry = existing_all.where(~F.col("bucket").isin(todo))
            merged = _merge_partials(existing.unionByName(inc))
        # dynamic partition overwrite: ONLY the touched day dirs rewrite.
        # The conf flip is save-and-restored — safe here because the write
        # is EAGER (unlike the lazy-scan confs load_table documents).
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            out = merged.withColumn("last_batch_id", F.lit(batch_id).cast("long"))
            if carry is not None:
                out = out.unionByName(carry)  # original stamps preserved
            (
                out
                # DAY partition dirs holding hourly rows: hour-level dirs
                # made a backfill-shaped batch pay one dir commit per HOUR
                # (7200 dirs for a 10-month replay — minutes of pure
                # filesystem metadata work); day dirs cut that 24× while
                # time-range pruning still skips whole days and the
                # replay guard operates on ``bucket`` values, not dirs.
                .withColumn("bucket_p", F.date_format("bucket", "yyyyMMdd"))
                # co-locate each day in ONE task before the partitioned
                # write: without this, every shuffle partition holds rows
                # for most touched days and writes its own file into
                # every day dir (tasks × dirs tiny files per batch — the
                # 48 s → 14 s round-13 finding). One file per dir is the
                # 100 TB shape: the small-files explosion, not the data,
                # was the cost.
                .repartition(F.col("bucket_p"))
                .write.mode("overwrite")
                .partitionBy("bucket_p")
                .parquet(agg_path)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
            if existing_cached is not None:
                existing_cached.unpersist()
        inc0.unpersist()

    return process


def continuous_aggregate(spark: SparkSession, events_stream: DataFrame, agg_path: str, checkpoint: str):
    """Maintain the hourly rollup incrementally from an event stream:
    starts and returns an availableNow query over what has arrived."""
    writer = events_stream.writeStream.foreachBatch(make_batch_processor(spark, agg_path))
    return writer.option("checkpointLocation", checkpoint).trigger(availableNow=True).start()


def read_continuous(spark: SparkSession, agg_path: str) -> DataFrame:
    return spark.read.parquet(agg_path).select("bucket", "event_type", "n", "value_sum")


def serve_with_tail(
    spark: SparkSession,
    agg_path: str,
    raw_tail: Optional[DataFrame] = None,
) -> DataFrame:
    """Real-time view: materialized rollup ∪ rollup of the raw tail (rows
    not yet absorbed by the stream), merged at the partial level — the
    query-time cost is the tail's size, never the history's."""
    mat = read_continuous(spark, agg_path)
    if raw_tail is None:
        return mat
    return _merge_partials(mat.unionByName(_rollup(raw_tail)))


def rollup_to_day(aggregate: DataFrame) -> DataFrame:
    """Compose upward without touching raw events (partials are mergeable)."""
    return (
        aggregate.groupBy(F.date_trunc("day", "bucket").alias("day"), "event_type")
        .agg(F.sum("n").alias("n"), F.sum("value_sum").alias("value_sum"))
    )
