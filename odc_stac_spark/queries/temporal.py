"""Temporal / event-stream operators (SURVEY §2.9, build plan M3).

These are the batch images of the streaming surface: the same expressions
run under Structured Streaming (``readStream`` + ``withWatermark``), which
is covered in odc_stac_spark/streaming and tests/test_streaming.py. Keeping
batch/stream parity on one expression set is the Spark-idiomatic version of
the reference's lazy iterator pipeline (_mdtools.py:705-723).
"""

from __future__ import annotations

from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import StructType

from ..session import literal_df
from ..sources.tables import load_table
from ..streaming.continuous import continuous_aggregate, read_continuous
from ..streaming.events import (
    stream_click_attribution,
    stream_events,
    stream_tumbling_counts,
)
from . import register, scoped_persist, scoped_tempdir

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min in microseconds


def _await_stream(q, timeout: int = 1800) -> None:
    """Wait for an availableNow query to TERMINATE — loudly.

    The previous ``q.awaitTermination(300)`` treated a TIMEOUT as
    success: at 10× scale the single batch legitimately exceeded 300 s
    (7200 hour dirs in the continuous-agg write) and the query then read
    a half-written/absent sink as if the stream had finished — a silent
    wrong answer. A timeout now stops the query and raises; a query
    exception re-raises instead of surfacing as a missing-path error
    downstream."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"stream {q.name or q.id} still running after {timeout}s — "
            "raise the timeout rather than reading a partial sink"
        )
    if q.exception() is not None:
        raise q.exception()


# Streaming state partitions. The round-14 time sweep showed the
# t_stream_* family walls dominated by state-store machinery, not data:
# every micro-batch commits one state delta + checkpoint file PER STATE
# PARTITION, so a 32-partition session pays 32 commits/batch to maintain
# kilobytes of state. The partition count is fixed at query start from
# spark.sql.shuffle.partitions and results are partition-count
# independent (the hash gates have passed at both 8 and 32), so the
# stream runner pins it for the stream's lifetime and restores the
# session value after. 1 partition measured 40% slower on
# t_stream_cms_freq (VERDICT r17). At real scale an operator sizes this
# to state volume / executor count — it is a STREAM-level setting, not
# the session's batch-shuffle width.
STREAM_SHUFFLE_PARTITIONS = 4


@contextmanager
def _stream_conf(spark):
    """spark.sql.shuffle.partitions pinned to STREAM_SHUFFLE_PARTITIONS
    for a stream's lifetime; the batch value is restored on exit."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(STREAM_SHUFFLE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _run_stream(spark: SparkSession, name: str, writer) -> None:
    """Run ``writer`` (a DataStreamWriter) as the availableNow query
    ``name`` under _stream_conf and wait for it through _await_stream,
    first stopping a still-active query of that name."""
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    with _stream_conf(spark):
        _await_stream(writer.queryName(name).trigger(availableNow=True).start())


def _stream_to_table(spark: SparkSession, name: str, df: DataFrame, mode: str) -> DataFrame:
    """Run the streaming ``df`` to completion into the memory table
    ``name`` with output ``mode`` and return that table."""
    _run_stream(spark, name, df.writeStream.format("memory").outputMode(mode))
    return spark.table(name)


def _hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous aggregate (streaming/continuous.py) maintained from
    the events stream to completion: ``(bucket, event_type, n,
    value_sum)``, one row per (hour, event_type), read from a work
    directory that lives until the next registry query is entered."""
    work = scoped_tempdir("hourly_rollup_")
    stream = stream_events(spark, sf_dir).select("ts", "event_type", "value")
    with _stream_conf(spark):
        _await_stream(continuous_aggregate(spark, stream, f"{work}/agg", f"{work}/ckpt"))
    return read_continuous(spark, f"{work}/agg")


@register(
    "t_tumbling_window",
    oracle="""
    SELECT epoch_us(time_bucket(INTERVAL '10 minutes', ts)) AS window_start_us,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="tumbling 10-min window agg (streaming-ready: same expr under "
    "readStream + watermark). Window start is an epoch-microsecond BIGINT "
    "so the hash gate is immune to timestamp-rendering drift.",
    tags=("temporal", "window"),
)
def t_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "t_sliding_window",
    oracle="""
    SELECT epoch_us(ws) AS window_start_us,
           COUNT(*) AS n_events
    FROM (
        SELECT time_bucket(INTERVAL '5 minutes', ts)
                   - to_minutes(5 * CAST(UNNEST([0, 1]) AS BIGINT)) AS ws,
               ts
        FROM events
    )
    WHERE ts >= ws AND ts < ws + to_minutes(10)
    GROUP BY 1
    """,
    doc="sliding window (10 min window, 5 min slide) — one row per window an "
    "event falls into.",
    tags=("temporal", "window"),
)
def t_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
        )
    )


@register(
    "t_session_windows",
    oracle=f"""
    SELECT user_id, session_id, COUNT(*) AS n_events,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) AS session_end_us
    FROM (
        SELECT user_id, ts,
               CAST(SUM(is_new) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
        FROM (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                        > {SESSION_GAP_US} OR
                        LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        IS NULL
                   THEN 1 ELSE 0 END AS is_new
            FROM events
        )
    )
    GROUP BY user_id, session_id
    """,
    doc="gap-based sessionization (30-min inactivity) via lag + running sum; "
    "streaming analog is session_window()/applyInPandasWithState. Session "
    "bounds are emitted as epoch-microsecond BIGINTs (not formatted strings) "
    "so the hash gate is immune to strftime/date_format library drift.",
    tags=("temporal", "window"),
)
def t_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lag_us = F.lag(F.unix_micros("ts")).over(w)
    is_new = F.when(
        lag_us.isNull() | ((F.unix_micros("ts") - lag_us) > SESSION_GAP_US), 1
    ).otherwise(0)
    sess = F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id", sess.cast("bigint"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
        )
    )


@register(
    "t_stream_tumbling",
    oracle="""
    SELECT epoch_us(time_bucket(INTERVAL '10 minutes', ts)) AS window_start_us,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    doc="REAL Structured Streaming run: events parquet as a file-source "
    "stream (availableNow) → watermarked tumbling windows → memory sink; "
    "final update per window must equal the batch answer (stream/batch "
    "parity through the same expressions).",
    tags=("temporal", "streaming"),
)
def t_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = stream_tumbling_counts(stream_events(spark, sf_dir)).select(
        F.unix_micros("window_start").alias("window_start_us"), "event_type", "n_events"
    )
    # update-mode table holds every state update; counts are monotone so
    # the final value per key is the max
    return (
        _stream_to_table(spark, "t_stream_tumbling_sink", agg, "update")
        .groupBy("window_start_us", "event_type")
        .agg(F.max("n_events").alias("n_events"))
    )


@register(
    "t_stream_click_attribution",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id, ROUND(p.value, 2) AS amount
    FROM events c
    JOIN events p ON p.user_id = c.user_id
                 AND c.event_type = 'click' AND p.event_type = 'purchase'
                 AND p.ts >= c.ts
                 AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    doc="REAL stream-stream interval join (streaming/events.py::"
    "stream_click_attribution): purchases ⋈ same-user clicks within 30 min, "
    "watermarks on both sides bound the join state; availableNow inner "
    "join must emit exactly the batch interval-join row set.",
    tags=("temporal", "streaming", "join"),
)
def t_stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = stream_click_attribution(stream_events(spark, sf_dir))
    return _stream_to_table(spark, "t_stream_attr_sink", out, "append").select(
        "click_id", "purchase_id", "user_id", F.round("amount", 2).alias("amount")
    )


@register(
    "t_asof_last_signup",
    oracle="""
    SELECT event_id, user_id, event_type,
           epoch_us(MAX(CASE WHEN event_type = 'signup' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)) AS last_signup_us
    FROM events
    """,
    doc="as-of join (each event ⋈ most recent signup ≤ ts, same user) via "
    "carry-forward max window — no range-join explosion at scale. The "
    "as-of timestamp is an epoch-microsecond BIGINT (NULL when no prior "
    "signup) so the hash gate is immune to timestamp-rendering drift.",
    tags=("temporal", "join"),
)
def t_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_signup = F.max(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(last_signup).alias("last_signup_us"),
    )


@register(
    "t_stream_continuous_agg",
    oracle="""
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS bucket_us,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
    doc="REAL continuous-aggregate run (streaming/continuous.py): events "
    "as a file-source stream maintain an hour-partitioned parquet rollup "
    "via foreachBatch + dynamic partition overwrite — only touched hour "
    "partitions rewrite per micro-batch (the hypertable continuous-"
    "aggregate pattern). The materialized table must equal the batch "
    "hourly rollup exactly; stream==batch parity of the maintained "
    "state IS the gate.",
    tags=("temporal", "streaming", "continuous-aggregate"),
)
def t_stream_continuous_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _hourly_rollup(spark, sf_dir).select(
        F.unix_micros("bucket").alias("bucket_us"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("value_sum", 4).alias("value_sum"),
    )


def _cms_oracle() -> str:
    from .analytics import CMS_ORACLE_SQL

    return CMS_ORACLE_SQL


@register(
    "t_stream_cms_freq",
    # SAME oracle as the batch sketch_cms_heavyhitters: per-window CMS
    # cell-addition merge is exact, so the streaming-built sketch must
    # reproduce the direct-build image bit-for-bit — the hash gate IS
    # the mergeability proof
    oracle=_cms_oracle(),
    doc="STREAMING Count-Min Sketch: per-hour tumbling windows each build "
    "their own CMS over the event stream (map-side (i,bucket) cells -> "
    "windowed count, one stateful aggregation), then the hourly sketches "
    "merge by cell addition into the global counter grid and serve the "
    "same frequency probes as the batch query. Hash-gated against the "
    "IDENTICAL oracle as sketch_cms_heavyhitters — merge-exactness is "
    "what the gate proves. At 100 TB this is the production shape: the "
    "stream maintains small per-window sketches (D*W cells each, "
    "mergeable into any coarser rollup), never per-key state.",
    tags=("temporal", "streaming", "sketch"),
)
def t_stream_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .analytics import CMS_P, CMS_ROWS, CMS_W

    hp = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cms:"), F.col("user_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % CMS_P
    )

    def cells(df: DataFrame) -> DataFrame:
        """Map-side (i, bucket) CMS cells — identical hashes to the batch
        sketch so window sketches merge into the same counter grid."""
        return df.withColumn("hp", hp).select(
            *df.columns,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("i"),
                            (((F.col("hp") * a + b) % CMS_P) % CMS_W).alias("bucket"),
                        )
                        for i, a, b in CMS_ROWS
                    ]
                )
            ).alias("c"),
        ).select(*df.columns, F.col("c.i").alias("i"), F.col("c.bucket").alias("bucket"))

    stream = stream_events(spark, sf_dir).select("ts", "user_id")
    win_sketch = (
        cells(stream)
        .withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 hour").alias("w"), "i", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros(F.col("w.start")).alias("w_us"), "i", "bucket", "n")
    )
    # update-mode sink holds every state revision; counts are monotone per
    # (window, cell) so the final value is the max — then the hourly
    # sketches MERGE by cell addition into the global grid
    merged = (
        _stream_to_table(spark, "t_stream_cms_sink", win_sketch, "update")
        .groupBy("w_us", "i", "bucket")
        .agg(F.max("n").alias("n"))
        .groupBy("i", "bucket")
        .agg(F.sum("n").alias("cnt"))
    )
    keys = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .withColumn("hp", hp)
        .groupBy("user_id", "hp")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return (
        cells(keys)
        .join(F.broadcast(merged), ["i", "bucket"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("cnt").cast("bigint").alias("cms_estimate"))
        .select(
            "user_id",
            F.col("exact_count").cast("bigint").alias("exact_count"),
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("bigint")
            .alias("overestimate"),
        )
    )


@register(
    "ts_gap_fill_locf",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS value_sum
        FROM events GROUP BY 1, 2),
    spans AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
    spine AS (
        SELECT s.event_type, t.h
        FROM spans s,
             LATERAL (SELECT unnest(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS h) t)
    SELECT sp.event_type, epoch_us(sp.h) AS hour_us,
           COALESCE(hy.n, 0) AS n,
           ROUND(last_value(hy.value_sum IGNORE NULLS) OVER (
               PARTITION BY sp.event_type ORDER BY sp.h ROWS UNBOUNDED PRECEDING), 4)
               AS value_locf,
           CAST(hy.n IS NULL AS INT) AS was_gap
    FROM spine sp LEFT JOIN hourly hy
      ON hy.event_type = sp.event_type AND hy.h = sp.h
    """,
    doc="time-series gap fill: hourly rollup per event_type, a generated "
    "dense hour spine per series (sequence/explode, bounded by time span "
    "not rows), left join + last-observation-carried-forward via an "
    "ignorenulls carry window. The spine explode and LOCF window are both "
    "bounded by series-count x span-hours — independent of event volume, "
    "so the shape survives 100 TB of events unchanged.",
    tags=("temporal",),
)
def ts_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("value_sum")
    )
    spans = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = spans.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = spine.join(hourly, ["event_type", "h"], "left")
    return filled.select(
        "event_type",
        F.unix_micros("h").alias("hour_us"),
        F.coalesce("n", F.lit(0)).alias("n"),
        F.round(F.last("value_sum", ignorenulls=True).over(w), 4).alias("value_locf"),
        F.col("n").isNull().cast("int").alias("was_gap"),
    )


@register(
    "ts_downsample_m4",
    oracle="""
    WITH pts AS (
        SELECT event_type, date_trunc('day', ts) AS bucket, ts, value, event_id,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts, event_id) AS rf,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rl,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY value, event_id) AS rmin,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY value DESC, event_id DESC) AS rmax
        FROM events)
    SELECT event_type, epoch_us(bucket) AS bucket_us, epoch_us(ts) AS ts_us,
           ROUND(value, 4) AS value, event_id,
           CAST(rf = 1 AS INT) AS is_first, CAST(rl = 1 AS INT) AS is_last,
           CAST(rmin = 1 AS INT) AS is_min, CAST(rmax = 1 AS INT) AS is_max
    FROM pts WHERE rf = 1 OR rl = 1 OR rmin = 1 OR rmax = 1
    """,
    doc="M4 time-series downsampling (Jugel et al., VLDB 2014 — public): "
    "per (series, day bucket) keep only the first/last/min/max points, "
    "the error-free reduction for line-chart rendering. One exchange on "
    "the bucket key feeds all four ranking windows; output is <=4 rows "
    "per bucket regardless of event volume, so the reduction ratio GROWS "
    "with scale.",
    tags=("temporal",),
)
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type", F.date_trunc("day", "ts").alias("bucket"), "ts", "value", "event_id"
    )
    part = ["event_type", "bucket"]
    wf = Window.partitionBy(*part).orderBy(F.asc("ts"), F.asc("event_id"))
    wl = Window.partitionBy(*part).orderBy(F.desc("ts"), F.desc("event_id"))
    wmin = Window.partitionBy(*part).orderBy(F.asc("value"), F.asc("event_id"))
    wmax = Window.partitionBy(*part).orderBy(F.desc("value"), F.desc("event_id"))
    ranked = base.select(
        "event_type", "bucket", "ts", "value", "event_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
        F.row_number().over(wmin).alias("rmin"),
        F.row_number().over(wmax).alias("rmax"),
    )
    keep = (
        (F.col("rf") == 1) | (F.col("rl") == 1) | (F.col("rmin") == 1) | (F.col("rmax") == 1)
    )
    return ranked.where(keep).select(
        "event_type",
        F.unix_micros("bucket").alias("bucket_us"),
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 4).alias("value"),
        "event_id",
        (F.col("rf") == 1).cast("int").alias("is_first"),
        (F.col("rl") == 1).cast("int").alias("is_last"),
        (F.col("rmin") == 1).cast("int").alias("is_min"),
        (F.col("rmax") == 1).cast("int").alias("is_max"),
    )


ANOM_Z = 2.5  # |z| threshold (applied to the ROUNDED z on both engines)


@register(
    "ts_anomaly_zscore",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    prof AS (
        SELECT event_type, EXTRACT(hour FROM h) AS hod,
               AVG(n) AS mu, STDDEV_POP(n) AS sd
        FROM hourly GROUP BY 1, 2)
    SELECT h.event_type, epoch_us(h.h) AS hour_us, h.n,
           ROUND(p.mu, 6) AS mu, ROUND((h.n - p.mu) / p.sd, 4) AS z
    FROM hourly h JOIN prof p
      ON p.event_type = h.event_type AND p.hod = EXTRACT(hour FROM h.h)
    WHERE p.sd > 0 AND abs(ROUND((h.n - p.mu) / p.sd, 4)) >= {ANOM_Z}
    """,
    doc="seasonal z-score anomaly detection: per (series, hour-of-day) "
    "volume profile (mean/stddev of hourly counts — a 24-row-per-series "
    "broadcastable table), each hour scored against its seasonal slot, "
    "|z| >= 2.5 flagged. Both aggregations are map-side partial; the "
    "profile join broadcasts. The threshold compares the ROUNDED z so "
    "float fold-order noise cannot flip membership between engines.",
    tags=("temporal", "anomaly"),
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    hourly = scoped_persist(hourly)
    prof = hourly.groupBy("event_type", F.hour("h").alias("hod")).agg(
        F.avg("n").alias("mu"), F.stddev_pop("n").alias("sd")
    )
    z = F.round((F.col("n") - F.col("mu")) / F.col("sd"), 4)
    return (
        hourly.withColumn("hod", F.hour("h"))
        .join(F.broadcast(prof), ["event_type", "hod"])
        .where((F.col("sd") > 0) & (F.abs(z) >= ANOM_Z))
        .select(
            "event_type",
            F.unix_micros("h").alias("hour_us"),
            "n",
            F.round("mu", 6).alias("mu"),
            z.alias("z"),
        )
    )


@register(
    "t_stream_anomaly_zscore",
    # gate: identical SQL image as the batch ts_anomaly_zscore — the
    # stream-maintained rollup must reproduce the batch hourly counts
    # exactly (exactly-once per bucket), so the derived anomaly set is
    # bit-identical.
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    prof AS (
        SELECT event_type, EXTRACT(hour FROM h) AS hod,
               AVG(n) AS mu, STDDEV_POP(n) AS sd
        FROM hourly GROUP BY 1, 2)
    SELECT h.event_type, epoch_us(h.h) AS hour_us, h.n,
           ROUND(p.mu, 6) AS mu, ROUND((h.n - p.mu) / p.sd, 4) AS z
    FROM hourly h JOIN prof p
      ON p.event_type = h.event_type AND p.hod = EXTRACT(hour FROM h.h)
    WHERE p.sd > 0 AND abs(ROUND((h.n - p.mu) / p.sd, 4)) >= {ANOM_Z}
    """,
    doc="REAL streaming anomaly detection: the continuous aggregate "
    "(streaming/continuous.py) maintains the per-(hour, series) rollup "
    "incrementally via foreachBatch + dynamic partition overwrite; the "
    "seasonal profile and z-flags derive from the MAINTAINED state — "
    "raw events are never re-scanned. At 100 TB the profile input is "
    "the rollup (series x span rows), so detection cost is independent "
    "of event volume; stream==batch parity of the flag set IS the gate.",
    tags=("temporal", "streaming", "anomaly"),
)
def t_stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = scoped_persist(
        _hourly_rollup(spark, sf_dir).select("event_type", F.col("bucket").alias("h"), "n")
    )
    prof = hourly.groupBy("event_type", F.hour("h").alias("hod")).agg(
        F.avg("n").alias("mu"), F.stddev_pop("n").alias("sd")
    )
    z = F.round((F.col("n") - F.col("mu")) / F.col("sd"), 4)
    return (
        hourly.withColumn("hod", F.hour("h"))
        .join(F.broadcast(prof), ["event_type", "hod"])
        .where((F.col("sd") > 0) & (F.abs(z) >= ANOM_Z))
        .select(
            "event_type",
            F.unix_micros("h").alias("hour_us"),
            "n",
            F.round("mu", 6).alias("mu"),
            z.alias("z"),
        )
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events),
    trans AS (
        SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
    SELECT event_type, next_type, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY event_type), 6) AS p
    FROM trans
    """,
    doc="behavioral Markov transition matrix: per-user event sequences "
    "(one lead window on the session key — the same exchange "
    "sessionization uses) reduce to a types x types transition count "
    "table; row-normalized probabilities come from a window over that "
    "BOUNDED matrix, never the events. The user-journey fingerprint of "
    "product analytics.",
    tags=("temporal", "analytics"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w_seq).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    trans = seq.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    w_row = Window.partitionBy("event_type")
    return trans.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") * F.lit(1.0) / F.sum("n").over(w_row), 6).alias("p"),
    )


@register(
    "t_stream_gap_fill",
    # gate: identical SQL image as the batch ts_gap_fill_locf — the
    # stream-maintained rollup's (n, value_sum) partials must reproduce
    # the batch hourly aggregate (exactly-once merges; the 4-decimal
    # rounding absorbs partial-merge float reassociation, the same
    # tolerance the continuous-agg gate already proves sufficient).
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS value_sum
        FROM events GROUP BY 1, 2),
    spans AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
    spine AS (
        SELECT s.event_type, t.h
        FROM spans s,
             LATERAL (SELECT unnest(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS h) t)
    SELECT sp.event_type, epoch_us(sp.h) AS hour_us,
           COALESCE(hy.n, 0) AS n,
           ROUND(last_value(hy.value_sum IGNORE NULLS) OVER (
               PARTITION BY sp.event_type ORDER BY sp.h ROWS UNBOUNDED PRECEDING), 4)
               AS value_locf,
           CAST(hy.n IS NULL AS INT) AS was_gap
    FROM spine sp LEFT JOIN hourly hy
      ON hy.event_type = sp.event_type AND hy.h = sp.h
    """,
    doc="REAL streaming gap fill: the continuous aggregate maintains the "
    "hourly rollup incrementally; the dense spine + LOCF derive from the "
    "MAINTAINED state, so serving a complete (gap-free) series costs "
    "series x span rows regardless of event volume — the real-time "
    "dashboard-feed pattern. Gate: hash-parity with the batch gap-fill "
    "SQL oracle.",
    tags=("temporal", "streaming"),
)
def t_stream_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = scoped_persist(
        _hourly_rollup(spark, sf_dir).select(
            "event_type",
            F.col("bucket").alias("h"),
            "n",
            F.round("value_sum", 4).alias("value_sum"),
        )
    )
    spans = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = spans.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.unix_micros("h").alias("hour_us"),
            F.coalesce("n", F.lit(0)).alias("n"),
            F.round(F.last("value_sum", ignorenulls=True).over(w), 4).alias("value_locf"),
            F.col("n").isNull().cast("int").alias("was_gap"),
        )
    )


PATH_TOP_K = 5


@register(
    "events_path_topk",
    oracle=f"""
    SELECT path, n, rn FROM (
        SELECT path, n, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rn FROM (
            SELECT e1 || '>' || e2 || '>' || e3 AS path, CAST(count(*) AS BIGINT) AS n
            FROM (
                SELECT event_type AS e1,
                       LEAD(event_type, 1) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id) AS e2,
                       LEAD(event_type, 2) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id) AS e3
                FROM events)
            WHERE e3 IS NOT NULL GROUP BY 1))
    WHERE rn <= {PATH_TOP_K}
    """,
    doc="top-k 3-step behavioral paths: per-user lead windows build the "
    "path trigrams (the sessionization exchange), counts partial-agg "
    "map-side onto the types^3-bounded path space, and the final "
    "ranking window runs over that bounded table — product analytics' "
    "'common journeys' view.",
    tags=("temporal", "analytics"),
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e3").isNotNull())
    paths = seq.select(
        F.concat_ws(">", "e1", "e2", "e3").alias("path")
    ).groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    w_rank = Window.orderBy(F.desc("n"), F.asc("path"))
    return (
        paths.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= PATH_TOP_K)
        .select("path", "n", "rn")
    )


@register(
    "ts_seasonal_naive_error",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    spans AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
    spine AS (
        SELECT s.event_type, t.h
        FROM spans s,
             LATERAL (SELECT unnest(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS h) t),
    dense AS (
        SELECT sp.event_type, sp.h, COALESCE(hy.n, 0) AS n
        FROM spine sp LEFT JOIN hourly hy
          ON hy.event_type = sp.event_type AND hy.h = sp.h),
    fc AS (
        SELECT event_type, n,
               LAG(n, 24) OVER (PARTITION BY event_type ORDER BY h) AS pred
        FROM dense)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_scored,
           ROUND(AVG(abs(n - pred)), 6) AS mae,
           ROUND(AVG(CASE WHEN n > 0 THEN abs(n - pred) * 1.0 / n END), 6) AS mape
    FROM fc WHERE pred IS NOT NULL GROUP BY 1
    """,
    doc="seasonal-naive forecast baseline (predict = the value 24 REAL "
    "hours earlier, over the gap-filled dense series so row-lag equals "
    "hour-lag) with per-series MAE/MAPE — the accuracy floor every "
    "forecasting deployment reports against. Spine and lag window are "
    "span-bounded; the hourly rollup partial-aggregates map-side.",
    tags=("temporal", "forecast"),
)
def ts_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    spans = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = spans.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    dense = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    fc = dense.select(
        "event_type", "n", F.lag("n", 24).over(w).alias("pred")
    ).where(F.col("pred").isNotNull())
    return fc.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.round(F.avg(F.abs(F.col("n") - F.col("pred"))), 6).alias("mae"),
        F.round(
            F.avg(
                F.when(
                    F.col("n") > 0,
                    F.abs(F.col("n") - F.col("pred")) * F.lit(1.0) / F.col("n"),
                )
            ),
            6,
        ).alias("mape"),
    )


@register(
    "events_dau_wau_stickiness",
    oracle="""
    WITH ud AS (SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events),
    days AS (SELECT DISTINCT d FROM ud),
    dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
    wau AS (
        SELECT days.d, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
        FROM days JOIN ud u ON u.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
        GROUP BY 1)
    SELECT epoch_us(dau.d) AS day_us, dau.dau, wau.wau,
           ROUND(dau.dau * 1.0 / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON wau.d = dau.d
    """,
    doc="DAU/WAU stickiness: the raw stream reduces ONCE to the distinct "
    "(day, user) table (map-side partial distinct); DAU is a count per "
    "day, WAU joins each day against its trailing 7-day slice of that "
    "same reduced table (7x fan-out of user-DAYS, bounded — never raw "
    "events). At extreme user counts the WAU distinct swaps for the "
    "mergeable HLL sketch (sketch_hll_rollup) with the same plan shape.",
    tags=("temporal", "analytics"),
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = scoped_persist(
        ev.select(F.date_trunc("day", "ts").alias("d"), "user_id").distinct()
    )
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        days.alias("dy")
        .join(
            ud.alias("u"),
            F.col("u.d").between(
                F.col("dy.d") - F.expr("INTERVAL 6 DAY"), F.col("dy.d")
            ),
        )
        .groupBy(F.col("dy.d").alias("d"))
        .agg(F.count_distinct("u.user_id").alias("wau"))
    )
    return (
        dau.join(wau, "d")
        .select(
            F.unix_micros("d").alias("day_us"),
            "dau",
            "wau",
            F.round(F.col("dau") * F.lit(1.0) / F.col("wau"), 6).alias("stickiness"),
        )
    )


AB_CONV_MIN = 14  # converted = made >= 14 purchases (median-split threshold)


@register(
    "ab_test_conversion_ztest",
    oracle=f"""
    WITH assign AS (
        SELECT user_id, user_id % 2 AS grp,
               CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                         >= {AB_CONV_MIN}
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY 1),
    g AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(converted) AS BIGINT) AS conv,
               AVG(converted * 1.0) AS rate
        FROM assign GROUP BY 1),
    w AS (
        SELECT a.n AS n_a, a.conv AS conv_a, a.rate AS rate_a,
               b.n AS n_b, b.conv AS conv_b, b.rate AS rate_b,
               (a.conv + b.conv) * 1.0 / (a.n + b.n) AS pool
        FROM g a, g b WHERE a.grp = 0 AND b.grp = 1)
    SELECT n_a, conv_a, ROUND(rate_a, 6) AS rate_a,
           n_b, conv_b, ROUND(rate_b, 6) AS rate_b,
           ROUND((rate_a - rate_b)
                 / sqrt(pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b)), 4) AS z
    FROM w
    """,
    doc="A/B experiment readout: deterministic hash assignment (user_id "
    "parity stands in for pmod(xxhash64(id), 2)), per-user conversion "
    "reduced map-side, then the two-proportion pooled z-statistic from "
    "the 2-row group table — the experimentation primitive. Everything "
    "after the per-user reduction is driver-trivial; the z is computed "
    "on the bounded group table, never the events.",
    tags=("temporal", "analytics", "experimentation"),
)
def ab_test_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    assign = ev.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("long")) >= AB_CONV_MIN
        )
        .cast("int")
        .alias("converted")
    ).select((F.col("user_id") % 2).alias("grp"), "converted")
    g = assign.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("converted").alias("conv"),
        F.avg(F.col("converted") * F.lit(1.0)).alias("rate"),
    )
    a = g.where(F.col("grp") == 0).select(
        F.col("n").alias("n_a"), F.col("conv").alias("conv_a"), F.col("rate").alias("rate_a")
    )
    b = g.where(F.col("grp") == 1).select(
        F.col("n").alias("n_b"), F.col("conv").alias("conv_b"), F.col("rate").alias("rate_b")
    )
    pool = (F.col("conv_a") + F.col("conv_b")) * F.lit(1.0) / (F.col("n_a") + F.col("n_b"))
    z = (F.col("rate_a") - F.col("rate_b")) / F.sqrt(
        pool * (1 - pool) * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return a.crossJoin(b).select(
        "n_a",
        "conv_a",
        F.round("rate_a", 6).alias("rate_a"),
        "n_b",
        "conv_b",
        F.round("rate_b", 6).alias("rate_b"),
        F.round(z, 4).alias("z"),
    )


@register(
    "t_stream_session_windows",
    # gate: the batch sessionization oracle with session_id projected out.
    # session_window() merges on gap < 30 min (half-open window end);
    # the batch rule is gap <= 30 min — identical unless a gap is EXACTLY
    # 1800000000 us, which the microsecond-granular fixture never hits
    # (and the hash gate would catch it loudly if a fixture ever did).
    oracle=f"""
    SELECT user_id, COUNT(*) AS n_events,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) AS session_end_us
    FROM (
        SELECT user_id, ts,
               CAST(SUM(is_new) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
        FROM (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id)
                        > {SESSION_GAP_US} OR
                        LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        IS NULL
                   THEN 1 ELSE 0 END AS is_new
            FROM events
        )
    )
    GROUP BY user_id, session_id
    """,
    doc="REAL streaming sessionization via Spark's native session_window() "
    "— merging event-time session state per user with a watermark "
    "bounding it (the applyInPandasWithState-free form). availableNow "
    "replay must emit the exact batch session set: stream==batch parity "
    "against the gap-rule oracle IS the gate.",
    tags=("temporal", "streaming", "window"),
)
def t_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
        )
        .select("user_id", "n_events", "session_start_us", "session_end_us")
    )
    # complete mode: append-mode session finalization requires the
    # watermark to pass each session's window END (last event + gap), so
    # the trailing <gap+delay> of history would never emit in a bounded
    # replay — complete mode emits the full maintained session state,
    # which for availableNow equals the batch session set exactly
    return _stream_to_table(spark, "t_stream_sess_sink", out, "complete")


@register(
    "events_error_rate_sli",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS total,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
                   AS errors
        FROM events GROUP BY 1)
    SELECT epoch_us(h) AS hour_us, total, errors,
           ROUND(errors * 1.0 / total, 6) AS error_rate,
           CAST(errors * 4 > total AS INT) AS burn
    FROM hourly
    """,
    doc="SLI/error-budget reporting: per-hour error rate with a burn flag "
    "at the 25% threshold — the flag is the integer cross-multiply "
    "errors x 4 > total, so membership is exact on both engines (no "
    "float boundary). One map-side partial aggregation; the natural "
    "serving form is the continuous aggregate's maintained rollup "
    "(t_stream_continuous_agg), which carries the same (n, sum) "
    "partials this derives from.",
    tags=("temporal", "analytics", "sli"),
)
def events_error_rate_sli(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("errors"),
    )
    return hourly.select(
        F.unix_micros("h").alias("hour_us"),
        "total",
        "errors",
        F.round(F.col("errors") * F.lit(1.0) / F.col("total"), 6).alias("error_rate"),
        (F.col("errors") * 4 > F.col("total")).cast("int").alias("burn"),
    )


@register(
    "ts_linear_trend_forecast",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
    idx AS (
        SELECT event_type, h, y,
               CAST(date_diff('hour', MIN(h) OVER (PARTITION BY event_type), h)
                    AS BIGINT) AS x
        FROM hourly),
    sums AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx,
               MAX(x) AS xmax
        FROM idx GROUP BY 1)
    SELECT event_type, n,
           ROUND((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy * 1.0 / n)
                 - ((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx))
                   * (sx * 1.0 / n), 6) AS intercept,
           ROUND(((sy * 1.0 / n)
                 - ((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx))
                   * (sx * 1.0 / n))
                 + ((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx))
                   * (xmax + 1), 6) AS forecast_next
    FROM sums
    """,
    doc="per-series linear trend + one-step forecast: hourly count series "
    "per event_type, OLS slope/intercept via the closed-form normal "
    "equations computed from EXACT BIGINT sums (n, Sx, Sy, Sxy, Sxx) — the "
    "only floating ops are the final two divisions, so the hash gate is "
    "bit-stable across engines and partitionings. One shuffle (hourly "
    "rollup, map-side combine), then a series-count-bounded aggregate; the "
    "min-hour origin comes from the same aggregate, no second scan. At "
    "100 TB the rollup output is series x span-hours regardless of event "
    "volume. Mirrors regr_slope/regr_intercept semantics without relying "
    "on engine-specific incremental covariance kernels.",
    tags=("temporal", "analytics"),
)
def ts_linear_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("y"))
    w0 = Window.partitionBy("event_type")
    idx = hourly.withColumn(
        "x",
        ((F.unix_timestamp("h") - F.unix_timestamp(F.min("h").over(w0))) / 3600)
        .cast("long"),
    )
    sums = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.max("x").alias("xmax"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * F.lit(1.0) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") * F.lit(1.0) / F.col("n")) - slope * (
        F.col("sx") * F.lit(1.0) / F.col("n")
    )
    return sums.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(intercept + slope * (F.col("xmax") + 1), 6).alias("forecast_next"),
    )


@register(
    "ts_cross_correlation",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
    span AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
    spine AS (
        SELECT t.event_type, s.h
        FROM (SELECT DISTINCT event_type FROM hourly) t,
             (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
              FROM span) s),
    dense AS (
        SELECT sp.event_type,
               CAST(date_diff('hour', (SELECT h0 FROM span), sp.h) AS BIGINT) AS x,
               COALESCE(hy.y, 0) AS y
        FROM spine sp LEFT JOIN hourly hy
          ON hy.event_type = sp.event_type AND hy.h = sp.h),
    lags AS (SELECT unnest([-2, -1, 0, 1, 2]) AS lag),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
               CAST(count(*) AS BIGINT) AS n,
               SUM(a.y) AS sa, SUM(b.y) AS sb,
               SUM(a.y * b.y) AS sab,
               SUM(a.y * a.y) AS saa, SUM(b.y * b.y) AS sbb
        FROM dense a
        JOIN lags l ON TRUE
        JOIN dense b ON b.event_type > a.event_type AND b.x = a.x + l.lag
        GROUP BY 1, 2, 3)
    SELECT type_a, type_b, lag, n,
           ROUND((n * sab - sa * sb)
                 / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
                    * sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 6) AS xcorr
    FROM pairs
    """,
    doc="lagged cross-correlation between event-type series: zero-filled "
    "dense hourly counts per type (spine generated from the span, bounded "
    "by types x hours, never joined against raw events), then Pearson r "
    "at lags -2..+2 via a shifted self-join. All moments are EXACT BIGINT "
    "sums; the only floating ops are the final divide and sqrt, so both "
    "engines agree bit-for-bit before the round. The self-join fan-out is "
    "types^2/2 x lags x span-hours — independent of event volume; at "
    "100 TB only the first rollup touches the raw table. The dense series "
    "is reused for both join sides from one cached rollup.",
    tags=("temporal", "analytics"),
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("y"))
    span = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    types = hourly.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
        "h0",
    )
    dense = scoped_persist(
        spine.join(hourly, ["event_type", "h"], "left").select(
            "event_type",
            ((F.unix_timestamp("h") - F.unix_timestamp("h0")) / 3600)
            .cast("long")
            .alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    lags = spark.range(-2, 3).select(F.col("id").alias("lag"))
    a = dense.select(
        F.col("event_type").alias("type_a"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = dense.select(
        F.col("event_type").alias("type_b"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    joined = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("type_b") > F.col("type_a"))
            & (F.col("xb") == F.col("xa") + F.col("lag")),
        )
    )
    sums = joined.groupBy("type_a", "type_b", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ya").alias("sa"),
        F.sum("yb").alias("sb"),
        F.sum(F.col("ya") * F.col("yb")).alias("sab"),
        F.sum(F.col("ya") * F.col("ya")).alias("saa"),
        F.sum(F.col("yb") * F.col("yb")).alias("sbb"),
    )
    num = F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")
    den = F.sqrt(
        (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).cast("double")
    ) * F.sqrt((F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).cast("double"))
    return sums.select(
        "type_a", "type_b", "lag", "n", F.round(num / den, 6).alias("xcorr")
    )


@register(
    "t_stream_exact_dedup",
    oracle="""
    SELECT event_type, epoch_us(date_trunc('hour', m)) AS hour_us,
           CAST(count(*) AS BIGINT) AS n_unique
    FROM (SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m
          FROM events)
    GROUP BY 1, 2
    """,
    doc="REAL Structured Streaming exact dedup: events stream "
    "(availableNow) -> watermarked dropDuplicates on the idempotency key "
    "(user_id, event_type, minute) -> append-mode memory sink; the sink "
    "rows (key columns ONLY — which physical event survives is "
    "arrival-order dependent, the key set is not) roll up to unique-key "
    "counts per (type, hour) that must hash-match the batch DISTINCT. "
    "The dedup state store holds one entry per key inside the watermark "
    "horizon, so state is bounded by key cardinality per 30-minute "
    "window, not stream length — the production shape for at-least-once "
    "ingestion into an exactly-once table.",
    tags=("temporal", "streaming", "dedup"),
)
def t_stream_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = (
        stream_events(spark, sf_dir)
        .withColumn("m", F.date_trunc("minute", "ts"))
        .withWatermark("m", "30 minutes")
        .dropDuplicates(["user_id", "event_type", "m"])
        .select("user_id", "event_type", "m")
    )
    return (
        _stream_to_table(spark, "t_stream_exact_dedup_sink", keys, "append")
        .groupBy("event_type", F.unix_micros(F.date_trunc("hour", "m")).alias("hour_us"))
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )


LAT_W = 5.0  # latency histogram bucket width over events.value


@register(
    "events_latency_p95_sli",
    oracle=f"""
    WITH hist AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(floor(value / {LAT_W}) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events WHERE event_type = 'view'
        GROUP BY 1, 2),
    cum AS (
        SELECT h, bucket,
               CAST(SUM(cnt) OVER (PARTITION BY h ORDER BY bucket
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER (PARTITION BY h) AS BIGINT) AS n
        FROM hist)
    SELECT epoch_us(h) AS hour_us, MIN(n) AS n_views,
           CAST(MIN(bucket + 1) * {LAT_W} AS DOUBLE) AS p95_le
    FROM cum WHERE cum >= ceil(n * 95 / 100.0)
    GROUP BY 1
    """,
    doc="per-hour p95 latency SLI from a fixed-grid histogram sketch: "
    "view-event values bucket on a constant grid map-side, the p95 "
    "threshold is the first bucket whose cumulative count crosses "
    "ceil(0.95 n) (reported as the bucket's inclusive upper edge — a "
    "deterministic integer selection, no interpolation, no float "
    "boundary). The per-hour cumulative window runs over the BOUNDED "
    "bucket table (value-range/width x hours), so at 100 TB the only "
    "full-data work is the map-side histogram; this is how a latency "
    "SLI dashboard actually ships. Complements events_error_rate_sli "
    "(rate axis) with the latency axis.",
    tags=("temporal", "analytics", "sli"),
)
def events_latency_p95_sli(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "view")
    hist = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"),
        F.floor(F.col("value") / LAT_W).alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.partitionBy("h").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy("h")
    cum = hist.select(
        "h",
        "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    return (
        cum.where(F.col("cum") >= F.ceil(F.col("n") * 95 / 100.0))
        .groupBy(F.unix_micros("h").alias("hour_us"))
        .agg(
            F.min("n").alias("n_views"),
            (F.min(F.col("bucket") + 1) * LAT_W).cast("double").alias("p95_le"),
        )
    )


@register(
    "t_stream_latency_p95",
    # gate: identical SQL image as the batch events_latency_p95_sli —
    # the stream-maintained (hour, bucket) histogram must reproduce the
    # batch histogram exactly, so the derived p95 per hour is identical.
    oracle=f"""
    WITH hist AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(floor(value / {LAT_W}) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events WHERE event_type = 'view'
        GROUP BY 1, 2),
    cum AS (
        SELECT h, bucket,
               CAST(SUM(cnt) OVER (PARTITION BY h ORDER BY bucket
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER (PARTITION BY h) AS BIGINT) AS n
        FROM hist)
    SELECT epoch_us(h) AS hour_us, MIN(n) AS n_views,
           CAST(MIN(bucket + 1) * {LAT_W} AS DOUBLE) AS p95_le
    FROM cum WHERE cum >= ceil(n * 95 / 100.0)
    GROUP BY 1
    """,
    doc="REAL streaming latency SLI: view events stream (availableNow) "
    "-> watermarked tumbling-hour x fixed-grid value-bucket counts "
    "(update-mode memory sink; counts are monotone so the final state "
    "per key is the max) -> the p95 threshold derives from the "
    "MAINTAINED histogram, never a raw re-scan. State is bounded by "
    "hours-in-watermark x bucket-range — the streaming image of "
    "events_latency_p95_sli, sharing its batch SQL gate so "
    "stream==batch parity of the whole dashboard row is the check.",
    tags=("temporal", "streaming", "sli"),
)
def t_stream_latency_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .withWatermark("ts", "30 minutes")
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.floor(F.col("value") / LAT_W).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_micros(F.col("w.start")).alias("hour_us"), "bucket", "cnt"
        )
    )
    final = (
        _stream_to_table(spark, "t_stream_latency_p95_sink", hist, "update")
        .groupBy("hour_us", "bucket")
        .agg(F.max("cnt").alias("cnt"))
    )
    w_cum = Window.partitionBy("hour_us").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy("hour_us")
    cum = final.select(
        "hour_us",
        "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    return (
        cum.where(F.col("cum") >= F.ceil(F.col("n") * 95 / 100.0))
        .groupBy("hour_us")
        .agg(
            F.min("n").alias("n_views"),
            (F.min(F.col("bucket") + 1) * LAT_W).cast("double").alias("p95_le"),
        )
    )


ANOM_MAD_K = 3.5  # |robust z| threshold (modified z-score, Iglewicz-Hoaglin)


@register(
    "ts_anomaly_mad",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    med AS (
        SELECT event_type, quantile_cont(n, 0.5) AS m
        FROM hourly GROUP BY 1),
    mad AS (
        SELECT h.event_type, quantile_cont(abs(h.n - med.m), 0.5) AS d
        FROM hourly h JOIN med ON med.event_type = h.event_type
        GROUP BY 1)
    SELECT h.event_type, epoch_us(h.h) AS hour_us, h.n,
           ROUND(med.m, 4) AS median_n,
           ROUND(0.6745 * (h.n - med.m) / mad.d, 4) AS robust_z
    FROM hourly h
    JOIN med ON med.event_type = h.event_type
    JOIN mad ON mad.event_type = h.event_type
    WHERE mad.d > 0
      AND abs(ROUND(0.6745 * (h.n - med.m) / mad.d, 4)) >= {ANOM_MAD_K}
    """,
    doc="robust (median/MAD) anomaly detection on the hourly series — "
    "the Iglewicz-Hoaglin modified z-score 0.6745(x - median)/MAD with "
    f"|z| >= {ANOM_MAD_K}, which a single extreme outlier cannot mask "
    "(unlike the mean/stddev z of ts_anomaly_zscore, whose profile an "
    "outlier inflates). Two exact-median aggregates over the BOUNDED "
    "hourly rollup (series x span rows — medians never see raw events), "
    "profile broadcast back for the map-side flag; threshold applied to "
    "the ROUNDED score on both engines so fold noise cannot flip "
    "membership. At 100 TB only the first rollup touches the corpus.",
    tags=("temporal", "anomaly"),
)
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = scoped_persist(
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    med = hourly.groupBy("event_type").agg(
        F.expr("percentile(n, 0.5)").alias("m")
    )
    mad = (
        hourly.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(n - m), 0.5)").alias("d"))
    )
    z = F.round(0.6745 * (F.col("n") - F.col("m")) / F.col("d"), 4)
    return (
        hourly.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .where((F.col("d") > 0) & (F.abs(z) >= ANOM_MAD_K))
        .select(
            "event_type",
            F.unix_micros("h").alias("hour_us"),
            "n",
            F.round("m", 4).alias("median_n"),
            z.alias("robust_z"),
        )
    )


ATTR_WINDOW_DAYS = 7


@register(
    "events_attribution_linear",
    oracle=f"""
    WITH purchases AS (
        SELECT event_id AS purchase_id, user_id, ts AS p_ts,
               CAST(round(value * 100) AS BIGINT) AS amount_cents
        FROM events WHERE event_type = 'purchase'),
    touches AS (
        SELECT p.purchase_id, p.user_id, p.amount_cents,
               c.event_id AS click_id
        FROM purchases p
        JOIN events c ON c.user_id = p.user_id AND c.event_type = 'click'
                     AND c.ts <= p.p_ts
                     AND c.ts >= p.p_ts - INTERVAL {ATTR_WINDOW_DAYS} DAY),
    credited AS (
        SELECT click_id, purchase_id,
               CAST(amount_cents * 10000
                    // (count(*) OVER (PARTITION BY purchase_id))
                    AS BIGINT) AS credit_micro
        FROM touches)
    SELECT click_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(SUM(credit_micro) AS BIGINT) / 1000000.0 AS credited_revenue
    FROM credited GROUP BY 1
    """,
    doc="multi-touch LINEAR attribution: every click in the "
    f"{ATTR_WINDOW_DAYS}-day lookback before a purchase shares the "
    "purchase amount equally (credit = amount / n_touches). One "
    "user-keyed equi-join with the time window as a residual predicate "
    "(the j_interval_bucketed pattern applies unchanged if the per-user "
    "event density ever makes the residual scan hot), then a "
    "purchase-keyed count window over the BOUNDED touch set and a "
    "click-keyed rollup. Fan-out is clicks-per-user-week x purchases — "
    "behavioral density, not corpus size. Complements "
    "t_stream_click_attribution (last-touch) with the multi-touch "
    "model; credits are exact integer micro-units (cents x 1e4 DIV "
    "touch count), so the per-click rollup is an integer sum with no "
    "float boundary anywhere in the gate.",
    tags=("temporal", "analytics", "attribution"),
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100).cast("long").alias("amount_cents"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    touches = purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAYS")
        ),
    )
    w = Window.partitionBy("purchase_id")
    # credit in EXACT integer micro-units (cents x 1e4, integer-divided
    # by the touch count): the full sweep caught the double-sum form
    # flipping a 4dp rounding boundary with partition order — integer
    # sums cannot
    credited = touches.select(
        "click_id",
        "purchase_id",
        (F.col("amount_cents") * 10000).alias("amount_micro"),
        F.count(F.lit(1)).over(w).alias("n_touches"),
    ).selectExpr(
        "click_id", "purchase_id", "amount_micro div n_touches as credit_micro"
    )
    return credited.groupBy("click_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        (F.sum("credit_micro").cast("long") / 1000000.0).alias(
            "credited_revenue"
        ),
    )


BOT_HOURLY_MAX = 2  # events/hour threshold (fixture-scaled config)
BOT_BURST_MAX = 1    # events/minute threshold (fixture-scaled config)


@register(
    "events_bot_detection_rules",
    oracle=f"""
    WITH per_hour AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    per_min AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS nm
        FROM events GROUP BY user_id, date_trunc('minute', ts)),
    flags AS (
        SELECT hm.user_id, hm.max_hourly, bm.max_burst
        FROM (SELECT user_id, MAX(n) AS max_hourly
              FROM per_hour GROUP BY 1) hm
        JOIN (SELECT user_id, MAX(nm) AS max_burst
              FROM per_min GROUP BY 1) bm USING (user_id))
    SELECT user_id, max_hourly, max_burst,
           CAST(max_hourly > {BOT_HOURLY_MAX} AS INT) AS flag_sustained,
           CAST(max_burst > {BOT_BURST_MAX} AS INT) AS flag_burst
    FROM flags
    WHERE max_hourly > {BOT_HOURLY_MAX} OR max_burst > {BOT_BURST_MAX}
    """,
    doc="rate-based bot/abuse detection — the crawl-hygiene filter every "
    f"ingestion pipeline runs: flag users exceeding {BOT_HOURLY_MAX} "
    f"events/hour (sustained) or {BOT_BURST_MAX} events/minute (burst; "
    "thresholds are deployment config, here scaled to the fixture's "
    "uniform rates so the flag path is exercised). "
    "Two keyed rollups with map-side partials (user x hour, user x "
    "minute), MAX-reduced per user, integer thresholds so the gate is "
    "exact. At 100 TB both rollups are single exchanges over composite "
    "keys that spread uniformly; the flagged set is tiny by "
    "construction. Feeds dedup/decontamination the same way "
    "text_pii_scrub feeds the text plane.",
    tags=("temporal", "analytics", "quality"),
)
def events_bot_detection_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_hour = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    per_min = ev.groupBy(
        "user_id", F.date_trunc("minute", "ts").alias("m")
    ).agg(F.count(F.lit(1)).alias("nm"))
    hourly_max = per_hour.groupBy("user_id").agg(F.max("n").alias("max_hourly"))
    burst_max = per_min.groupBy("user_id").agg(F.max("nm").alias("max_burst"))
    return (
        hourly_max.join(burst_max, "user_id")
        .where(
            (F.col("max_hourly") > BOT_HOURLY_MAX)
            | (F.col("max_burst") > BOT_BURST_MAX)
        )
        .select(
            "user_id",
            "max_hourly",
            "max_burst",
            (F.col("max_hourly") > BOT_HOURLY_MAX).cast("int").alias("flag_sustained"),
            (F.col("max_burst") > BOT_BURST_MAX).cast("int").alias("flag_burst"),
        )
    )


@register(
    "t_stream_bot_detection",
    # gate: identical SQL image as events_bot_detection_rules — the
    # stream maintains the (user, minute) rollup; hourly maxima derive
    # from the MAINTAINED state by exact minute->hour summation.
    oracle=f"""
    WITH per_min AS (
        SELECT user_id, date_trunc('minute', ts) AS m,
               CAST(count(*) AS BIGINT) AS nm
        FROM events GROUP BY 1, 2),
    per_hour AS (
        SELECT user_id, date_trunc('hour', m) AS h,
               CAST(SUM(nm) AS BIGINT) AS n
        FROM per_min GROUP BY 1, 2),
    flags AS (
        SELECT hm.user_id, hm.max_hourly, bm.max_burst
        FROM (SELECT user_id, MAX(n) AS max_hourly
              FROM per_hour GROUP BY 1) hm
        JOIN (SELECT user_id, MAX(nm) AS max_burst
              FROM per_min GROUP BY 1) bm USING (user_id))
    SELECT user_id, max_hourly, max_burst,
           CAST(max_hourly > {BOT_HOURLY_MAX} AS INT) AS flag_sustained,
           CAST(max_burst > {BOT_BURST_MAX} AS INT) AS flag_burst
    FROM flags
    WHERE max_hourly > {BOT_HOURLY_MAX} OR max_burst > {BOT_BURST_MAX}
    """,
    doc="REAL streaming bot detection: the finest-grain rollup "
    "(user x minute counts, watermarked tumbling windows, update-mode "
    "memory sink) is the ONLY stateful stream; hourly rates derive from "
    "the maintained minute state by exact summation, so one state store "
    "serves both the burst and sustained rules — the production shape "
    "where abuse thresholds at several granularities read one "
    "maintained aggregate. Batch-oracle hash parity of the flagged set "
    "is the gate (stream==batch).",
    tags=("temporal", "streaming", "quality"),
)
def t_stream_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_min = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("nm"))
        .select(
            "user_id",
            F.col("w.start").alias("m"),
            "nm",
        )
    )
    # the state image here is user x minute — the LARGEST of the gated
    # streams (~events-sized at this fixture's sparsity). A memory sink
    # would collect every update to the DRIVER and scan it from one
    # partition; appending each micro-batch's updates to parquet keeps
    # the sink executor-side and the downstream reduction distributed
    # (the r15 streaming cost pass measured the memory-sink collect as
    # this query's actual wall, not the state store)
    work = scoped_tempdir("bot_sink_")

    def _sink(batch_df, _bid):
        batch_df.write.mode("append").parquet(work)

    _run_stream(
        spark,
        "t_stream_bot_detection_sink",
        per_min.writeStream.foreachBatch(_sink).outputMode("update"),
    )
    final = (
        spark.read.parquet(work)
        .groupBy("user_id", "m")
        .agg(F.max("nm").alias("nm"))
    )
    per_hour = final.groupBy(
        "user_id", F.date_trunc("hour", "m").alias("h")
    ).agg(F.sum("nm").alias("n"))
    hm = per_hour.groupBy("user_id").agg(F.max("n").alias("max_hourly"))
    # rename before the self-derived join: hm and bm share `final`'s
    # lineage, and identical attribute ids trip Catalyst's conflicting-
    # references check
    bm = (
        final.select(F.col("user_id").alias("u2"), "nm")
        .groupBy("u2")
        .agg(F.max("nm").alias("max_burst"))
    )
    return (
        hm.join(bm, hm.user_id == bm.u2)
        .where(
            (F.col("max_hourly") > BOT_HOURLY_MAX)
            | (F.col("max_burst") > BOT_BURST_MAX)
        )
        .select(
            "user_id",
            "max_hourly",
            "max_burst",
            (F.col("max_hourly") > BOT_HOURLY_MAX).cast("int").alias("flag_sustained"),
            (F.col("max_burst") > BOT_BURST_MAX).cast("int").alias("flag_burst"),
        )
    )


@register(
    "events_new_vs_returning",
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(date_trunc('day', ts)) AS first_day
        FROM events GROUP BY 1),
    daily AS (
        SELECT date_trunc('day', e.ts) AS d, e.user_id,
               MIN(CAST(date_trunc('day', e.ts) = f.first_day AS INT)) AS is_new
        FROM events e JOIN firsts f ON f.user_id = e.user_id
        GROUP BY 1, 2)
    SELECT epoch_us(d) AS day_us,
           CAST(count(*) AS BIGINT) AS active_users,
           CAST(SUM(is_new) AS BIGINT) AS new_users,
           CAST(count(*) - SUM(is_new) AS BIGINT) AS returning_users
    FROM daily GROUP BY 1
    """,
    doc="new-vs-returning daily active users — the first product metric "
    "every growth dashboard carries: first-seen day per user (one "
    "user-keyed reduction), then a (day, user) distinct rollup "
    "classified by whether the day IS the user's first. Two uniform "
    "keyed exchanges, all-integer output, exact gate. Complements "
    "events_dau_wau_stickiness (intensity) with the acquisition split.",
    tags=("temporal", "analytics"),
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    daily = (
        ev.select("user_id", F.date_trunc("day", "ts").alias("d"))
        .join(firsts, "user_id")
        .groupBy("d", "user_id")
        .agg(F.min((F.col("d") == F.col("first_day")).cast("int")).alias("is_new"))
    )
    return daily.groupBy(F.unix_micros("d").alias("day_us")).agg(
        F.count(F.lit(1)).alias("active_users"),
        F.sum("is_new").alias("new_users"),
        (F.count(F.lit(1)) - F.sum("is_new")).alias("returning_users"),
    )


@register(
    "t_stream_new_vs_returning",
    # gate: identical SQL image as events_new_vs_returning — both
    # maintained states (per-user first day, per-(day, user) presence)
    # must reproduce the batch classification exactly.
    oracle="""
    WITH firsts AS (
        SELECT user_id, MIN(date_trunc('day', ts)) AS first_day
        FROM events GROUP BY 1),
    daily AS (
        SELECT date_trunc('day', e.ts) AS d, e.user_id,
               MIN(CAST(date_trunc('day', e.ts) = f.first_day AS INT)) AS is_new
        FROM events e JOIN firsts f ON f.user_id = e.user_id
        GROUP BY 1, 2)
    SELECT epoch_us(d) AS day_us,
           CAST(count(*) AS BIGINT) AS active_users,
           CAST(SUM(is_new) AS BIGINT) AS new_users,
           CAST(count(*) - SUM(is_new) AS BIGINT) AS returning_users
    FROM daily GROUP BY 1
    """,
    doc="REAL streaming new-vs-returning: TWO coordinated maintained "
    "states from one staged stream — a per-user MIN(first-day) "
    "aggregate (complete-mode: the running minimum is the state) and a "
    "per-(day, user) presence rollup (update-mode) — joined in batch to "
    "classify each active day. This is the production shape where the "
    "identity store (first-seen) and the activity rollup are separate "
    "continuously-maintained tables; stream==batch hash parity of the "
    "daily split is the gate.",
    tags=("temporal", "streaming"),
)
def t_stream_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = stream_events(spark, sf_dir).select(
        "user_id", F.date_trunc("day", "ts").alias("d"), "ts"
    )
    first_day = days.groupBy("user_id").agg(F.min("d").alias("first_day"))
    firsts = (
        _stream_to_table(spark, "t_stream_nvr_firsts_sink", first_day, "complete")
        .groupBy("user_id")
        .agg(F.min("first_day").alias("first_day"))
    )
    presence = (
        days.withWatermark("ts", "30 minutes")
        .groupBy("d", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    daily = (
        _stream_to_table(spark, "t_stream_nvr_daily_sink", presence, "update")
        .select("d", "user_id")
        .distinct()
        .join(firsts, "user_id")
        .select(
            "d",
            "user_id",
            (F.col("d") == F.col("first_day")).cast("int").alias("is_new"),
        )
    )
    return daily.groupBy(F.unix_micros("d").alias("day_us")).agg(
        F.count(F.lit(1)).alias("active_users"),
        F.sum("is_new").alias("new_users"),
        (F.count(F.lit(1)) - F.sum("is_new")).alias("returning_users"),
    )


DRIFT_W = 10.0  # value-histogram bucket width for the drift monitor


@register(
    "events_distribution_drift_tv",
    oracle=f"""
    WITH span AS (
        SELECT epoch_us(MIN(ts))
               + (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 2 AS mid_us
        FROM events),
    hist AS (
        SELECT event_type,
               CAST(epoch_us(ts) >= (SELECT mid_us FROM span) AS INT) AS half,
               CAST(floor(value / {DRIFT_W}) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2, 3),
    tot AS (
        SELECT event_type, half, CAST(SUM(n) AS BIGINT) AS tot
        FROM hist GROUP BY 1, 2),
    joined AS (
        SELECT COALESCE(a.event_type, b.event_type) AS event_type,
               COALESCE(a.n, 0) AS na, COALESCE(b.n, 0) AS nb
        FROM (SELECT * FROM hist WHERE half = 0) a
        FULL OUTER JOIN (SELECT * FROM hist WHERE half = 1) b
          ON b.event_type = a.event_type AND b.bucket = a.bucket)
    SELECT j.event_type,
           ta.tot AS n_first_half, tb.tot AS n_second_half,
           ROUND(0.5 * SUM(abs(j.na * 1.0 / ta.tot - j.nb * 1.0 / tb.tot)), 6)
               AS tv_distance,
           CAST(ROUND(0.5 * SUM(abs(j.na * 1.0 / ta.tot
                - j.nb * 1.0 / tb.tot)), 6) >= 0.1 AS INT) AS drift_flag
    FROM joined j
    JOIN (SELECT * FROM tot WHERE half = 0) ta ON ta.event_type = j.event_type
    JOIN (SELECT * FROM tot WHERE half = 1) tb ON tb.event_type = j.event_type
    GROUP BY 1, 2, 3
    """,
    doc="data-drift monitor: total-variation distance between each event "
    "type's value distribution in the first vs second half of the time "
    "span (fixed-grid histograms, the same sketch that serves the p95 "
    "SLI). TV = 0.5 * sum |p_a - p_b| over the BOUNDED bucket domain — "
    "counts are exact integers, the probabilities are single divisions "
    "of identical integers, and the flag applies to the ROUNDED "
    "distance, so the gate has no fold-order exposure. The production "
    "use is training-data drift detection between ingestion windows; "
    "at 100 TB only the two histogram rollups touch raw events.",
    tags=("temporal", "analytics", "quality"),
)
def events_distribution_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # midpoint in integer MICROSECONDS on both engines (a seconds-cast
    # midpoint truncates differently than DuckDB's interval halving)
    span = ev.agg(
        (
            F.unix_micros(F.min("ts"))
            + F.floor(
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 2
            ).cast("long")
        ).alias("mid_us")
    )
    base = ev.crossJoin(F.broadcast(span)).select(
        "event_type",
        (F.unix_micros("ts") >= F.col("mid_us")).cast("int").alias("half"),
        F.floor(F.col("value") / DRIFT_W).alias("bucket"),
    )
    hist = scoped_persist(
        base.groupBy("event_type", "half", "bucket").agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    tot = hist.groupBy("event_type", "half").agg(F.sum("n").alias("tot"))
    a = hist.where(F.col("half") == 0).select(
        F.col("event_type").alias("et_a"), F.col("bucket").alias("bk_a"),
        F.col("n").alias("na"),
    )
    b = hist.where(F.col("half") == 1).select(
        F.col("event_type").alias("et_b"), F.col("bucket").alias("bk_b"),
        F.col("n").alias("nb"),
    )
    joined = a.join(
        b, (F.col("et_b") == F.col("et_a")) & (F.col("bk_b") == F.col("bk_a")),
        "full_outer",
    ).select(
        F.coalesce("et_a", "et_b").alias("event_type"),
        F.coalesce("na", F.lit(0)).alias("na"),
        F.coalesce("nb", F.lit(0)).alias("nb"),
    )
    ta = tot.where(F.col("half") == 0).select(
        F.col("event_type").alias("et"), F.col("tot").alias("tot_a")
    )
    tb = tot.where(F.col("half") == 1).select(
        F.col("event_type").alias("et2"), F.col("tot").alias("tot_b")
    )
    tv = F.round(
        0.5
        * F.sum(
            F.abs(
                F.col("na") * F.lit(1.0) / F.col("tot_a")
                - F.col("nb") * F.lit(1.0) / F.col("tot_b")
            )
        ),
        6,
    )
    return (
        joined.join(F.broadcast(ta), joined.event_type == F.col("et"))
        .join(F.broadcast(tb), joined.event_type == F.col("et2"))
        .groupBy("event_type", F.col("tot_a").alias("n_first_half"),
                 F.col("tot_b").alias("n_second_half"))
        .agg(tv.alias("tv_distance"), (tv >= 0.1).cast("int").alias("drift_flag"))
    )


ENTROPY_LOW = 0.5  # bits; below this a user's behavior is suspiciously uniform


@register(
    "events_behavior_entropy",
    oracle=f"""
    WITH per AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(count(*)) OVER (PARTITION BY user_id) AS BIGINT)
                   AS tot
        FROM events GROUP BY 1, 2),
    ent AS (
        SELECT user_id,
               CAST(SUM(n) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_types,
               ROUND(-SUM((n * 1.0 / tot) * log2(n * 1.0 / tot)), 5)
                   AS entropy_bits
        FROM per GROUP BY user_id)
    SELECT n_types,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(SUM(CAST(entropy_bits < {ENTROPY_LOW} AS INT)) AS BIGINT)
               AS low_entropy_users,
           ROUND(AVG(entropy_bits), 5) AS avg_entropy_bits
    FROM ent GROUP BY 1
    """,
    doc="behavioral-entropy profile: Shannon entropy (bits) of each "
    "user's event-type distribution, rolled up by distinct-type count — "
    "single-type or near-uniform-repetition users (low entropy) are the "
    "behavioral complement of the rate-based bot rules. One (user, "
    "type) reduction (types-bounded fan-in per user), the per-user "
    "entropy window runs over <= types rows, and the final rollup is "
    "types-bounded. The p*log2(p) inputs are divisions of identical "
    "exact integers, so both engines log the same doubles; the per-user "
    "SUM is over <= 5 terms (round 5 absorbs the reassociation).",
    tags=("temporal", "analytics", "quality"),
)
def events_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id")
    p = F.col("n") * F.lit(1.0) / F.sum("n").over(w)
    ent = (
        per.select("user_id", "n", (p * F.log2(p)).alias("plogp"))
        .groupBy("user_id")
        .agg(
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            F.round(-F.sum("plogp"), 5).alias("entropy_bits"),
        )
    )
    return ent.groupBy("n_types").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum((F.col("entropy_bits") < ENTROPY_LOW).cast("int"))
        .cast("long")
        .alias("low_entropy_users"),
        F.round(F.avg("entropy_bits"), 5).alias("avg_entropy_bits"),
    )


SESSDUR_W_MIN = 10  # session-duration histogram bucket width (minutes)


@register(
    "events_session_duration_histogram",
    oracle=f"""
    WITH sess AS (
        SELECT user_id, session_id,
               epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us,
               CAST(count(*) AS BIGINT) AS n_events
        FROM (
            SELECT user_id, ts,
                   CAST(SUM(is_new) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_id
            FROM (
                SELECT user_id, ts, event_id,
                       CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id)
                            > {SESSION_GAP_US} OR
                            LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                       THEN 1 ELSE 0 END AS is_new
                FROM events))
        GROUP BY 1, 2)
    SELECT CAST(dur_us // ({SESSDUR_W_MIN} * 60000000) AS BIGINT)
               AS duration_bucket,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(CAST(n_events = 1 AS INT)) AS BIGINT) AS bounce_sessions
    FROM sess GROUP BY 1
    """,
    doc="session-duration distribution: the gap-rule sessions (same "
    "construction as t_session_windows, 30-min inactivity) rolled up "
    f"into {SESSDUR_W_MIN}-minute duration buckets with per-bucket "
    "session/event counts and single-event 'bounce' sessions — the "
    "engagement-shape readout next to DAU/stickiness. Duration is "
    "integer microseconds, bucketing is integer division, so the gate "
    "is exact; the histogram domain is bounded by max-session-length / "
    "width regardless of event volume.",
    tags=("temporal", "analytics"),
)
def events_session_duration_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w_seq)
    is_new = (
        gap.isNull() | (gap > SESSION_GAP_US)
    ).cast("int")
    w_cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(w_cum))
        .groupBy("user_id", "session_id")
        .agg(
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
                "dur_us"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    bucket_us = SESSDUR_W_MIN * 60_000_000
    return (
        sess.selectExpr(
            f"dur_us div {bucket_us} as duration_bucket", "n_events"
        )
        .groupBy("duration_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.sum((F.col("n_events") == 1).cast("int"))
            .cast("long")
            .alias("bounce_sessions"),
        )
    )


RETENTION_DAYS = [1, 3, 7, 14]


@register(
    "events_retention_day_n_curve",
    oracle=f"""
    WITH firsts AS (
        SELECT user_id, MIN(date_trunc('day', ts)) AS d0
        FROM events GROUP BY 1),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
    cohort AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM firsts),
    ds AS (SELECT unnest({RETENTION_DAYS}) AS day_n)
    SELECT ds.day_n,
           (SELECT n_users FROM cohort) AS n_users,
           CAST(count(DISTINCT f.user_id) AS BIGINT) AS retained,
           ROUND(count(DISTINCT f.user_id) * 1.0
                 / (SELECT n_users FROM cohort), 6) AS retention_rate
    FROM ds
    LEFT JOIN firsts f ON TRUE
    LEFT JOIN activity a
      ON a.user_id = f.user_id
     AND a.d >= f.d0 + INTERVAL (ds.day_n) DAY
    WHERE a.user_id IS NOT NULL
    GROUP BY 1
    """,
    doc="day-N retention curve (N in "
    f"{RETENTION_DAYS}): the fraction of all users active again N or "
    "more days after their first-seen day — the standard growth "
    "retention readout at day granularity (cohort_retention is the "
    "month-cohort matrix). Physically: a first-seen reduction, a "
    "distinct (user, day) rollup, and a membership semi-join per probe "
    "N — each probe is one keyed join whose right side is the bounded "
    "distinct-day table, never raw events. Counts exact, rate is an "
    "integer ratio at 6dp.",
    tags=("temporal", "analytics"),
)
def events_retention_day_n_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("d0")
    )
    activity = ev.select(
        F.col("user_id").alias("au"), F.date_trunc("day", "ts").alias("d")
    ).distinct()
    firsts = scoped_persist(firsts)
    activity = scoped_persist(activity)
    cohort = firsts.agg(F.count(F.lit(1)).alias("n_users"))
    ds = literal_df(spark, [(n,) for n in RETENTION_DAYS], StructType.fromDDL("day_n int"))
    probes = F.broadcast(ds).crossJoin(firsts)
    retained = (
        probes.join(
            activity,
            (F.col("au") == F.col("user_id"))
            & (
                F.col("d")
                >= F.col("d0") + F.col("day_n") * F.expr("INTERVAL 1 DAY")
            ),
            "left_semi",
        )
        .groupBy("day_n")
        .agg(F.countDistinct("user_id").alias("retained"))
    )
    return retained.crossJoin(F.broadcast(cohort)).select(
        "day_n",
        "n_users",
        "retained",
        F.round(F.col("retained") * F.lit(1.0) / F.col("n_users"), 6).alias(
            "retention_rate"
        ),
    )


ACT_TOPN = 500


@register(
    "events_user_activity_powerlaw",
    oracle=f"""
    WITH act AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, user_id ASC) AS rk
        FROM act),
    pts AS (
        SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y
        FROM ranked WHERE rk <= {ACT_TOPN}),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS m, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM pts)
    SELECT m AS n_points,
           ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 5)
               AS powerlaw_slope,
           ROUND((sy / m) - ((m * sxy - sx * sy) / (m * sxx - sx * sx))
                 * (sx / m), 5) AS log_intercept
    FROM sums
    """,
    doc="power-law fit of the user-activity distribution (the "
    "text_zipf_fit machinery pointed at the behavioral axis): OLS slope "
    f"of ln(events) on ln(rank) over the top-{ACT_TOPN} most active "
    "users. A steep slope means traffic concentrates in few accounts "
    "(skew the partitioner must survive and the bot rules should "
    "inspect); a flat slope means organic spread. One user reduction, "
    "everything after is bounded; identical log inputs on both engines.",
    tags=("temporal", "analytics", "scale"),
)
def events_user_activity_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    act = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("user_id"))
    pts = (
        act.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= ACT_TOPN)
        .select(
            F.log(F.col("rk").cast("double")).alias("x"),
            F.log(F.col("n").cast("double")).alias("y"),
        )
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("m").alias("n_points"),
        F.round(slope, 5).alias("powerlaw_slope"),
        F.round(
            (F.col("sy") / F.col("m")) - slope * (F.col("sx") / F.col("m")), 5
        ).alias("log_intercept"),
    )


@register(
    "events_type_cooccurrence_jaccard",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d, event_type
        FROM events),
    sizes AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM ud GROUP BY 1),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM ud a JOIN ud b
          ON b.user_id = a.user_id AND b.d = a.d
         AND b.event_type > a.event_type
        GROUP BY 1, 2)
    SELECT i.type_a, i.type_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
           ROUND(i.n_both * 1.0 / (sa.n + sb.n - i.n_both), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
    doc="feature co-usage matrix: Jaccard similarity between event types "
    "over (user, day) incidence sets — which behaviors travel together, "
    "the input to engagement-loop and cross-sell analyses. One distinct "
    "(user, day, type) rollup; the self-join keys on (user, day) so the "
    "fan-out per key is bounded by types-per-user-day (<= 5 here, <= "
    "catalog size generally), and the output is the types^2/2 matrix. "
    "Set sizes and intersections are exact integers; jaccard is an "
    "integer ratio at 6dp.",
    tags=("temporal", "analytics"),
)
def events_type_cooccurrence_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = scoped_persist(
        ev.select(
            "user_id", F.date_trunc("day", "ts").alias("d"), "event_type"
        ).distinct()
    )
    sizes = ud.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ud.select("user_id", "d", F.col("event_type").alias("type_a"))
    b = ud.select(
        F.col("user_id").alias("u2"), F.col("d").alias("d2"),
        F.col("event_type").alias("type_b"),
    )
    inter = (
        a.join(
            b,
            (F.col("u2") == F.col("user_id"))
            & (F.col("d2") == F.col("d"))
            & (F.col("type_b") > F.col("type_a")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(
                F.col("n_both")
                * F.lit(1.0)
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )
