"""Structured Streaming surface (SURVEY §2.9, build plan M3).

The reference is stream-shaped but not streaming: ``parse_items`` /
``stac2ds`` are lazy iterator→iterator converters with per-collection
evolving state (_mdtools.py:705-723, :482-617). Here that becomes real
Structured Streaming:

- ``stream_events``: the fixture's events table as a file-source stream
  with the batch path's schema and timestamp normalization — at scale
  this is the same code over Kafka/Kinesis (swap ``format``).
- ``stream_tumbling_counts``: the SAME window expressions as the batch
  query ``t_tumbling_window`` (queries/temporal.py) under a watermark —
  batch/stream parity on one expression set.
- ``infer_collections_stateful``: the reference's ``_CMDAssembler``
  (bootstrap on first item, merge new assets on later items,
  _mdtools.py:527-617) as ``applyInPandasWithState``: keyed by
  collection, state = known asset set + per-asset metadata, emits the
  evolving schema row whenever it changes.

Late data: the watermark bounds state (reference has no late-item policy —
it buffers everything; a watermark is the scale-correct policy and is
asserted in tests/test_streaming.py).
"""

from __future__ import annotations

import os
from typing import Iterator, Tuple

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..sources.tables import normalize_timestamps, table_schema


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table of ``sf_dir`` as a file-source stream whose rows
    equal ``load_table``'s: the same schema (``table_schema``) and the same
    ``ts`` normalization (``normalize_timestamps``). A Spark-written table
    streams as its directory of part files; a single-file table streams
    from ``sf_dir`` filtered to its name, as the file source reads only
    directories (a file path fails: "'basePath' must be a directory")."""
    src = os.path.join(sf_dir, "events.parquet")
    schema = table_schema(spark, src)[0]
    reader = spark.readStream.schema(schema)
    if os.path.isdir(src):
        stream = reader.parquet(src)
    else:
        stream = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    return normalize_timestamps(stream, schema)


def stream_tumbling_counts(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Tumbling 10-min counts under a watermark — the streaming image of
    queries/temporal.t_tumbling_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup on event_id with watermark-bounded state —
    the streaming image of queries/dedup.dedup_exact. At 100 TB/day the
    watermark is what keeps dedup state finite: only ids within the
    watermark horizon are retained, so state size follows ingest rate x
    horizon, not total history."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def stream_click_attribution(
    events: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: each purchase joins the same user's
    clicks within [click_ts, click_ts + max_delay]. Both sides carry
    watermarks so the join state is bounded (unmatched rows age out once
    the watermark passes the interval) — the canonical funnel/attribution
    shape of an event pipeline."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_delay}")),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "amount",
    )


def stream_session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization: per-user session_window with a gap —
    the streaming image of queries/temporal.t_session_windows (whose batch
    form builds sessions from a lag/cumsum window)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


# ---- stateful incremental schema inference -------------------------------

ASSET_STREAM_SCHEMA = StructType(
    [
        StructField("collection", StringType()),
        StructField("asset_name", StringType()),
        StructField("data_type", StringType()),
        StructField("nodata", StringType()),
        StructField("seen_ts", TimestampType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("assets", StringType()),  # comma-joined sorted asset names
        StructField("n_updates", IntegerType()),
    ]
)

_OUT_SCHEMA = StructType(
    [
        StructField("collection", StringType()),
        StructField("assets", StringType()),
        StructField("n_assets", IntegerType()),
        StructField("n_updates", IntegerType()),
    ]
)


def _infer_fn(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """_CMDAssembler semantics: first batch bootstraps, later batches merge
    only new assets (set difference — _mdtools.py:577)."""
    (collection,) = key
    if state.exists:
        known_csv, n_updates = state.get
        known = set(known_csv.split(",")) if known_csv else set()
    else:
        known, n_updates = set(), 0
    changed = False
    for pdf in pdfs:
        new = set(pdf["asset_name"]) - known
        if new:
            known |= new
            changed = True
    n_updates += 1
    state.update((",".join(sorted(known)), n_updates))
    if changed:
        yield pd.DataFrame(
            [
                {
                    "collection": collection,
                    "assets": ",".join(sorted(known)),
                    "n_assets": len(known),
                    "n_updates": n_updates,
                }
            ]
        )


def infer_collections_stateful(asset_stream: DataFrame) -> DataFrame:
    """Keyed evolving collection schema over a stream of asset observations."""
    return asset_stream.groupBy("collection").applyInPandasWithState(
        _infer_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stac_items(spark: SparkSession, input_dir: str) -> DataFrame:
    """Incremental STAC catalog ingestion (S1 as a stream): watch a
    directory of newline-delimited STAC item JSON and parse each micro-
    batch through the SAME Catalyst pipeline as the batch path —
    ``stac_json_to_items`` is pure column expressions, so it composes
    with ``readStream`` unchanged. At scale this is the
    standing-ingestion half of a live catalog (new scenes appear → rows
    appear), feeding ``infer_collections_stateful`` for evolving
    collection schemas."""
    from ..sources.stac_items import stac_json_to_items

    raw = spark.readStream.text(input_dir)
    return stac_json_to_items(raw)
