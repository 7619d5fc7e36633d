"""Structured Streaming tests: file-source micro-batches, watermarked
window aggs matching the batch result, and stateful incremental schema
inference (the _CMDAssembler analog)."""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime, timedelta

import pandas as pd
import pytest

import pyspark.sql.functions as F

from odc_stac_spark.queries.temporal import _await_stream, _stream_to_table
from odc_stac_spark.sources.tables import load_table
from odc_stac_spark.streaming import (
    infer_collections_stateful,
    stream_click_attribution,
    stream_dedup,
    stream_events,
    stream_session_windows,
    stream_tumbling_counts,
)
from odc_stac_spark.streaming.events import ASSET_STREAM_SCHEMA


def test_stream_tumbling_matches_batch(spark, sf_dir, tmp_path):
    # stage the real events table as a stream input dir in two chunks
    ev = load_table(spark, sf_dir, "events")
    in_dir = str(tmp_path / "stream_in")
    ev.where("event_id % 2 = 0").write.parquet(in_dir)
    ev.where("event_id % 2 = 1").write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    agg = stream_tumbling_counts(stream)
    got = (
        _stream_to_table(spark, "tumbling_counts", agg, "append")
        .groupBy("window_start", "event_type")
        .agg(F.sum("n_events").alias("n_events"))
    )
    want = (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    # availableNow processes everything; append emits only below-watermark
    # windows — so got ⊆ want with equal counts where present
    g = {(r.window_start, r.event_type): r.n_events for r in got.collect()}
    w = {(r.window_start, r.event_type): r.n_events for r in want.collect()}
    assert g, "stream produced no finalized windows"
    for k, v in g.items():
        assert w[k] == v, f"window {k}: stream {v} != batch {w[k]}"


def test_events_stream_instants_ignore_session_time_zone(spark, sf_dir):
    """The registry's events stream normalizes ``ts`` through the batch
    path's helper, so a non-UTC session reads the batch path's instants."""
    us = F.unix_micros("ts").alias("us")
    want = sorted(r.us for r in load_table(spark, sf_dir, "events").select(us).collect())
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        stream = stream_events(spark, sf_dir).select(us)
        got = _stream_to_table(spark, "events_tz", stream, "append")
        got = sorted(r.us for r in got.collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert got == want


@pytest.mark.parametrize("layout", ["file", "file_beside_dir_table", "spark_dir"])
def test_stream_events_rows_equal_load_table(spark, sf_dir, tmp_path, layout):
    """stream_events streams exactly load_table's rows from each events
    layout: the fixture's single file, that file in a directory that also
    holds a Spark-written directory table, and a Spark-written multi-part
    directory."""
    d = str(tmp_path)
    if layout == "file":
        d = sf_dir
    elif layout == "file_beside_dir_table":
        shutil.copyfile(os.path.join(sf_dir, "events.parquet"), os.path.join(d, "events.parquet"))
        load_table(spark, sf_dir, "orders").write.parquet(os.path.join(d, "orders.parquet"))
    else:
        src = os.path.join(d, "events.parquet")
        load_table(spark, sf_dir, "events").repartition(3).write.parquet(src)
        assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 3
    want = load_table(spark, d, "events")
    got = _stream_to_table(spark, "events_layout", stream_events(spark, d), "append")
    assert got.count() == want.count() == load_table(spark, sf_dir, "events").count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_dedup_drops_watermark_window_duplicates(spark, sf_dir, tmp_path):
    """The same file staged twice: every event is a duplicate; streaming
    dedup must emit each event_id exactly once."""
    ev = load_table(spark, sf_dir, "events").limit(500)
    in_dir = str(tmp_path / "dup_in")
    ev.write.parquet(in_dir)
    ev.write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    out = stream_dedup(stream)
    got = _stream_to_table(spark, "deduped", out, "append").select("event_id")
    assert got.count() == 500
    assert got.distinct().count() == 500


def test_stream_click_attribution_matches_batch_interval_join(spark, sf_dir, tmp_path):
    """Stream-stream interval join (availableNow processes everything, so
    the inner join must emit exactly the batch join's row set)."""
    ev = load_table(spark, sf_dir, "events")
    in_dir = str(tmp_path / "attr_in")
    ev.write.parquet(in_dir)

    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    out = stream_click_attribution(stream)
    got = {
        (r.click_id, r.purchase_id)
        for r in _stream_to_table(spark, "attributed", out, "append").collect()
    }

    c = ev.where("event_type = 'click'").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    want = {
        (r.click_id, r.purchase_id)
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 minutes")),
        ).collect()
    }
    assert want, "fixture produced no click→purchase pairs"
    assert got == want


def test_stream_session_windows_match_batch(spark, sf_dir, tmp_path):
    """Streaming session_window == batch session_window on the same data."""
    ev = load_table(spark, sf_dir, "events").where("user_id < 50")
    in_dir = str(tmp_path / "sess_in")
    ev.write.parquet(in_dir)

    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    out = stream_session_windows(stream)
    got = {
        (r.session_start, r.session_end, r.user_id): r.n_events
        for r in _stream_to_table(spark, "sessions", out, "append").collect()
    }

    want_df = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    want = {
        (r.session_start, r.session_end, r.user_id): r.n_events for r in want_df.collect()
    }
    assert got, "stream produced no finalized sessions"
    for k, v in got.items():
        assert want[k] == v, f"session {k}: stream {v} != batch {want[k]}"


def test_stateful_schema_inference_evolves(spark, tmp_path):
    in_dir = tmp_path / "assets_in"
    in_dir.mkdir()
    t0 = datetime(2024, 1, 1)
    batch1 = pd.DataFrame(
        [
            {"collection": "s2", "asset_name": "B02", "data_type": "uint16", "nodata": "0", "seen_ts": t0},
            {"collection": "s2", "asset_name": "B03", "data_type": "uint16", "nodata": "0", "seen_ts": t0},
            {"collection": "ls", "asset_name": "red", "data_type": "float32", "nodata": None, "seen_ts": t0},
        ]
    )
    batch2 = pd.DataFrame(
        [
            # B02 repeats (no change), SCL is new → s2 schema evolves
            {"collection": "s2", "asset_name": "B02", "data_type": "uint16", "nodata": "0", "seen_ts": t0 + timedelta(minutes=1)},
            {"collection": "s2", "asset_name": "SCL", "data_type": "uint8", "nodata": None, "seen_ts": t0 + timedelta(minutes=1)},
        ]
    )
    spark.createDataFrame(batch1, ASSET_STREAM_SCHEMA).write.parquet(str(in_dir), mode="append")
    spark.createDataFrame(batch2, ASSET_STREAM_SCHEMA).write.parquet(str(in_dir), mode="append")

    stream = spark.readStream.schema(ASSET_STREAM_SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(in_dir))
    out = infer_collections_stateful(stream)
    _stream_to_table(spark, "schema_updates", out, "update")

    rows = spark.sql(
        "SELECT * FROM schema_updates ORDER BY collection, n_assets"
    ).collect()
    latest = {}
    for r in rows:
        latest[r.collection] = r
    assert latest["ls"].assets == "red"
    assert latest["s2"].n_assets == 3
    assert latest["s2"].assets == "B02,B03,SCL"
    # schema must have EVOLVED (bootstrap emit + update emit), not one-shot
    s2_rows = [r for r in rows if r.collection == "s2"]
    assert len(s2_rows) >= 2
    assert s2_rows[0].n_assets < s2_rows[-1].n_assets


def test_stream_stac_items_matches_batch(spark, tmp_path):
    """Streaming STAC ingestion parses the same rows as the batch path
    (one Catalyst pipeline, two sources)."""
    import json
    import time

    from odc_stac_spark.sources.stac_items import stac_dicts_to_items
    from odc_stac_spark.streaming.events import stream_stac_items
    from tests.test_stac_metadata import landsat_item, s2_item

    docs = [s2_item(0), s2_item(1), landsat_item()]
    # items_df-style dicts → raw STAC JSON document form
    raws = []
    for d in docs:
        raw = {
            "id": d["id"],
            "collection": d["collection"],
            "stac_extensions": ["https://stac-extensions.github.io/projection/v1.1.0/schema.json"],
            "properties": {
                "datetime": d["datetime"].isoformat() + "Z",
                **({"odc:product": d["odc_product"]} if d["odc_product"] else {}),
            },
            "assets": {
                name: {
                    "href": a["href"],
                    "type": a["type"],
                    "roles": a["roles"],
                    "gsd": a["gsd"],
                    "proj:shape": a["proj_shape"],
                    "proj:transform": a["proj_transform"],
                    "proj:epsg": a["proj_epsg"],
                    "eo:bands": [
                        {"name": b["name"], "common_name": b["common_name"]}
                        for b in (a["eo_bands"] or [])
                    ],
                    "raster:bands": a["raster_bands"],
                }
                for name, a in d["assets"].items()
            },
        }
        raws.append(raw)
    src = tmp_path / "stream_in"
    src.mkdir()
    (src / "batch0.ndjson").write_text("\n".join(json.dumps(r) for r in raws))

    out = tmp_path / "sink"
    chk = tmp_path / "chk"
    q = (
        stream_stac_items(spark, str(src))
        .select("id", "collection", "odc_product", "datetime", "has_proj")
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(chk))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q, 120)
    got = spark.read.parquet(str(out))
    from odc_stac_spark.sources.stac_items import stac_json_to_items

    raw_df = spark.createDataFrame([(json.dumps(r),) for r in raws], "value string")
    want = stac_json_to_items(raw_df).select(
        "id", "collection", "odc_product", "datetime", "has_proj"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() == 3

def _raw_stac_doc(idx, origin, ts):
    """A raw STAC item JSON document (the wire format stream_stac_items
    ingests) with a synth asset, proj extension declared."""
    return {
        "id": f"live-{idx:03d}",
        "collection": "live-col",
        "stac_extensions": [
            "https://stac-extensions.github.io/projection/v1.1.0/schema.json"
        ],
        "properties": {"datetime": ts.isoformat() + "Z"},
        "assets": {
            "red": {
                "href": f"synth://live{idx}?seed={idx}&nodata_every=4",
                "type": "image/tiff; application=geotiff; profile=cloud-optimized",
                "roles": ["data"],
                "gsd": 10.0,
                "proj:shape": [100, 120],
                "proj:transform": [10.0, 0.0, origin[0], 0.0, -10.0, origin[1]],
                "proj:epsg": 32735,
                "raster:bands": [{"data_type": "int32", "nodata": -1.0, "unit": "1"}],
            }
        },
    }


def test_stream_load_tiles_incremental_equals_batch(spark, tmp_path):
    """Incremental datacube ingestion: two arrival batches of STAC items
    through stream_load_tiles (fixed grid, checkpointed restart) append
    exactly the tiles the one-shot catalog-path batch load computes."""
    import json

    from odc_stac_spark.model import GeoBox
    from odc_stac_spark.plans.catalog import load_from_catalog
    from odc_stac_spark.sources.stac_items import parse_items, stac_json_to_items
    from odc_stac_spark.streaming import stream_load_tiles

    t0 = datetime(2020, 6, 6, 8, 30)
    origins = [(0.0, 1000.0), (400.0, 800.0), (200.0, 1200.0), (600.0, 600.0)]
    docs = [_raw_stac_doc(i, o, t0 + timedelta(hours=i)) for i, o in enumerate(origins)]
    gbox = GeoBox((160, 180), (10.0, 0.0, 0.0, 0.0, -10.0, 1200.0), "EPSG:32735")

    in_dir = tmp_path / "feed"
    in_dir.mkdir()
    out = str(tmp_path / "cube")
    ckpt = str(tmp_path / "ckpt")

    def run_available_now():
        q = stream_load_tiles(
            spark, str(in_dir), out, ckpt, geobox=gbox, chunks=(64, 64), groupby="time"
        )
        _await_stream(q, 240)

    # batch 1: two scenes arrive
    (in_dir / "b1.ndjson").write_text("\n".join(json.dumps(d) for d in docs[:2]))
    run_available_now()
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # batch 2: two more scenes; checkpoint restart must process ONLY them
    (in_dir / "b2.ndjson").write_text("\n".join(json.dumps(d) for d in docs[2:]))
    run_available_now()

    got = spark.read.parquet(out)
    assert got.count() > n1

    # one-shot batch load of all four scenes over the same grid
    raw = spark.createDataFrame([(json.dumps(d),) for d in docs], ["value"])
    parsed = parse_items(spark, stac_json_to_items(raw))
    tiles, plan = load_from_catalog(
        spark, parsed, groupby="time", geobox=gbox, chunks=(64, 64)
    )
    ts_map = {t: pd.Timestamp(ts) for t, ts in enumerate(plan.group_ts)}

    def key_rows(df, tmap=None):
        rows = {}
        for r in df.collect():
            t = pd.Timestamp(r.time) if tmap is None else tmap[r.t]
            rows[(r.band, t, r.iy, r.ix)] = (r.height, r.width, bytes(r.data))
        return rows

    want = key_rows(tiles, ts_map)
    have = key_rows(got)
    assert have == want

    # re-running with no new files appends nothing (exactly-once per file)
    run_available_now()
    assert spark.read.parquet(out).count() == got.count()

    # retry-idempotent sink layout: one overwritable directory per
    # micro-batch (a retried batch overwrites itself, never double-appends)
    batch_dirs = [d for d in os.listdir(out) if d.startswith("ingest_batch=")]
    assert len(batch_dirs) == 2


def test_compact_cube_merges_late_scene(spark, tmp_path):
    """A late scene for an already-written time group appends duplicate
    tile keys; compact_cube merges them first-write-wins and the result
    equals the one-shot batch load (scene ids chosen so batch order ==
    (time, id) mosaic order)."""
    import json

    from odc_stac_spark.model import GeoBox
    from odc_stac_spark.plans.catalog import load_from_catalog
    from odc_stac_spark.sources.stac_items import parse_items, stac_json_to_items
    from odc_stac_spark.streaming import compact_cube, stream_load_tiles

    t0 = datetime(2020, 6, 6, 8, 30)
    # same datetime -> same time group; overlapping footprints with holes
    docs = [
        _raw_stac_doc(0, (0.0, 1000.0), t0),
        _raw_stac_doc(1, (200.0, 900.0), t0),
    ]
    gbox = GeoBox((110, 140), (10.0, 0.0, 0.0, 0.0, -10.0, 1000.0), "EPSG:32735")

    in_dir = tmp_path / "feed"
    in_dir.mkdir()
    out = str(tmp_path / "cube")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = stream_load_tiles(
            spark, str(in_dir), out, ckpt, geobox=gbox, chunks=(64, 64), groupby="time"
        )
        _await_stream(q, 240)

    (in_dir / "b1.ndjson").write_text(json.dumps(docs[0]))
    run()
    (in_dir / "b2.ndjson").write_text(json.dumps(docs[1]))  # the late scene
    run()

    raw_cube = spark.read.parquet(out)
    dup_keys = (
        raw_cube.groupBy("band", "time", "iy", "ix").count().where("count > 1").count()
    )
    assert dup_keys > 0  # the late scene really did collide

    compacted = compact_cube(spark, out, nodata=-1.0)

    # one-shot batch load of both scenes (id order == ingest order)
    raw = spark.createDataFrame([(json.dumps(d),) for d in docs], ["value"])
    parsed = parse_items(spark, stac_json_to_items(raw))
    tiles, plan = load_from_catalog(
        spark, parsed, groupby="time", geobox=gbox, chunks=(64, 64)
    )
    want = {
        (r.band, r.iy, r.ix): bytes(r.data) for r in tiles.collect()
    }
    have = {
        (r.band, r.iy, r.ix): bytes(r.data) for r in compacted.collect()
    }
    assert have == want

    # ask-the-cube-anything: zonal stats over the live cube == zonal
    # stats over the one-shot batch tiles
    from odc_stac_spark.operators.zonal import zonal_stats
    from odc_stac_spark.streaming import cube_zonal_stats

    zc = cube_zonal_stats(spark, out, nodata=-1.0, zone_h=32, zone_w=32)
    zb = zonal_stats(tiles, nodata=-1.0, zone_h=32, zone_w=32)
    have_z = {(r.band, r.zy, r.zx): (r.n_valid, round(r.mean, 9)) for r in zc.collect()}
    want_z = {(r.band, r.zy, r.zx): (r.n_valid, round(r.mean, 9)) for r in zb.collect()}
    assert have_z == want_z


def test_stream_load_tiles_pins_grid_across_restarts(spark, tmp_path):
    """Round-4 advice (ingest.py): the checkpoint pins source progress but
    not the sink grid, so the sink persists its grid on first run and a
    restart with different geobox/chunks must fail loudly instead of
    appending tiles on an incompatible grid."""
    import pytest as _pytest

    from odc_stac_spark.model import GeoBox
    from odc_stac_spark.streaming import stream_load_tiles

    in_dir = tmp_path / "feed"
    in_dir.mkdir()
    out = str(tmp_path / "cube")
    ckpt = str(tmp_path / "ckpt")
    gbox = GeoBox((160, 180), (10.0, 0.0, 0.0, 0.0, -10.0, 1200.0), "EPSG:32735")

    q = stream_load_tiles(
        spark, str(in_dir), out, ckpt, geobox=gbox, chunks=(64, 64), groupby="time"
    )
    _await_stream(q, 240)
    assert os.path.exists(os.path.join(out, "_grid.json"))

    # same grid: restart is fine
    q = stream_load_tiles(
        spark, str(in_dir), out, ckpt, geobox=gbox, chunks=(64, 64), groupby="time"
    )
    _await_stream(q, 240)

    # different chunking: refused before the stream starts
    with _pytest.raises(ValueError, match="different grid"):
        stream_load_tiles(
            spark, str(in_dir), out, ckpt, geobox=gbox, chunks=(32, 32), groupby="time"
        )

    # different geobox: refused
    gbox2 = GeoBox((160, 180), (20.0, 0.0, 0.0, 0.0, -20.0, 1200.0), "EPSG:32735")
    with _pytest.raises(ValueError, match="different grid"):
        stream_load_tiles(
            spark, str(in_dir), out, ckpt, geobox=gbox2, chunks=(64, 64), groupby="time"
        )


def _raw_stac_doc_crs(idx, origin, ts, epsg, res, shape=(100, 150), nodata=-1.0):
    """Raw STAC item with an explicit CRS/resolution — for the cross-CRS
    scene-mix ingestion test."""
    return {
        "id": f"xcrs-{idx:03d}",
        "collection": "live-col",
        "stac_extensions": [
            "https://stac-extensions.github.io/projection/v1.1.0/schema.json"
        ],
        "properties": {"datetime": ts.isoformat() + "Z"},
        "assets": {
            "red": {
                "href": f"synth://xcrs{idx}?seed={idx}&nodata_every=5",
                "type": "image/tiff; application=geotiff; profile=cloud-optimized",
                "roles": ["data"],
                "gsd": float(abs(res)),
                "proj:shape": list(shape),
                "proj:transform": [res, 0.0, origin[0], 0.0, -res, origin[1]],
                "proj:epsg": epsg,
                "raster:bands": [
                    {"data_type": "int16", "nodata": nodata, "unit": "1"}
                ],
            }
        },
    }


def test_stream_load_tiles_cross_crs_equals_batch(spark, tmp_path):
    """VERDICT r7 #10: the one load-path combination the streaming tests
    didn't cover — a CROSS-CRS scene mix (UTM 35S sources warped into a
    WGS84 output grid alongside native-4326 sources) ingested in two
    arrival batches must be byte-identical to the one-shot batch load."""
    import json

    from odc_stac_spark.model import GeoBox, RasterLoadParams
    from odc_stac_spark.plans.catalog import load_from_catalog
    from odc_stac_spark.sources.stac_items import parse_items, stac_json_to_items
    from odc_stac_spark.streaming import stream_load_tiles

    t0 = datetime(2020, 6, 6, 8, 30)
    docs = [
        # two UTM 35S scenes (the reference bench-site neighborhood) →
        # Krüger-series warp into the geographic output
        _raw_stac_doc_crs(0, (400000.0, 8350000.0), t0, 32735, 100.0),
        _raw_stac_doc_crs(1, (400000.0, 8345000.0), t0 + timedelta(hours=1), 32735, 100.0),
        # two native-4326 scenes on the output's own grid (paste path)
        _raw_stac_doc_crs(2, (26.06, -14.92), t0 + timedelta(hours=2), 4326, 0.001),
        _raw_stac_doc_crs(3, (26.10, -14.96), t0 + timedelta(hours=3), 4326, 0.001),
    ]
    gbox = GeoBox((220, 160), (0.001, 0.0, 26.06, 0.0, -0.001, -14.92), "EPSG:4326")
    cfg = {
        "*": RasterLoadParams(
            dtype="float64", fill_value=float("nan"), resampling="bilinear"
        )
    }

    in_dir = tmp_path / "feed"
    in_dir.mkdir()
    out = str(tmp_path / "cube")
    ckpt = str(tmp_path / "ckpt")

    def run_available_now():
        q = stream_load_tiles(
            spark, str(in_dir), out, ckpt, geobox=gbox, chunks=(64, 64),
            groupby="time", cfg=cfg,
        )
        _await_stream(q, 240)

    (in_dir / "b1.ndjson").write_text("\n".join(json.dumps(d) for d in docs[:2]))
    run_available_now()
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    (in_dir / "b2.ndjson").write_text("\n".join(json.dumps(d) for d in docs[2:]))
    run_available_now()
    got = spark.read.parquet(out)

    raw = spark.createDataFrame([(json.dumps(d),) for d in docs], ["value"])
    parsed = parse_items(spark, stac_json_to_items(raw))
    tiles, plan = load_from_catalog(
        spark, parsed, groupby="time", geobox=gbox, chunks=(64, 64), cfg=cfg
    )
    ts_map = {t: pd.Timestamp(ts) for t, ts in enumerate(plan.group_ts)}

    def key_rows(df, tmap=None):
        rows = {}
        for r in df.collect():
            t = pd.Timestamp(r.time) if tmap is None else tmap[r.t]
            rows[(r.band, t, r.iy, r.ix)] = (r.height, r.width, bytes(r.data))
        return rows

    want = key_rows(tiles, ts_map)
    have = key_rows(got)
    assert set(have) == set(want)
    assert have == want  # byte-identical cube, warp path included
