"""Pixel-level tests for the load pipeline (reference test strategy
SURVEY §5.4-5.5: known synthetic rasters, assert_array_equal through the
full reader + mosaic).

The oracle here reads every source against the WHOLE output grid (no
tiling) and fuses with first-valid precedence in pure numpy — so the
pipeline's tile windowing, stitching, ordering and dtype/nodata handling
are all independently exercised.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pytest

from odc_stac_spark.model import (
    GeoBox,
    RasterBandMetadata,
    RasterLoadParams,
    RasterSource,
    nodata_mask,
    resolve_dst_dtype,
    resolve_dst_nodata,
    resolve_src_nodata,
)
from odc_stac_spark.operators.mosaic import empty_fill
from odc_stac_spark.plans.load import Item, assemble_numpy, load, plan_load
from odc_stac_spark.sources.synth import SynthReader

CRS = "EPSG:32735"
T0 = datetime(2020, 6, 6, 8, 30)


def mk_item(
    idx: int,
    origin=(0.0, 1000.0),
    shape=(100, 120),
    res=10.0,
    seed=None,
    nodata=None,
    dtype="int32",
    nodata_every=0,
    band="red",
    ts=None,
    lon=None,
) -> Item:
    seed = idx if seed is None else seed
    uri = f"synth://item{idx}?seed={seed}&nodata_every={nodata_every}"
    gbox = GeoBox(shape, (res, 0.0, origin[0], 0.0, -res, origin[1]), CRS)
    return Item(
        id=f"item-{idx:03d}",
        datetime=ts or (T0 + timedelta(hours=idx)),
        bands={band: RasterSource(uri, geobox=gbox, meta=RasterBandMetadata(dtype, nodata))},
        lon=lon,
    )


def oracle_load(items, plan, groupby="id", preserve_original_order=False):
    """Whole-grid numpy reference: read each source once against the full
    output geobox, fuse first-valid in group order."""
    from odc_stac_spark.plans.load import _group_key

    key_to_t = {k: t for t, k in enumerate(plan.group_keys)}
    nt = len(plan.group_keys)
    out = {}
    for band in plan.bands:
        c = plan.cfg[band]
        # group members in precedence order
        members = {t: [] for t in range(nt)}
        for idx, it in enumerate(items):
            if band not in it.bands:
                continue
            t = key_to_t[_group_key(it, groupby, idx)]
            members[t].append(idx)
        for t in members:
            members[t].sort(
                key=lambda i: i
                if preserve_original_order
                else (items[i].datetime, items[i].id)
            )
        sample = next(
            it.bands[band] for it in items if band in it.bands
        )
        src_nodata = resolve_src_nodata(sample.meta.nodata, c)
        dst_dtype = resolve_dst_dtype(sample.meta.data_type, c)
        dst_nodata = resolve_dst_nodata(dst_dtype, c, src_nodata)
        arr = np.full(
            (nt, *plan.gbox.shape), empty_fill(dst_dtype, dst_nodata), dtype=dst_dtype
        )
        for t, idxs in members.items():
            written = np.zeros(plan.gbox.shape, dtype=bool)
            for i in idxs:
                src = items[i].bands[band]
                rr = SynthReader().read(src, c, plan.gbox)
                if rr is None:
                    continue
                ys = slice(rr.roi_y[0], rr.roi_y[1])
                xs = slice(rr.roi_x[0], rr.roi_x[1])
                window = arr[t, ys, xs]
                if dst_nodata is None:
                    missing = ~written[ys, xs]
                    written[ys, xs] = True
                else:
                    missing = nodata_mask(window, dst_nodata)
                np.copyto(window, rr.pix, where=missing)
        out[band] = arr
    return out


def run_both(spark, items, **kw):
    plan = plan_load(items, **kw)
    tiles_df, _ = load(
        spark,
        items,
        plan=plan,
        preserve_original_order=kw.get("preserve_original_order", False),
        groupby=kw.get("groupby", "id"),
    )
    got = assemble_numpy(tiles_df, plan)
    want = oracle_load(
        items,
        plan,
        groupby=kw.get("groupby", "id"),
        preserve_original_order=kw.get("preserve_original_order", False),
    )
    return got, want, plan


def assert_same(got, want):
    assert set(got) == set(want)
    for b in got:
        np.testing.assert_array_equal(got[b], want[b])


def test_single_item_whole_grid(spark):
    items = [mk_item(0)]
    got, want, plan = run_both(spark, items, chunks=(32, 32))
    assert_same(got, want)
    # and the values are the deterministic synth function, full coverage
    assert got["red"].shape == (1, 100, 120)
    expect = SynthReader.gen_window("synth://item0?seed=0&nodata_every=0", None, "int32", 0, 100, 0, 120)
    np.testing.assert_array_equal(got["red"][0], expect)


def test_mosaic_first_valid_precedence(spark):
    # two overlapping items with nodata holes; later item fills holes only
    items = [
        mk_item(0, nodata=-1, nodata_every=3),
        mk_item(1, origin=(300.0, 1000.0), nodata=-1, nodata_every=4),
    ]
    got, want, plan = run_both(spark, items, groupby="solar_day", chunks=(48, 48))
    assert_same(got, want)
    assert got["red"].shape[0] == 1  # same solar day → one group
    # hole-filling actually happened: fewer nodata px than item0 alone
    solo = oracle_load([items[0]], plan_load([items[0]], geobox=plan.gbox), "id")["red"]
    assert (got["red"] == -1).sum() < (solo == -1).sum()


def test_preserve_original_order_flips_precedence(spark):
    # same footprint, later timestamp listed first
    a = mk_item(0, ts=T0 + timedelta(hours=2))
    b = mk_item(1, ts=T0)
    items = [a, b]
    got_t, want_t, plan = run_both(spark, items, groupby="solar_day", chunks=(64, 64))
    assert_same(got_t, want_t)
    got_o, want_o, _ = run_both(
        spark, items, groupby="solar_day", chunks=(64, 64), preserve_original_order=True
    )
    assert_same(got_o, want_o)
    # (time,id) order puts b first; original order puts a first → differ
    assert (got_t["red"] != got_o["red"]).any()


def test_dtype_cast_nodata_remap_to_nan(spark):
    # int16 src with nodata -1 → float32 dst with NaN (F6/F17)
    items = [mk_item(0, dtype="int16", nodata=-1, nodata_every=5)]
    cfg = {"red": RasterLoadParams(dtype="float32")}
    got, want, plan = run_both(spark, items, cfg=cfg, chunks=(40, 40))
    assert_same(got, want)
    assert got["red"].dtype == np.float32
    assert np.isnan(got["red"]).any()


def test_fill_value_override(spark):
    # no-nodata int src + fill_value=-99 (reference loader/test_reader.py:100-125)
    items = [mk_item(0, shape=(50, 60), origin=(200.0, 800.0))]
    cfg = {"red": RasterLoadParams(fill_value=-99)}
    gbox = GeoBox.from_bbox((0.0, 0.0, 1200.0, 1000.0), 10.0, CRS)
    plan = plan_load(items, geobox=gbox, cfg=cfg, chunks=(64, 64))
    tiles_df, _ = load(spark, items, plan=plan)
    got = assemble_numpy(tiles_df, plan)
    want = oracle_load(items, plan)
    assert_same(got, want)
    assert (got["red"] == -99).any()  # uncovered area got the fill
    assert (got["red"] != -99).any()


def test_shrink_overview_read(spark):
    # dst 2× coarser than src → decimated read
    items = [mk_item(0, res=10.0)]
    gbox = GeoBox.from_bbox((0.0, 0.0, 1200.0, 1000.0), 20.0, CRS)
    plan = plan_load(items, geobox=gbox, chunks=(32, 32))
    tiles_df, _ = load(spark, items, plan=plan)
    got = assemble_numpy(tiles_df, plan)
    want = oracle_load(items, plan)
    assert_same(got, want)


def test_multiband_and_missing_band_tolerance(spark):
    # item1 lacks 'nir' — P2 missing-band tolerance
    i0 = mk_item(0)
    i0.bands["nir"] = RasterSource(
        "synth://nir0?seed=7&nodata_every=0",
        geobox=i0.bands["red"].geobox,
        meta=RasterBandMetadata("uint16", None),
    )
    i1 = mk_item(1, origin=(600.0, 1000.0))
    items = [i0, i1]
    got, want, plan = run_both(spark, items, groupby="solar_day", chunks=(48, 48))
    assert_same(got, want)
    assert set(got) == {"red", "nir"}


def test_fail_on_error_false_skips_bad_source(spark):
    good = mk_item(0)
    bad = mk_item(1)
    bad.bands["red"] = RasterSource(  # non-synth scheme → RioReader raises
        "s3://nope/missing.tif",
        geobox=good.bands["red"].geobox,
        meta=RasterBandMetadata("int32", None),
    )
    cfg = {"red": RasterLoadParams(fail_on_error=False)}
    plan = plan_load([good, bad], cfg=cfg, chunks=(64, 64))
    tiles_df, _ = load(spark, [good, bad], plan=plan, groupby="id")
    got = assemble_numpy(tiles_df, plan)
    # group 1 (bad item alone) is all fill; group 0 matches the good read
    want0 = oracle_load([good], plan_load([good], geobox=plan.gbox, cfg=cfg))["red"][0]
    np.testing.assert_array_equal(got["red"][0], want0)


def test_groupby_solar_day_splits_on_offset(spark):
    # same UTC instant, longitudes 15° apart → different solar days when
    # the hour offset crosses midnight (reference tests/test_load.py:154-195)
    ts = datetime(2020, 6, 6, 23, 30)
    a = mk_item(0, ts=ts, lon=0.0)
    b = mk_item(1, ts=ts, lon=16.0, origin=(600.0, 1000.0))
    plan = plan_load([a, b], groupby="solar_day", chunks=(64, 64))
    assert len(plan.group_keys) == 2


def test_tiles_df_is_lazy_and_partitioned(spark):
    items = [mk_item(0)]
    tiles_df, plan = load(spark, items, chunks=(32, 32))
    # lazy: no job ran yet; schema is stable
    assert "data" in tiles_df.columns
    n_tiles = tiles_df.count()
    nty, ntx = plan.tiles.chunk_counts
    assert n_tiles == nty * ntx


def test_geobox_conflicts_raise(spark):
    items = [mk_item(0)]
    gbox = GeoBox.from_bbox((0, 0, 1200, 1000), 10.0, CRS)
    with pytest.raises(ValueError, match="mutually exclusive"):
        plan_load(items, geobox=gbox, resolution=20.0)
    with pytest.raises(ValueError, match="mutually exclusive"):
        plan_load(items, geobox=gbox, bbox=(0, 0, 10, 10))
    with pytest.raises(ValueError, match="unknown bands"):
        plan_load(items, bands=["nope"])


def test_assemble_dataset_coords(spark):
    from odc_stac_spark.plans.load import assemble_dataset

    items = [mk_item(0, nodata=-1)]
    plan = plan_load(items, chunks=(32, 32))
    tiles_df, _ = load(spark, items, plan=plan)
    ds = assemble_dataset(tiles_df, plan)
    assert set(ds.bands) == {"red"}
    assert len(ds.time) == 1 and ds.time[0] == items[0].datetime
    assert ds.crs == CRS
    # pixel-center coords: first x = x0 + res/2, first y = y0 - res/2
    assert ds.x[0] == 5.0 and ds.x[1] - ds.x[0] == 10.0
    assert ds.y[0] == 995.0 and ds.y[1] - ds.y[0] == -10.0
    assert ds.bands["red"].shape == (1, 100, 120)
    with pytest.raises(NotImplementedError, match="xarray"):
        ds.to_xarray()


def test_explicit_plan_carries_groupby(spark):
    """A plan built with groupby='solar_day' passed to load() WITHOUT
    repeating groupby must still key rows by solar day (regression: the
    old code silently re-keyed by 'id' and crashed or mis-binned)."""
    items = [mk_item(0, nodata=-1, nodata_every=3), mk_item(1, origin=(300.0, 1000.0), nodata=-1)]
    plan = plan_load(items, groupby="solar_day", chunks=(48, 48))
    assert plan.groupby == "solar_day"
    tiles_df, plan_out = load(spark, items, plan=plan)  # no groupby kwarg
    got = assemble_numpy(tiles_df, plan_out)
    want = oracle_load(items, plan, groupby="solar_day")
    assert_same(got, want)


def _source_rows(items):
    """``load_from_sources`` input rows for the red band of ``items``."""
    import pandas as pd

    rows = []
    for idx, it in enumerate(items):
        src = it.bands["red"]
        g = src.geobox
        rows.append(
            {
                "item_idx": idx, "item_id": it.id, "ts": pd.Timestamp(it.datetime),
                "t": 0, "band": "red", "uri": src.uri, "src_band": 1,
                "g_ny": g.shape[0], "g_nx": g.shape[1], "g_sx": g.transform[0],
                "g_x0": g.transform[2], "g_sy": g.transform[4], "g_y0": g.transform[5],
                "g_crs": g.crs, "dtype": src.meta.data_type, "nodata": src.meta.nodata,
            }
        )
    return pd.DataFrame(rows)


def test_load_from_sources_dataframe_path(spark):
    """The 100 TB ingestion path: sources arrive as a DataFrame (never a
    driver list) and produce identical pixels."""
    from odc_stac_spark.plans.load import load_from_sources

    items = [mk_item(0, nodata=-1, nodata_every=3), mk_item(1, origin=(300.0, 1000.0), nodata=-1)]
    plan = plan_load(items, groupby="solar_day", chunks=(48, 48))
    sources_df = spark.createDataFrame(_source_rows(items))
    got = assemble_numpy(load_from_sources(sources_df, plan), plan)
    want = oracle_load(items, plan, groupby="solar_day")
    assert_same(got, want)


def test_load_from_sources_ties_break_on_source_fields(spark):
    """Two sources tied on (ts, item_id) — one item id listed with two
    assets — keep one precedence whatever order their rows arrive in:
    the tie breaks on the source fields that follow (uri first), so the
    lower uri wins, as in a list load that lists it first."""
    from odc_stac_spark.plans.load import load_from_sources

    a = mk_item(0, nodata=-1, nodata_every=3, ts=T0)
    b = mk_item(1, origin=(100.0, 950.0), nodata=-1, nodata_every=5, ts=T0)
    b.id = a.id
    assert a.bands["red"].uri < b.bands["red"].uri
    plan = plan_load([a, b], groupby="time", chunks=(48, 48))
    rows = _source_rows([a, b])
    want = oracle_load([a, b], plan, groupby="time")
    for order in (rows, rows[::-1]):
        sources_df = spark.createDataFrame(order).repartition(2)
        assert_same(assemble_numpy(load_from_sources(sources_df, plan), plan), want)
    assert_same(assemble_numpy(load(spark, [a, b], plan=plan)[0], plan), want)


def test_list_load_plan_has_no_exchange(spark):
    """The list path bins on the driver: its tile plan is one
    ``MapInPandas`` over a JVM ``LocalTableScan`` of the task table, with
    no shuffle — also in a session that does not convert pandas frames
    through Arrow (an int nodata then still fills a double field)."""
    items = [mk_item(0, nodata=-1), mk_item(1, origin=(300.0, 1000.0), nodata=-1)]
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        tiles_df, plan = load(spark, items, groupby="time", chunks=(48, 48))
        text = tiles_df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in text and "LocalTableScan" in text, text
        assert "Exchange" not in text and "ExistingRDD" not in text, text
        assert_same(assemble_numpy(tiles_df, plan), oracle_load(items, plan, groupby="time"))
    finally:
        spark.conf.set(key, before)


def test_subdataset_sources_through_pipeline(spark):
    """netcdf/hdf5-style subdataset addressing (RasterSource.subdataset,
    reference loader/types.py:52-53): two bands sharing one container URI
    but naming different variables load distinct value fields; pixels
    match gen_window on the subdataset-adjusted seed."""
    import zlib

    gbox = GeoBox((60, 80), (10.0, 0.0, 0.0, 0.0, -10.0, 600.0), CRS)
    uri = "synth://container?seed=40"
    item = Item(
        id="nc-000",
        datetime=T0,
        bands={
            "temp": RasterSource(
                uri, subdataset="temp", geobox=gbox,
                meta=RasterBandMetadata("int32", None),
            ),
            "salt": RasterSource(
                uri, subdataset="salt", geobox=gbox,
                meta=RasterBandMetadata("int32", None),
            ),
        },
    )
    tiles_df, plan = load(spark, [item], chunks=(32, 32))
    got = assemble_numpy(tiles_df, plan)
    want = {}
    for var in ("temp", "salt"):
        seed = 40 + zlib.crc32(var.encode()) % 997
        want[var] = SynthReader.gen_window(
            f"synth://container?seed={seed}", None, "int32", 0, 60, 0, 80
        )
    np.testing.assert_array_equal(got["temp"][0], want["temp"])
    np.testing.assert_array_equal(got["salt"][0], want["salt"])
    assert (got["temp"][0] != got["salt"][0]).any()


def test_subdataset_on_tiff_raises(spark):
    """GeoTIFF has no subdataset concept — a source carrying one must
    fail loudly, not read the wrong data."""
    from odc_stac_spark.sources.synth import TiffReader

    gbox = GeoBox((10, 10), (10.0, 0.0, 0.0, 0.0, -10.0, 100.0), CRS)
    src = RasterSource(
        "file:///tmp/x.tif", subdataset="v", geobox=gbox,
        meta=RasterBandMetadata("uint8", None),
    )
    with pytest.raises(NotImplementedError, match="no subdatasets"):
        TiffReader().read(src, RasterLoadParams(), gbox)


def test_netcdf_reader_dispatch():
    from odc_stac_spark.sources.netcdf import NcReader
    from odc_stac_spark.sources.synth import reader_for

    # classic .nc AND HDF5 containers → the native NcReader (the header
    # parse sniffs the magic and routes netCDF-4 to sources/hdf5.py)
    assert isinstance(reader_for("s3://b/x.nc"), NcReader)
    assert isinstance(reader_for("file:///d/scene.nc#red"), NcReader)
    assert isinstance(reader_for("file:///d/y.h5?foo=1"), NcReader)
    assert isinstance(reader_for("s3://b/z.hdf5"), NcReader)


def test_solar_day_default_lon_from_grid_centroid(spark):
    """Items without their own lon group by the OUTPUT grid centroid's
    longitude (reference _stac_load.py:403-408), not lon=0: a UTM 35S
    grid centered near 27E is UTC+1, so a 23:30 UTC scene rolls into the
    next solar day."""
    from odc_stac_spark.plans.load import plan_load

    ts = datetime(2020, 6, 6, 23, 30)
    items = [mk_item(0, ts=ts), mk_item(1, ts=ts + timedelta(minutes=5))]
    # grid origin near x=500000 (UTM central meridian, lon=27E) → offset
    # int(27/15)=1 hour → 2020-06-07
    for it in items:
        for b, s in it.bands.items():
            pass
    plan = plan_load(
        items,
        geobox=GeoBox((100, 100), (10.0, 0.0, 499000.0, 0.0, -10.0, 8350000.0), CRS),
        groupby="solar_day",
    )
    import datetime as _dt

    assert plan.group_keys == [_dt.date(2020, 6, 7)]
    # per-item lon still wins
    items2 = [mk_item(0, ts=ts, lon=0.0)]
    plan2 = plan_load(
        items2,
        geobox=GeoBox((100, 100), (10.0, 0.0, 499000.0, 0.0, -10.0, 8350000.0), CRS),
        groupby="solar_day",
    )
    assert plan2.group_keys == [_dt.date(2020, 6, 6)]


def test_load_patch_url_kwarg(spark):
    """load(patch_url=...) rewrites source URIs before planning
    (reference _stac_load.py:398-399); a rewrite to an equivalent synth
    URI with a different seed changes the pixels."""
    from odc_stac_spark.plans.load import load as _load

    items = [mk_item(0, seed=1)]
    tiles, plan = _load(spark, items, chunks=(64, 64))
    base = assemble_numpy(tiles, plan)["red"]
    tiles2, plan2 = _load(
        spark,
        [mk_item(0, seed=1)],
        chunks=(64, 64),
        patch_url=lambda u: u.replace("seed=1", "seed=2"),
    )
    got = assemble_numpy(tiles2, plan2)["red"]
    assert (got != base).any()
    # inputs were not mutated
    assert "seed=1" in items[0].bands["red"].uri


def test_load_resampling_dtype_kwargs(spark):
    """Reference load() convenience kwargs: resampling=/dtype= as plain
    values or per-band dicts with '*' wildcard fold into per-band
    RasterLoadParams."""
    from odc_stac_spark.plans.load import plan_load

    items = [mk_item(0, band="red"), mk_item(1, band="nir")]
    p = plan_load(items, resampling="bilinear", dtype="float64")
    assert all(c.resampling == "bilinear" for c in p.cfg.values())
    assert all(c.dtype == "float64" for c in p.cfg.values())
    p2 = plan_load(
        items,
        resampling={"red": "cubic", "*": "average"},
        dtype={"nir": "int16"},
    )
    assert p2.cfg["red"].resampling == "cubic"
    assert p2.cfg["nir"].resampling == "average"
    assert p2.cfg["nir"].dtype == "int16"
    assert p2.cfg["red"].dtype == "int32"  # untouched → band metadata
