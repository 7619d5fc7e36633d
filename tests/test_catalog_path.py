"""The 100 TB ingestion path end-to-end: STAC catalog at rest (parquet)
→ parse_items (DataFrame transform) → plan_load_df (distributed planning
aggregations, only elections collected) → sources_from_parsed (broadcast
key-map join) → load_from_sources (tile pipeline). Pixels must equal the
driver-list path on the same logical items."""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pytest

from odc_stac_spark.model import GeoBox, RasterBandMetadata, RasterSource
from odc_stac_spark.plans.catalog import (
    load_from_catalog,
    plan_load_df,
    sources_from_parsed,
)
from odc_stac_spark.functions.geom import Polygon
from odc_stac_spark.plans.load import Item, assemble_numpy, load, plan_load
from odc_stac_spark.sources.stac_items import items_df, parse_items, to_load_items

COG = "image/tiff; application=geotiff; profile=cloud-optimized"
T0 = datetime(2020, 6, 6, 8, 30)
EPSG = 32735


def synth_asset(name, seed, origin, shape=(100, 120), res=10.0, dtype="int32", nodata=-1.0):
    return {
        "href": f"synth://{name}{seed}?seed={seed}&nodata_every=4",
        "type": COG,
        "roles": ["data"],
        "gsd": res,
        "proj_shape": list(shape),
        "proj_transform": [res, 0.0, origin[0], 0.0, -res, origin[1]],
        "proj_epsg": EPSG,
        "eo_bands": [{"name": name, "common_name": None}],
        "raster_bands": [{"data_type": dtype, "nodata": nodata, "unit": "1"}],
    }


def catalog_item(idx, origin, ts=None):
    return {
        "id": f"cat-{idx:03d}",
        "collection": "synth-col",
        "odc_product": None,
        "datetime": ts or (T0 + timedelta(hours=idx)),
        "start_datetime": None,
        "end_datetime": None,
        "href": None,
        "bbox": None,
        "assets": {
            "red": synth_asset("red", idx, origin),
            "nir": synth_asset("nir", 100 + idx, origin),
        },
        "properties": {},
    }


def equivalent_items(n, origins):
    out = []
    for i, origin in enumerate(origins):
        gbox = GeoBox((100, 120), (10.0, 0.0, origin[0], 0.0, -10.0, origin[1]), f"EPSG:{EPSG}")
        out.append(
            Item(
                id=f"cat-{i:03d}",
                datetime=T0 + timedelta(hours=i),
                bands={
                    "red": RasterSource(
                        f"synth://red{i}?seed={i}&nodata_every=4",
                        geobox=gbox,
                        meta=RasterBandMetadata("int32", -1.0),
                    ),
                    "nir": RasterSource(
                        f"synth://nir{100 + i}?seed={100 + i}&nodata_every=4",
                        geobox=gbox,
                        meta=RasterBandMetadata("int32", -1.0),
                    ),
                },
            )
        )
    return out


@pytest.fixture()
def parsed_catalog(spark, tmp_path):
    origins = [(0.0, 1000.0), (400.0, 800.0), (200.0, 1200.0)]
    raw = items_df(spark, [catalog_item(i, o) for i, o in enumerate(origins)])
    # catalog at rest: parquet roundtrip (STAC-geoparquet analog)
    path = str(tmp_path / "catalog.parquet")
    raw.write.parquet(path)
    return parse_items(spark, spark.read.parquet(path)), origins


def test_plan_from_catalog_matches_list_plan(spark, parsed_catalog):
    parsed, origins = parsed_catalog
    plan = plan_load_df(spark, parsed, groupby="time", chunks=(48, 48))
    assert plan.bands == ["nir", "red"]
    assert plan.gbox.crs == f"EPSG:{EPSG}"
    assert plan.gbox.resolution == (10.0, -10.0)
    # bbox union of the three offset grids: x [0, 1600], y [-200, 1200]
    assert plan.gbox.bbox() == (0.0, -200.0, 1600.0, 1200.0)
    assert len(plan.group_keys) == 3  # one group per distinct timestamp
    assert plan.group_ts == [T0 + timedelta(hours=i) for i in range(3)]


def test_catalog_pixels_equal_list_path(spark, parsed_catalog):
    parsed, origins = parsed_catalog
    tiles_df, plan = load_from_catalog(spark, parsed, groupby="time", chunks=(64, 64))
    got = assemble_numpy(tiles_df, plan)

    items = equivalent_items(3, origins)
    tiles2, plan2 = load(spark, items, groupby="time", chunks=(64, 64))
    want = assemble_numpy(tiles2, plan2)

    assert plan.gbox == plan2.gbox
    assert set(got) == set(want) == {"red", "nir"}
    for b in got:
        np.testing.assert_array_equal(got[b], want[b])


def test_groupby_property_catalog_equals_list_path(spark, tmp_path):
    """groupby=<property name> (reference _groupby_property,
    _stac_load.py:515-535): both paths key off the raw STAC properties
    map and must produce identical pixels; items missing the property
    share one group."""
    origins = [(0.0, 1000.0), (400.0, 800.0), (200.0, 1200.0)]
    docs = [catalog_item(i, o) for i, o in enumerate(origins)]
    docs[0]["properties"] = {"platform": "sat-b"}
    docs[1]["properties"] = {"platform": "sat-a"}
    docs[2]["properties"] = {}  # missing → None group
    raw = items_df(spark, docs)
    path = str(tmp_path / "cat.parquet")
    raw.write.parquet(path)
    parsed = parse_items(spark, spark.read.parquet(path))

    tiles_df, plan = load_from_catalog(spark, parsed, groupby="platform", chunks=(64, 64))
    # NULL key sorts first (Spark default) = list path's type-name sort
    assert plan.group_keys == [None, "sat-a", "sat-b"]
    got = assemble_numpy(tiles_df, plan)

    items = equivalent_items(3, origins)
    items[0].props = {"platform": "sat-b"}
    items[1].props = {"platform": "sat-a"}
    tiles2, plan2 = load(spark, items, groupby="platform", chunks=(64, 64))
    assert plan2.group_keys == plan.group_keys
    want = assemble_numpy(tiles2, plan2)
    for b in got:
        np.testing.assert_array_equal(got[b], want[b])


def test_solar_day_rejects_projected_catalog(spark, parsed_catalog):
    """solar_day needs geographic coords for the longitude offset — a UTM
    catalog must fail loudly, not bin by meters/15 'hours'."""
    parsed, _ = parsed_catalog  # grids are EPSG:32735
    with pytest.raises(ValueError, match="EPSG:4326"):
        plan_load_df(spark, parsed, groupby="solar_day")


def _utm_asset(name, seed, origin, shape=(100, 150), res=100.0):
    a = synth_asset(name, seed, origin, shape=shape, res=res)
    a["proj_transform"] = [res, 0.0, origin[0], 0.0, -res, origin[1]]
    return a


def _cross_crs_catalog(spark, tmp_path):
    """A catalog mixing two UTM grids and one WGS84 grid over the same
    area, and the equivalent list-path items."""
    utm_origins = [(400000.0, 8350000.0), (405000.0, 8348000.0)]
    docs = []
    items = []
    for i, o in enumerate(utm_origins):
        d = catalog_item(i, o)
        d["assets"] = {"red": _utm_asset("red", i, o)}
        docs.append(d)
        gb = GeoBox((100, 150), (100.0, 0.0, o[0], 0.0, -100.0, o[1]), f"EPSG:{EPSG}")
        items.append(
            Item(
                id=f"cat-{i:03d}",
                datetime=T0 + timedelta(hours=i),
                bands={
                    "red": RasterSource(
                        f"synth://red{i}?seed={i}&nodata_every=4",
                        geobox=gb,
                        meta=RasterBandMetadata("int32", -1.0),
                    )
                },
            )
        )
    # WGS84 item overlapping the same area (~26.1E..26.25E, 15.05S..14.95S)
    g = catalog_item(2, (26.1, -14.95))
    a = synth_asset("red", 2, (26.1, -14.95), shape=(100, 150), res=0.001)
    a["proj_transform"] = [0.001, 0.0, 26.1, 0.0, -0.001, -14.95]
    a["proj_epsg"] = 4326
    a["gsd"] = 0.001
    g["assets"] = {"red": a}
    docs.append(g)
    geo_gb = GeoBox((100, 150), (0.001, 0.0, 26.1, 0.0, -0.001, -14.95), "EPSG:4326")
    items.append(
        Item(
            id="cat-002",
            datetime=T0 + timedelta(hours=2),
            bands={
                "red": RasterSource(
                    "synth://red2?seed=2&nodata_every=4",
                    geobox=geo_gb,
                    meta=RasterBandMetadata("int32", -1.0),
                )
            },
        )
    )
    raw = items_df(spark, docs)
    path = str(tmp_path / "xcrs.parquet")
    raw.write.parquet(path)
    return parse_items(spark, spark.read.parquet(path)), items


def test_cross_crs_catalog_equals_list_path(spark, tmp_path):
    """A catalog mixing UTM and WGS84 grids: the majority CRS is elected,
    foreign sources contribute reprojected footprints to the bbox union
    and bin onto the right tiles (densified-boundary transform per
    DISTINCT grid, broadcast back) — pixels equal the list path, which
    reprojects footprints driver-side. A caller-supplied plan gets the
    same reprojected footprints."""
    parsed, items = _cross_crs_catalog(spark, tmp_path)
    tiles_df, plan = load_from_catalog(spark, parsed, groupby="time", chunks=(64, 64))
    assert plan.gbox.crs == f"EPSG:{EPSG}"  # majority vote: 2 UTM vs 1 geo
    got = assemble_numpy(tiles_df, plan)

    tiles2, plan2 = load(spark, items, groupby="time", chunks=(64, 64))
    assert plan.gbox == plan2.gbox
    want = assemble_numpy(tiles2, plan2)
    np.testing.assert_array_equal(got["red"], want["red"])
    # the foreign item actually contributed pixels (t=2 slice not all nodata)
    assert (got["red"][2] != -1).any()

    tiles3, _ = load_from_catalog(spark, parsed, groupby="time", plan=plan)
    np.testing.assert_array_equal(assemble_numpy(tiles3, plan)["red"], got["red"])


def test_preserve_original_order_catalog(spark, tmp_path):
    """preserve_original_order on the catalog path: mosaic precedence
    follows the item_idx input-order column, matching the list path; a
    catalog without item_idx refuses loudly."""
    origins = [(0.0, 1000.0), (40.0, 980.0), (20.0, 990.0)]
    # identical timestamps → (ts, id) precedence can't distinguish;
    # reversed input order must flip the winner
    docs = [catalog_item(i, o, ts=T0) for i, o in enumerate(origins)]
    docs = docs[::-1]
    raw = items_df(spark, docs, with_idx=True)
    path = str(tmp_path / "ord.parquet")
    raw.write.parquet(path)
    parsed = parse_items(spark, spark.read.parquet(path))
    tiles_df, plan = load_from_catalog(
        spark, parsed, groupby="time", chunks=(64, 64), preserve_original_order=True
    )
    got = assemble_numpy(tiles_df, plan)

    items = equivalent_items(3, origins)
    for it in items:
        it.datetime = T0
    items = items[::-1]
    tiles2, plan2 = load(
        spark, items, groupby="time", chunks=(64, 64), preserve_original_order=True
    )
    want = assemble_numpy(tiles2, plan2)
    for b in got:
        np.testing.assert_array_equal(got[b], want[b])

    plain = parse_items(spark, items_df(spark, docs))
    with pytest.raises(ValueError, match="item_idx"):
        load_from_catalog(
            spark, plain, groupby="time", chunks=(64, 64), preserve_original_order=True
        )


def test_sources_frame_never_collects_items(spark, parsed_catalog):
    """The bridge output is a plain DataFrame with the load_from_sources
    contract columns — no driver materialization of the item table."""
    parsed, _ = parsed_catalog
    plan = plan_load_df(spark, parsed, groupby="time", chunks=(64, 64))
    src = sources_from_parsed(spark, parsed, plan, groupby="time")
    expect = {
        "item_idx", "item_id", "ts", "t", "band", "uri", "src_band",
        "g_ny", "g_nx", "g_sx", "g_x0", "g_sy", "g_y0", "g_crs",
        "dtype", "nodata", "fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax",
    }
    assert set(src.columns) == expect
    # 3 items x 2 bands
    assert src.count() == 6
    # group indices cover all 3 time groups
    assert {r.t for r in src.select("t").distinct().collect()} == {0, 1, 2}


def test_catalog_geopolygon_equals_list_path(spark, parsed_catalog):
    """P4 on the 100 TB path: geopolygon= drives the output grid AND
    prunes exploded tiles distributedly; pixels equal the list path."""
    tri = Polygon(
        [[(100.0, 0.0), (1500.0, 100.0), (200.0, 1100.0)]], crs=f"EPSG:{EPSG}"
    )
    parsed, origins = parsed_catalog
    tiles_df, plan = load_from_catalog(
        spark, parsed, groupby="time", chunks=(48, 48), geopolygon=tri
    )
    assert plan.aoi is not None
    got = assemble_numpy(tiles_df, plan)

    items = equivalent_items(3, origins)
    tiles2, plan2 = load(
        spark, items, groupby="time", chunks=(48, 48), geopolygon=tri
    )
    want = assemble_numpy(tiles2, plan2)

    assert plan.gbox == plan2.gbox
    for b in got:
        np.testing.assert_array_equal(got[b], want[b])

    # pruning really happened: corner tiles outside the ring never tasked
    keys = {(r["iy"], r["ix"]) for r in tiles_df.select("iy", "ix").collect()}
    all_tiles = set(plan.tiles.tiles_overlapping_bbox(plan.gbox.bbox()))
    assert keys < all_tiles
    for iy, ix in all_tiles - keys:
        assert not tri.intersects_bbox(plan.tiles.tile_geobox(iy, ix).bbox())


def test_groupby_callable_catalog_equals_list_path(spark, tmp_path):
    """U / round-4 verdict item 10: groupby= callables work on the CATALOG
    path (reference accepts them anywhere, _stac_load.py:525-535) — the
    same callback keys both paths and pixels must match. Keys are strings
    on the catalog path (they live in a join column), so the callback
    returns strings."""
    origins = [(0.0, 1000.0), (400.0, 800.0), (200.0, 1200.0)]
    docs = [catalog_item(i, o) for i, o in enumerate(origins)]
    docs[0]["properties"] = {"platform": "sat-b"}
    docs[1]["properties"] = {"platform": "sat-a"}
    docs[2]["properties"] = {"platform": "sat-a"}
    raw = items_df(spark, docs)
    path = str(tmp_path / "cat.parquet")
    raw.write.parquet(path)
    parsed = parse_items(spark, spark.read.parquet(path))

    def by_platform_and_parity(item, idx):
        # exercises props + datetime + id, ignores idx (None on catalog)
        return f"{item.props.get('platform')}-{item.datetime.hour % 2}-{item.id[:3]}"

    tiles_df, plan = load_from_catalog(
        spark, parsed, groupby=by_platform_and_parity, chunks=(64, 64)
    )
    got = assemble_numpy(tiles_df, plan)

    items = equivalent_items(3, origins)
    items[0].props = {"platform": "sat-b"}
    items[1].props = {"platform": "sat-a"}
    items[2].props = {"platform": "sat-a"}
    tiles2, plan2 = load(spark, items, groupby=by_platform_and_parity, chunks=(64, 64))
    assert [str(k) for k in plan2.group_keys] == plan.group_keys
    want = assemble_numpy(tiles2, plan2)
    assert set(got) == set(want)
    for b in got:
        np.testing.assert_array_equal(got[b], want[b])


def _jobs_in(spark, group, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_plan_is_one_scan_on_single_crs_catalog(spark, parsed_catalog):
    """Planning a single-CRS catalog is ONE collect over the parsed rows:
    band metadata, the grid vote, the bbox and the group keys all come
    from one grouping-sets aggregation. Under AQE the shuffle-map stage
    runs as a job of its own, hence up to two jobs."""
    parsed, _ = parsed_catalog
    plan, n_jobs = _jobs_in(
        spark, "plan-single-crs", lambda: plan_load_df(spark, parsed, groupby="time")
    )
    assert plan.gbox.bbox() == (0.0, -200.0, 1600.0, 1200.0)
    assert 1 <= n_jobs <= 2


def test_cross_crs_plan_unions_reprojected_footprints(spark, tmp_path):
    """The other side of the one-scan threshold: foreign-CRS grids make
    the planner run its footprint job, and their reprojected footprints
    widen the bbox exactly as on the list path."""
    parsed, items = _cross_crs_catalog(spark, tmp_path)
    plan, n_jobs = _jobs_in(
        spark, "plan-cross-crs", lambda: plan_load_df(spark, parsed, groupby="time")
    )
    assert n_jobs > 2
    assert plan.gbox == plan_load(items, groupby="time", chunks=plan.tiles.tile_shape).gbox
    utm_only = plan_load(items[:2], groupby="time", chunks=plan.tiles.tile_shape).gbox
    assert plan.gbox != utm_only


GEO = "EPSG:4326"
# (grid origin, datetime, platform): the solar-day offsets (+0 h at 10E,
# +10 h at 150E) merge items 0-2 into one local day and move item 3 to
# the next; item 2 has no platform (the NULL property group)
GEO_ITEMS = [
    ((10.0, 5.0), datetime(2020, 6, 6, 22, 0), "sat-a"),
    ((10.2, 5.1), datetime(2020, 6, 6, 23, 0), "sat-b"),
    ((150.0, -30.0), datetime(2020, 6, 6, 13, 0), None),
    ((150.3, -30.2), datetime(2020, 6, 6, 15, 0), "sat-a"),
]


def _geo_asset(name, seed, origin):
    a = synth_asset(name, seed, origin, shape=(50, 60), res=0.01)
    a["proj_epsg"] = 4326
    return a


@pytest.fixture(scope="module")
def geo_catalog(spark, tmp_path_factory):
    """A WGS84 catalog (parquet at rest) and its list-path items."""
    docs, items = [], []
    for i, (o, ts, platform) in enumerate(GEO_ITEMS):
        props = {} if platform is None else {"platform": platform}
        d = catalog_item(i, o, ts=ts)
        d["assets"] = {b: _geo_asset(b, 10 * i + j, o) for j, b in enumerate(("nir", "red"))}
        d["properties"] = props
        docs.append(d)
        gbox = GeoBox((50, 60), (0.01, 0.0, o[0], 0.0, -0.01, o[1]), GEO)
        items.append(
            Item(
                id=f"cat-{i:03d}",
                datetime=ts,
                bands={
                    b: RasterSource(
                        d["assets"][b]["href"], geobox=gbox, meta=RasterBandMetadata("int32", -1.0)
                    )
                    for b in ("nir", "red")
                },
                lon=o[0] + 0.3,  # grid centroid, as the catalog derives it
                props=props,
            )
        )
    path = str(tmp_path_factory.mktemp("geo") / "geo.parquet")
    items_df(spark, docs).write.parquet(path)
    return parse_items(spark, spark.read.parquet(path)), items


def _platform_day(item, idx):
    return f"{item.props.get('platform')}-{item.datetime.day}"


@pytest.mark.parametrize(
    "kw",
    [
        dict(groupby="time"),
        dict(groupby="solar_day"),
        dict(groupby="platform"),
        dict(groupby=_platform_day),
        dict(groupby="time", crs=GEO),
        dict(groupby="time", crs="EPSG:3857", resolution=5000.0),
        dict(groupby="time", bands=["red"]),
        dict(
            groupby="time",
            geopolygon=Polygon([[(10.1, 5.0), (150.2, -30.1), (12.0, -20.0)]], crs=GEO),
        ),
        dict(groupby="time", anchor="center"),
        dict(groupby="time", align=0.004),
        dict(groupby="time", lon=(10.05, 10.5), lat=(4.6, 5.08)),
        dict(groupby="time", x=(150.1, 150.55), y=(-30.4, -29.93), crs=GEO),
        dict(groupby="time", bbox=(10.05, 4.6, 150.5, 5.08)),
        dict(groupby="time", like=GeoBox((40, 70), (0.01, 0.0, 10.0, 0.0, -0.01, 5.0), GEO)),
        dict(groupby="time", dtype="float64", resampling="bilinear"),
        dict(groupby="time", audit=True),
    ],
    ids=[
        "time", "solar_day", "property", "callable", "crs", "crs_foreign", "bands",
        "geopolygon", "anchor", "align", "lonlat", "xy", "bbox", "like", "dtype_resampling",
        "audit",
    ],
)
def test_catalog_plan_equals_list_plan(spark, geo_catalog, kw):
    """plan_load_df's one-scan census gives the list path's plan: grid,
    bands, band config, group keys (NULL first), group timestamps, AOI
    and audit flag."""
    parsed, items = geo_catalog
    got = plan_load_df(spark, parsed, chunks=(256, 256), **kw)
    want = plan_load(items, chunks=(256, 256), **kw)
    assert got.gbox == want.gbox
    assert got.bands == want.bands
    assert got.cfg == want.cfg
    assert got.group_keys == want.group_keys
    assert got.group_ts == want.group_ts
    assert (got.aoi is None) == (want.aoi is None)
    assert got.audit == want.audit


def test_catalog_bbox_is_lonlat_query(spark, parsed_catalog):
    """bbox= is an EPSG:4326 query on the catalog path too: on a UTM
    catalog it is reprojected to the elected UTM grid, as on the list
    path."""
    parsed, origins = parsed_catalog
    kw = dict(groupby="time", chunks=(256, 256), bbox=(26.99, -14.92, 27.0, -14.91))
    got = plan_load_df(spark, parsed, **kw)
    want = plan_load(equivalent_items(3, origins), **kw)
    assert got.gbox == want.gbox
    assert got.gbox.crs == f"EPSG:{EPSG}"
    assert got.gbox.bbox()[0] > 490000.0  # metres east, not degrees


def test_catalog_groupby_id_one_group_per_item(spark, geo_catalog, parsed_catalog):
    """groupby="id" keys each catalog item on its own (by ``id`` here, no
    item_idx column): one group per item with the list path's group
    timestamps, and the same pixels."""
    parsed, items = geo_catalog
    got = plan_load_df(spark, parsed, groupby="id")
    assert len(got.group_keys) == 4
    assert got.group_ts == plan_load(items, groupby="id").group_ts

    parsed, origins = parsed_catalog
    tiles_df, plan = load_from_catalog(spark, parsed, groupby="id", chunks=(64, 64))
    tiles2, plan2 = load(spark, equivalent_items(3, origins), groupby="id", chunks=(64, 64))
    assert plan.group_ts == plan2.group_ts
    got_px, want_px = assemble_numpy(tiles_df, plan), assemble_numpy(tiles2, plan2)
    for b in want_px:
        np.testing.assert_array_equal(got_px[b], want_px[b])


def test_geo_plan_groups(spark, geo_catalog):
    """The parity cases above really group: solar days merge items across
    UTC dates, and the missing-property group sorts first."""
    parsed, _ = geo_catalog
    solar = plan_load_df(spark, parsed, groupby="solar_day")
    assert [str(k) for k in solar.group_keys] == ["2020-06-06", "2020-06-07"]
    assert solar.group_ts == [datetime(2020, 6, 6, 13, 0), datetime(2020, 6, 6, 15, 0)]
    prop = plan_load_df(spark, parsed, groupby="platform")
    assert prop.group_keys == [None, "sat-a", "sat-b"]


@pytest.mark.parametrize(
    "kw, match",
    [
        (dict(bands=["swir"]), "no raster sources"),
        (dict(bands=["red", "swir"]), "unknown bands"),
        (dict(crs="EPSG:3857"), "no source grid"),
    ],
)
def test_catalog_plan_errors(spark, parsed_catalog, kw, match):
    """No sources left after the band filter, bands the catalog does not
    hold, and a crs= with no grid to elect a resolution from fail loudly
    (solar_day on a projected catalog: see
    test_solar_day_rejects_projected_catalog)."""
    parsed, _ = parsed_catalog
    with pytest.raises(ValueError, match=match):
        plan_load_df(spark, parsed, groupby="time", **kw)


@pytest.mark.parametrize("same_ts, preserve", [(True, False), (False, False), (False, True)])
def test_precedence_parity_with_list_path(spark, same_ts, preserve):
    """Overlapping items listed in reverse: with equal timestamps the item
    id decides on both paths; with preserve_original_order the input
    order decides, even against the time order (equal timestamps with
    preserve_original_order: test_preserve_original_order_catalog)."""
    origins = [(0.0, 1000.0), (40.0, 980.0), (20.0, 990.0)]
    ts = [T0 if same_ts else T0 + timedelta(hours=i) for i in range(3)]
    docs = [catalog_item(i, o, ts=t) for i, (o, t) in enumerate(zip(origins, ts))][::-1]
    parsed = parse_items(spark, items_df(spark, docs, with_idx=preserve))
    # one group (no item has the property), so precedence decides every pixel
    kw = dict(groupby="platform", chunks=(64, 64))
    tiles_df, plan = load_from_catalog(spark, parsed, preserve_original_order=preserve, **kw)

    items = equivalent_items(3, origins)
    for it, t in zip(items, ts):
        it.datetime = t
    tiles2, plan2 = load(spark, items[::-1], preserve_original_order=preserve, **kw)
    got, want = assemble_numpy(tiles_df, plan), assemble_numpy(tiles2, plan2)
    assert plan.gbox == plan2.gbox and set(got) == set(want) == {"red", "nir"}
    for b in got:
        np.testing.assert_array_equal(got[b], want[b])


def test_missing_datetime_sorts_last_in_its_group(spark):
    """An item with no datetime shares a property group with dated items:
    its NULL ts sorts last in the mosaic precedence and never becomes the
    group's time — the same load as if it were the latest item. The list
    path keys on the same precedence, whatever the input order, also with
    two undated items."""
    origins = [(0.0, 1000.0), (40.0, 980.0), (20.0, 990.0)]

    def catalog(*first_ts):
        docs = [catalog_item(i, o) for i, o in enumerate(origins)]
        for d in docs:
            d["properties"] = {"platform": "sat-a"}
        for d, ts in zip(docs, first_ts):
            d["datetime"] = ts
        return parse_items(spark, items_df(spark, docs))

    kw = dict(groupby="platform", chunks=(64, 64))
    tiles_df, plan = load_from_catalog(spark, catalog(None), **kw)
    tiles2, plan2 = load_from_catalog(spark, catalog(T0 + timedelta(days=1)), **kw)
    assert plan.group_keys == plan2.group_keys == ["sat-a"]
    assert plan.group_ts == plan2.group_ts == [T0 + timedelta(hours=1)]
    got, want = assemble_numpy(tiles_df, plan), assemble_numpy(tiles2, plan2)
    for b in want:
        np.testing.assert_array_equal(got[b], want[b])
    # the undated item really is under the others, not absent
    undated = catalog(None).where("id = 'cat-000'")
    alone = assemble_numpy(load_from_catalog(spark, undated, plan=plan, **kw)[0], plan)
    assert (alone["red"] != -1).any()

    for parsed, ts in ((catalog(None), T0 + timedelta(hours=1)),
                       (catalog(None, None), T0 + timedelta(hours=2))):
        tiles_c, plan_c = load_from_catalog(spark, parsed, **kw)
        assert plan_c.group_ts == [ts]
        want = assemble_numpy(tiles_c, plan_c)
        items = to_load_items(parsed)
        for ordered in (items, items[::-1]):
            tiles_l, plan_l = load(spark, ordered, **kw)
            assert plan_l.gbox == plan_c.gbox
            assert plan_l.group_keys == ["sat-a"] and plan_l.group_ts == [ts]
            got = assemble_numpy(tiles_l, plan_l)
            for b in want:
                np.testing.assert_array_equal(got[b], want[b])


def test_catalog_tiles_run_packed_per_core(spark, parsed_catalog):
    """The catalog path runs the list path's executor: no grouped pandas
    UDF, and exactly one shuffle — on the task key, into at most
    defaultParallelism partitions — feeds the ``MapInPandas``."""
    import re

    parsed, _ = parsed_catalog
    tiles_df, _ = load_from_catalog(spark, parsed, groupby="time", chunks=(32, 32))
    text = tiles_df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in text and "MapInPandas" in text, text
    # shuffle exchanges only: the key map joins through a BroadcastExchange
    exchanges = [ln for ln in text.splitlines() if re.search(r"(?<!Broadcast)Exchange ", ln)]
    assert len(exchanges) == 1, text
    m = re.search(r"hashpartitioning\(band#\d+, t#\d+L?, iy#\d+, ix#\d+, (\d+)\)", exchanges[0])
    assert m is not None, exchanges[0]
    assert 1 <= int(m.group(1)) <= spark.sparkContext.defaultParallelism
