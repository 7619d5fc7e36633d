"""Metadata-plane tests with synthetic S2-like / Landsat-like items
(modeled on the reference's golden-fixture strategy, SURVEY §5.2 —
fixtures are built fresh here, not copied)."""

from __future__ import annotations

from datetime import datetime

import pytest

from odc_stac_spark.sources.stac_items import (
    assets_df,
    extract_collection_metadata,
    items_df,
    parse_items,
    raster_assets_df,
    stac_dicts_to_items,
    to_load_items,
)

T0 = datetime(2020, 6, 6, 8, 30)

COG = "image/tiff; application=geotiff; profile=cloud-optimized"


def s2_asset(name, res, epsg=32735, common=None, dtype="uint16", nodata=0.0, eo=None):
    shape = {10: [10980, 10980], 20: [5490, 5490], 60: [1830, 1830]}[res]
    return {
        "href": f"https://example.com/{name}.tif",
        "type": COG,
        "roles": ["data"],
        "gsd": float(res),
        "proj_shape": shape,
        "proj_transform": [float(res), 0.0, 399960.0, 0.0, -float(res), 9000000.0],
        "proj_epsg": epsg,
        "eo_bands": eo if eo is not None else [{"name": name, "common_name": common}],
        "raster_bands": [{"data_type": dtype, "nodata": nodata, "unit": "1"}],
    }


def s2_item(idx=0):
    assets = {
        "B02": s2_asset("B02", 10, common="blue"),
        "B03": s2_asset("B03", 10, common="green"),
        "B04": s2_asset("B04", 10, common="red"),
        "B05": s2_asset("B05", 20, common="rededge"),
        "B06": s2_asset("B06", 20, common="rededge"),
        "B07": s2_asset("B07", 20, common="rededge"),
        "B01": s2_asset("B01", 60, common="coastal"),
        "SCL": s2_asset("SCL", 20, common=None, dtype="uint8"),
        "visual": s2_asset(
            "visual",
            10,
            eo=[
                {"name": "B04", "common_name": "red"},
                {"name": "B03", "common_name": "green"},
                {"name": "B02", "common_name": "blue"},
            ],
        ),
        "thumbnail": {
            "href": "https://example.com/thumb.jpg",
            "type": "image/jpeg",
            "roles": ["thumbnail"],
            "gsd": None,
            "proj_shape": None,
            "proj_transform": None,
            "proj_epsg": None,
            "eo_bands": None,
            "raster_bands": None,
        },
        "metadata": {
            "href": "https://example.com/md.xml",
            "type": "application/xml",
            "roles": ["metadata"],
            "gsd": None,
            "proj_shape": None,
            "proj_transform": None,
            "proj_epsg": None,
            "eo_bands": None,
            "raster_bands": None,
        },
    }
    return {
        "id": f"S2A_T35MNM_{idx:04d}",
        "collection": "sentinel-2-l2a",
        "odc_product": None,
        "datetime": T0,
        "start_datetime": None,
        "end_datetime": None,
        "href": None,
        "bbox": [27.0, -15.0, 28.0, -14.0],
        "assets": assets,
        "properties": {"s2:mgrs_tile": "35MNM"},
    }


def landsat_item():
    # no raster:bands extension → defaults; no collection → odc:product
    def asset(name):
        return {
            "href": f"s3://landsat/{name}.tif",
            "type": None,  # extension-based detection
            "roles": ["data"],
            "gsd": 30.0,
            "proj_shape": [7811, 7691],
            "proj_transform": [30.0, 0.0, 304185.0, 0.0, -30.0, -1258185.0],
            "proj_epsg": 32655,
            "eo_bands": [{"name": name, "common_name": None}],
            "raster_bands": None,
        }

    return {
        "id": "LC08_L2SP_001",
        "collection": None,
        "odc_product": "ga_ls8c_ard_3",
        "datetime": T0,
        "start_datetime": None,
        "end_datetime": None,
        "href": None,
        "bbox": None,
        "assets": {"nbart_red": asset("nbart_red"), "nbart_blue": asset("nbart_blue")},
        "properties": {},
    }


@pytest.fixture(scope="module")
def s2_df(spark):
    return items_df(spark, [s2_item(0), s2_item(1), landsat_item()])


def test_raster_asset_detection(spark, s2_df):
    a = assets_df(s2_df)
    flags = {(r.id, r.asset_name): r.is_raster for r in a.collect()}
    assert flags[("S2A_T35MNM_0000", "B02")] is True
    assert flags[("S2A_T35MNM_0000", "thumbnail")] is False  # role exclusion
    assert flags[("S2A_T35MNM_0000", "metadata")] is False
    assert flags[("LC08_L2SP_001", "nbart_red")] is True  # extension fallback


def test_band_metadata_and_defaults(spark, s2_df):
    md = extract_collection_metadata(spark, s2_df)
    s2 = md["sentinel-2-l2a"]
    assert s2.bands[("B02", 1)].data_type == "uint16"
    assert s2.bands[("B02", 1)].nodata == 0.0
    assert s2.bands[("SCL", 1)].data_type == "uint8"
    # visual has 3 raster_bands? no — one raster_bands entry; eo_bands 3
    ls = md["ga_ls8c_ard_3"]  # odc:product fallback for collection id
    assert ls.bands[("nbart_red", 1)].data_type == "float32"  # BAND_DEFAULTS
    assert ls.bands[("nbart_red", 1)].nodata is None


def test_alias_priority_prefers_fewer_band_assets(spark, s2_df):
    md = extract_collection_metadata(spark, s2_df)
    s2 = md["sentinel-2-l2a"]
    # "red" maps to both B04 (1 eo band) and visual (3 eo bands): B04 wins
    assert s2.aliases["red"][0] == ("B04", 1)
    assert ("visual", 1) in s2.aliases["red"]
    assert s2.canonical_name("red") == ("B04", 1)
    # duplicate common_name across B05/B06/B07 → ordered candidates
    reds = s2.aliases["rededge"]
    assert reds[0] == ("B05", 1)
    assert set(reds) == {("B05", 1), ("B06", 1), ("B07", 1)}
    # alias that shadows an asset name is dropped (B04 is a real asset)
    assert "B04" not in s2.aliases


def test_grid_election(spark, s2_df):
    md = extract_collection_metadata(spark, s2_df)
    s2 = md["sentinel-2-l2a"]
    # 10 m is the most common grid → "default"; 20/60 m get g-names
    assert s2.band2grid["B02"] == "default"
    assert s2.band2grid["B05"] == "g20"
    assert s2.band2grid["B01"] == "g60"


def test_parse_items_and_bridge_to_load(spark, s2_df):
    parsed = parse_items(spark, s2_df)
    rows = parsed.where("cid = 'sentinel-2-l2a'").collect()
    assert all(r.g_crs == "EPSG:32735" for r in rows)
    items = to_load_items(parsed.where("cid = 'ga_ls8c_ard_3'"))
    assert len(items) == 1
    it = items[0]
    assert set(it.bands) == {"nbart_red", "nbart_blue"}
    assert it.bands["nbart_red"].geobox.shape == (7811, 7691)
    assert it.bands["nbart_red"].geobox.crs == "EPSG:32655"


def test_invalid_nine_element_affine_dropped(spark):
    bad = landsat_item()
    bad["id"] = "BAD9"
    bad["assets"]["nbart_red"]["proj_transform"] = [30.0, 0.0, 0.0, 0.0, -30.0, 0.0, 1.0, 2.0, 3.0]
    df = items_df(spark, [bad])
    r = raster_assets_df(df).where("asset_name = 'nbart_red'").first()
    assert r.g_transform is None  # invalid tail ≠ [0,0,1]
    good = landsat_item()
    good["id"] = "GOOD9"
    good["assets"]["nbart_red"]["proj_transform"] = [30.0, 0.0, 304185.0, 0.0, -30.0, -1258185.0, 0.0, 0.0, 1.0]
    df2 = items_df(spark, [good])
    r2 = raster_assets_df(df2).where("asset_name = 'nbart_red'").first()
    assert r2.g_transform == [30.0, 0.0, 304185.0, 0.0, -30.0, -1258185.0]


def test_patch_urls_item_form(spark):
    """patch_urls signs band URIs without mutating inputs (reference
    _stac_load.py:60-84)."""
    from odc_stac_spark import patch_urls

    df = items_df(spark, [s2_item(0)])
    items = to_load_items(parse_items(spark, df))
    (it,) = items
    orig = {k: s.uri for k, s in it.bands.items()}
    signed = patch_urls(it, lambda u: u + "?sig=tok")
    assert all(s.uri == orig[k] + "?sig=tok" for k, s in signed.bands.items())
    assert all(s.uri == orig[k] for k, s in it.bands.items())  # no mutation
    # bands filter: only B02 edited; list form returns a list
    some = patch_urls([it], lambda u: "s3://signed/" + u, bands=["B02"])[0]
    assert some.bands["B02"].uri == "s3://signed/" + orig["B02"]
    assert some.bands["B05"].uri == orig["B05"]


def test_patch_urls_df_column_and_callable(spark):
    """DataFrame form: Column transform stays JVM-side; a plain str→str
    callable is accepted too (wrapped in a UDF)."""
    import pyspark.sql.functions as F

    from odc_stac_spark import patch_urls_df

    parsed = parse_items(spark, items_df(spark, [s2_item(0)]))
    col_form = patch_urls_df(parsed, lambda c: F.concat(c, F.lit("?sig=x")))
    assert all(r.href.endswith(".tif?sig=x") for r in col_form.collect())
    # no Python in the plan for the Column form
    assert "pythonUDF" not in col_form._jdf.queryExecution().executedPlan().toString().lower().replace(" ", "")
    py_form = patch_urls_df(parsed, lambda u: u.replace("https://", "s3://"), bands=["B02"])
    rows = {r.asset_name: r.href for r in py_form.collect()}
    assert rows["B02"].startswith("s3://")
    assert rows["B05"].startswith("https://")


# ---- MDParseConfig (stac_cfg) — reference model.py:417-442 ----------------


def test_cfg_band_override_replaces_item_metadata(spark):
    """An exact band_cfg entry replaces the item's raster:bands wholesale
    (reference _extract_bands, _mdtools.py:513-525)."""
    cfg = {
        "sentinel-2-l2a": {
            "assets": {"B02": {"data_type": "float64", "nodata": -999.0}}
        }
    }
    parsed = parse_items(spark, items_df(spark, [s2_item(0)]), cfg=cfg)
    rows = {r.asset_name: r for r in parsed.collect()}
    assert rows["B02"].data_type == "float64"
    assert rows["B02"].nodata == -999.0
    # unconfigured bands keep their item metadata
    assert rows["B05"].data_type == "uint16"
    assert rows["B05"].nodata == 0.0


def test_cfg_wildcard_merge_and_collection_precedence(spark):
    """'*' config applies to unlisted collections; a collection entry's
    top-level keys replace the wildcard's wholesale."""
    cfg = {
        "*": {"assets": {"B02": {"data_type": "int8"}}},
        "sentinel-2-l2a": {"assets": {"B02": {"data_type": "float32"}}},
    }
    parsed = parse_items(spark, items_df(spark, [s2_item(0), landsat_item()]), cfg=cfg)
    s2 = {r.asset_name: r for r in parsed.where("cid='sentinel-2-l2a'").collect()}
    assert s2["B02"].data_type == "float32"  # collection entry wins
    ls = {r.asset_name: r for r in parsed.where("cid='ga_ls8c_ard_3'").collect()}
    # unlisted collection + no raster:bands on the item → band_defaults
    # (float32); the '*' entry's B02 override targets only B02
    assert ls["nbart_red"].data_type == "float32"
    assert ls["B02"].data_type == "int8" if "B02" in ls else True


def test_cfg_band_defaults_fill_missing_raster_bands(spark):
    """band_defaults ('*' asset entry) apply when the item carries no
    raster:bands extension."""
    it = s2_item(0)
    a = dict(it["assets"]["B02"])
    a["raster_bands"] = None
    it["assets"]["B02"] = a
    cfg = {"*": {"assets": {"*": {"data_type": "uint8", "nodata": 255.0}}}}
    parsed = parse_items(spark, items_df(spark, [it]), cfg=cfg)
    r = parsed.where("asset_name='B02'").first()
    assert r.data_type == "uint8" and r.nodata == 255.0


def test_cfg_configured_asset_kept_despite_media_type(spark):
    """An asset named in band_cfg is a data band even with a non-raster
    media type (reference _keep short-circuit)."""
    it = s2_item(0)
    it["assets"]["weird"] = {
        "href": "https://example.com/weird.bin",
        "type": "application/octet-stream",
        "roles": ["metadata"],
        "gsd": None,
        "proj_shape": [100, 100],
        "proj_transform": [10.0, 0.0, 0.0, 0.0, -10.0, 0.0],
        "proj_epsg": 32735,
        "eo_bands": None,
        "raster_bands": None,
    }
    no_cfg = parse_items(spark, items_df(spark, [it]))
    assert no_cfg.where("asset_name='weird'").count() == 0
    cfg = {"sentinel-2-l2a": {"assets": {"weird": {"data_type": "int32"}}}}
    with_cfg = parse_items(spark, items_df(spark, [it]), cfg=cfg)
    r = with_cfg.where("asset_name='weird'").first()
    assert r is not None and r.data_type == "int32"


def test_cfg_ignore_proj_disables_strict_filter(spark):
    """ignore_proj: the item is treated as not declaring the projection
    extension, so assets without proj data survive the filter."""
    it = s2_item(0)
    it["has_proj"] = True
    a = dict(it["assets"]["B05"])
    a["proj_shape"] = None
    a["proj_transform"] = None
    it["assets"]["B05"] = a
    strict = parse_items(spark, items_df(spark, [it]))
    assert strict.where("asset_name='B05'").count() == 0  # proj-gated out
    cfg = {"sentinel-2-l2a": {"ignore_proj": True}}
    loose = parse_items(spark, items_df(spark, [it]), cfg=cfg)
    assert loose.where("asset_name='B05'").count() == 1


def test_cfg_aliases_outrank_eo_bands(spark):
    """Config aliases take priority over eo:bands-derived candidates."""
    cfg = {"sentinel-2-l2a": {"aliases": {"blue": "B05", "custom": ["B02", 1]}}}
    md = extract_collection_metadata(spark, items_df(spark, [s2_item(0)]), cfg=cfg)
    s2 = md["sentinel-2-l2a"]
    assert s2.aliases["blue"][0] == ("B05", 1)  # cfg wins over eo common_name
    assert s2.aliases["custom"] == [("B02", 1)]


PROJ_EXT = "https://stac-extensions.github.io/projection/v1.1.0/schema.json"


def _json_item(iid, collection, proj_ext, proj_assets):
    """A raw STAC item document with data assets B01 and B02; the assets
    named in ``proj_assets`` carry proj:shape/transform/epsg."""
    assets = {}
    for name in ("B01", "B02"):
        a = {"href": f"https://example.com/{iid}/{name}.tif", "type": COG, "roles": ["data"]}
        if name in proj_assets:
            a["proj:shape"] = [100, 100]
            a["proj:transform"] = [10.0, 0.0, 0.0, 0.0, -10.0, 0.0]
            a["proj:epsg"] = 32735
        assets[name] = a
    return {
        "type": "Feature",
        "stac_version": "1.0.0",
        "stac_extensions": [PROJ_EXT] if proj_ext else [],
        "id": iid,
        "collection": collection,
        "geometry": None,
        "properties": {"datetime": "2020-06-06T08:30:00Z"},
        "assets": assets,
        "links": [],
    }


@pytest.mark.parametrize(
    "href, want",
    [
        ("x.tif", "https://h.example/cat/a/b/x.tif"),
        ("./x.tif", "https://h.example/cat/a/b/x.tif"),
        ("../x.tif", "https://h.example/cat/a/x.tif"),
        ("../../x.tif", "https://h.example/cat/x.tif"),
        ("../../../x.tif", "https://h.example/x.tif"),
        # three levels resolve; a fourth stays in the href
        ("../../../../x.tif", "https://h.example/../x.tif"),
        ("/abs/x.tif", "/abs/x.tif"),
        ("s3://bucket/x.tif", "s3://bucket/x.tif"),
    ],
)
def test_relative_hrefs_resolve_against_self_link(spark, href, want):
    """Relative asset hrefs resolve against the item's self link (pystac
    get_absolute_href semantics, reference _mdtools.py:685); an item
    without a self link (no links, links missing, or no rel=self among
    them) keeps them as written."""
    docs = []
    for iid, links in (
        ("self", [{"rel": "root", "href": "https://h.example/catalog.json"},
                  {"rel": "self", "href": "https://h.example/cat/a/b/item.json"}]),
        ("empty", []),
        ("missing", None),
        ("other", [{"rel": "parent", "href": "https://h.example/cat/a/b/c.json"}]),
    ):
        d = _json_item(iid, "c1", True, {"B01"})
        d["assets"]["B01"]["href"] = href
        if links is None:
            del d["links"]
        else:
            d["links"] = links
        docs.append(d)
    got = {
        r.id: r.href
        for r in raster_assets_df(stac_dicts_to_items(spark, docs))
        .where("asset_name = 'B01'")
        .select("id", "href")
        .collect()
    }
    assert got == {"self": want, "empty": href, "missing": href, "other": href}


def test_cfg_collection_and_asset_names_with_quotes(spark):
    """stac_cfg keys are written into the parse as SQL literals: a
    collection id and asset names holding quotes and backslashes still
    match their band override, ignore_proj and alias entries."""
    cid, band = "o'col\\x", "B'0\\2"
    docs = [_json_item("q", cid, True, {"B01"})]
    docs[0]["assets"][band] = docs[0]["assets"].pop("B02")
    cfg = {
        cid: {
            "assets": {band: {"data_type": "int16", "nodata": float("nan")}},
            "aliases": {"quoted": band},
            "ignore_proj": True,
        }
    }
    items = stac_dicts_to_items(spark, docs)
    assert {r.asset_name for r in parse_items(spark, items).collect()} == {"B01"}
    rows = {r.asset_name: r for r in parse_items(spark, items, cfg=cfg).collect()}
    assert set(rows) == {"B01", band}  # ignore_proj keeps the proj-less band
    assert rows[band].cid == cid and rows[band].data_type == "int16"
    assert rows[band].nodata != rows[band].nodata  # NaN
    assert rows["B01"].data_type == "float32"  # band_defaults
    md = extract_collection_metadata(spark, items, cfg=cfg)
    assert md[cid].aliases["quoted"] == [(band, 1)]


def test_check_proj_strict_waiver_and_no_extension(spark):
    """check_proj per item (reference _mdtools.py:199-205, waiver
    :536-539): a proj item keeps only assets with proj data; a proj item
    where NO asset has proj data keeps them all (the filter would leave it
    empty); an item without the extension is never proj-filtered. The
    list path (to_load_items) sees the same bands; ignore_proj lifts the
    filter for its collection only."""
    docs = [
        _json_item("strict", "c1", True, {"B01"}),
        _json_item("waived", "c1", True, set()),
        _json_item("plain", "c2", False, {"B01"}),
    ]
    items = stac_dicts_to_items(spark, docs)
    flags = {
        (r.id, r.asset_name): r.is_raster
        for r in assets_df(items).select("id", "asset_name", "is_raster").collect()
    }
    assert flags == {
        ("strict", "B01"): True,
        ("strict", "B02"): False,
        ("waived", "B01"): True,
        ("waived", "B02"): True,
        ("plain", "B01"): True,
        ("plain", "B02"): True,
    }
    listed = {it.id: it.bands for it in to_load_items(parse_items(spark, items))}
    assert {k: sorted(v) for k, v in listed.items()} == {
        "strict": ["B01"],
        "waived": ["B01", "B02"],
        "plain": ["B01", "B02"],
    }
    # proj data is honored only under the extension
    assert listed["strict"]["B01"].geobox is not None
    assert listed["plain"]["B01"].geobox is None

    cfg = {"c1": {"ignore_proj": True}, "c2": {"ignore_proj": False}}
    kept = {
        (r.id, r.asset_name)
        for r in parse_items(spark, items, cfg=cfg).select("id", "asset_name").collect()
    }
    assert ("strict", "B02") in kept
    assert len(kept) == 6


@pytest.mark.parametrize(
    "media, roles, href, want",
    [
        ("image/png", None, "x.png", True),
        ("application/x-geotiff", None, "x.bin", True),
        ("application/netcdf", None, "x.bin", True),
        ("application/x-hdf5", None, "x.bin", True),
        ("application/vnd+zarr", None, "x.bin", True),
        ("application/json", ["data"], "x.json", True),
        ("application/json", None, "x.json", False),
        (None, None, "https://h/a/B04.TIF?sig=1.2", True),
        (None, None, "https://h/a/B04.json", False),
        (None, ["overview"], "x.tif", False),
        ("image/jpeg", ["thumbnail", "data"], "x.jpg", False),
    ],
)
def test_raster_heuristic_branches(spark, media, roles, href, want):
    """S4 media/role/extension rules (reference _mdtools.py:182-238), one
    asset per case, on an item without the projection extension."""
    it = s2_item(0)
    it["assets"] = {
        "a": {
            "href": href, "type": media, "roles": roles, "gsd": None,
            "proj_shape": None, "proj_transform": None, "proj_epsg": None,
            "eo_bands": None, "raster_bands": None,
        }
    }
    assert assets_df(items_df(spark, [it])).first().is_raster is want


def _items_df_docs():
    """S2 and Landsat items plus docs with missing keys (top-level and in
    an asset) and with empty or missing assets."""
    partial = s2_item(2)
    del partial["collection"], partial["start_datetime"]
    partial["assets"] = {"B04": {"href": "https://example.com/B04.tif", "gsd": 10.0}}
    return [
        s2_item(0),
        landsat_item(),
        partial,
        {"id": "empty-assets", "datetime": T0, "assets": {}, "properties": {}},
        {"id": "bare"},
    ]


@pytest.mark.parametrize("with_idx", [False, True])
def test_items_df_rows_equal_create_dataframe(spark, with_idx):
    """items_df maps each dict onto ITEM_SCHEMA by name: its rows equal
    what ``createDataFrame(list of dicts)`` builds from the same docs,
    including NULL for a missing key, an empty assets map and a NULL
    (not empty) map for missing assets."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from odc_stac_spark.sources.stac_items import ITEM_SCHEMA

    docs = _items_df_docs()
    got = items_df(spark, docs, with_idx=with_idx)
    schema, rows = ITEM_SCHEMA, docs
    if with_idx:
        schema = StructType(ITEM_SCHEMA.fields + [StructField("item_idx", IntegerType())])
        rows = [{**d, "item_idx": i} for i, d in enumerate(docs)]
    want = spark.createDataFrame(rows, schema=schema)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert got.collect() == want.collect()
    by_id = {r.id: r for r in got.collect()}
    assert by_id["empty-assets"].assets == {} and by_id["bare"].assets is None


def test_items_df_plans_one_local_table_scan(spark):
    """items_df is a one-partition JVM ``LocalTableScan``: no Python
    worker reads it."""
    df = items_df(spark, _items_df_docs(), with_idx=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "PythonRDD" not in plan and "ExistingRDD" not in plan, plan
    assert df.rdd.getNumPartitions() == 1
