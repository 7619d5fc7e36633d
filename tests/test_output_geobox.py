"""output_geobox argument-surface parity (reference _mdtools.py:823-981
precedence ladder + tests/test_load.py:85-141 arg-conflict cases)."""

from __future__ import annotations

from datetime import datetime

import numpy as np
import pytest

from odc_stac_spark.model import GeoBox, RasterBandMetadata, RasterSource
from odc_stac_spark.plans.load import Item, output_geobox


def mk_item(i=0, crs="EPSG:32735", res=10.0, origin=(0.0, 1000.0), shape=(100, 120)):
    gbox = GeoBox(shape, (res, 0.0, origin[0], 0.0, -res, origin[1]), crs)
    return Item(
        id=f"i-{i:03d}",
        datetime=datetime(2020, 6, 6 + i),
        bands={
            "red": RasterSource(
                f"synth://r{i}?seed={i}", geobox=gbox, meta=RasterBandMetadata("uint16", 0)
            )
        },
    )


ITEMS = [mk_item(0), mk_item(1, origin=(300.0, 1000.0))]


# ---- precedence + mutual exclusion ----------------------------------------

def test_geobox_wins_and_excludes_everything():
    g = GeoBox((10, 10), (10.0, 0.0, 0.0, 0.0, -10.0, 100.0), "EPSG:32735")
    assert output_geobox(ITEMS, geobox=g) is g
    for kw in (
        dict(bbox=(0, 0, 1, 1)),
        dict(resolution=20.0),
        dict(crs="EPSG:4326"),
        dict(lon=(0, 1), lat=(0, 1)),
        dict(x=(0, 100), y=(0, 100)),
        dict(geopolygon={"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1]]]}),
        dict(anchor="edge"),
        dict(align=5.0),
    ):
        with pytest.raises(ValueError, match="geobox"):
            output_geobox(ITEMS, geobox=g, **kw)


def test_like_wins_and_excludes():
    g = GeoBox((10, 10), (10.0, 0.0, 0.0, 0.0, -10.0, 100.0), "EPSG:32735")
    assert output_geobox(ITEMS, like=g) is g

    class HasGbox:
        gbox = g

    assert output_geobox(ITEMS, like=HasGbox()) is g
    with pytest.raises(ValueError, match="like"):
        output_geobox(ITEMS, like=g, bbox=(0, 0, 1, 1))
    with pytest.raises(ValueError, match="No geospatial info"):
        output_geobox(ITEMS, like=object())


def test_bbox_conflicts_with_lonlat_and_xy():
    # reference tests/test_load.py:85-99
    with pytest.raises(ValueError):
        output_geobox(ITEMS, bbox=(0, 0, 1, 1), lon=(0, 1), lat=(0, 1))
    with pytest.raises(ValueError):
        output_geobox(ITEMS, bbox=(0, 0, 1, 1), x=(0, 1000), y=(0, 1000))
    with pytest.raises(ValueError):
        output_geobox(
            ITEMS,
            geopolygon={"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [1, 1]]]},
            bbox=(0, 0, 1, 1),
        )


def test_x_without_y_raises():
    with pytest.raises(ValueError, match="both x= and y="):
        output_geobox(ITEMS, x=(0, 100), crs="EPSG:32735", resolution=10.0)
    with pytest.raises(ValueError, match="both lon= and lat="):
        output_geobox(ITEMS, lon=(0, 1))


def test_xy_needs_crs():
    with pytest.raises(ValueError, match="crs"):
        output_geobox(ITEMS, x=(0, 100), y=(0, 100), resolution=10.0)


# ---- equivalences (reference tests/test_load.py:101-141) -------------------

def test_lonlat_equals_bbox():
    bbox = (27.0, -15.0, 27.1, -14.9)
    a = output_geobox(ITEMS, crs="EPSG:3857", resolution=100.0, bbox=bbox)
    b = output_geobox(
        ITEMS,
        crs="EPSG:3857",
        resolution=100.0,
        lon=(bbox[0], bbox[2]),
        lat=(bbox[1], bbox[3]),
    )
    assert a.shape == b.shape
    assert a.transform == b.transform
    assert a.crs == b.crs


def test_geopolygon_equals_bbox():
    bbox = (27.0, -15.0, 27.1, -14.9)
    poly = {
        "type": "Polygon",
        "coordinates": [
            [
                [bbox[0], bbox[1]],
                [bbox[2], bbox[1]],
                [bbox[2], bbox[3]],
                [bbox[0], bbox[3]],
                [bbox[0], bbox[1]],
            ]
        ],
    }
    a = output_geobox(ITEMS, crs="EPSG:3857", resolution=100.0, bbox=bbox)
    b = output_geobox(ITEMS, crs="EPSG:3857", resolution=100.0, geopolygon=poly)
    assert a.shape == b.shape and a.transform == b.transform


def test_xy_in_native_crs():
    g = output_geobox(ITEMS, x=(0.0, 1000.0), y=(0.0, 500.0), crs="EPSG:32735", resolution=10.0)
    assert g.crs == "EPSG:32735"
    assert g.shape == (50, 100)
    assert g.bbox() == (0.0, 0.0, 1000.0, 500.0)


# ---- crs/resolution election ----------------------------------------------

def test_auto_election_majority_joint():
    # two 10 m UTM grids + one 0.001° 4326 grid → UTM/10 m must win and the
    # degree-resolution vote must NOT leak into the meters grid (ADVICE:
    # joint (crs, gsd) election, reference _most_common_gbox)
    items = ITEMS + [mk_item(2, crs="EPSG:4326", res=0.001, origin=(27.0, -14.9))]
    g = output_geobox(items)
    assert g.crs == "EPSG:32735"
    assert g.resolution == (10.0, -10.0)


def test_crs_vote_limited_to_crs():
    # crs= with no source grid in that CRS has no resolution to elect;
    # with one, only the grids in crs= vote (the UTM majority's 10 m gsd
    # must not become a 10 degree resolution)
    with pytest.raises(ValueError, match="no source grid in crs="):
        output_geobox(ITEMS, crs="EPSG:3857")
    assert output_geobox(ITEMS, crs="EPSG:3857", resolution=100.0).crs == "EPSG:3857"
    items = ITEMS + [mk_item(2, crs="EPSG:4326", res=0.001, origin=(27.0, -14.9))]
    g = output_geobox(items, crs="EPSG:4326")
    assert g.resolution == (0.001, -0.001)


def test_no_spatial_info_returns_none():
    it = Item(
        id="x",
        datetime=datetime(2020, 1, 1),
        bands={"red": RasterSource("synth://x", geobox=None)},
    )
    assert output_geobox([it]) is None
    assert output_geobox([it], bbox=(0, 0, 1, 1)) is None  # no resolution


# ---- anchor / align snapping ----------------------------------------------

def test_anchor_edge_snaps_to_grid():
    g = output_geobox(
        ITEMS, x=(3.0, 996.0), y=(7.0, 493.0), crs="EPSG:32735",
        resolution=10.0, anchor="edge",
    )
    # edges snap outward to multiples of 10
    assert g.bbox() == (0.0, 0.0, 1000.0, 500.0)


def test_anchor_center():
    g = output_geobox(
        ITEMS, x=(3.0, 996.0), y=(7.0, 493.0), crs="EPSG:32735",
        resolution=10.0, anchor="center",
    )
    # pixel centers on multiples of 10 → edges on 5 mod 10; outward snap
    # picks the nearest such edge outside the query on each side
    assert g.bbox() == (-5.0, 5.0, 1005.0, 495.0)


def test_align_crs_units():
    # align=5 in CRS units at 10 m res == anchor (0.5, 0.5)
    a = output_geobox(
        ITEMS, x=(3.0, 996.0), y=(7.0, 493.0), crs="EPSG:32735",
        resolution=10.0, align=5.0,
    )
    b = output_geobox(
        ITEMS, x=(3.0, 996.0), y=(7.0, 493.0), crs="EPSG:32735",
        resolution=10.0, anchor="center",
    )
    assert a.bbox() == b.bbox() and a.shape == b.shape


def test_anchor_and_auto_bbox_union():
    # anchor also applies on the auto (items-union) path
    g = output_geobox(ITEMS, anchor="edge")
    assert g.bbox() == (0.0, 0.0, 1500.0, 1000.0)


# ---- web-mercator round trip ----------------------------------------------

def test_webmercator_roundtrip():
    from odc_stac_spark.functions import proj

    lon = np.linspace(-179, 179, 41)
    lat = np.linspace(-80, 80, 41)
    x, y = proj.geographic_to_webmercator(lon, lat)
    lon2, lat2 = proj.webmercator_to_geographic(x, y)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)
    # known anchor point: (lon=180) -> x = pi * a
    x180, _ = proj.geographic_to_webmercator(180.0, 0.0)
    assert abs(x180 - 20037508.342789244) < 1e-6


def test_webmercator_utm_chain():
    from odc_stac_spark.functions import proj

    x = np.array([3050000.0, 3060000.0])
    y = np.array([-1700000.0, -1690000.0])
    ux, uy = proj.transform(x, y, "EPSG:3857", "EPSG:32735")
    x2, y2 = proj.transform(ux, uy, "EPSG:32735", "EPSG:3857")
    np.testing.assert_allclose(x2, x, atol=1e-6)
    np.testing.assert_allclose(y2, y, atol=1e-6)
