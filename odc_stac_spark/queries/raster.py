"""Pixel-plane queries: the load() pipeline surfaced through the driver
contract. Rows-only checks (binary tile payloads aren't SQL-expressible);
pixel-exact parity against a numpy whole-grid oracle is enforced in
tests/test_load_pipeline.py.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..model import GeoBox, RasterBandMetadata, RasterSource
from ..plans.load import Item, load
from . import register

_CRS = "EPSG:32735"


def _demo_items(n: int = 9):
    """A bench-site-like scene strip: n overlapping items along y, two
    bands, nodata holes (mirrors s2-ms-mosaic: 9 items, 1 day —
    reference bench/_prepare.py:10-19)."""
    t0 = datetime(2020, 6, 6, 8, 30)
    items = []
    for i in range(n):
        origin = (0.0, 4000.0 - i * 400.0)
        gbox = GeoBox((60, 120), (10.0, 0.0, origin[0], 0.0, -10.0, origin[1]), _CRS)
        bands = {
            "red": RasterSource(
                f"synth://r{i}?seed={i}&nodata_every=5",
                geobox=gbox,
                meta=RasterBandMetadata("int16", -1),
            ),
            "nir": RasterSource(
                f"synth://n{i}?seed={100 + i}&nodata_every=7",
                geobox=gbox,
                meta=RasterBandMetadata("uint16", 0),
            ),
        }
        items.append(Item(id=f"s2-{i:03d}", datetime=t0 + timedelta(minutes=i), bands=bands, lon=27.4))
    return items


@register(
    "r_load_mosaic_tiles",
    # The oracle recomputes the ENTIRE 9-item 2-band first-valid mosaic
    # from first principles: the output grid is the union bbox (380×120 px;
    # item i occupies output rows [40·i, 40·i+60)); each pixel takes the first
    # valid candidate in (time, id) order = item index order, validity and
    # values follow the synth generator formula (sources/synth.py::gen_window):
    # value = (seed·7919 + py·8191 + px·127) % 10007, hole iff
    # (py + px + seed) % nodata_every == 0; red: seed=i, ne=5 (int16);
    # nir: seed=100+i, ne=7 (uint16). Per 64×64 tile: valid count + value sum.
    oracle="""
    WITH ys AS (SELECT UNNEST(generate_series(0, 379)) AS y),
    xs AS (SELECT UNNEST(generate_series(0, 119)) AS x),
    items AS (SELECT UNNEST(generate_series(0, 8)) AS i),
    cand AS (
        SELECT b.band, y.y, x.x, it.i, (y.y - 40 * it.i) AS py
        FROM (SELECT 'red' AS band UNION ALL SELECT 'nir') b
        CROSS JOIN ys y CROSS JOIN xs x CROSS JOIN items it
        WHERE (y.y - 40 * it.i) BETWEEN 0 AND 59
    ),
    vals AS (
        SELECT band, y, x, i,
               -- nir's dst nodata is 0 and values are mod-10007, so a
               -- naturally generated 0 is indistinguishable from a hole:
               -- it reads as masked and a LATER item fills it (NULLIF).
               -- red's nodata is -1, unreachable by the generator.
               CASE WHEN band = 'red' AND (py + x + (i % 5)) % 5 <> 0
                    THEN (i * 7919 + py * 8191 + x * 127) % 10007
                    WHEN band = 'nir' AND (py + x + ((100 + i) % 7)) % 7 <> 0
                    THEN NULLIF(((100 + i) * 7919 + py * 8191 + x * 127) % 10007, 0)
               END AS v
        FROM cand
    ),
    first_valid AS (
        SELECT band, y, x, arg_min(v, i) AS v
        FROM vals WHERE v IS NOT NULL
        GROUP BY band, y, x
    )
    SELECT band, 0 AS t,
           CAST(y // 64 AS INT) AS iy, CAST(x // 64 AS INT) AS ix,
           CAST(LEAST(64, 380 - 64 * (y // 64)) AS INT) AS height,
           CAST(LEAST(64, 120 - 64 * (x // 64)) AS INT) AS width,
           CAST(COUNT(*) AS BIGINT) AS n_valid,
           CAST(SUM(v) AS BIGINT) AS vsum
    FROM first_valid
    GROUP BY band, iy, ix, height, width
    """,
    doc="S8+A6+J1 end-to-end, HASH-GATED: 9-item 2-band solar-day mosaic "
    "through the tile binning → mapInPandas pipeline; per-tile valid "
    "count + value sum, with a DuckDB oracle that recomputes every pixel "
    "of the mosaic (grid union, item→tile binning, first-valid precedence, "
    "per-band nodata masking) from the synth-generator formula. Byte-level "
    "pixel parity additionally enforced vs numpy in "
    "tests/test_load_pipeline.py (crc32 of every tile).",
    tags=("raster",),
)
def r_load_mosaic_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = _demo_items()
    tiles_df, _ = load(spark, items, groupby="solar_day", chunks=(64, 64), audit=True)
    return tiles_df.select(
        "band",
        "t",
        "iy",
        "ix",
        "height",
        "width",
        F.col("valid_count").alias("n_valid"),
        F.col("checksum").cast("bigint").alias("vsum"),
    )


@register(
    "r_zonal_mean",
    oracle="""
    WITH pix AS (
      SELECT y.y, x.x,
             CASE WHEN (y.y + x.x + 3) % 5 <> 0
                  THEN (3 * 7919 + y.y * 8191 + x.x * 127) % 10007
                  WHEN (y.y + x.x + 8) % 7 <> 0
                  THEN (8 * 7919 + y.y * 8191 + x.x * 127) % 10007
                  ELSE NULL END AS value
      FROM (SELECT UNNEST(generate_series(0, 63)) AS y) y
      CROSS JOIN (SELECT UNNEST(generate_series(0, 127)) AS x) x
    )
    SELECT 'red' AS band, 0 AS t,
           CAST(y // 16 AS INT) AS zy, CAST(x // 32 AS INT) AS zx,
           CAST(COUNT(value) AS BIGINT) AS n_valid,
           ROUND(AVG(value), 6) AS mean
    FROM pix
    GROUP BY 3, 4
    """,
    doc="HASH-GATED pixel plane: two overlapping items (first-valid mosaic "
    "precedence, nodata holes) through the FULL load pipeline → tiles → "
    "zonal statistics (map-side per-tile partials, zone-key merge). The "
    "DuckDB oracle recomputes every pixel of the mosaic from first "
    "principles — load, tile stitching, mosaic ordering, nodata masking "
    "and the zonal aggregation are all inside the value hash.",
    tags=("raster", "zonal"),
)
def r_zonal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.zonal import zonal_stats

    t0 = datetime(2020, 6, 6, 8, 30)
    gbox = GeoBox((64, 128), (10.0, 0.0, 0.0, 0.0, -10.0, 640.0), _CRS)
    items = [
        Item(
            id="za-000",
            datetime=t0,
            bands={
                "red": RasterSource(
                    "synth://za?seed=3&nodata_every=5",
                    geobox=gbox,
                    meta=RasterBandMetadata("int32", -1),
                )
            },
            lon=27.4,
        ),
        Item(
            id="za-001",
            datetime=t0 + timedelta(minutes=30),
            bands={
                "red": RasterSource(
                    "synth://zb?seed=8&nodata_every=7",
                    geobox=gbox,
                    meta=RasterBandMetadata("int32", -1),
                )
            },
            lon=27.4,
        ),
    ]
    tiles_df, plan = load(spark, items, groupby="solar_day", chunks=(32, 48))
    return zonal_stats(tiles_df, nodata=-1.0, zone_h=16, zone_w=32)


@register(
    "r_ndvi_zonal",
    oracle="""
    WITH ys AS (SELECT UNNEST(generate_series(0, 63)) AS y),
    xs AS (SELECT UNNEST(generate_series(0, 127)) AS x),
    pix AS (
      SELECT y.y AS y, x.x AS x,
             CASE WHEN (y.y + x.x + 8) % 7 = 0 OR (y.y + x.x + 3) % 5 = 0
                  THEN NULL
                  ELSE ((8 * 7919 + y.y * 8191 + x.x * 127) % 10007
                        - (3 * 7919 + y.y * 8191 + x.x * 127) % 10007) * 1.0
                       / ((8 * 7919 + y.y * 8191 + x.x * 127) % 10007
                          + (3 * 7919 + y.y * 8191 + x.x * 127) % 10007)
             END AS nd
      FROM ys y CROSS JOIN xs x
    )
    SELECT 'nd' AS band, 0 AS t,
           CAST(y // 16 AS INT) AS zy, CAST(x // 32 AS INT) AS zx,
           CAST(COUNT(nd) AS BIGINT) AS n_valid,
           ROUND(AVG(nd), 6) AS mean
    FROM pix
    GROUP BY 3, 4
    """,
    doc="HASH-GATED band algebra: NDVI-style (nir-red)/(nir+red) over the "
    "loaded tile pair (co-partitioned join on (t,iy,ix), mask-propagating "
    "nodata) → zonal means; the oracle recomputes each pixel's ratio from "
    "first principles (operators/band_math.normalized_difference).",
    tags=("raster", "band-math", "zonal"),
)
def r_ndvi_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.band_math import normalized_difference
    from ..operators.zonal import zonal_stats

    t0 = datetime(2020, 6, 6, 8, 30)
    gbox = GeoBox((64, 128), (10.0, 0.0, 0.0, 0.0, -10.0, 640.0), _CRS)
    item = Item(
        id="nd-000",
        datetime=t0,
        bands={
            "red": RasterSource(
                "synth://ndr?seed=3&nodata_every=5",
                geobox=gbox,
                meta=RasterBandMetadata("int32", -1),
            ),
            "nir": RasterSource(
                "synth://ndn?seed=8&nodata_every=7",
                geobox=gbox,
                meta=RasterBandMetadata("int32", -1),
            ),
        },
        lon=27.4,
    )
    tiles_df, plan = load(spark, [item], groupby="solar_day", chunks=(32, 48))
    nd = normalized_difference(tiles_df, "nir", "red", nodata=-1.0)
    return zonal_stats(nd, nodata=None, zone_h=16, zone_w=32)


@register(
    "r_temporal_median_zonal",
    oracle="""
    WITH ys AS (SELECT UNNEST(generate_series(0, 63)) AS y),
    xs AS (SELECT UNNEST(generate_series(0, 127)) AS x),
    vals AS (
      SELECT y.y AS y, x.x AS x,
             (3 * 7919 + y.y * 8191 + x.x * 127) % 10007 AS v
      FROM ys y CROSS JOIN xs x WHERE (y.y + x.x + 3) % 5 <> 0
      UNION ALL
      SELECT y.y, x.x, (8 * 7919 + y.y * 8191 + x.x * 127) % 10007
      FROM ys y CROSS JOIN xs x WHERE (y.y + x.x + 8) % 7 <> 0
      UNION ALL
      SELECT y.y, x.x, (11 * 7919 + y.y * 8191 + x.x * 127) % 10007
      FROM ys y CROSS JOIN xs x
    ),
    med AS (SELECT y, x, MEDIAN(v) AS m FROM vals GROUP BY y, x)
    SELECT 'red' AS band, 0 AS t,
           CAST(y // 16 AS INT) AS zy, CAST(x // 32 AS INT) AS zx,
           CAST(COUNT(m) AS BIGINT) AS n_valid,
           ROUND(AVG(m), 6) AS mean
    FROM med
    GROUP BY 3, 4
    """,
    doc="HASH-GATED temporal composite: three solar-day time slices with "
    "nodata holes → per-pixel nodata-skipping MEDIAN over time "
    "(operators/composite.temporal_median) → zonal means. The oracle "
    "recomputes every pixel's median from first principles — the classic "
    "cloud-free-mosaic op verified end-to-end through the pipeline.",
    tags=("raster", "composite", "zonal"),
)
def r_temporal_median_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.composite import temporal_median
    from ..operators.zonal import zonal_stats

    t0 = datetime(2020, 6, 6, 8, 30)
    gbox = GeoBox((64, 128), (10.0, 0.0, 0.0, 0.0, -10.0, 640.0), _CRS)

    def it(i, seed, every, day):
        return Item(
            id=f"tm-{i:03d}",
            datetime=t0 + timedelta(days=day),
            bands={
                "red": RasterSource(
                    f"synth://tm{i}?seed={seed}&nodata_every={every}",
                    geobox=gbox,
                    meta=RasterBandMetadata("int32", -1),
                )
            },
            lon=27.4,
        )

    items = [it(0, 3, 5, 0), it(1, 8, 7, 1), it(2, 11, 0, 2)]
    tiles_df, plan = load(spark, items, groupby="solar_day", chunks=(32, 48))
    composite = temporal_median(tiles_df, nodata=-1.0)
    return zonal_stats(composite, nodata=None, zone_h=16, zone_w=32)


@register(
    "r_zonal_polygon",
    oracle="""
    WITH pix AS (
      SELECT 10.0 * x.x + 5 AS px, 635.0 - 10.0 * y.y AS py,
             CASE WHEN (y.y + x.x + 3) % 5 <> 0
                  THEN (3 * 7919 + y.y * 8191 + x.x * 127) % 10007 END AS value
      FROM (SELECT UNNEST(generate_series(0, 63)) AS y) y
      CROSS JOIN (SELECT UNNEST(generate_series(0, 127)) AS x) x
    )
    SELECT 'red' AS band, 0 AS t, 'tri' AS zone,
           CAST(COUNT(value) AS BIGINT) AS n_valid,
           ROUND(AVG(value), 6) AS mean
    FROM pix
    WHERE (1180.9-102.3)*(py-33.7) - (180.4-33.7)*(px-102.3) > 0
      AND (420.1-1180.9)*(py-180.4) - (610.2-180.4)*(px-1180.9) > 0
      AND (102.3-420.1)*(py-610.2) - (33.7-610.2)*(px-420.1) > 0
    UNION ALL
    SELECT 'red' AS band, 0 AS t, 'quad' AS zone,
           CAST(COUNT(value) AS BIGINT) AS n_valid,
           ROUND(AVG(value), 6) AS mean
    FROM pix
    WHERE (600.3-50.6)*(py-350.2) - (380.7-350.2)*(px-50.6) > 0
      AND (640.8-600.3)*(py-380.7) - (590.4-380.7)*(px-600.3) > 0
      AND (80.2-640.8)*(py-590.4) - (560.9-590.4)*(px-640.8) > 0
      AND (50.6-80.2)*(py-560.9) - (350.2-560.9)*(px-80.2) > 0
    """,
    doc="HASH-GATED P4 polygon geometry: named convex polygon zones "
    "(functions/geom.Polygon, even-odd rasterization per tile) aggregated "
    "through the full load pipeline. The DuckDB oracle recomputes every "
    "pixel-center's membership INDEPENDENTLY as half-plane sign tests — "
    "two different point-in-polygon algorithms must agree on all 8192 "
    "pixels for the hash to match, gating the rasterizer itself.",
    tags=("raster", "zonal", "geometry"),
)
def r_zonal_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.geom import Polygon
    from ..operators.zonal import zonal_stats_polygons

    t0 = datetime(2020, 6, 6, 8, 30)
    gbox = GeoBox((64, 128), (10.0, 0.0, 0.0, 0.0, -10.0, 640.0), _CRS)
    item = Item(
        id="zp-000",
        datetime=t0,
        bands={
            "red": RasterSource(
                "synth://zp?seed=3&nodata_every=5",
                geobox=gbox,
                meta=RasterBandMetadata("int32", -1),
            )
        },
        lon=27.4,
    )
    zones = {
        "tri": Polygon(
            [[(102.3, 33.7), (1180.9, 180.4), (420.1, 610.2)]], crs=_CRS
        ),
        "quad": Polygon(
            [[(50.6, 350.2), (600.3, 380.7), (640.8, 590.4), (80.2, 560.9)]],
            crs=_CRS,
        ),
    }
    tiles_df, plan = load(spark, [item], groupby="solar_day", chunks=(32, 48))
    return zonal_stats_polygons(tiles_df, nodata=-1.0, zones=zones, gbox=plan.gbox)


def _warp_golden_sql() -> str:
    from ._warp_golden import WARP_GOLDEN_SQL

    return WARP_GOLDEN_SQL


@register(
    "r_load_warp_crosscrs",
    # the Krüger transform is not SQL-expressible, so the oracle is a
    # GOLDEN table computed by an independent per-pixel LOOP reference
    # (tools/gen_warp_golden.py: bilinear taps, nodata poisoning, ROI
    # rounding and first-valid mosaic re-derived from first principles;
    # only functions/proj.py — invariant-tested in tests/test_proj.py —
    # and the synth pixel formula are shared). checksum is hashed at 9
    # significant digits by the driver, so the loop-vs-vectorized
    # accumulation-order ulp noise cannot flake the gate; crc32 (bit-
    # exact bytes) is intentionally NOT selected for that reason.
    oracle=_warp_golden_sql(),
    doc="F16 end-to-end: UTM sources loaded into a WGS84 geographic output "
    "grid (Krüger-series cross-CRS warp, bilinear) through the full tile "
    "pipeline; returns per-tile stats hash-gated against an independent "
    "per-pixel loop reference (tools/gen_warp_golden.py); transform math "
    "invariant-tested in tests/test_proj.py, sampling in tests/test_warp.py.",
    tags=("raster", "warp"),
)
def r_load_warp_crosscrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..model import RasterLoadParams

    # realistic UTM 35S scene positions (~26.2E, 15S — the reference's
    # bench-site neighborhood) reprojected onto a lat/lon output grid
    t0 = datetime(2020, 6, 6, 8, 30)
    items = []
    for i in range(4):
        origin = (400000.0, 8350000.0 - i * 5000.0)
        gbox = GeoBox((100, 150), (100.0, 0.0, origin[0], 0.0, -100.0, origin[1]), _CRS)
        items.append(
            Item(
                id=f"warp-{i:03d}",
                datetime=t0 + timedelta(minutes=i),
                bands={
                    "red": RasterSource(
                        f"synth://wr{i}?seed={i}&nodata_every=5",
                        geobox=gbox,
                        meta=RasterBandMetadata("int16", -1),
                    )
                },
                lon=26.2,
            )
        )
    out = GeoBox((220, 160), (0.001, 0.0, 26.06, 0.0, -0.001, -14.92), "EPSG:4326")
    cfg = {"*": RasterLoadParams(dtype="float64", fill_value=float("nan"), resampling="bilinear")}
    tiles_df, _ = load(
        spark, items, groupby="solar_day", geobox=out, chunks=(64, 64), cfg=cfg, audit=True
    )
    return tiles_df.select(
        "band", "t", "iy", "ix", "height", "width", "dtype", "valid_count", "checksum"
    ).orderBy("band", "t", "iy", "ix")


@register(
    "r_warp_cubic_multires",
    # First-principles oracle for the Keys bicubic (a=-0.5) warp. The
    # output grid is offset half a pixel from the 10 m sources, so the
    # fractional phase is constant 0.5 → fixed taps
    # [-0.0625, 0.5625, 0.5625, -0.0625]; the 20 m sources resolve to
    # phase 0 (exact alignment, single tap of weight 1) on even output
    # parity and phase 0.5 on odd parity. Derivation (output pixel centers
    # cy=2000-10Y, cx=10X+10; source origin y=2000-150i):
    #   10 m: FY = Y-15i, FX = X+1  → PY=FY-0.5 → JY=Y-15i-1, AY=0.5
    #   20 m: FY = Y/2-7.5i, FX = X/2+0.5
    #         Y even → JY = Y/2-(15i+1)/2, AY=0 (weight-1 single tap)
    #         Y odd  → JY = (Y-1)/2-(15i+1)/2, AY=0.5 (4 taps)
    # A pixel is valid iff EVERY nonzero-weight tap is in-bounds and not a
    # generator hole ((r + c + i) % 6 == 0); value = Σ wy·wx·v with
    # v = (i·7919 + r·8191 + c·127) % 10007. Aggregated per (band, t) so
    # the oracle is independent of the engine's tile enumeration.
    oracle="""
    WITH params AS (
        SELECT UNNEST(generate_series(0, 3)) AS i
    ),
    ys AS (SELECT UNNEST(generate_series(0, 139)) AS gy),
    xs AS (SELECT UNNEST(generate_series(0, 129)) AS gx),
    wts AS (
        SELECT d, CASE WHEN d = -1 OR d = 2 THEN -0.0625 ELSE 0.5625 END AS w
        FROM (SELECT UNNEST(generate_series(-1, 2)) AS d)
    ),
    ytaps AS (
        SELECT p.i, y.gy,
               CASE WHEN p.i % 2 = 0 THEN y.gy - 15 * p.i - 1 + t.d
                    WHEN y.gy % 2 = 1 THEN (y.gy - 1) // 2 - (15 * p.i + 1) // 2 + t.d
                    ELSE y.gy // 2 - (15 * p.i + 1) // 2 END AS r,
               CASE WHEN p.i % 2 = 0 OR y.gy % 2 = 1 THEN t.w ELSE 1.0 END AS wy
        FROM params p CROSS JOIN ys y CROSS JOIN wts t
        WHERE p.i % 2 = 0 OR y.gy % 2 = 1 OR t.d = 0
    ),
    xtaps AS (
        SELECT p.i, x.gx,
               CASE WHEN p.i % 2 = 0 THEN x.gx + t.d
                    WHEN x.gx % 2 = 1 THEN (x.gx - 1) // 2 + t.d
                    ELSE x.gx // 2 END AS c,
               CASE WHEN p.i % 2 = 0 OR x.gx % 2 = 1 THEN t.w ELSE 1.0 END AS wx
        FROM params p CROSS JOIN xs x CROSS JOIN wts t
        WHERE p.i % 2 = 0 OR x.gx % 2 = 1 OR t.d = 0
    ),
    conv AS (
        SELECT yt.i, yt.gy, xt.gx,
               SUM(CASE WHEN r >= 0 AND c >= 0
                         AND r < (CASE WHEN yt.i % 2 = 0 THEN 120 ELSE 60 END)
                         AND c < (CASE WHEN yt.i % 2 = 0 THEN 120 ELSE 60 END)
                         AND (r + c + yt.i) % (CASE WHEN yt.i % 2 = 0 THEN 9 ELSE 6 END) <> 0
                    THEN wy * wx * ((yt.i * 7919 + r * 8191 + c * 127) % 10007)
                    END) AS val,
               COUNT(CASE WHEN NOT (r >= 0 AND c >= 0
                         AND r < (CASE WHEN yt.i % 2 = 0 THEN 120 ELSE 60 END)
                         AND c < (CASE WHEN yt.i % 2 = 0 THEN 120 ELSE 60 END)
                         AND (r + c + yt.i) % (CASE WHEN yt.i % 2 = 0 THEN 9 ELSE 6 END) <> 0)
                    THEN 1 END) AS n_bad
        FROM ytaps yt JOIN xtaps xt ON xt.i = yt.i
        GROUP BY yt.i, yt.gy, xt.gx
    )
    SELECT 'red' AS band, i AS t,
           CAST(COUNT(*) FILTER (WHERE n_bad = 0) AS BIGINT) AS n_valid,
           COALESCE(ROUND(SUM(val) FILTER (WHERE n_bad = 0), 2), 0.0) AS vsum
    FROM conv GROUP BY i
    """,
    doc="F16 cubic, HASH-GATED: multi-resolution sources (10 m/20 m) fused "
    "onto one half-pixel-offset grid with Keys bicubic (a=-0.5) resampling "
    "through the full tile pipeline; the DuckDB oracle recomputes the "
    "entire separable convolution (per-parity tap phases, zero-weight tap "
    "exemption, nodata-tap poisoning; 10 m items use nodata_every=9 "
    "because a 4x4 neighborhood spans 7 consecutive r+c values and mod-6 "
    "holes would poison every pixel) from first principles. Kernel math "
    "additionally loop-oracle-verified in tests/test_warp.py.",
    tags=("raster", "warp"),
)
def r_warp_cubic_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..model import RasterLoadParams

    t0 = datetime(2020, 6, 6, 8, 30)
    items = []
    for i in range(4):
        res = 10.0 if i % 2 == 0 else 20.0
        shape = (120, 120) if res == 10.0 else (60, 60)
        origin = (0.0, 2000.0 - i * 150.0)
        gbox = GeoBox(shape, (res, 0.0, origin[0], 0.0, -res, origin[1]), _CRS)
        items.append(
            Item(
                id=f"cub-{i:03d}",
                datetime=t0 + timedelta(minutes=i),
                bands={
                    "red": RasterSource(
                        f"synth://cu{i}?seed={i}&nodata_every={9 if i % 2 == 0 else 6}",
                        geobox=gbox,
                        meta=RasterBandMetadata("int16", -1),
                    )
                },
            )
        )
    # half-pixel-offset output grid forces the convolution path everywhere
    out = GeoBox((140, 130), (10.0, 0.0, 5.0, 0.0, -10.0, 2005.0), _CRS)
    cfg = {"*": RasterLoadParams(dtype="float64", fill_value=float("nan"), resampling="cubic")}
    tiles_df, _ = load(
        spark, items, groupby="time", geobox=out, chunks=(64, 64), cfg=cfg, audit=True
    )
    return tiles_df.groupBy("band", "t").agg(
        F.sum("valid_count").cast("bigint").alias("n_valid"),
        F.round(F.sum("checksum"), 2).alias("vsum"),
    )


@register(
    "r_zonal_trend",
    # Per-zone linear trend over time: three solar-day slices (seeds
    # 3/8/11, holes mod 5/7/none — same substrate as the temporal
    # median), zonal means per t, then OLS slope/intercept of mean vs t.
    # The oracle recomputes every pixel of every slice from the generator
    # formula, so load, tiling, nodata masking, the zonal partials AND
    # the regression aggregate are all inside the value hash.
    oracle="""
    WITH ys AS (SELECT UNNEST(generate_series(0, 63)) AS y),
    xs AS (SELECT UNNEST(generate_series(0, 127)) AS x),
    vals AS (
      SELECT 0 AS t, y.y AS y, x.x AS x,
             (3 * 7919 + y.y * 8191 + x.x * 127) % 10007 AS v
      FROM ys y CROSS JOIN xs x WHERE (y.y + x.x + 3) % 5 <> 0
      UNION ALL
      SELECT 1, y.y, x.x, (8 * 7919 + y.y * 8191 + x.x * 127) % 10007
      FROM ys y CROSS JOIN xs x WHERE (y.y + x.x + 8) % 7 <> 0
      UNION ALL
      SELECT 2, y.y, x.x, (11 * 7919 + y.y * 8191 + x.x * 127) % 10007
      FROM ys y CROSS JOIN xs x
    ),
    zm AS (
      SELECT t, y // 16 AS zy, x // 32 AS zx, AVG(v) AS mean
      FROM vals GROUP BY 1, 2, 3
    )
    SELECT 'red' AS band, CAST(zy AS INT) AS zy, CAST(zx AS INT) AS zx,
           ROUND(regr_slope(mean, t), 4) AS slope,
           ROUND(regr_intercept(mean, t), 4) AS icept
    FROM zm GROUP BY band, zy, zx
    """,
    doc="HASH-GATED per-zone temporal trend: three time slices → zonal "
    "means per t (map-side tile partials) → regr_slope/regr_intercept per "
    "zone. The change-detection primitive (vegetation trend, urban growth) "
    "as two cheap aggregations — never a per-pixel time-series shuffle.",
    tags=("raster", "zonal", "composite"),
)
def r_zonal_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.zonal import zonal_stats

    t0 = datetime(2020, 6, 6, 8, 30)
    gbox = GeoBox((64, 128), (10.0, 0.0, 0.0, 0.0, -10.0, 640.0), _CRS)

    def it(i, seed, every, day):
        return Item(
            id=f"tr-{i:03d}",
            datetime=t0 + timedelta(days=day),
            bands={
                "red": RasterSource(
                    f"synth://tr{i}?seed={seed}&nodata_every={every}",
                    geobox=gbox,
                    meta=RasterBandMetadata("int32", -1),
                )
            },
            lon=27.4,
        )

    items = [it(0, 3, 5, 0), it(1, 8, 7, 1), it(2, 11, 0, 2)]
    tiles_df, _ = load(spark, items, groupby="solar_day", chunks=(32, 48))
    z = zonal_stats(tiles_df, nodata=-1.0, zone_h=16, zone_w=32)
    return z.groupBy("band", "zy", "zx").agg(
        F.round(F.regr_slope(F.col("mean"), F.col("t").cast("double")), 4).alias("slope"),
        F.round(F.regr_intercept(F.col("mean"), F.col("t").cast("double")), 4).alias("icept"),
    )


@register(
    "r_netcdf_zonal",
    oracle="""
    WITH pix AS (
      SELECT y.y, x.x,
             CASE WHEN (y.y + 2 * x.x) % 9 = 0 THEN NULL
                  ELSE (5 * y.y + 3 * x.x + 11) % 97 END AS red,
             CASE WHEN (2 * y.y + x.x) % 11 = 0 THEN NULL
                  ELSE (7 * y.y + 2 * x.x + 5) % 89 END AS nir
      FROM (SELECT UNNEST(generate_series(0, 63)) AS y) y
      CROSS JOIN (SELECT UNNEST(generate_series(0, 95)) AS x) x
    )
    SELECT band, 0 AS t,
           CAST(y // 16 AS INT) AS zy, CAST(x // 32 AS INT) AS zx,
           CAST(COUNT(value) AS BIGINT) AS n_valid,
           ROUND(AVG(value), 6) AS mean
    FROM (
      SELECT y, x, 'red' AS band, red AS value FROM pix
      UNION ALL
      SELECT y, x, 'nir' AS band, nir AS value FROM pix
    )
    GROUP BY band, 3, 4
    """,
    doc="HASH-GATED real-format container read: a classic netCDF file "
    "(written by the pure-numpy CDF-2 writer, sources/netcdf.py) with two "
    "variables is read through the FULL load pipeline — reader dispatch "
    "by extension, per-band subdataset (variable) addressing, windowed "
    "row-range byte reads, nodata masking — then zonal statistics. The "
    "oracle recomputes every pixel from the fixture formula, so the hash "
    "gates the whole on-disk netCDF codec round trip.",
    tags=("raster", "netcdf", "zonal"),
)
def r_netcdf_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    import numpy as np

    from ..operators.zonal import zonal_stats
    from ..sources.netcdf import write_geo_netcdf

    ny, nx = 64, 96
    y, x = np.mgrid[0:ny, 0:nx]
    red = ((5 * y + 3 * x + 11) % 97).astype(np.int16)
    red[(y + 2 * x) % 9 == 0] = -1
    nir = ((7 * y + 2 * x + 5) % 89).astype(np.int16)
    nir[(2 * y + x) % 11 == 0] = -1
    gbox = GeoBox((ny, nx), (10.0, 0.0, 0.0, 0.0, -10.0, 640.0), _CRS)
    # deterministic on-disk fixture (idempotent rewrite; tiny)
    path = os.path.join(tempfile.gettempdir(), "odc_stac_spark_r_netcdf_zonal.nc")
    write_geo_netcdf(path, {"red": red, "nir": nir}, gbox, nodata=-1)
    item = Item(
        id="nc-000",
        datetime=datetime(2020, 6, 6, 8, 30),
        bands={
            b: RasterSource(
                path, subdataset=b, geobox=gbox, meta=RasterBandMetadata("int16", -1)
            )
            for b in ("red", "nir")
        },
        lon=27.4,
    )
    tiles_df, plan = load(spark, [item], chunks=(32, 48))
    return zonal_stats(tiles_df, nodata=-1.0, zone_h=16, zone_w=32)


@register(
    "r_hdf5_zonal",
    oracle="""
    WITH pix AS (
      SELECT y.y, x.x,
             CASE WHEN (y.y + 3 * x.x) % 13 = 0 THEN NULL
                  ELSE (11 * y.y + 7 * x.x + 3) % 251 END AS red,
             CASE WHEN (3 * y.y + x.x) % 17 = 0 THEN NULL
                  ELSE (13 * y.y + 5 * x.x + 19) % 239 END AS nir
      FROM (SELECT UNNEST(generate_series(0, 63)) AS y) y
      CROSS JOIN (SELECT UNNEST(generate_series(0, 95)) AS x) x
    )
    SELECT band, 0 AS t,
           CAST(y // 16 AS INT) AS zy, CAST(x // 32 AS INT) AS zx,
           CAST(COUNT(value) AS BIGINT) AS n_valid,
           ROUND(AVG(value), 6) AS mean
    FROM (
      SELECT y, x, 'red' AS band, red AS value FROM pix
      UNION ALL
      SELECT y, x, 'nir' AS band, nir AS value FROM pix
    )
    GROUP BY band, 3, 4
    """,
    doc="HASH-GATED netCDF-4/HDF5 container read: an HDF5 file (written "
    "by the pure-stdlib writer, sources/hdf5.py) with two gzip+shuffle "
    "chunked variables is read through the FULL load pipeline — reader "
    "dispatch by extension, magic-sniffed HDF5 header parse, per-band "
    "subdataset addressing, chunk-B-tree windowed reads with "
    "deflate/shuffle de-filtering, nodata masking — then zonal "
    "statistics. The oracle recomputes every pixel from the fixture "
    "formula, so the hash gates the whole on-disk HDF5 chunk machinery. "
    "(The reference reads these via GDAL subdatasets, loader/_rio.py.)",
    tags=("raster", "hdf5", "netcdf4", "zonal"),
)
def r_hdf5_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    import numpy as np

    from ..operators.zonal import zonal_stats
    from ..sources.hdf5 import write_hdf5

    ny, nx = 64, 96
    y, x = np.mgrid[0:ny, 0:nx]
    red = ((11 * y + 7 * x + 3) % 251).astype(np.int16)
    red[(y + 3 * x) % 13 == 0] = -1
    nir = ((13 * y + 5 * x + 19) % 239).astype(np.int16)
    nir[(3 * y + x) % 17 == 0] = -1
    gbox = GeoBox((ny, nx), (10.0, 0.0, 0.0, 0.0, -10.0, 640.0), _CRS)
    path = os.path.join(tempfile.gettempdir(), "odc_stac_spark_r_hdf5_zonal.h5")
    write_hdf5(
        path,
        {
            "red": {"data": red, "chunks": (32, 32), "compression": "gzip", "shuffle": True},
            "nir": {"data": nir, "chunks": (32, 32), "compression": "gzip"},
        },
    )
    item = Item(
        id="h5-000",
        datetime=datetime(2020, 6, 6, 8, 30),
        bands={
            b: RasterSource(
                path, subdataset=b, geobox=gbox, meta=RasterBandMetadata("int16", -1)
            )
            for b in ("red", "nir")
        },
        lon=27.4,
    )
    tiles_df, plan = load(spark, [item], chunks=(32, 48))
    return zonal_stats(tiles_df, nodata=-1.0, zone_h=16, zone_w=32)


@register(
    "r_multiband_cog_zonal",
    # fixture: a 3-band chunky (SamplesPerPixel=3) deflate+Predictor-2 COG;
    # band b pixel (y, x) = (b*1013 + y*37 + x*17) % 4001. Bands 1 and 3
    # load through per-source band selection (RasterSource.band).
    oracle="""
    WITH pix AS (
      SELECT y.y, x.x,
             (1 * 1013 + y.y * 37 + x.x * 17) % 4001 AS red,
             (3 * 1013 + y.y * 37 + x.x * 17) % 4001 AS nir
      FROM (SELECT UNNEST(generate_series(0, 63)) AS y) y
      CROSS JOIN (SELECT UNNEST(generate_series(0, 95)) AS x) x
    )
    SELECT band, 0 AS t,
           CAST(y // 16 AS INT) AS zy, CAST(x // 32 AS INT) AS zx,
           CAST(COUNT(value) AS BIGINT) AS n_valid,
           ROUND(AVG(value), 6) AS mean
    FROM (
      SELECT y, x, 'red' AS band, red AS value FROM pix
      UNION ALL
      SELECT y, x, 'nir' AS band, nir AS value FROM pix
    )
    GROUP BY band, 3, 4
    """,
    doc="HASH-GATED real-format multiband read: a 3-band chunky "
    "(SamplesPerPixel=3, interleaved) COG with deflate + per-channel "
    "Predictor-2 horizontal differencing, written and read by the "
    "in-house TIFF codec, is loaded through the FULL pipeline with "
    "per-source band selection (RasterSource.band) → zonal statistics. "
    "The oracle recomputes every pixel, hash-gating the multiband "
    "layout, the per-channel predictor and the band-addressing chain. "
    "(JPEG-compressed tiles are gated separately via mm_image_jpeg_codec "
    "and pytest: color YCbCr is inherently lossy for unequal channels.)",
    tags=("raster", "cog", "multiband", "zonal"),
)
def r_multiband_cog_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    import numpy as np

    from ..operators.zonal import zonal_stats
    from ..sources.geotiff import write_cog_file

    ny, nx = 64, 96
    yy, xx = np.mgrid[0:ny, 0:nx]
    bands = [
        ((b * 1013 + yy * 37 + xx * 17) % 4001).astype(np.int16) for b in (1, 2, 3)
    ]
    cube = np.stack(bands, axis=-1)
    gbox = GeoBox((ny, nx), (10.0, 0.0, 0.0, 0.0, -10.0, 640.0), _CRS)
    path = os.path.join(tempfile.gettempdir(), "odc_stac_spark_r_mb_cog.tif")
    write_cog_file(path, cube, gbox, tile=64, compression="deflate", predictor=2,
                   overview_levels=[])
    item = Item(
        id="mb-000",
        datetime=datetime(2020, 6, 6, 8, 30),
        bands={
            "red": RasterSource(path, band=1, geobox=gbox,
                                meta=RasterBandMetadata("int16", None)),
            "nir": RasterSource(path, band=3, geobox=gbox,
                                meta=RasterBandMetadata("int16", None)),
        },
        lon=27.4,
    )
    tiles_df, plan = load(spark, [item], chunks=(32, 48))
    return zonal_stats(tiles_df, nodata=None, zone_h=16, zone_w=32)


@register(
    "r_zstd_cog_zonal",
    # fixture: a ZSTD-compressed (Compression=50000, GDAL's code) tiled
    # COG; pixel (y, x) = 1 + (19*y + 23*x + 5) % 1201, nodata 0 where
    # (y*3 + x) % 11 == 0
    oracle="""
    WITH pix AS (
      SELECT y.y, x.x,
             CASE WHEN (y.y * 3 + x.x) % 11 = 0 THEN NULL
                  ELSE 1 + (19 * y.y + 23 * x.x + 5) % 1201 END AS v
      FROM (SELECT UNNEST(generate_series(0, 79)) AS y) y
      CROSS JOIN (SELECT UNNEST(generate_series(0, 95)) AS x) x
    )
    SELECT 'red' AS band, 0 AS t,
           CAST(y // 20 AS INT) AS zy, CAST(x // 32 AS INT) AS zx,
           CAST(COUNT(v) AS BIGINT) AS n_valid,
           ROUND(AVG(v), 6) AS mean
    FROM pix GROUP BY 3, 4
    """,
    doc="HASH-GATED ZSTD COG read (Compression=50000 — the modern GDAL "
    "COG compression; reference reads it via rasterio, "
    "loader/_rio.py:374-475): a zstd-compressed tiled COG goes through "
    "the FULL load pipeline — the tile decode runs the ZSTD backend "
    "chain whose last resort is the from-scratch RFC 8878 decoder "
    "(operators/zstd.py, itself validated against real libzstd frames "
    "in tests/test_zstd.py) — then zonal statistics; the oracle "
    "recomputes every pixel.",
    tags=("raster", "cog", "zstd", "zonal"),
)
def r_zstd_cog_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    import numpy as np

    from ..operators.zonal import zonal_stats
    from ..sources.geotiff import write_cog_file

    ny, nx = 80, 96
    y, x = np.mgrid[0:ny, 0:nx]
    red = (1 + (19 * y + 23 * x + 5) % 1201).astype(np.uint16)
    red[(y * 3 + x) % 11 == 0] = 0
    gbox = GeoBox((ny, nx), (10.0, 0.0, 0.0, 0.0, -10.0, 800.0), _CRS)
    path = os.path.join(tempfile.gettempdir(), "odc_stac_spark_r_zstd_cog.tif")
    write_cog_file(path, red, gbox, tile=64, compression="zstd", overview_levels=[])
    item = Item(
        id="zstd-000",
        datetime=datetime(2020, 6, 6, 8, 30),
        bands={
            "red": RasterSource(
                path, geobox=gbox, meta=RasterBandMetadata("uint16", 0)
            )
        },
        lon=27.4,
    )
    tiles_df, plan = load(spark, [item], chunks=(40, 48))
    return zonal_stats(tiles_df, nodata=0.0, zone_h=20, zone_w=32)


@register(
    "r_webp_cog_zonal",
    # fixture: a WEBP-compressed (Compression=50001, GDAL's code) tiled
    # COG; pixel (y, x) = 1 + (13*y + 29*x + 3) % 251 (uint8 — WebP is
    # an 8-bit format), nodata 0 where (y + x*5) % 13 == 0
    oracle="""
    WITH pix AS (
      SELECT y.y, x.x,
             CASE WHEN (y.y + x.x * 5) % 13 = 0 THEN NULL
                  ELSE 1 + (13 * y.y + 29 * x.x + 3) % 251 END AS v
      FROM (SELECT UNNEST(generate_series(0, 79)) AS y) y
      CROSS JOIN (SELECT UNNEST(generate_series(0, 95)) AS x) x
    )
    SELECT 'red' AS band, 0 AS t,
           CAST(y // 20 AS INT) AS zy, CAST(x // 32 AS INT) AS zx,
           CAST(COUNT(v) AS BIGINT) AS n_valid,
           ROUND(AVG(v), 6) AS mean
    FROM pix GROUP BY 3, 4
    """,
    doc="HASH-GATED WEBP COG read (Compression=50001 — GDAL's modern "
    "8-bit COG compression; reference reads it via rasterio, "
    "loader/_rio.py:374-475): a WebP-compressed tiled COG goes through "
    "the FULL load pipeline — each tile is a complete RIFF/WebP file "
    "whose lossless VP8L bitstream is decoded by the from-scratch "
    "RFC 9649 codec (operators/webp.py: prefix codes, LZ77 distance "
    "mapping, subtract-green) — then zonal statistics; the oracle "
    "recomputes every pixel.",
    tags=("raster", "cog", "webp", "zonal"),
)
def r_webp_cog_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    import numpy as np

    from ..operators.zonal import zonal_stats
    from ..sources.geotiff import write_cog_file

    ny, nx = 80, 96
    y, x = np.mgrid[0:ny, 0:nx]
    red = (1 + (13 * y + 29 * x + 3) % 251).astype(np.uint8)
    red[(y + x * 5) % 13 == 0] = 0
    gbox = GeoBox((ny, nx), (10.0, 0.0, 0.0, 0.0, -10.0, 800.0), _CRS)
    path = os.path.join(tempfile.gettempdir(), "odc_stac_spark_r_webp_cog.tif")
    write_cog_file(path, red, gbox, tile=64, compression="webp", overview_levels=[])
    item = Item(
        id="webp-000",
        datetime=datetime(2020, 6, 6, 8, 30),
        bands={
            "red": RasterSource(
                path, geobox=gbox, meta=RasterBandMetadata("uint8", 0)
            )
        },
        lon=27.4,
    )
    tiles_df, plan = load(spark, [item], chunks=(40, 48))
    return zonal_stats(tiles_df, nodata=0.0, zone_h=20, zone_w=32)


@register(
    "r_jp2_zonal",
    # fixture: two uint16 JPEG2000 files (tiled 48×64, 2 decomposition
    # levels, 5/3 reversible, code-blocks 32) written by the in-house
    # Part-1 encoder; pixel formulas below, nodata sentinel 0
    oracle="""
    WITH pix AS (
      SELECT y.y, x.x,
             CASE WHEN (y.y * 5 + x.x * 3) % 19 = 0 THEN NULL
                  ELSE 1 + (23 * y.y + 11 * x.x + 7) % 996 END AS red,
             CASE WHEN (y.y + x.x * 7) % 23 = 0 THEN NULL
                  ELSE 1 + (17 * y.y + 29 * x.x + 101) % 1498 END AS nir
      FROM (SELECT UNNEST(generate_series(0, 95)) AS y) y
      CROSS JOIN (SELECT UNNEST(generate_series(0, 127)) AS x) x
    )
    SELECT band, 0 AS t,
           CAST(y // 24 AS INT) AS zy, CAST(x // 32 AS INT) AS zx,
           CAST(COUNT(value) AS BIGINT) AS n_valid,
           ROUND(AVG(value), 6) AS mean
    FROM (
      SELECT y, x, 'red' AS band, red AS value FROM pix
      UNION ALL
      SELECT y, x, 'nir' AS band, nir AS value FROM pix
    )
    GROUP BY band, 3, 4
    """,
    doc="HASH-GATED JPEG2000 read (the Sentinel-2 SAFE format; reference "
    "reads it via GDAL JP2OpenJPEG, loader/_rio.py:374-475): two tiled "
    "lossless Part-1 JP2 files — MQ-coded EBCOT code-blocks, 5/3 "
    "reversible DWT, LRCP packets — are decoded by the from-scratch "
    "codec (operators/jp2.py) through the FULL load pipeline: reader "
    "dispatch by extension, marker-walk header cached per executor, "
    "per-JP2-tile byte-range reads of only intersecting tiles, nodata "
    "masking, then zonal statistics. The oracle recomputes every pixel "
    "from the fixture formula, so the hash gates the entire T1/T2/DWT "
    "decode machinery end-to-end.",
    tags=("raster", "jp2", "jpeg2000", "zonal"),
)
def r_jp2_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    import numpy as np

    from ..operators.jp2 import encode_jp2
    from ..operators.zonal import zonal_stats

    ny, nx = 96, 128
    y, x = np.mgrid[0:ny, 0:nx]
    # value ranges start at 1 so the nodata sentinel 0 never collides
    red = (1 + (23 * y + 11 * x + 7) % 996).astype(np.uint16)
    red[(y * 5 + x * 3) % 19 == 0] = 0
    nir = (1 + (17 * y + 29 * x + 101) % 1498).astype(np.uint16)
    nir[(y + x * 7) % 23 == 0] = 0
    gbox = GeoBox((ny, nx), (10.0, 0.0, 0.0, 0.0, -10.0, 960.0), _CRS)
    paths = {}
    for name, arr in (("red", red), ("nir", nir)):
        p = os.path.join(tempfile.gettempdir(), f"odc_stac_spark_r_jp2_{name}.jp2")
        with open(p, "wb") as f:
            f.write(encode_jp2(arr, levels=2, cblk=32, tile_size=(48, 64)))
        paths[name] = p
    item = Item(
        id="jp2-000",
        datetime=datetime(2020, 6, 6, 8, 30),
        bands={
            b: RasterSource(
                paths[b], geobox=gbox, meta=RasterBandMetadata("uint16", 0)
            )
            for b in ("red", "nir")
        },
        lon=27.4,
    )
    tiles_df, plan = load(spark, [item], chunks=(48, 64))
    return zonal_stats(tiles_df, nodata=0.0, zone_h=24, zone_w=32)


@register(
    "r_float_pred3_cog_zonal",
    # fixture: a float32 COG compressed deflate + Predictor=3 (the
    # TechNote-3 floating-point predictor GDAL pairs with float rasters);
    # pixel (y, x) = integer-valued float 1 + (29*y + 17*x + 11) % 2003,
    # nodata 0 where (y*2 + x*5) % 17 == 0 — integer-valued floats keep
    # both engines' arithmetic exact
    oracle="""
    WITH pix AS (
      SELECT y.y, x.x,
             CASE WHEN (y.y * 2 + x.x * 5) % 17 = 0 THEN NULL
                  ELSE CAST(1 + (29 * y.y + 17 * x.x + 11) % 2003 AS DOUBLE)
             END AS v
      FROM (SELECT UNNEST(generate_series(0, 79)) AS y) y
      CROSS JOIN (SELECT UNNEST(generate_series(0, 95)) AS x) x
    )
    SELECT 'red' AS band, 0 AS t,
           CAST(y // 20 AS INT) AS zy, CAST(x // 32 AS INT) AS zx,
           CAST(COUNT(v) AS BIGINT) AS n_valid,
           ROUND(AVG(v), 6) AS mean
    FROM pix GROUP BY 3, 4
    """,
    doc="HASH-GATED float-raster read with the FLOATING-POINT PREDICTOR "
    "(TIFF Predictor=3, TechNote 3 — what GDAL pairs with float COGs; "
    "reference reads them via rasterio, loader/_rio.py:374-475): a "
    "float32 deflate+Predictor-3 COG goes through the FULL load "
    "pipeline — tile decode undoes the byte-plane differencing and "
    "reassembles big-endian floats — then float nodata masking and "
    "zonal statistics; integer-valued floats make the oracle exact.",
    tags=("raster", "cog", "float", "predictor", "zonal"),
)
def r_float_pred3_cog_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    import numpy as np

    from ..operators.zonal import zonal_stats
    from ..sources.geotiff import write_cog_file

    ny, nx = 80, 96
    y, x = np.mgrid[0:ny, 0:nx]
    red = (1 + (29 * y + 17 * x + 11) % 2003).astype(np.float32)
    red[(y * 2 + x * 5) % 17 == 0] = 0.0
    gbox = GeoBox((ny, nx), (10.0, 0.0, 0.0, 0.0, -10.0, 800.0), _CRS)
    path = os.path.join(tempfile.gettempdir(), "odc_stac_spark_r_p3_cog.tif")
    write_cog_file(
        path, red, gbox, tile=64, compression="deflate", predictor=3,
        overview_levels=[],
    )
    item = Item(
        id="p3-000",
        datetime=datetime(2020, 6, 6, 8, 30),
        bands={
            "red": RasterSource(
                path, geobox=gbox, meta=RasterBandMetadata("float32", 0.0)
            )
        },
        lon=27.4,
    )
    tiles_df, plan = load(spark, [item], chunks=(40, 48))
    return zonal_stats(tiles_df, nodata=0.0, zone_h=20, zone_w=32)


@register(
    "r_jp2_subsampled_zonal",
    # fixture: ONE two-component JPEG2000 file — full-res "red" plus a
    # 2×2-SUBSAMPLED "nir" (the 4:2:0-style layout, B.3); the decoder
    # presents nir replicated, so nir(y, x) = f(y//2, x//2)
    oracle="""
    WITH pix AS (
      SELECT y.y, x.x,
             CASE WHEN (y.y * 5 + x.x * 3) % 19 = 0 THEN NULL
                  ELSE 1 + (23 * y.y + 11 * x.x + 7) % 996 END AS red,
             CASE WHEN ((y.y // 2) + (x.x // 2) * 7) % 23 = 0 THEN NULL
                  ELSE 1 + (17 * (y.y // 2) + 29 * (x.x // 2) + 101) % 1498
             END AS nir
      FROM (SELECT UNNEST(generate_series(0, 79)) AS y) y
      CROSS JOIN (SELECT UNNEST(generate_series(0, 95)) AS x) x
    )
    SELECT band, 0 AS t,
           CAST(y // 20 AS INT) AS zy, CAST(x // 32 AS INT) AS zx,
           CAST(COUNT(value) AS BIGINT) AS n_valid,
           ROUND(AVG(value), 6) AS mean
    FROM (
      SELECT y, x, 'red' AS band, red AS value FROM pix
      UNION ALL
      SELECT y, x, 'nir' AS band, nir AS value FROM pix
    )
    GROUP BY band, 3, 4
    """,
    doc="HASH-GATED SUBSAMPLED JPEG2000 read (component subsampling, "
    "T.800 B.3 — the 4:2:0-style layout; reference reads it via GDAL, "
    "loader/_rio.py:374-475): one JP2 carries a full-resolution band "
    "plus a 2×2-subsampled band; per-component ceil-difference tile "
    "rectangles decode on the native grids and replicate up to the "
    "reference grid, then both bands flow through the FULL load "
    "pipeline (multi-component band addressing, per-JP2-tile ranged "
    "reads, nodata masking) into zonal statistics. The oracle "
    "recomputes every pixel incl. the y//2, x//2 replication rule.",
    tags=("raster", "jp2", "jpeg2000", "subsampling", "zonal"),
)
def r_jp2_subsampled_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    import numpy as np

    from ..operators.jp2 import encode_jp2
    from ..operators.zonal import zonal_stats

    ny, nx = 80, 96
    y, x = np.mgrid[0:ny, 0:nx]
    red = (1 + (23 * y + 11 * x + 7) % 996).astype(np.uint16)
    red[(y * 5 + x * 3) % 19 == 0] = 0
    yc, xc = np.mgrid[0 : ny // 2, 0 : nx // 2]
    nir = (1 + (17 * yc + 29 * xc + 101) % 1498).astype(np.uint16)
    nir[(yc + xc * 7) % 23 == 0] = 0
    gbox = GeoBox((ny, nx), (10.0, 0.0, 0.0, 0.0, -10.0, 800.0), _CRS)
    p = os.path.join(tempfile.gettempdir(), "odc_stac_spark_r_jp2_sub.jp2")
    with open(p, "wb") as f:
        f.write(
            encode_jp2(
                [red, nir], levels=2, cblk=32,
                subsampling=[(1, 1), (2, 2)], size=(ny, nx),
                tile_size=(48, 64),
            )
        )
    item = Item(
        id="jp2-sub-000",
        datetime=datetime(2020, 6, 6, 8, 30),
        bands={
            "red": RasterSource(
                p, band=1, geobox=gbox, meta=RasterBandMetadata("uint16", 0)
            ),
            "nir": RasterSource(
                p, band=2, geobox=gbox, meta=RasterBandMetadata("uint16", 0)
            ),
        },
        lon=27.4,
    )
    tiles_df, plan = load(spark, [item], chunks=(40, 48))
    return zonal_stats(tiles_df, nodata=0.0, zone_h=20, zone_w=32)
