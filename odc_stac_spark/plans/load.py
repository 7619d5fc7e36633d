"""The ``load()`` query lifecycle, Spark-first (SURVEY §3.1 stages 1-8).

Reference pipeline (odc/stac/_stac_load.py:88-477): parse → output-grid
resolution → band resolution → temporal grouping → tile binning → per-tile
mosaic tasks. Two binners turn sources into ONE tile-task table
(``_TASK_DDL``: a row per (band, t, iy, ix) task holding its sources in
precedence order, A4), and one executor runs it — the role of the
reference's shared task-graph code (loader/_builder.py:99-155):

    load(items)                   driver binning (J1), no shuffle
    load_from_sources(DataFrame)  tile explode (J1) → one hash exchange
                                  on the task key → sorted collect_list
      → task table (band, t, iy, ix, sources)
      → _run_tiles: mapInPandas over the task table             [S8+A6]
      → tiles DataFrame (band, t, iy, ix, …, data BINARY)

Scale properties the reference had to build by hand and Spark gives us:

- spatial partition pruning: tiles an item doesn't touch are never
  emitted (explode produces only intersecting indices — no theta join);
- tile tasks are packed per core, not per tile: the catalog path's one
  exchange has ``min(#tasks, defaultParallelism)`` partitions and the
  list path's task table splits over the cores, so each Python worker
  streams many tiles and pays its fixed cost once;
- item/plan metadata ships to executors via closure broadcast (the Dask
  token-dedup trick, loader/_builder.py:117-132, for free);
- at 100 TB the items table itself stays distributed: group keys, bbox
  union and grid election are DataFrame aggregations, and only the final
  scalar elections are collected (SURVEY §7.3 "100 TB scale deltas").

Driver-side ``items`` ingestion here takes a Python list (as the reference
takes a pystac.Item list); the STAC-metadata DataFrame source for large
catalogs is odc_stac_spark/sources/stac_items.py.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field
from datetime import datetime
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..model import (
    GeoBox,
    GeoboxTiles,
    RasterBandMetadata,
    RasterLoadParams,
    RasterSource,
    resolve_dst_dtype,
    resolve_dst_nodata,
    resolve_src_nodata,
    solar_offset_seconds,
)
from ..operators.mosaic import fill_tile
from ..session import sql_in, sql_literal
from ..sources.synth import reader_for

DEFAULT_CHUNK = 2048  # reference DEFAULT_CHUNK_FOR_LOAD (_stac_load.py:46)


@dataclass
class Item:
    """Minimal ParsedItem analog (reference model.py:193-219)."""

    id: str
    datetime: datetime
    bands: Dict[str, RasterSource]
    lon: Optional[float] = None  # centroid longitude for solar_day
    #: raw STAC properties — groupby=<property name> keys off this map
    props: Dict[str, object] = field(default_factory=dict)


@dataclass
class LoadPlan:
    gbox: GeoBox
    tiles: GeoboxTiles
    bands: List[str]
    cfg: Dict[str, RasterLoadParams]
    group_keys: List[object] = field(default_factory=list)  # t → key
    group_ts: List[datetime] = field(default_factory=list)  # t → representative ts
    groupby: str = "id"  # the key the group_keys were computed with
    #: compute per-tile audit columns (checksum, crc32)? Off by default:
    #: they cost a full extra pass over every tile (float64 sum + crc) that
    #: pure load/mosaic consumers never read.
    audit: bool = False
    #: AOI polygon (in ``gbox.crs``) when ``geopolygon=`` carried real ring
    #: geometry — tiles whose bbox misses it are pruned at plan time (P4:
    #: the polygon participates beyond its bounding box). None for bbox-
    #: equivalent queries.
    aoi: Optional[object] = None


def resolve_load_cfg(
    bands: Sequence[str],
    meta: Dict[str, RasterBandMetadata],
    cfg: Optional[Dict[str, RasterLoadParams]] = None,
) -> Dict[str, RasterLoadParams]:
    """Per-band config with '*' wildcard (reference resolve_load_cfg,
    loader/_reader.py:20-65)."""
    cfg = cfg or {}
    out = {}
    for b in bands:
        c = cfg.get(b, cfg.get("*"))
        if c is None:
            m = meta.get(b)
            c = RasterLoadParams.same_as(m) if m is not None else RasterLoadParams()
        out[b] = c
    return out


def _apply_cfg_overrides(
    cfg: Dict[str, RasterLoadParams], **overrides
) -> Dict[str, RasterLoadParams]:
    """Reference load()'s ``resampling=``/``dtype=`` convenience kwargs
    (_stac_load.py signature): a plain value applies to every band, a
    dict is keyed by band name with a ``"*"`` wildcard."""
    import dataclasses

    def pick(v, band):
        if isinstance(v, dict):
            return v.get(band, v.get("*"))
        return v

    out = {}
    for band, c in cfg.items():
        repl = {
            field_name: val
            for field_name, v in overrides.items()
            if v is not None and (val := pick(v, band)) is not None
        }
        out[band] = dataclasses.replace(c, **repl) if repl else c
    return out


def _group_key(item: Item, groupby: str, idx: int, default_lon: float = 0.0):
    """A1 group-key computation (_stac_load.py:489-535)."""
    if groupby == "id":
        return idx  # identity: one group per input item, original order
    if groupby == "time":
        return item.datetime
    if groupby == "solar_day":
        # per-item lon wins; else the output-grid centroid longitude
        # (reference passes gbox.extent.centroid lon for every item,
        # _stac_load.py:403-408)
        lon = item.lon if item.lon is not None else default_lon
        off = solar_offset_seconds(lon)
        return (pd.Timestamp(item.datetime) + pd.Timedelta(seconds=off)).date()
    if callable(groupby):
        return groupby(item, idx)
    if isinstance(groupby, str):
        # any other string is a STAC property name; items missing the
        # property share the None group (reference _groupby_property,
        # _stac_load.py:515-535)
        return item.props.get(groupby)
    raise ValueError(f"unsupported groupby: {groupby!r}")


def _precedence(item: Item) -> Tuple:
    """A4 precedence by time: ``(time, id)`` with a missing datetime last,
    the catalog path's ``(ts IS NULL, ts, item_id)``. Undated items share
    the placeholder 0 and order by id, so no ``None`` is ever ordered."""
    if pd.isna(item.datetime):
        return (True, 0, item.id)
    return (False, pd.Timestamp(item.datetime), item.id)


def _maybe_int(v: float, tol: float = 1e-6) -> float:
    r = round(v)
    return float(r) if abs(v - r) < tol else v


def _norm_anchor(anchor, align, resolution: float):
    """Normalize anchor/align to a pixel-fraction pair, or None (no snap).

    ``anchor``: "edge" → (0,0), "center" → (0.5,0.5), or (ax, ay)
    fractions. ``align``: offset in CRS units (old dc.load style) —
    converted by dividing by |resolution| (reference _align2anchor,
    _mdtools.py:806-820)."""
    if anchor is not None:
        if anchor == "edge":
            return (0.0, 0.0)
        if anchor == "center":
            return (0.5, 0.5)
        ax, ay = anchor
        return (float(ax) % 1.0, float(ay) % 1.0)
    if align is not None:
        if isinstance(align, (int, float)):
            align = (align, align)
        ax, ay = align
        if ax == 0 and ay == 0:
            return (0.0, 0.0)
        r = abs(resolution)
        return ((float(ax) / r) % 1.0, (float(ay) / r) % 1.0)
    return None


def _snapped_geobox(
    bbox: Tuple[float, float, float, float],
    resolution: float,
    crs: str,
    anchor,
) -> GeoBox:
    """bbox → GeoBox; with an anchor, pixel edges snap to the global grid
    whose edge offset is ``anchor`` pixel-fractions (odc-geo
    ``GeoBox.from_bbox(anchor=...)`` snap-grid semantics)."""
    import math

    if anchor is None:
        return GeoBox.from_bbox(bbox, resolution, crs)
    xmin, ymin, xmax, ymax = bbox
    r = abs(resolution)
    ax, ay = anchor
    gx0 = math.floor(_maybe_int(xmin / r - ax)) + ax
    gx1 = math.ceil(_maybe_int(xmax / r - ax)) + ax
    gy0 = math.floor(_maybe_int(ymin / r - ay)) + ay
    gy1 = math.ceil(_maybe_int(ymax / r - ay)) + ay
    nx = max(1, int(round(gx1 - gx0)))
    ny = max(1, int(round(gy1 - gy0)))
    return GeoBox((ny, nx), (r, 0.0, gx0 * r, 0.0, -r, gy1 * r), crs)


def _geopolygon_bbox(geopolygon):
    """Normalize a geopolygon argument to (bbox, crs): a
    :class:`~odc_stac_spark.functions.geom.Polygon` (carries its own CRS),
    GeoJSON-style dict or ``__geo_interface__`` object (assumed EPSG:4326
    as in the reference's _normalize_geometry, _mdtools.py:768-788),
    shapely-like object with ``.bounds``, or an explicit
    ((xmin,ymin,xmax,ymax), crs) pair."""
    from ..functions.geom import Polygon

    crs = "EPSG:4326"
    if isinstance(geopolygon, Polygon):
        return geopolygon.bounds, geopolygon.crs
    if isinstance(geopolygon, tuple) and len(geopolygon) == 2 and isinstance(
        geopolygon[1], str
    ):
        return tuple(geopolygon[0]), geopolygon[1]
    geo = getattr(geopolygon, "__geo_interface__", None)
    if geo is not None:
        geopolygon = geo
    if isinstance(geopolygon, dict):
        coords = geopolygon.get("coordinates", [])
        xs: List[float] = []
        ys: List[float] = []

        def walk(c):
            if (
                isinstance(c, (list, tuple))
                and len(c) >= 2
                and all(isinstance(v, (int, float)) for v in c[:2])
            ):
                xs.append(float(c[0]))
                ys.append(float(c[1]))
            elif isinstance(c, (list, tuple)):
                for cc in c:
                    walk(cc)

        walk(coords)
        if not xs:
            raise ValueError("No geospatial info on `geopolygon=` input")
        return (min(xs), min(ys), max(xs), max(ys)), crs
    bounds = getattr(geopolygon, "bounds", None)
    if bounds is not None:
        return tuple(bounds), crs
    raise ValueError("No geospatial info on `geopolygon=` input")


def _bbox_to_crs(bbox, src_crs: str, dst_crs: str):
    """bbox reprojection via densified boundary (same as _footprint_in)."""
    if src_crs == dst_crs:
        return tuple(bbox)
    return _footprint_in(
        GeoBox(
            (1, 1),
            (bbox[2] - bbox[0], 0.0, bbox[0], 0.0, bbox[1] - bbox[3], bbox[3]),
            src_crs,
        ),
        dst_crs,
    )


def _bbox_union(boxes) -> Tuple[float, float, float, float]:
    xmin, ymin, xmax, ymax = zip(*boxes)
    return (min(xmin), min(ymin), max(xmax), max(ymax))


def _item_census(items: Sequence[Item], bands: Optional[Sequence[str]] = None):
    """One pass over a driver item list → the planner's census of its
    sources (see :func:`_finish_plan`): grid kinds, ``foreign`` and the
    band metadata in first-seen order. Only ``bands`` (default all)
    contribute grids."""
    meta: Dict[str, RasterBandMetadata] = {}
    kinds: Dict[Tuple[str, float], Tuple[int, Tuple]] = {}
    geoms: List[GeoBox] = []
    for it in items:
        for b, src in it.bands.items():
            meta.setdefault(b, src.meta or RasterBandMetadata())
            g = src.geobox
            if g is None or (bands is not None and b not in bands):
                continue
            geoms.append(g)
            n, bb = kinds.get((g.crs, g.gsd), (0, g.bbox()))
            kinds[(g.crs, g.gsd)] = (n + 1, _bbox_union([bb, g.bbox()]))

    def foreign(crs: str):
        bbs = [_footprint_in(g, crs) for g in geoms if g.crs != crs]
        return _bbox_union(bbs) if bbs else None

    return [(c, r, n, bb) for (c, r), (n, bb) in kinds.items()], foreign, meta


def output_geobox(
    items: Sequence[Item],
    bands: Optional[Sequence[str]] = None,
    *,
    crs: Optional[str] = None,
    resolution: Optional[float] = None,
    anchor=None,
    align=None,
    geobox: Optional[GeoBox] = None,
    like=None,
    geopolygon=None,
    bbox: Optional[Tuple[float, float, float, float]] = None,
    lon: Optional[Tuple[float, float]] = None,
    lat: Optional[Tuple[float, float]] = None,
    x: Optional[Tuple[float, float]] = None,
    y: Optional[Tuple[float, float]] = None,
) -> Optional[GeoBox]:
    """P3: full output-grid argument surface with the reference's
    precedence ladder and mutual-exclusion validation
    (``output_geobox``, _mdtools.py:823-981):

    - ``geobox=`` / ``like=`` win outright and admit NO other spatial arg;
    - ``lon/lat`` and ``bbox`` are EPSG:4326 queries; ``x/y`` are in
      ``crs=`` (required); ``geopolygon`` carries its own CRS;
      any two of these together raise;
    - missing crs/resolution are elected from the items by joint
      (crs, gsd) majority vote, limited to ``crs=`` when given;
    - ``anchor=`` / ``align=`` snap the grid (edge/center/fractions).
    """
    grids, foreign, _ = _item_census(items, bands)
    return _output_geobox(
        grids, foreign, crs=crs, resolution=resolution, anchor=anchor, align=align,
        geobox=geobox, like=like, geopolygon=geopolygon, bbox=bbox, lon=lon, lat=lat,
        x=x, y=y,
    )


def _output_geobox(
    grids, foreign, *, crs=None, resolution=None, anchor=None, align=None, geobox=None,
    like=None, geopolygon=None, bbox=None, lon=None, lat=None, x=None, y=None,
) -> Optional[GeoBox]:
    """:func:`output_geobox` over a census: the argument ladder, then the
    election from the grid kinds (``foreign`` is only called for a bbox
    union)."""
    params = {
        k
        for k, v in dict(
            x=x, y=y, lon=lon, lat=lat, crs=crs, resolution=resolution,
            align=align, anchor=anchor, like=like, geopolygon=geopolygon,
            bbox=bbox, geobox=geobox,
        ).items()
        if v is not None
    }

    def report_extra_args(primary: str, *ok_args):
        extra = params - {primary, *ok_args}
        if extra:
            raise ValueError(
                f"Too many arguments when using `{primary}=` (mutually "
                f"exclusive): {','.join(sorted(extra))}"
            )

    if geobox is not None:
        report_extra_args("geobox")
        return geobox
    if like is not None:
        report_extra_args("like")
        if isinstance(like, GeoBox):
            return like
        g = getattr(like, "gbox", None) or getattr(like, "geobox", None)
        if isinstance(g, GeoBox):
            return g
        raise ValueError("No geospatial info on `like=` input")

    if (x is None) != (y is None):
        raise ValueError("Need to supply both x= and y=")
    if (lon is None) != (lat is None):
        raise ValueError("Need to supply both lon= and lat=")

    grid_params = ("crs", "align", "anchor", "resolution")
    query: Optional[Tuple[Tuple[float, float, float, float], str]] = None
    if geopolygon is not None:
        report_extra_args("geopolygon", *grid_params)
        query = _geopolygon_bbox(geopolygon)
    elif bbox is not None:
        report_extra_args("bbox", *grid_params)
        query = (tuple(bbox), "EPSG:4326")
    elif lon is not None:
        report_extra_args("lon,lat", "lon", "lat", *grid_params)
        x0, x1 = sorted(lon)
        y0, y1 = sorted(lat)
        query = ((x0, y0, x1, y1), "EPSG:4326")
    elif x is not None:
        if crs is None:
            raise ValueError("Need to supply `crs=` when using `x=`, `y=`.")
        report_extra_args("x,y", "x", "y", *grid_params)
        x0, x1 = sorted(x)
        y0, y1 = sorted(y)
        query = ((x0, y0, x1, y1), crs)

    if crs is None or resolution is None:
        # A7: JOINT (crs, gsd) majority vote, tie → finest gsd (reference
        # _most_common_gbox, _mdtools.py:726-749 — so a meters gsd is never
        # elected for a degrees grid), over the grids in crs= when given
        votes = [g for g in grids if crs is None or g[0] == crs]
        if votes:
            e_crs, e_gsd, _, _ = min(votes, key=lambda g: (-g[2], g[1], g[0]))
            crs = e_crs if crs is None else crs
            resolution = float(e_gsd) if resolution is None else resolution
        elif grids:
            raise ValueError(f"no source grid in crs={crs!r}: pass resolution=")
        elif crs is None and query is not None:
            crs = query[1]
        if crs is None or resolution is None:
            return None

    anchor_frac = _norm_anchor(anchor, align, resolution)
    if query is not None:
        bb = _bbox_to_crs(query[0], query[1], crs)
        return _snapped_geobox(bb, resolution, crs, anchor_frac)

    # A8 bbox union: grids in the output CRS by their affine bboxes, the
    # others by their reprojected footprints
    boxes = [g[3] for g in grids if g[0] == crs]
    fb = foreign(crs)
    if fb is not None:
        boxes.append(fb)
    if not boxes:
        return None
    return _snapped_geobox(_bbox_union(boxes), resolution, crs, anchor_frac)


def _mid_longitude(gbox: GeoBox) -> float:
    """Output-grid centroid longitude — the solar_day reference point for
    items without their own lon (reference _stac_load.py:403-408:
    gbox.extent.centroid → epsg:4326). Falls back to 0.0 when the grid's
    CRS has no built-in transform."""
    import numpy as np

    from ..functions import proj

    cx = gbox.transform[2] + gbox.transform[0] * gbox.shape[1] / 2.0
    cy = gbox.transform[5] + gbox.transform[4] * gbox.shape[0] / 2.0
    if gbox.crs == "EPSG:4326":
        return float(cx)
    if proj.can_transform(gbox.crs, "EPSG:4326"):
        lon, _ = proj.transform(np.array([cx]), np.array([cy]), gbox.crs, "EPSG:4326")
        return float(lon[0])
    return 0.0


def patch_urls(items, edit, bands: Optional[Sequence[str]] = None):
    """Map ``edit`` over band-source URIs — sign or rewrite asset URLs
    before loading (reference ``patch_urls``, _stac_load.py:60-84).

    ``items``: one :class:`Item` or a sequence of them; ``edit``: str→str;
    ``bands``: only edit these bands (default all). Returns new Item(s) —
    inputs are not mutated. The DataFrame form for catalog-scale rewriting
    is :func:`odc_stac_spark.sources.stac_items.patch_urls_df`."""
    import dataclasses

    def _one(item: Item) -> Item:
        new_bands = {
            k: (
                dataclasses.replace(src, uri=edit(src.uri))
                if bands is None or k in bands
                else src
            )
            for k, src in item.bands.items()
        }
        return dataclasses.replace(item, bands=new_bands)

    if isinstance(items, Item):
        return _one(items)
    return [_one(it) for it in items]


def plan_load(
    items: Sequence[Item],
    bands: Optional[Sequence[str]] = None,
    geobox: Optional[GeoBox] = None,
    bbox: Optional[Tuple[float, float, float, float]] = None,
    resolution: Optional[float] = None,
    crs: Optional[str] = None,
    groupby: str = "id",
    chunks: Tuple[int, int] = (DEFAULT_CHUNK, DEFAULT_CHUNK),
    cfg: Optional[Dict[str, RasterLoadParams]] = None,
    resampling=None,
    dtype=None,
    preserve_original_order: bool = False,
    audit: bool = False,
    like=None,
    geopolygon=None,
    lon: Optional[Tuple[float, float]] = None,
    lat: Optional[Tuple[float, float]] = None,
    x: Optional[Tuple[float, float]] = None,
    y: Optional[Tuple[float, float]] = None,
    anchor=None,
    align=None,
) -> LoadPlan:
    """Stages 1-6: output-grid resolution (P3/A7/A8), band resolution (P1),
    temporal grouping (A1-A5), tiling (F13)."""
    if not items:
        raise ValueError("no items")
    grids, foreign, meta = _item_census(items, bands)

    def groups(gbox: GeoBox):
        # each group's representative is its first member by precedence
        # or original index (_stac_load.py:538-566)
        mid_lon = _mid_longitude(gbox) if groupby == "solar_day" else 0.0
        first: Dict[object, Tuple] = {}
        for i, it in enumerate(items):
            k = _group_key(it, groupby, i, mid_lon)
            order = (i,) if preserve_original_order else _precedence(it)
            if k not in first or order < first[k][0]:
                first[k] = (order, it.datetime)
        return [(k, ts) for k, (_, ts) in first.items()]

    return _finish_plan(
        grids, foreign, meta, groups, bands, groupby, chunks, cfg, resampling, dtype, audit,
        geobox=geobox, bbox=bbox, resolution=resolution, crs=crs, like=like,
        geopolygon=geopolygon, lon=lon, lat=lat, x=x, y=y, anchor=anchor, align=align,
    )


def _finish_plan(
    grids, foreign, meta: Dict[str, RasterBandMetadata], groups, bands, groupby,
    chunks=(DEFAULT_CHUNK, DEFAULT_CHUNK), cfg=None, resampling=None, dtype=None, audit=False,
    **grid_kw,
) -> LoadPlan:
    """The elections both load paths share. Each path supplies only a
    census of its sources:

    - ``grids``: one ``(crs, gsd, count, affine bbox)`` per grid kind;
    - ``foreign(crs)``: the footprint union, in ``crs``, of the grids not
      in ``crs`` (None when there are none);
    - ``meta``: band metadata, in the default band order;
    - ``groups(gbox)``: one ``(key, first ts)`` pair per group.

    Everything else — band resolution (P1), the output grid (P3/A7/A8,
    ``grid_kw`` as for :func:`output_geobox`), group order (A1), the AOI
    ring (P4) and the per-band load config — is decided here."""
    use_bands = list(bands) if bands is not None else list(meta)
    unknown = [b for b in use_bands if b not in meta]
    if unknown:
        raise ValueError(f"unknown bands: {unknown}")
    gbox = _output_geobox(grids, foreign, **grid_kw)
    if gbox is None:
        raise ValueError("cannot resolve output geobox: no source geoboxes")
    # missing key first (Spark's ascending NULL order); keys of mixed types
    # (a callable's) sort by type name first
    keyed = sorted(groups(gbox), key=lambda kt: (kt[0] is not None, str(type(kt[0])), kt[0]))
    # P4: a geopolygon= with real ring geometry rides along in the output
    # CRS so tile binning can prune beyond its bounding box
    from ..functions.geom import Polygon, normalize_geometry

    aoi, poly = None, grid_kw.get("geopolygon")
    if isinstance(poly, (Polygon, dict)) or getattr(poly, "__geo_interface__", None) is not None:
        try:
            aoi = normalize_geometry(poly).to_crs(gbox.crs)
        except (NotImplementedError, ValueError):
            pass  # no transform for this CRS pair → bbox semantics
    load_cfg = resolve_load_cfg(use_bands, meta, cfg)
    return LoadPlan(
        gbox=gbox,
        tiles=GeoboxTiles(gbox, chunks),
        bands=use_bands,
        cfg=_apply_cfg_overrides(load_cfg, resampling=resampling, dtype=dtype),
        group_keys=[k for k, _ in keyed],
        group_ts=[ts for _, ts in keyed],
        groupby=groupby,
        audit=audit,
        aoi=aoi,
    )


_TILE_SCHEMA = StructType(
    [
        StructField("band", StringType()),
        StructField("t", IntegerType()),
        StructField("iy", IntegerType()),
        StructField("ix", IntegerType()),
        StructField("y0", IntegerType()),
        StructField("x0", IntegerType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("dtype", StringType()),
        StructField("data", BinaryType()),
        StructField("valid_count", LongType()),
        StructField("checksum", DoubleType()),
        StructField("crc32", LongType()),
    ]
)

#: one tile source as the tile task reads it
_SOURCE_DDL = (
    "uri string, subdataset string, src_band int, g_ny int, g_nx int, g_sx double, "
    "g_x0 double, g_sy double, g_y0 double, g_crs string, dtype string, nodata double"
)
#: the task table both binners build and :func:`_run_tiles` runs: one row
#: per tile task, its ``sources`` already in precedence order (A4)
_TASK_DDL = f"band string, t int, iy int, ix int, sources array<struct<{_SOURCE_DDL}>>"


def _aoi_tiles(plan: LoadPlan):
    """P4: the output tiles whose bbox meets the plan's AOI ring, or None
    without a ring. Tiles inside the ring's bbox but outside the ring are
    never tasked: for a large rotated/irregular AOI that drops a constant
    fraction of all tile work. Bounded by the output tile grid, not by the
    source count."""
    if plan.aoi is None:
        return None
    tiles = plan.tiles
    return {
        (iy, ix)
        for iy, ix in tiles.tiles_overlapping_bbox(plan.gbox.bbox())
        if plan.aoi.intersects_bbox(tiles.tile_geobox(iy, ix).bbox())
    }


def _tile_result(
    band: str,
    t: int,
    iy: int,
    ix: int,
    sources: Sequence[dict],
    gb: GeoBox,
    tile_shape: Tuple[int, int],
    cfg: Dict[str, RasterLoadParams],
    audit: bool,
) -> dict:
    """S8 + A6: execute ONE tile task — windowed reads of every source
    that intersects the tile, first-valid mosaic, dtype/nodata resolution.
    ``sources`` are ``_SOURCE_DDL`` records in precedence order (A4); the
    only caller is :func:`_run_tiles`."""
    tgb = GeoboxTiles(gb, tile_shape).tile_geobox(iy, ix)
    c = cfg[band]
    reads = []
    src_dtype = None
    src_nodata = None
    for s in sources:
        nod = s["nodata"]
        if nod is not None and not (isinstance(nod, float) and nod != nod):
            nod = float(nod)
        else:
            nod = None
        src = RasterSource(
            uri=s["uri"],
            subdataset=s["subdataset"],
            band=int(s["src_band"]),
            geobox=GeoBox(
                (int(s["g_ny"]), int(s["g_nx"])),
                (float(s["g_sx"]), 0.0, float(s["g_x0"]), 0.0, float(s["g_sy"]), float(s["g_y0"])),
                str(s["g_crs"]),
            ),
            meta=RasterBandMetadata(data_type=s["dtype"], nodata=nod),
        )
        if src_dtype is None:
            src_dtype = src.meta.data_type
            src_nodata = resolve_src_nodata(src.meta.nodata, c)
        try:
            reads.append(reader_for(src.uri).read(src, c, tgb))
        except Exception:
            if c.fail_on_error:
                raise
            # skip-on-error → empty ROI (reference rio_read :402-436)
    dst_dtype = resolve_dst_dtype(src_dtype or "float32", c)
    dst_nodata = resolve_dst_nodata(dst_dtype, c, src_nodata)
    arr = fill_tile(tgb.shape, dst_dtype, dst_nodata, reads)
    from ..model import nodata_mask as _mask

    miss = _mask(arr, dst_nodata)
    n_valid = int(arr.size - miss.sum())
    data = arr.tobytes()
    if audit:
        valid = ~miss
        checksum = float(arr[valid].astype("float64").sum()) if n_valid else 0.0
        crc = zlib.crc32(data)
    else:
        checksum, crc = 0.0, 0
    ty, tx = tile_shape
    return {
        "band": band,
        "t": t,
        "iy": iy,
        "ix": ix,
        "y0": iy * ty,
        "x0": ix * tx,
        "height": tgb.shape[0],
        "width": tgb.shape[1],
        "dtype": str(arr.dtype),
        "data": data,
        "valid_count": n_valid,
        "checksum": checksum,
        "crc32": crc,
    }


def _run_tiles(tasks: DataFrame, plan: LoadPlan) -> DataFrame:
    """S8 + A6, the one tile executor of both load paths: a ``_TASK_DDL``
    table → tiles (``_TILE_SCHEMA``) through one ``mapInPandas``, so each
    partition's tasks stream through one Python worker. Plan scalars ship
    via closure broadcast."""
    gb, tile_shape, cfg, audit = plan.gbox, plan.tiles.tile_shape, plan.cfg, plan.audit

    def run_packed(batches):
        # chunk output rows (8 tiles ≈ a few MB) so each Arrow batch
        # amortizes its framing cost without holding a partition's whole
        # pixel output in one pandas block
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                rows.append(
                    _tile_result(
                        r.band, int(r.t), int(r.iy), int(r.ix), r.sources, gb, tile_shape,
                        cfg, audit,
                    )
                )
                if len(rows) >= 8:
                    yield pd.DataFrame(rows)
                    rows = []
            if rows:
                yield pd.DataFrame(rows)

    return tasks.mapInPandas(run_packed, _TILE_SCHEMA)


def load(
    spark: SparkSession,
    items: Sequence[Item],
    plan: Optional[LoadPlan] = None,
    preserve_original_order: bool = False,
    patch_url=None,
    **plan_kwargs,
) -> Tuple[DataFrame, LoadPlan]:
    """Stages 6-8: build the tiles DataFrame. Returns (tiles_df, plan);
    the DataFrame stays lazy (Dask-parity laziness = it's just a plan
    until an action runs).

    The list path bins items to tiles ON THE DRIVER (the item list is
    driver-resident by definition — the reference builds its whole Dask
    task graph driver-side the same way, loader/_builder.py:99-155) into
    a ``_TASK_DDL`` table built through Arrow, which :func:`_run_tiles`
    runs: zero shuffles, zero groupBy machinery — the only Spark stage is
    the pixel work itself. Catalogs too big for a driver list go through
    ``load_from_sources``, which does the same binning distributed."""
    import math

    if patch_url is not None:
        # sign/rewrite asset URLs before planning (reference load()'s
        # patch_url=, _stac_load.py:398-399)
        items = patch_urls(items, patch_url, bands=plan_kwargs.get("bands"))
    if plan is None:
        plan = plan_load(items, preserve_original_order=preserve_original_order, **plan_kwargs)

    # the plan carries the groupby its group_keys were computed with — an
    # explicitly-passed plan must not silently re-key by the default
    groupby = plan.groupby
    key_to_t = {k: t for t, k in enumerate(plan.group_keys)}

    gb = plan.gbox
    ty, tx = plan.tiles.tile_shape
    dsx, _, dx0, _, dsy, dy0 = gb.transform
    H, W = gb.shape
    keep = _aoi_tiles(plan)

    # --- J1 driver-side: source bbox → intersecting tile indices (same
    # math as the SQL explode in load_from_sources), accumulating the
    # ordered source list per (band, t, iy, ix) task.
    mid_lon = _mid_longitude(gb) if groupby == "solar_day" else 0.0
    tasks: Dict[Tuple, List[Tuple]] = {}
    for idx, it in enumerate(items):
        t = key_to_t[_group_key(it, groupby, idx, mid_lon)]
        # A4 precedence basis: original input order or _precedence
        order = (idx,) if preserve_original_order else _precedence(it)
        for b in plan.bands:
            src = it.bands.get(b)
            if src is None:
                continue  # P2: missing band tolerated
            g = src.geobox
            m = src.meta or RasterBandMetadata()
            # P5: source footprint in the OUTPUT CRS — for cross-CRS
            # sources the tile binning (J1) must see the reprojected
            # bounds (densified boundary, reference safe_geometry
            # model.py:271-299); same-CRS sources use the affine bbox
            fp = _footprint_in(g, gb.crs)
            px0 = max(0, math.floor((fp[0] - dx0) / dsx))
            px1 = min(W, math.ceil((fp[2] - dx0) / dsx))
            py0 = max(0, math.floor((fp[3] - dy0) / dsy))
            py1 = min(H, math.ceil((fp[1] - dy0) / dsy))
            if px0 >= px1 or py0 >= py1:
                continue
            sdict = {
                "uri": src.uri,
                "subdataset": src.subdataset,
                "src_band": src.band,
                "g_ny": g.shape[0],
                "g_nx": g.shape[1],
                "g_sx": g.transform[0],
                "g_x0": g.transform[2],
                "g_sy": g.transform[4],
                "g_y0": g.transform[5],
                "g_crs": g.crs,
                "dtype": m.data_type,
                "nodata": m.nodata,
            }
            for iy in range(py0 // ty, (py1 - 1) // ty + 1):
                for ix in range(px0 // tx, (px1 - 1) // tx + 1):
                    if keep is None or (iy, ix) in keep:
                        tasks.setdefault((b, t, iy, ix), []).append((order, sdict))
    if not tasks:
        raise ValueError("no sources for requested bands")

    # deterministic hash-interleave: createDataFrame splits rows into
    # CONTIGUOUS chunks per partition, and contiguous tiles share cost
    # structure (edge tiles cheap, overlap-seam tiles read 2× sources) —
    # row-order interleaving spreads heavy and light tiles across
    # partitions so no straggler partition caps wall-clock (local bench:
    # the 84-task warp load's slowest partition drops ~2×). At catalog
    # scale load_from_sources shuffles on the task key instead.
    task_rows = [
        dict(band=b, t=t, iy=iy, ix=ix, sources=[d for _, d in sorted(lst, key=lambda p: p[0])])
        for (b, t, iy, ix), lst in sorted(
            tasks.items(), key=lambda kv: (zlib.crc32("|".join(map(str, kv[0])).encode()), kv[0])
        )
    ]
    # a pyarrow table: a LocalTableScan split over the cores whatever the
    # session's Arrow setting (a pandas frame without it is a Python-RDD
    # scan whose type check rejects an int nodata in a double field)
    schema = StructType.fromDDL(_TASK_DDL)
    table = pa.Table.from_pylist(task_rows, schema=to_arrow_schema(schema))
    return _run_tiles(spark.createDataFrame(table, schema), plan), plan


def _footprint_in(gbox: GeoBox, dst_crs: str):
    """Source bbox expressed in dst_crs: identity for same CRS, else a
    densified boundary transformed through functions/proj (the reference's
    N=100 perimeter densification, model.py:271-299 — 25 points/edge is
    ample for the mm-accurate Krüger transform)."""
    bb = gbox.bbox()
    if gbox.crs == dst_crs:
        return bb
    import numpy as np

    from ..functions import proj

    xmin, ymin, xmax, ymax = bb
    t01 = np.linspace(0.0, 1.0, 25)
    ex = np.concatenate(
        [xmin + (xmax - xmin) * t01, np.full_like(t01, xmax),
         xmax + (xmin - xmax) * t01, np.full_like(t01, xmin)]
    )
    ey = np.concatenate(
        [np.full_like(t01, ymin), ymin + (ymax - ymin) * t01,
         np.full_like(t01, ymax), ymax + (ymin - ymax) * t01]
    )
    tx, ty = proj.transform(ex, ey, gbox.crs, dst_crs)
    return (float(tx.min()), float(ty.min()), float(tx.max()), float(ty.max()))


def load_from_sources(
    sources_df: DataFrame,
    plan: LoadPlan,
    preserve_original_order: bool = False,
) -> DataFrame:
    """The 100 TB ingestion path: sources as a DataFrame (e.g. from
    sources/stac_items.parse_items over a STAC-geoparquet catalog) — the
    item table never lives on the driver. ``load()`` bins a driver list
    itself; both feed :func:`_run_tiles`. Expected columns: item_idx,
    item_id, ts, t, band, uri, src_band, g_ny, g_nx, g_sx, g_x0, g_sy,
    g_y0, g_crs, dtype, nodata; optional: fp_xmin, fp_ymin, fp_xmax,
    fp_ymax (the source footprint in the output CRS, default the affine
    bbox) and subdataset (netcdf/hdf5 variable address).

    The exploded rows shuffle once, on the task key, into
    ``min(#tasks, defaultParallelism)`` partitions; the aggregation that
    collects each task's sources reuses that partitioning."""
    # --- J1: tile explode. Source bbox → tile index ranges, pure SQL math
    # (only intersecting tiles are generated: spatial partition pruning).
    gb = plan.gbox
    ty, tx = plan.tiles.tile_shape
    nty, ntx = plan.tiles.chunk_counts
    dsx, _, dx0, _, dsy, dy0 = (f"({sql_literal(v)})" for v in gb.transform)
    cols = sources_df.columns
    # source footprint in output-CRS world coords: precomputed fp_*
    # columns when provided (cross-CRS capable), else the affine bbox of
    # the source grid (sy<0: y0 is top edge)
    if "fp_xmin" in cols:
        sxmin, symin, sxmax, symax = "fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax"
    else:
        sxmin, sxmax = "g_x0", "g_x0 + g_sx * g_nx"
        symax, symin = "g_y0", "g_y0 + g_sy * g_ny"
    # dst pixel ranges [px0,px1), [py0,py1), clamped
    src_tiles = (
        sources_df.withColumns(
            {
                "px0": F.expr(f"greatest(0, floor(({sxmin} - {dx0}) / {dsx}))"),
                "px1": F.expr(f"least({gb.width}, ceil(({sxmax} - {dx0}) / {dsx}))"),
                "py0": F.expr(f"greatest(0, floor(({symax} - {dy0}) / {dsy}))"),
                "py1": F.expr(f"least({gb.height}, ceil(({symin} - {dy0}) / {dsy}))"),
            }
        )
        .where("px0 < px1 AND py0 < py1")
        .withColumn("iy", F.expr(f"explode(sequence(floor(py0 / {ty}), floor((py1 - 1) / {ty})))"))
        .withColumn("ix", F.expr(f"explode(sequence(floor(px0 / {tx}), floor((px1 - 1) / {tx})))"))
        .withColumns({"iy": F.expr("CAST(iy AS INT)"), "ix": F.expr("CAST(ix AS INT)")})
    )

    # P4 AOI tile pruning, pushed down as an integer-set filter
    keep = _aoi_tiles(plan)
    if keep is not None:
        src_tiles = src_tiles.where(
            sql_in(f"(iy * {ntx} + ix)", sorted(iy * ntx + ix for iy, ix in keep))
        )

    # --- A4: precedence within each task: (time, id) asc with a missing
    # time last, or original input order (preserve_original_order,
    # _stac_load.py:552-557). The order key leads each source struct, so
    # sort_array orders by it, and rows tied on it by their remaining
    # fields — never by shuffle arrival.
    order = "struct(item_idx)" if preserve_original_order else "struct(ts IS NULL, ts, item_id)"
    fields = [f.split() for f in _SOURCE_DDL.split(", ")]
    src = ", ".join(f"CAST({c if c in cols else 'NULL'} AS {t}) AS {c}" for c, t in fields)
    # Explicit task partitioning: AQE would coalesce this shuffle to ~1
    # partition (the task *rows* are tiny metadata), but each row expands
    # into megabytes of pixel work inside the UDF — cost is invisible to
    # the optimizer. One partition per core packs the tasks like the list
    # path's; the aggregation reuses this hash partitioning (same keys).
    n_tasks = len(plan.bands) * max(len(plan.group_keys), 1) * nty * ntx
    n_parts = min(n_tasks, sources_df.sparkSession.sparkContext.defaultParallelism)
    tasks = (
        src_tiles.repartition(n_parts, "band", "t", "iy", "ix")
        .groupBy("band", "t", "iy", "ix")
        .agg(F.expr(f"sort_array(collect_list(struct({order} AS _o, {src}))) AS sources"))
        .selectExpr(
            "band", "CAST(t AS INT) AS t", "iy", "ix",
            f"transform(sources, s -> struct({', '.join(f's.{c}' for c, _ in fields)})) AS sources",
        )
    )
    return _run_tiles(tasks, plan)


@dataclass
class Dataset:
    """xarray.Dataset work-alike (sink S13 parity: dims (time, y, x),
    spatial coords from the geobox, per-band nodata attrs — reference
    mk_dataset, loader/_builder.py:215-243). Functional, not just
    structural: band access (``ds.red`` / ``ds["red"]``), ``isel``/
    ``sel`` (exact and nearest), labeled arithmetic
    (``(ds.nir - ds.red) / (ds.nir + ds.red)``), reductions and
    ``to_dataframe`` are served by the in-repo labeled-array engine
    (odc_stac_spark.xrlite); ``to_xarray()`` upgrades to the real
    library when installed."""

    bands: Dict[str, np.ndarray]  # (time, y, x) each
    time: List
    y: np.ndarray
    x: np.ndarray
    crs: str
    nodata: Dict[str, Optional[float]]

    @property
    def data_vars(self):
        from ..xrlite import DataArray

        coords = {"time": np.asarray(self.time), "y": self.y, "x": self.x}
        return {
            b: DataArray(
                a, ("time", "y", "x"), coords,
                attrs={"nodata": self.nodata.get(b), "crs": self.crs},
                name=b,
            )
            for b, a in self.bands.items()
        }

    def as_dataset(self):
        """→ xrlite.Dataset (the full labeled-selection surface)."""
        from ..xrlite import Dataset as XDataset

        return XDataset(
            self.data_vars,
            coords={"time": np.asarray(self.time), "y": self.y, "x": self.x},
            attrs={"crs": self.crs},
        )

    def __getitem__(self, band: str):
        return self.data_vars[band]

    def __getattr__(self, name: str):
        bands = object.__getattribute__(self, "bands")
        if name in bands:
            return self.data_vars[name]
        raise AttributeError(name)

    def isel(self, **sels):
        return self.as_dataset().isel(**sels)

    def sel(self, method=None, **sels):
        return self.as_dataset().sel(method=method, **sels)

    def to_dataframe(self):
        return self.as_dataset().to_dataframe()

    def to_xarray(self):  # pragma: no cover - xarray absent here
        try:
            import xarray as xr
        except ImportError as e:
            raise NotImplementedError("xarray not installed") from e
        coords = {"time": self.time, "y": self.y, "x": self.x}
        data_vars = {
            b: xr.DataArray(a, dims=("time", "y", "x"), attrs={"nodata": self.nodata.get(b)})
            for b, a in self.bands.items()
        }
        ds = xr.Dataset(data_vars, coords=coords)
        ds.attrs["crs"] = self.crs
        return ds


def assemble_dataset(tiles_df: DataFrame, plan: LoadPlan) -> Dataset:
    """S13: tiles → Dataset with coordinates (pixel-center convention)."""
    bands = assemble_numpy(tiles_df, plan)
    sx, _, x0, _, sy, y0 = plan.gbox.transform
    x = x0 + (np.arange(plan.gbox.width) + 0.5) * sx
    y = y0 + (np.arange(plan.gbox.height) + 0.5) * sy
    nod = {}
    for b, c in plan.cfg.items():
        src_nodata = resolve_src_nodata(None, c)
        dt = bands[b].dtype if b in bands else np.dtype(c.dtype or "float32")
        nod[b] = resolve_dst_nodata(dt, c, src_nodata)
    return Dataset(
        bands=bands,
        time=[pd.Timestamp(t) for t in plan.group_ts],
        y=y,
        x=x,
        crs=plan.gbox.crs,
        nodata=nod,
    )


def assemble_numpy(tiles_df: DataFrame, plan: LoadPlan) -> Dict[str, np.ndarray]:
    """Sink S13: collect tile rows → dense (nt, ny, nx) per band. Only for
    driver-sized results (tests, small AOIs); big results go to
    sinks.write_tiles_parquet instead."""
    nt = max(len(plan.group_keys), 1)
    ny, nx = plan.gbox.shape
    out: Dict[str, np.ndarray] = {}
    for row in tiles_df.collect():
        arr = np.frombuffer(row.data, dtype=np.dtype(row.dtype)).reshape(
            row.height, row.width
        )
        if row.band not in out:
            from ..operators.mosaic import empty_fill

            c = plan.cfg[row.band]
            dst_dtype = np.dtype(row.dtype)
            # resolve_src_nodata, not `override or fallback`: an override of
            # 0.0 is falsy but present (advisor finding)
            src_nodata = resolve_src_nodata(None, c)
            dst_nodata = resolve_dst_nodata(dst_dtype, c, src_nodata)
            out[row.band] = np.full((nt, ny, nx), empty_fill(dst_dtype, dst_nodata), dst_dtype)
        out[row.band][row.t, row.y0 : row.y0 + row.height, row.x0 : row.x0 + row.width] = arr
    return out
