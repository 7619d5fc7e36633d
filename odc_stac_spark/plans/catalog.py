"""Catalog-native planning: the 100 TB ingestion path end to end.

``plans.load.plan_load`` takes a driver-resident item list — fine for the
reference's scenarios (≤10⁴ items, _stac_load.py:351-352) but not for a
catalog of 10⁸ items. Here the catalog only supplies the planner's
*census* of its sources, from ONE grouping-sets aggregation over the
``parse_items`` output (itself a DataFrame transform over a
STAC-geoparquet-style catalog): one scan, and only the small per-set rows
are collected (SURVEY §7.3 "100 TB scale deltas"):

- band metadata (S3)   → set (asset_name): first() per band
- grid kinds (A7/A8)   → set (g_crs, gsd): count and affine bbox per kind;
                         ``foreign(crs)`` is a second job, run only when a
                         grid outside the output CRS exists
- groups (A1/A3/A5)    → set (k): first member per group key, #groups
                         rows (bounded by time range, not item count)

Every election — the (crs, gsd) vote, the bbox union, the argument
ladder, the group order, the AOI ring and the band config — runs in
``plans.load._finish_plan``, the same code as the list path.

The item stream itself never leaves the cluster:
``sources_from_parsed`` maps parsed rows straight onto the
``load_from_sources`` input columns (a broadcast join against the
#groups-sized key→t map), so catalog → plan → tiles is DataFrame-only.
Per-row expressions are SQL text, as in ``sources.stac_items``.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from ..model import GeoBox, RasterBandMetadata
from ..session import literal_df, sql_in, sql_literal
from .load import LoadPlan, _finish_plan, load_from_sources


#: per-row grid geometry of a parsed row (its g_* columns) as SQL text;
#: x/y edges are origin and origin + pixel size × pixel count
_X = ("g_transform[2]", "g_transform[2] + g_transform[0] * CAST(g_shape[1] AS DOUBLE)")
_Y = ("g_transform[5]", "g_transform[5] + g_transform[4] * CAST(g_shape[0] AS DOUBLE)")
_GEOM = {
    "gsd": "least(abs(g_transform[0]), abs(g_transform[4]))",
    "bb_xmin": f"least({_X[0]}, {_X[1]})",
    "bb_xmax": f"greatest({_X[0]}, {_X[1]})",
    "bb_ymin": f"least({_Y[0]}, {_Y[1]})",
    "bb_ymax": f"greatest({_Y[0]}, {_Y[1]})",
    "ts": "coalesce(datetime, start_datetime, end_datetime)",
}
_SIDES = ("xmin", "ymin", "xmax", "ymax")


def _with_geom_cols(parsed: DataFrame) -> DataFrame:
    """Rows with a grid, plus its gsd, affine bbox and nominal ts."""
    return parsed.where("g_shape IS NOT NULL AND g_transform IS NOT NULL").withColumns(
        {name: F.expr(sql) for name, sql in _GEOM.items()}
    )


def _with_footprints(df: DataFrame, dst_crs: str) -> DataFrame:
    """``df`` plus ``_fp``, the source footprint bbox in ``dst_crs`` of
    each foreign-CRS row (NULL on same-CRS rows, whose footprint is the
    affine bbox already computed by ``_with_geom_cols``; ``_fp_sql``
    picks between the two).

    Foreign-CRS rows reproject a densified boundary through
    :mod:`odc_stac_spark.functions.proj` — but only once per DISTINCT
    grid, not per row: catalogs tile on a fixed grid set (e.g. MGRS), so
    #grids ≪ #items, the per-grid footprints are a broadcast-sized
    dimension, and the Python work is O(grids) while the item stream
    itself stays JVM-side (the list path's driver-resident
    ``_footprint_in`` loop, plans/load.py, distributed)."""
    from .load import _footprint_in

    @F.pandas_udf("xmin double, ymin double, xmax double, ymax double")
    def _fp(shape: pd.Series, transform: pd.Series, crs: pd.Series) -> pd.DataFrame:
        out = []
        for s, t, c in zip(shape, transform, crs):
            gbox = GeoBox((int(s[0]), int(s[1])), tuple(float(v) for v in t), str(c))
            out.append(_footprint_in(gbox, dst_crs))
        return pd.DataFrame(out, columns=list(_SIDES))

    grid = ["g_shape", "g_transform", "g_crs"]
    fps = (
        df.where(f"NOT (g_crs = {sql_literal(dst_crs)})")
        .select(*grid)
        .distinct()
        .withColumn("_fp", _fp(*grid))
    )
    return df.join(F.broadcast(fps), grid, "left")


def _fp_sql(dst_crs: Optional[str]) -> list:
    """``fp_*`` (footprint bbox in the output CRS) as SQL: the affine bbox,
    or with ``dst_crs`` the ``_with_footprints`` footprint of rows outside
    it."""
    if dst_crs is None:
        return [f"bb_{c} AS fp_{c}" for c in _SIDES]
    same = f"g_crs = {sql_literal(dst_crs)}"
    return [f"CASE WHEN {same} THEN bb_{c} ELSE _fp.{c} END AS fp_{c}" for c in _SIDES]


def _group_key_col(groupby: str, has_item_idx: bool = False) -> F.Column:
    """A1 group key as an expression."""
    if callable(groupby):
        return _callable_key_col(groupby, has_item_idx)
    if groupby == "id":
        # one group per item: its input index when the catalog carries one
        return F.expr("item_idx" if has_item_idx else "id")
    if groupby == "time":
        return F.expr("ts")
    if groupby == "solar_day":
        # A2: date after the longitude-derived whole-hour offset
        # (model.solar_offset_seconds: int(lon/15)*3600, trunc toward 0).
        # Longitude = grid centroid x — valid for geographic CRS only.
        off = "CAST((bb_xmin + bb_xmax) / 2.0D / 15.0D AS INT) * 3600"
        return F.expr(f"to_date(ts + make_interval(0, 0, 0, 0, 0, 0, CAST({off} AS DOUBLE)))")
    if isinstance(groupby, str):
        # any other string keys off the raw STAC properties map; items
        # missing the property share the NULL group (reference
        # _groupby_property, _stac_load.py:515-535)
        return F.expr(f"element_at(properties, {sql_literal(groupby)})")
    raise ValueError(
        f"groupby={groupby!r}: catalog path supports id|time|solar_day|<property>|callable"
    )


def _callable_key_col(fn, has_item_idx: bool) -> F.Column:
    """U: custom group-key callable on the CATALOG path (reference accepts
    callables anywhere, _stac_load.py:525-535; the list path runs them on
    driver items — here each catalog row is rebuilt into the same
    lightweight :class:`~odc_stac_spark.plans.load.Item` shape inside an
    Arrow-batched pandas UDF, so the identical callback works on both
    paths). The key must be a string (or None): catalog keys live in a
    DataFrame column and drive a broadcast equi-join, so arbitrary Python
    objects can't ride along — ``str()`` is applied to the return value."""
    import pandas as pd

    from .load import Item

    @F.pandas_udf("string")
    def _key(
        id_s: "pd.Series", ts_s: "pd.Series", props_s: "pd.Series", idx_s: "pd.Series"
    ) -> "pd.Series":
        out = []
        for i in range(len(id_s)):
            props = props_s.iloc[i]
            item = Item(
                id=id_s.iloc[i],
                datetime=ts_s.iloc[i],
                bands={},
                lon=None,
                props=dict(props) if props is not None else {},
            )
            idx = idx_s.iloc[i]
            k = fn(item, None if pd.isna(idx) else int(idx))
            out.append(None if k is None else str(k))
        return pd.Series(out, dtype=object)

    idx_col = F.col("item_idx") if has_item_idx else F.lit(None).cast("long")
    return _key(F.col("id"), F.col("ts"), F.col("properties"), idx_col)


#: ``grouping_id()`` of each planning set over the grouping columns
#: (asset_name, g_crs, gsd, k): a bit per column, most significant first,
#: set when the set aggregates that column away
_BANDS, _GRIDS, _GROUPS = 0b0111, 0b1001, 0b1110


#: the planning aggregates over (asset_name, g_crs, gsd, k) and member m
_PLAN_AGGS = (
    "first(data_type, true) AS data_type",
    "first(nodata, true) AS nodata",
    "first(unit, true) AS unit",
    "count(1) AS n",
    "min(bb_xmin) AS x0",
    "min(bb_ymin) AS y0",
    "max(bb_xmax) AS x1",
    "max(bb_ymax) AS y1",
    "min(m) AS first_m",
    "grouping_id() AS gid",
)


def _plan_rows(base: DataFrame, key: F.Column, member: str):
    """The one planning scan → (band rows, grid rows, group rows): per-band
    metadata, per-(crs, gsd) count and affine bbox, and per-group-key
    first member, as one ``groupingSets`` aggregation."""
    rows = (
        base.withColumns({"k": key, "m": F.expr(member)})
        .groupingSets(
            [["asset_name"], ["g_crs", "gsd"], ["k"]], "asset_name", "g_crs", "gsd", "k"
        )
        .agg(*map(F.expr, _PLAN_AGGS))
        .collect()
    )
    return tuple([r for r in rows if r.gid == g] for g in (_BANDS, _GRIDS, _GROUPS))


def plan_load_df(
    spark: SparkSession,
    parsed: DataFrame,
    bands: Optional[Sequence[str]] = None,
    groupby: str = "time",
    preserve_original_order: bool = False,
    **plan_kwargs,
) -> LoadPlan:
    """Stages 1-6 of the load lifecycle from one distributed scan; every
    other keyword is ``plans.load.plan_load``'s."""
    return _plan_load_df(
        spark, parsed, bands, groupby, preserve_original_order, **plan_kwargs
    )[0]


def _plan_load_df(
    spark, parsed, bands=None, groupby="time", preserve_original_order=False, **plan_kwargs
) -> Tuple[LoadPlan, bool]:
    """``plan_load_df``, plus whether every source grid the scan saw is in
    the output CRS (then no source needs a reprojected footprint)."""
    base = _with_geom_cols(parsed)
    if bands is not None:
        base = base.where(sql_in("asset_name", bands))

    # the representative ts per group follows the precedence basis —
    # (ts, id) with a missing ts last, or input index
    key = _group_key_col(groupby, has_item_idx="item_idx" in base.columns)
    if preserve_original_order:
        _require_item_idx(base)
        member = "struct(item_idx, ts)"
    else:
        member = "struct(ts IS NULL AS no_ts, ts, id)"
    band_rows, grid_rows, group_rows = _plan_rows(base, key, member)

    # solar_day derives longitude from the grid centroid — only valid for
    # geographic coordinates. A projected catalog would silently produce
    # garbage day offsets (meters/15 "hours"), so validate loudly.
    if groupby == "solar_day" and any(r.g_crs != "EPSG:4326" for r in grid_rows):
        raise ValueError(
            "groupby='solar_day' on the catalog path requires EPSG:4326 "
            "source grids (longitude comes from the grid centroid); "
            "reproject the footprints or use the list path with "
            "explicit Item.lon"
        )
    if not band_rows:
        raise ValueError("no raster sources in catalog (after band filter)")

    grids = [(r.g_crs, float(r.gsd), r.n, (r.x0, r.y0, r.x1, r.y1)) for r in grid_rows]

    def foreign(crs: str):
        # only a catalog holding grids outside crs pays a job for their
        # reprojected footprints
        if all(g[0] == crs for g in grids):
            return None
        return tuple(
            _with_footprints(base.where(f"g_crs != {sql_literal(crs)}"), crs)
            .selectExpr("min(_fp.xmin)", "min(_fp.ymin)", "max(_fp.xmax)", "max(_fp.ymax)")
            .first()
        )

    meta = {
        r.asset_name: RasterBandMetadata(r.data_type or "float32", r.nodata, r.unit or "1")
        for r in sorted(band_rows, key=lambda r: r.asset_name)
    }
    groups = [(r.k, r.first_m.ts) for r in group_rows]
    plan = _finish_plan(grids, foreign, meta, lambda _: groups, bands, groupby, **plan_kwargs)
    return plan, all(g[0] == plan.gbox.crs for g in grids)


def sources_from_parsed(
    spark: SparkSession, parsed: DataFrame, plan: LoadPlan, groupby: str = "time"
) -> DataFrame:
    """parsed rows → load_from_sources input columns; the only non-map
    operation is a broadcast join against the #groups-sized key→t map."""
    return _sources_from_parsed(spark, parsed, plan, groupby, reproject=True)


def _sources_from_parsed(
    spark: SparkSession, parsed: DataFrame, plan: LoadPlan, groupby: str, reproject: bool
) -> DataFrame:
    """``sources_from_parsed``; ``reproject=False`` when every source grid
    is known to be in the output CRS, so the footprints are the affine
    bboxes and the per-grid footprint join is skipped."""
    base = _with_geom_cols(parsed).where(sql_in("asset_name", plan.bands))
    # tile binning (J1) needs the footprint bbox in the OUTPUT CRS:
    # same-CRS rows use the affine bbox; foreign-CRS rows get the
    # densified-boundary reproject (per distinct grid, broadcast back —
    # list-path parity, reference safe_geometry model.py:271-299)
    if reproject:
        base = _with_footprints(base, plan.gbox.crs)
    keyed = base.withColumn(
        "k", _group_key_col(groupby, has_item_idx="item_idx" in base.columns)
    )
    # the key map is typed by the key column itself, so an all-NULL key
    # map (property groupby where no item has the property) still joins
    key_map = literal_df(
        spark,
        [(k, t) for t, k in enumerate(plan.group_keys)],
        StructType(
            [StructField("_plan_k", keyed.schema["k"].dataType), StructField("t", LongType())]
        ),
    )
    # eqNullSafe: a property-groupby's missing-property group has a NULL
    # key, which a plain equi-join would silently drop
    return keyed.join(F.broadcast(key_map), F.expr("k <=> _plan_k")).selectExpr(
        # input index drives preserve_original_order precedence when the
        # catalog carries one (items_df(..., with_idx=True) / any ordered
        # catalog column named item_idx); default precedence is (ts, item_id)
        "item_idx" if "item_idx" in keyed.columns else "0 AS item_idx",
        "id AS item_id",
        "ts",
        "t",
        "asset_name AS band",
        "href AS uri",
        "band_idx AS src_band",
        "g_shape[0] AS g_ny",
        "g_shape[1] AS g_nx",
        "g_transform[0] AS g_sx",
        "g_transform[2] AS g_x0",
        "g_transform[4] AS g_sy",
        "g_transform[5] AS g_y0",
        "g_crs",
        "data_type AS dtype",
        "nodata",
        *_fp_sql(plan.gbox.crs if reproject else None),
    )


def _require_item_idx(df: DataFrame) -> None:
    if "item_idx" not in df.columns:
        raise ValueError(
            "preserve_original_order on the catalog path needs an "
            "item_idx column defining the input order (a DataFrame has no "
            "inherent row order) — build the catalog with "
            "items_df(..., with_idx=True) or attach your own index"
        )


def load_from_catalog(
    spark: SparkSession,
    parsed: DataFrame,
    groupby: str = "time",
    plan: Optional[LoadPlan] = None,
    preserve_original_order: bool = False,
    **plan_kwargs,
) -> Tuple[DataFrame, LoadPlan]:
    """catalog → plan → tiles, DataFrame-only (the item table never lives
    on the driver); ``plan_kwargs`` are ``plans.load.plan_load``'s."""
    if preserve_original_order:
        _require_item_idx(parsed)
    # a plan this call builds itself also tells whether any source grid is
    # foreign to the output CRS; a caller-supplied plan may come from other
    # rows, so its sources always get reprojected footprints
    own_crs_only = False
    if plan is None:
        plan, own_crs_only = _plan_load_df(
            spark,
            parsed,
            groupby=groupby,
            preserve_original_order=preserve_original_order,
            **plan_kwargs,
        )
    sources = _sources_from_parsed(
        spark, parsed, plan, groupby, reproject=not own_crs_only
    )
    return (
        load_from_sources(sources, plan, preserve_original_order=preserve_original_order),
        plan,
    )
