"""STAC metadata plane as DataFrames (SURVEY §2.1 S1-S7, §2.2 P1-P5).

The reference parses pystac Items one at a time on the driver
(_mdtools.py:705-723). Here the item stream IS a DataFrame with an
explicit nested schema, so at catalog scale (10⁸ items / STAC-geoparquet)
parsing, raster-asset detection, band-metadata extraction, alias mapping
and collection-schema inference are all Catalyst-planned jobs — filters
push into the scan, and only the tiny inferred collection record is
collected (SURVEY §1.2 "Spark mapping").

Every transform, the ``stac_cfg`` overrides included, is written as SQL
expression text (``selectExpr``): building a plan from Column objects
costs one py4j round trip per call, ~1.2k per parse, where one SQL
projection per step costs a few dozen (tests/test_py4j_budget.py).

Citations map each transform to the reference behavior it reproduces
(semantics only — independent implementation):

- ``is_raster_data``  → _mdtools.py:182-238 (media types :66-91)
- ``band_metadata``   → _mdtools.py:101-136
- ``asset_geobox``    → _mdtools.py:270-303
- ``alias_map``       → _mdtools.py:400-442
- ``band2grid``       → _mdtools.py:334-397
- ``collection_id``   → _mdtools.py:471-479
- ``parse_items``     → _mdtools.py:642-723
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..model import (
    GeoBox,
    MDParseConfig,
    RasterBandMetadata,
    RasterCollectionMetadata,
    RasterSource,
)
from ..session import literal_df, sql_in, sql_literal

# ---- schema for raw STAC items (S1 scan) ---------------------------------

ASSET_SCHEMA = StructType(
    [
        StructField("href", StringType()),
        StructField("type", StringType()),  # media type
        StructField("roles", ArrayType(StringType())),
        StructField("gsd", DoubleType()),
        StructField("proj_shape", ArrayType(IntegerType())),
        StructField("proj_transform", ArrayType(DoubleType())),
        StructField("proj_epsg", IntegerType()),
        StructField(
            "eo_bands",
            ArrayType(
                StructType(
                    [
                        StructField("name", StringType()),
                        StructField("common_name", StringType()),
                    ]
                )
            ),
        ),
        StructField(
            "raster_bands",
            ArrayType(
                StructType(
                    [
                        StructField("data_type", StringType()),
                        StructField("nodata", DoubleType()),
                        StructField("unit", StringType()),
                    ]
                )
            ),
        ),
    ]
)

ITEM_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("collection", StringType()),
        StructField("odc_product", StringType()),
        StructField("datetime", TimestampType()),
        StructField("start_datetime", TimestampType()),
        StructField("end_datetime", TimestampType()),
        StructField("href", StringType()),
        StructField("bbox", ArrayType(DoubleType())),
        StructField("assets", MapType(StringType(), ASSET_SCHEMA)),
        StructField("properties", MapType(StringType(), StringType())),
        # item carries the STAC projection extension? gates the reference's
        # check_proj asset filter (_mdtools.py:199-205)
        StructField("has_proj", BooleanType()),
    ]
)

# ---- raw STAC JSON → ITEM_SCHEMA (real-item ingestion) -------------------

#: typed view of the fields we consume from a raw STAC item document.
#: Colon-named extension fields (proj:shape, eo:bands, …) are addressed
#: with backticks; everything else in the document is ignored by this
#: parse and preserved stringified in the generic ``properties`` map.
_STAC_JSON_ASSET_DDL = (
    "struct<"
    "href:string,type:string,title:string,roles:array<string>,gsd:double,"
    "`proj:shape`:array<int>,`proj:transform`:array<double>,`proj:epsg`:int,"
    "`eo:bands`:array<struct<name:string,common_name:string>>,"
    "`raster:bands`:array<struct<data_type:string,nodata:double,unit:string>>"
    ">"
)
STAC_JSON_DDL = (
    "struct<"
    "id:string,collection:string,stac_extensions:array<string>,"
    "bbox:array<double>,"
    "properties:struct<"
    "datetime:string,start_datetime:string,end_datetime:string,"
    "`odc:product`:string,gsd:double,"
    "`proj:shape`:array<int>,`proj:transform`:array<double>,`proj:epsg`:int"
    ">,"
    f"assets:map<string,{_STAC_JSON_ASSET_DDL}>,"
    "links:array<struct<rel:string,href:string>>"
    ">"
)


def _resolve_href_sql(href: str, self_href: str) -> str:
    """A relative asset href resolved against the item's self link
    (pystac ``get_absolute_href`` semantics, reference _mdtools.py:685;
    self-contained catalogs ship relative hrefs): ``./x``, ``x`` and up to
    three leading ``../``, each dropping one more trailing segment of the
    self link's directory. An item with relative hrefs and NO self link
    keeps them as-is: the read fails loudly at the reader instead of the
    reference's driver-side ValueError (no per-row raise in a distributed
    parse)."""
    rel = f"regexp_replace({href}, '^[.]/', '')"
    ups = (
        f"CASE WHEN startswith({rel}, '../../../') THEN 3"
        f" WHEN startswith({rel}, '../../') THEN 2"
        f" WHEN startswith({rel}, '../') THEN 1 ELSE 0 END"
    )
    segs = f"split({self_href}, '/')"
    base = f"array_join(slice({segs}, 1, greatest(1, size({segs}) - 1 - {ups})), '/')"
    return (
        f"CASE WHEN rlike({href}, '^[A-Za-z][A-Za-z0-9+.-]*://') OR startswith({href}, '/')"
        f" OR {self_href} IS NULL THEN {href}"
        f" ELSE concat({base}, '/', substr({rel}, 3 * {ups} + 1)) END"
    )


def stac_json_to_items(raw: DataFrame, column: str = "value") -> DataFrame:
    """Real STAC item JSON documents → ITEM_SCHEMA rows, entirely as
    Catalyst expressions (``from_json`` + map/array transforms — no Python
    in the loop, so a 10⁸-item catalog parses as a distributed scan).

    Reproduces the reference's pystac-mediated field access
    (``parse_item``/``asset_geobox``, _mdtools.py:270-303, 642-702):

    - asset-level ``proj:shape`` / ``proj:transform`` / ``proj:epsg`` fall
      back to item-level properties (pystac's owner-fallback semantics);
    - proj fields are only honored when the item declares the projection
      extension (URL form, or the legacy short name used by early ODC
      items);
    - ``datetime``/``start_datetime``/``end_datetime`` parse from ISO8601;
    - item self-href from ``links[rel=self]``;
    - every property is additionally preserved stringified in the generic
      ``properties`` map (numbers → literals, objects → raw JSON) for
      ``groupby=<property name>`` and ad-hoc predicates.

    Two projections of SQL text: the document parses once into ``j``,
    then every output column reads fields of ``j``."""
    has_proj = (
        "exists(coalesce(j.stac_extensions, array()), e -> e = 'projection' OR e = 'proj'"
        " OR startswith(e, 'https://stac-extensions.github.io/projection/'))"
    )
    # try_element_at: an item with links present but NO self link yields
    # an empty filtered array, which plain element_at rejects under ANSI
    self_href = "try_element_at(filter(coalesce(j.links, array()), l -> l.rel = 'self'), 1).href"

    def proj(field: str) -> str:
        return (
            f"CASE WHEN {has_proj} THEN coalesce(a.`proj:{field}`, j.properties.`proj:{field}`) END"
        )

    asset = (
        f"named_struct('href', {_resolve_href_sql('a.href', self_href)}, 'type', a.type,"
        " 'roles', a.roles, 'gsd', coalesce(a.gsd, j.properties.gsd),"
        f" 'proj_shape', {proj('shape')}, 'proj_transform', {proj('transform')},"
        f" 'proj_epsg', {proj('epsg')},"
        " 'eo_bands', a.`eo:bands`, 'raster_bands', a.`raster:bands`)"
    )
    return raw.selectExpr(
        f"from_json({column}, '{STAC_JSON_DDL}') AS j",
        # generic properties map: stringified values (objects keep raw JSON)
        f"from_json(get_json_object({column}, '$.properties'), 'map<string,string>')"
        " AS properties",
    ).selectExpr(
        "j.id AS id",
        "j.collection AS collection",
        "j.properties.`odc:product` AS odc_product",
        "to_timestamp(j.properties.datetime) AS datetime",
        "to_timestamp(j.properties.start_datetime) AS start_datetime",
        "to_timestamp(j.properties.end_datetime) AS end_datetime",
        f"{self_href} AS href",
        "j.bbox AS bbox",
        f"transform_values(coalesce(j.assets, CAST(map() AS map<string,{_STAC_JSON_ASSET_DDL}>)),"
        f" (k, a) -> {asset}) AS assets",
        "properties",
        f"{has_proj} AS has_proj",
    )


def read_stac_json(spark: SparkSession, paths) -> DataFrame:
    """S1 at scale: newline-delimited STAC JSON (or one document per file
    via ``wholetext``) → ITEM_SCHEMA. For STAC-geoparquet catalogs, point
    ``spark.read.parquet`` at the catalog and apply the same transforms."""
    raw = spark.read.text(paths, wholetext=True)
    return stac_json_to_items(raw)


def stac_featurecollection_to_items(raw: DataFrame, column: str = "value") -> DataFrame:
    """STAC API search dump (S16): a GeoJSON ``FeatureCollection`` /
    ItemCollection document — what ``pystac_client``'s
    ``search.item_collection().save_object()`` or a paged
    ``/search`` response body contains — exploded into ITEM_SCHEMA rows.

    Pure Catalyst: ``from_json`` to ``array<string>`` keeps each
    feature's raw JSON, so the per-item pipeline (``stac_json_to_items``)
    applies unchanged and a directory of search dumps parses as one
    distributed scan. Bare item documents (no ``features`` key) pass
    through, so dumps and single items can be mixed."""
    j = f"from_json({column}, 'struct<type:string,features:array<string>>')"
    return stac_json_to_items(
        raw.selectExpr(f"explode(coalesce({j}.features, array({column}))) AS value")
    )


def read_stac_api_dump(spark: SparkSession, paths) -> DataFrame:
    """S16 entry point: file(s) of STAC API search results (ItemCollection
    JSON, one document per file) → ITEM_SCHEMA rows. The live-search half
    of the reference's S16 (pystac-client round trips) needs network
    access this environment doesn't have; the dump format is the same."""
    raw = spark.read.text(paths, wholetext=True)
    return stac_featurecollection_to_items(raw)


def stac_dicts_to_items(spark: SparkSession, docs: Iterable[dict]) -> DataFrame:
    """Driver-side convenience: raw STAC item dicts (e.g. from pystac
    ``Item.to_dict()`` or a search dump) → ITEM_SCHEMA rows, through the
    SAME column pipeline as the at-scale JSON path (one code path)."""
    import json as _json

    # a JVM literal relation, not createDataFrame(list): the Python-RDD
    # scan of the latter re-pays a Python worker round trip on every action
    # (measured: ~4-6 s per action for a 2-document parse on a loaded
    # machine, ~0.5 s as literals). Driver-side dict lists are small by
    # construction; the at-scale path is read_stac_json.
    raw = literal_df(
        spark, [(_json.dumps(d),) for d in docs], StructType([StructField("value", StringType())])
    )
    return stac_json_to_items(raw)

# media types treated as raster data (reference RASTER_FILE_EXTENSIONS /
# media-type sets, _mdtools.py:66-91)
_RASTER_EXTS = ("tif", "tiff", "jpeg", "jpg", "png", "jp2", "img", "nc", "hdf", "h5", "zarr")
_NON_DATA_ROLES = ("thumbnail", "overview", "metadata")


def items_df(
    spark: SparkSession, items: Iterable[dict], with_idx: bool = False
) -> DataFrame:
    """S1: item dicts → typed nested DataFrame. At scale, replace with
    ``spark.read.json(..., schema=ITEM_SCHEMA)`` or a STAC-geoparquet scan
    — the downstream transforms are identical.

    ``with_idx=True`` attaches an ``item_idx`` input-order column — the
    basis for ``preserve_original_order`` on the catalog path (a DataFrame
    has no inherent row order, so the order must be a column).

    Each dict (or object, by its attributes) maps onto the schema by field
    name, a missing one being NULL, and the rows become a
    :func:`literal_df`: a JVM-only scan, not the Python-RDD scan of
    ``createDataFrame(list)``."""
    names = ITEM_SCHEMA.fieldNames()
    rows = [
        tuple((d if isinstance(d, dict) else vars(d)).get(n) for n in names)
        + ((i,) if with_idx else ())
        for i, d in enumerate(items)
    ]
    schema = ITEM_SCHEMA
    if with_idx:
        schema = StructType(ITEM_SCHEMA.fields + [StructField("item_idx", IntegerType())])
    return literal_df(spark, rows, schema)


def is_raster_data_sql(asset: str) -> str:
    """S4 heuristic as a SQL boolean over the asset struct named ``asset``
    (reference _mdtools.py:182-238): media type image/* or raster
    container formats; roles must not be thumbnail/overview/metadata; no
    media type → file extension. SQL text, so each use is one parsed
    expression instead of dozens of py4j Column calls."""
    media = f"lower(coalesce({asset}.type, ''))"
    roles = f"coalesce({asset}.roles, array())"
    href = f"lower(coalesce({asset}.href, ''))"
    ext = f"element_at(split(split({href}, '[?]')[0], '[.]'), -1)"
    non_data = ", ".join(f"'{r}'" for r in _NON_DATA_ROLES)
    exts = ", ".join(f"'{e}'" for e in _RASTER_EXTS)
    return (
        f"(NOT arrays_overlap({roles}, array({non_data})) AND ("
        f"startswith({media}, 'image/') OR contains({media}, 'geotiff')"
        f" OR contains({media}, 'netcdf') OR contains({media}, 'hdf')"
        f" OR contains({media}, 'zarr')"
        f" OR array_contains({roles}, 'data')"
        f" OR ({media} = '' AND {ext} IN ({exts}))))"
    )


#: collection id: collection → odc:product → '_' (reference _mdtools.py:471-479)
_CID = "coalesce(collection, odc_product, '_')"


def _by_cid(cfg: dict, fn) -> str:
    """The user's ``stac_cfg`` dict (reference MDParseConfig surface,
    model.py:417-442) as a literal CASE over the collection id: ``fn``
    maps each collection's merged MDParseConfig to SQL text, the ``'*'``
    merge being the ELSE. The config is tiny and driver-resident, so the
    overrides stay literals: no join, no Python in the item stream."""
    whens = "".join(
        f" WHEN {sql_literal(c)} THEN {fn(MDParseConfig.from_dict(c, cfg))}"
        for c in cfg
        if c != "*"
    )
    star = fn(MDParseConfig.from_dict("*", cfg))
    return f"CASE {_CID}{whens} ELSE {star} END" if whens else star


def _bm_sql(bm: RasterBandMetadata) -> str:
    """A ``raster:bands`` element as a struct literal."""
    return (
        f"named_struct('data_type', CAST({sql_literal(bm.data_type)} AS STRING),"
        f" 'nodata', CAST({sql_literal(bm.nodata)} AS DOUBLE),"
        f" 'unit', CAST({sql_literal(bm.unit)} AS STRING))"
    )


def _band_override(mc) -> str:
    """The exact band_cfg entry for the row's asset — it replaces the
    item's own raster:bands wholesale (reference _extract_bands,
    _mdtools.py:513-525) — else NULL."""
    whens = "".join(
        f" WHEN {sql_literal(name)} THEN {_bm_sql(bm)}"
        for name, bm in mc.band_cfg.items()
    )
    return f"CASE asset_name{whens} END" if whens else "NULL"


def assets_df(items: DataFrame, cfg: Optional[dict] = None) -> DataFrame:
    """Explode items → one row per (item, asset) with raster flag.

    check_proj semantics (reference _mdtools.py:199-205 + the bootstrap
    retry :536-541): when the item declares the projection extension,
    assets without proj data are not raster data — unless that filter
    leaves the item with ZERO data bands, in which case it is waived for
    the whole item. The waiver is an ``exists`` over the item's own asset
    map, evaluated on the item row before the explode: map-only, no
    shuffle, no driver round-trip.

    ``cfg`` (``stac_cfg``): ``ignore_proj`` treats the item as not
    declaring the projection extension (reference check_proj,
    _mdtools.py:498), and assets named in band_cfg are data bands
    regardless of media type or proj data (reference _keep,
    _mdtools.py:505-511)."""
    cols = items.columns
    has_proj = "coalesce(has_proj, false)" if "has_proj" in cols else "false"
    if cfg:
        has_proj = f"({has_proj} AND NOT {_by_cid(cfg, lambda mc: sql_literal(mc.ignore_proj))})"

    def strict(asset: str, proj: str) -> str:
        return (
            f"({is_raster_data_sql(asset)} AND (NOT {proj}"
            f" OR ({asset}.proj_shape IS NOT NULL AND {asset}.proj_transform IS NOT NULL)))"
        )

    # item_idx is strictly opt-in: defaulting it to a constant would let
    # preserve_original_order "sort" by shuffle arrival order downstream
    idx = ["item_idx"] if "item_idx" in cols else []
    item_cols = ["id", "collection", "odc_product", "datetime", "start_datetime", "end_datetime"]
    ex = items.selectExpr(
        *item_cols,
        "properties" if "properties" in cols else "CAST(NULL AS map<string,string>) AS properties",
        *idx,
        f"{has_proj} AS has_proj",
        f"exists(map_values(assets), a -> {strict('a', has_proj)}) AS any_strict",
        "explode(assets) AS (asset_name, asset)",
    )
    is_raster = (
        f"CASE WHEN any_strict THEN {strict('asset', 'has_proj')}"
        f" ELSE {is_raster_data_sql('asset')} END"
    )
    if cfg:
        configured = _by_cid(cfg, lambda mc: sql_in("asset_name", mc.band_cfg))
        is_raster = f"({configured} OR {is_raster})"
    return ex.selectExpr(
        *item_cols, "properties", *idx, "has_proj", "asset_name", "asset", f"{is_raster} AS is_raster"
    )


def raster_assets_df(items: DataFrame, cfg: Optional[dict] = None) -> DataFrame:
    """S4/P7: keep only pixel-bearing assets, attach band metadata (S5) and
    geobox struct (S6). ``cfg`` is the reference's ``stac_cfg`` dict
    (MDParseConfig, model.py:417-442): exact band_cfg entries replace the
    item's raster:bands wholesale (single band), band_defaults fill in
    when the item has none."""
    a = assets_df(items, cfg).where("is_raster")
    # S5 band metadata: raster:bands extension else defaults
    # (float32/None/"1" — reference BAND_DEFAULTS loader/types.py:160)
    if cfg:
        default_bm = _by_cid(cfg, lambda mc: _bm_sql(mc.band_defaults))
        override = _by_cid(cfg, _band_override)
        rb = (
            f"CASE WHEN {override} IS NOT NULL THEN array({override})"
            f" ELSE coalesce(asset.raster_bands, array({default_bm})) END"
        )
    else:
        rb = f"coalesce(asset.raster_bands, array({_bm_sql(RasterBandMetadata(None, None, None))}))"
    # S6 asset geobox: proj shape+transform; 9-element affine accepted iff
    # tail == [0,0,1] (reference _mdtools.py:296-301)
    tr = "asset.proj_transform"
    has_gbox = (
        f"{tr} IS NOT NULL AND (size({tr}) = 6 OR (size({tr}) = 9"
        f" AND {tr}[6] = 0.0D AND {tr}[7] = 0.0D AND {tr}[8] = 1.0D))"
        " AND asset.proj_shape IS NOT NULL AND asset.proj_epsg IS NOT NULL"
    )
    return a.selectExpr("*", f"posexplode({rb}) AS (band_idx0, band_meta)").selectExpr(
        "id",
        "collection",
        "odc_product",
        "datetime",
        "start_datetime",
        "end_datetime",
        "asset_name",
        "band_idx0 + 1 AS band_idx",
        "asset.href AS href",
        "band_meta.data_type AS data_type",
        "band_meta.nodata AS nodata",
        "coalesce(band_meta.unit, '1') AS unit",
        "asset.gsd AS gsd",
        f"CASE WHEN {has_gbox} THEN asset.proj_shape END AS g_shape",
        f"CASE WHEN {has_gbox} THEN slice({tr}, 1, 6) END AS g_transform",
        f"CASE WHEN {has_gbox} THEN concat('EPSG:', asset.proj_epsg) END AS g_crs",
        "asset.eo_bands AS eo_bands",
        "properties",
        *(["item_idx"] if "item_idx" in a.columns else []),
    )


def alias_map_df(items: DataFrame) -> DataFrame:
    """S7: eo:bands name/common_name → candidate asset list ordered by
    (band count asc, asset name) — 1-band assets win aliases
    (reference _mdtools.py:400-442, priority :437-442)."""
    a = assets_df(items).where("is_raster")
    eo = "coalesce(asset.eo_bands, array())"
    names = (
        a.selectExpr(
            "collection", "asset_name", f"size({eo}) AS n_bands", f"posexplode({eo}) AS (idx0, eo)"
        )
        .selectExpr(
            "collection",
            "asset_name",
            "n_bands",
            "idx0 + 1 AS band_idx",
            "explode(array_distinct(filter(array(eo.name, eo.common_name), x -> x IS NOT NULL)))"
            " AS alias",
        )
        .distinct()
    )
    # drop aliases that shadow a real asset name (reference skips those,
    # _mdtools.py:430-432)
    asset_names = a.selectExpr("collection", "asset_name AS alias").distinct()
    return (
        names.join(asset_names, ["collection", "alias"], "left_anti")
        .groupBy("collection", "alias")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(n_bands, asset_name, band_idx))),"
                " x -> struct(x.asset_name, x.band_idx)) AS candidates"
            )
        )
    )


def collection_id_col() -> F.Column:
    """collection → odc:product → '_' (reference _mdtools.py:471-479)."""
    return F.expr(_CID)


def extract_collection_metadata(
    spark: SparkSession, items: DataFrame, cfg: Optional[dict] = None
) -> Dict[str, RasterCollectionMetadata]:
    """S3: one-pass aggregation → per-collection schema records. Only the
    tiny inferred records are collected (items stay distributed).

    Consistency assumption as in the reference (loader/types.py:16-19):
    same-named assets share dtype/nodata across items → ``first()``."""
    first = ("data_type", "nodata", "unit", "gsd", "g_shape", "g_transform", "g_crs")
    per_band = (
        raster_assets_df(items, cfg)
        .withColumn("cid", collection_id_col())
        .groupBy("cid", "asset_name", "band_idx")
        .agg(*[F.expr(f"first({c}, true) AS {c}") for c in first], F.expr("count(1) AS n_seen"))
        .collect()
    )
    aliases = alias_map_df(items.withColumn("collection", collection_id_col())).collect()

    out: Dict[str, RasterCollectionMetadata] = {}
    for r in per_band:
        md = out.setdefault(
            r.cid, RasterCollectionMetadata(name=r.cid, bands={}, aliases={}, band2grid={})
        )
        md.bands[(r.asset_name, int(r.band_idx))] = RasterBandMetadata(
            data_type=r.data_type or "float32",
            nodata=r.nodata,
            unit=r.unit or "1",
        )
        # A9 band→grid: key by FULL grid identity (shape, transform, crs) —
        # two grids sharing a gsd must not collapse (reference
        # _group_geoboxes, _mdtools.py:334-374); no-proj items fall back
        # to gsd buckets (band2grid_from_gsd, :377-397)
        if r.g_transform is not None:
            gid = (
                tuple(r.g_shape) if r.g_shape else None,
                tuple(r.g_transform),
                r.g_crs,
            )
        else:
            gid = float(f"{(r.gsd or 0.0):g}")
        md.band2grid[r.asset_name] = gid
    for r in aliases:
        if r.collection in out:
            out[r.collection].aliases[r.alias] = [
                (c[0], int(c[1])) for c in r.candidates
            ]
    if cfg:
        # config aliases outrank eo:bands-derived candidates (reference
        # puts MDParseConfig.aliases first, _mdtools.py:400-442)
        for cid, md in out.items():
            mc = MDParseConfig.from_dict(cid, cfg)
            for alias, bk in mc.aliases.items():
                rest = [x for x in md.aliases.get(alias, []) if x != bk]
                md.aliases[alias] = [bk] + rest
    # grid naming (reference _mdtools.py:353-374): default = grid with the
    # most bands, tie → smallest gsd; others g<gsd>, name clash → g<gsd>-<band>
    for md in out.values():
        from collections import Counter

        votes = Counter(md.band2grid.values())
        if not votes:
            continue

        def _gsd(gid):
            if isinstance(gid, tuple):
                return abs(gid[1][0]) if gid[1] else 0.0
            return gid

        default_gid = min(votes, key=lambda g: (-votes[g], _gsd(g)))
        names: Dict[object, str] = {default_gid: "default"}
        used = {"default"}
        for band, gid in md.band2grid.items():
            if gid in names:
                continue
            name = f"g{_gsd(gid):g}"
            if name in used:
                name = f"{name}-{band}"
            names[gid] = name
            used.add(name)
        md.band2grid = {band: names[gid] for band, gid in md.band2grid.items()}
    return out


def parse_items(
    spark: SparkSession,
    items: DataFrame,
    cfg: Optional[dict] = None,
) -> DataFrame:
    """S2: parsed-item rows — (item, band) with source URI, geobox, meta;
    the DataFrame image of ``Iterator[ParsedItem]``. Feed to
    ``to_load_items`` for the pixel plane, or query it relationally.
    ``cfg`` is the per-collection MDParseConfig dict (band overrides /
    aliases / ignore_proj — reference model.py:417-442)."""
    ra = raster_assets_df(items, cfg)
    return ra.selectExpr(
        f"{_CID} AS cid",
        "id",
        "datetime",
        "start_datetime",
        "end_datetime",
        "asset_name",
        "band_idx",
        "href",
        "data_type",
        "nodata",
        "unit",
        "g_shape",
        "g_transform",
        "g_crs",
        "properties",
        *(["item_idx"] if "item_idx" in ra.columns else []),
    )


def patch_urls_df(
    parsed: DataFrame, edit, bands: Optional[Sequence[str]] = None
) -> DataFrame:
    """Catalog-scale URL rewriting over ``parse_items`` rows (S12; the
    DataFrame image of reference ``patch_urls``, _stac_load.py:60-84).

    ``edit`` should be a Column transform (Column → Column) so the rewrite
    stays a JVM expression — e.g. signing::

        patch_urls_df(parsed, lambda c: F.concat(c, F.lit("?sig=abc")))

    A plain str→str Python callable is also accepted and wrapped in a UDF
    (fine for the metadata plane — one row per band×item, not per pixel —
    but prefer the Column form: ``F.concat``/``F.regexp_replace`` cover
    signing and host rewrites and keep Catalyst in charge)."""
    try:
        probe = edit(F.col("href"))
    except Exception:
        probe = None  # a str-only callable chokes on the Column probe
    if not isinstance(probe, F.Column):
        probe = F.udf(edit, StringType())(F.col("href"))
    new_href = (
        probe
        if bands is None
        else F.when(F.col("asset_name").isin(list(bands)), probe).otherwise(
            F.col("href")
        )
    )
    return parsed.withColumn("href", new_href)


def parse_item(spark: SparkSession, doc: dict, cfg: Optional[dict] = None):
    """S2, singular: ONE raw STAC item dict → one ``plans.load.Item``
    (public-API parity with the reference's ``parse_item``,
    odc/stac/__init__.py:20-36 / _mdtools.py singular form). Runs the
    exact same column pipeline as the at-scale path
    (``stac_dicts_to_items`` → ``parse_items``), so singular and
    distributed parses can never drift."""
    parsed = parse_items(spark, stac_dicts_to_items(spark, [doc]), cfg=cfg)
    items = to_load_items(parsed)
    if not items:
        raise ValueError(
            f"item {doc.get('id')!r} has no raster data assets after filtering"
        )
    return items[0]


def to_load_items(parsed: DataFrame, band: Optional[Sequence[str]] = None) -> List:
    """Driver-side bridge: parsed rows → plans.load.Item list (small AOIs;
    the pixel pipeline consumes the DataFrame form directly at scale)."""
    from ..plans.load import Item

    rows = parsed.collect()
    by_item: Dict[str, Item] = {}
    for r in rows:
        if band is not None and r.asset_name not in band:
            continue
        it = by_item.get(r.id)
        if it is None:
            props = dict(r.properties) if r.properties is not None else {}
            it = Item(id=r.id, datetime=r.datetime, bands={}, props=props)
            by_item[r.id] = it
        gbox = None
        if r.g_shape is not None and r.g_transform is not None:
            t = r.g_transform
            gbox = GeoBox((r.g_shape[0], r.g_shape[1]), (t[0], t[1], t[2], t[3], t[4], t[5]), r.g_crs)
        it.bands[r.asset_name] = RasterSource(
            uri=r.href,
            band=int(r.band_idx),
            geobox=gbox,
            meta=RasterBandMetadata(r.data_type or "float32", r.nodata, r.unit or "1"),
        )
    return [by_item[k] for k in sorted(by_item)]
