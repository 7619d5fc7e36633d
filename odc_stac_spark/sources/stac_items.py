"""STAC metadata plane as DataFrames (SURVEY §2.1 S1-S7, §2.2 P1-P5).

The reference parses pystac Items one at a time on the driver
(_mdtools.py:705-723). Here the item stream IS a DataFrame with an
explicit nested schema, so at catalog scale (10⁸ items / STAC-geoparquet)
parsing, raster-asset detection, band-metadata extraction, alias mapping
and collection-schema inference are all Catalyst-planned jobs — filters
push into the scan, and only the tiny inferred collection record is
collected (SURVEY §1.2 "Spark mapping").

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
    RasterBandMetadata,
    RasterCollectionMetadata,
    RasterSource,
)
from ..session import literal_df

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
    """
    j = F.from_json(F.col(column), STAC_JSON_DDL)
    props = j.getField("properties")
    has_proj = F.exists(
        F.coalesce(j.getField("stac_extensions"), F.array()),
        lambda e: (e == "projection")
        | (e == "proj")
        | e.startswith("https://stac-extensions.github.io/projection/"),
    )
    it_shape = props.getField("proj:shape")
    it_tr = props.getField("proj:transform")
    it_epsg = props.getField("proj:epsg")

    def mk_asset(a: F.Column) -> F.Column:
        return F.struct(
            resolve_href(a.getField("href")).alias("href"),
            a.getField("type").alias("type"),
            a.getField("roles").alias("roles"),
            F.coalesce(a.getField("gsd"), props.getField("gsd")).alias("gsd"),
            F.when(has_proj, F.coalesce(a.getField("proj:shape"), it_shape)).alias(
                "proj_shape"
            ),
            F.when(
                has_proj, F.coalesce(a.getField("proj:transform"), it_tr)
            ).alias("proj_transform"),
            F.when(has_proj, F.coalesce(a.getField("proj:epsg"), it_epsg)).alias(
                "proj_epsg"
            ),
            a.getField("eo:bands").alias("eo_bands"),
            a.getField("raster:bands").alias("raster_bands"),
        )

    # try_element_at: an item with links present but NO self link yields
    # an empty filtered array, which plain element_at rejects under ANSI
    self_href = F.try_element_at(
        F.filter(
            F.coalesce(j.getField("links"), F.array()), lambda l: l["rel"] == "self"
        ),
        F.lit(1),
    )["href"]

    def resolve_href(href: F.Column) -> F.Column:
        """Relative asset hrefs resolve against the item's self link
        (pystac ``get_absolute_href`` semantics, reference
        _mdtools.py:685; self-contained catalogs ship relative hrefs).
        Handles ``./x``, ``x`` and up to three ``../`` levels as column
        expressions; an item with relative hrefs and NO self link keeps
        them as-is — the read fails loudly at the reader instead of the
        reference's driver-side ValueError (no per-row raise in a
        distributed parse)."""
        is_abs = href.rlike("^[A-Za-z][A-Za-z0-9+.-]*://") | href.startswith("/")
        base = F.regexp_replace(self_href, "/[^/]*$", "")
        rel = F.regexp_replace(href, r"^\./", "")
        for _ in range(3):  # static unroll: ../ up to three levels
            up = rel.startswith("../")
            base = F.when(up, F.regexp_replace(base, "/[^/]*$", "")).otherwise(base)
            rel = F.when(up, F.substr(rel, F.lit(4))).otherwise(rel)
        return F.when(
            is_abs | self_href.isNull(), href
        ).otherwise(F.concat(base, F.lit("/"), rel))
    # generic properties map: stringified values (objects keep raw JSON)
    props_map = F.from_json(
        F.get_json_object(F.col(column), "$.properties"), "map<string,string>"
    )
    return raw.select(
        j.getField("id").alias("id"),
        j.getField("collection").alias("collection"),
        props.getField("odc:product").alias("odc_product"),
        F.to_timestamp(props.getField("datetime")).alias("datetime"),
        F.to_timestamp(props.getField("start_datetime")).alias("start_datetime"),
        F.to_timestamp(props.getField("end_datetime")).alias("end_datetime"),
        self_href.alias("href"),
        j.getField("bbox").alias("bbox"),
        F.transform_values(
            F.coalesce(j.getField("assets"), F.create_map().cast(
                "map<string," + _STAC_JSON_ASSET_DDL + ">"
            )),
            lambda _, a: mk_asset(a),
        ).alias("assets"),
        props_map.alias("properties"),
        has_proj.alias("has_proj"),
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
    j = F.from_json(F.col(column), "struct<type:string,features:array<string>>")
    feats = F.when(
        j.getField("features").isNotNull(), j.getField("features")
    ).otherwise(F.array(F.col(column)))
    return stac_json_to_items(
        raw.select(F.explode(feats).alias("value")), column="value"
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


class _CfgExprs:
    """The user's ``stac_cfg`` dict (reference MDParseConfig surface,
    model.py:417-442) compiled to literal CASE expressions over
    (collection id, asset name) — the config is tiny and driver-resident,
    so overrides stay pure Catalyst literals: no join, no Python in the
    item stream."""

    _BM_DDL = "struct<data_type:string,nodata:double,unit:string>"

    def __init__(self, cfg: dict):
        from ..model import MDParseConfig

        self.star = MDParseConfig.from_dict("*", cfg)
        self.per_cid = {
            k: MDParseConfig.from_dict(k, cfg) for k in cfg if k != "*"
        }

    def _by_cid(self, fn) -> F.Column:
        """CASE over collection id: explicit entries, else the '*' merge."""
        expr = fn(self.star)
        for c, mc in self.per_cid.items():
            expr = F.when(collection_id_col() == c, fn(mc)).otherwise(expr)
        return expr

    def ignore_proj(self) -> F.Column:
        return self._by_cid(lambda mc: F.lit(mc.ignore_proj))

    def configured_asset(self) -> F.Column:
        """Assets named in band_cfg are data bands regardless of media
        type (reference _keep, _mdtools.py:505-511)."""
        return self._by_cid(
            lambda mc: (
                F.col("asset_name").isin(list(mc.band_cfg))
                if mc.band_cfg
                else F.lit(False)
            )
        )

    def _bm_struct(self, bm) -> F.Column:
        return F.struct(
            F.lit(bm.data_type).cast(StringType()).alias("data_type"),
            F.lit(bm.nodata).cast(DoubleType()).alias("nodata"),
            F.lit(bm.unit).cast(StringType()).alias("unit"),
        )

    def band_override(self) -> F.Column:
        """Exact band_cfg entry for (cid, asset) — replaces the item's own
        raster:bands wholesale (reference _extract_bands,
        _mdtools.py:513-525), else NULL."""

        def one(mc):
            e = F.lit(None).cast(self._BM_DDL)
            for name, bm in mc.band_cfg.items():
                e = F.when(F.col("asset_name") == name, self._bm_struct(bm)).otherwise(e)
            return e

        return self._by_cid(one)

    def band_defaults(self) -> F.Column:
        """Fallback metadata when the item carries no raster:bands."""
        return self._by_cid(lambda mc: self._bm_struct(mc.band_defaults))


def assets_df(items: DataFrame, cfg: Optional[dict] = None) -> DataFrame:
    """Explode items → one row per (item, asset) with raster flag.

    check_proj semantics (reference _mdtools.py:199-205 + the bootstrap
    retry :536-541): when the item declares the projection extension,
    assets without proj data are not raster data — unless that filter
    leaves the item with ZERO data bands, in which case it is waived for
    the whole item. The waiver is an ``exists`` over the item's own asset
    map, evaluated on the item row before the explode: map-only, no
    shuffle, no driver round-trip."""
    has_proj_col = (
        F.coalesce(F.col("has_proj"), F.lit(False))
        if "has_proj" in items.columns
        else F.lit(False)
    )
    ce = _CfgExprs(cfg) if cfg else None
    if ce is not None:
        # ignore_proj: treat the item as not declaring the projection
        # extension (reference check_proj, _mdtools.py:498)
        has_proj_col = has_proj_col & ~ce.ignore_proj()

    def strict(asset: str) -> str:
        return (
            f"({is_raster_data_sql(asset)} AND (NOT has_proj"
            f" OR ({asset}.proj_shape IS NOT NULL AND {asset}.proj_transform IS NOT NULL)))"
        )

    props_col = (
        F.col("properties")
        if "properties" in items.columns
        else F.lit(None).cast(MapType(StringType(), StringType()))
    )
    # item_idx is strictly opt-in: defaulting it to a constant would let
    # preserve_original_order "sort" by shuffle arrival order downstream
    idx_cols = [F.col("item_idx")] if "item_idx" in items.columns else []
    item_cols = ["id", "collection", "odc_product", "datetime", "start_datetime", "end_datetime"]
    ex = items.select(
        *item_cols,
        props_col.alias("properties"),
        *idx_cols,
        has_proj_col.alias("has_proj"),
        "assets",
    ).select(
        *item_cols,
        "properties",
        *idx_cols,
        "has_proj",
        F.expr(f"exists(map_values(assets), a -> {strict('a')})").alias("any_strict"),
        F.explode("assets").alias("asset_name", "asset"),
    )
    is_raster = F.expr(
        f"CASE WHEN any_strict THEN {strict('asset')} ELSE {is_raster_data_sql('asset')} END"
    )
    if ce is not None:
        # assets named in band_cfg are data bands unconditionally —
        # before any media-type or proj filtering (reference _keep,
        # _mdtools.py:505-511)
        is_raster = ce.configured_asset() | is_raster
    return ex.withColumn("is_raster", is_raster).drop("any_strict")


def raster_assets_df(items: DataFrame, cfg: Optional[dict] = None) -> DataFrame:
    """S4/P7: keep only pixel-bearing assets, attach band metadata (S5) and
    geobox struct (S6). ``cfg`` is the reference's ``stac_cfg`` dict
    (MDParseConfig, model.py:417-442): exact band_cfg entries replace the
    item's raster:bands wholesale (single band), band_defaults fill in
    when the item has none."""
    a = assets_df(items, cfg).where("is_raster")
    ce = _CfgExprs(cfg) if cfg else None
    # S5 band metadata: raster:bands extension else defaults
    # (float32/None/"1" — reference BAND_DEFAULTS loader/types.py:160)
    default_bm = (
        ce.band_defaults()
        if ce is not None
        else F.struct(
            F.lit(None).cast(StringType()).alias("data_type"),
            F.lit(None).cast(DoubleType()).alias("nodata"),
            F.lit(None).cast(StringType()).alias("unit"),
        )
    )
    rb = F.coalesce(F.col("asset.raster_bands"), F.array(default_bm))
    if ce is not None:
        ov = ce.band_override()
        rb = F.when(ov.isNotNull(), F.array(ov)).otherwise(rb)
    a = a.select(
        "*",
        F.posexplode(rb).alias("band_idx0", "band_meta"),
    ).withColumn("band_idx", F.col("band_idx0") + 1)
    # S6 asset geobox: proj shape+transform; 9-element affine accepted iff
    # tail == [0,0,1] (reference _mdtools.py:296-301)
    tr = F.col("asset.proj_transform")
    valid_tr = tr.isNotNull() & (
        (F.size(tr) == 6)
        | ((F.size(tr) == 9)
           & (tr.getItem(6) == 0.0) & (tr.getItem(7) == 0.0) & (tr.getItem(8) == 1.0))
    )
    has_gbox = valid_tr & F.col("asset.proj_shape").isNotNull() & F.col(
        "asset.proj_epsg"
    ).isNotNull()
    return a.select(
        "id",
        "collection",
        "odc_product",
        "datetime",
        "start_datetime",
        "end_datetime",
        "asset_name",
        "band_idx",
        F.col("asset.href").alias("href"),
        F.col("band_meta.data_type").alias("data_type"),
        F.col("band_meta.nodata").alias("nodata"),
        F.coalesce(F.col("band_meta.unit"), F.lit("1")).alias("unit"),
        F.col("asset.gsd").alias("gsd"),
        F.when(has_gbox, F.col("asset.proj_shape")).alias("g_shape"),
        F.when(has_gbox, F.slice(tr, 1, 6)).alias("g_transform"),
        F.when(has_gbox, F.concat(F.lit("EPSG:"), F.col("asset.proj_epsg"))).alias("g_crs"),
        F.col("asset.eo_bands").alias("eo_bands"),
        "properties",
        *(["item_idx"] if "item_idx" in a.columns else []),
    )


def alias_map_df(items: DataFrame) -> DataFrame:
    """S7: eo:bands name/common_name → candidate asset list ordered by
    (band count asc, asset name) — 1-band assets win aliases
    (reference _mdtools.py:400-442, priority :437-442)."""
    a = assets_df(items).where("is_raster")
    eo = a.select(
        "collection",
        "asset_name",
        F.size(F.coalesce(F.col("asset.eo_bands"), F.array())).alias("n_bands"),
        F.posexplode(F.coalesce(F.col("asset.eo_bands"), F.array())).alias("idx0", "eo"),
    )
    names = eo.select(
        "collection",
        "asset_name",
        "n_bands",
        (F.col("idx0") + 1).alias("band_idx"),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.array(F.col("eo.name"), F.col("eo.common_name")),
                    lambda x: x.isNotNull(),
                )
            )
        ).alias("alias"),
    ).distinct()
    # drop aliases that shadow a real asset name (reference skips those,
    # _mdtools.py:430-432)
    asset_names = a.select("collection", F.col("asset_name").alias("alias")).distinct()
    names = names.join(asset_names, ["collection", "alias"], "left_anti")
    ordered = F.array_sort(
        F.collect_list(F.struct("n_bands", "asset_name", "band_idx"))
    )
    return names.groupBy("collection", "alias").agg(
        F.transform(ordered, lambda x: F.struct(x["asset_name"], x["band_idx"])).alias(
            "candidates"
        )
    )


def collection_id_col() -> F.Column:
    """collection → odc:product → '_' (reference _mdtools.py:471-479)."""
    return F.coalesce(F.col("collection"), F.col("odc_product"), F.lit("_"))


def extract_collection_metadata(
    spark: SparkSession, items: DataFrame, cfg: Optional[dict] = None
) -> Dict[str, RasterCollectionMetadata]:
    """S3: one-pass aggregation → per-collection schema records. Only the
    tiny inferred records are collected (items stay distributed).

    Consistency assumption as in the reference (loader/types.py:16-19):
    same-named assets share dtype/nodata across items → ``first()``."""
    ra = raster_assets_df(items, cfg).withColumn("cid", collection_id_col())
    per_band = (
        ra.groupBy("cid", "asset_name", "band_idx")
        .agg(
            F.first("data_type", ignorenulls=True).alias("data_type"),
            F.first("nodata", ignorenulls=True).alias("nodata"),
            F.first("unit", ignorenulls=True).alias("unit"),
            F.first("gsd", ignorenulls=True).alias("gsd"),
            F.first("g_shape", ignorenulls=True).alias("g_shape"),
            F.first("g_transform", ignorenulls=True).alias("g_transform"),
            F.first("g_crs", ignorenulls=True).alias("g_crs"),
            F.count(F.lit(1)).alias("n_seen"),
        )
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
        from ..model import MDParseConfig

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
    collections: Optional[Dict[str, RasterCollectionMetadata]] = None,
    cfg: Optional[dict] = None,
) -> DataFrame:
    """S2: parsed-item rows — (item, band) with source URI, geobox, meta;
    the DataFrame image of ``Iterator[ParsedItem]``. Feed to
    ``to_load_items`` for the pixel plane, or query it relationally.
    ``cfg`` is the per-collection MDParseConfig dict (band overrides /
    aliases / ignore_proj — reference model.py:417-442)."""
    ra = raster_assets_df(items, cfg).withColumn("cid", collection_id_col())
    return ra.select(
        "cid",
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
