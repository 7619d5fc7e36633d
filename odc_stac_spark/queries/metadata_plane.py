"""Metadata-plane operator analogs (SURVEY.md §2.2/§2.4/§2.6, A1–A10, J1,
F10/F14, S3) expressed over the driver's synthetic tables.

The reference's planning pipeline is a sequence of small relational
operators (group-key computation, solar-day adjustment, mode election,
bbox union, ordered bucketization, first-valid mosaic precedence, grid/
dtype election, spatio-temporal binning). Each analog below runs the
*same semantics* on the synthetic tables so the DuckDB oracle can gate it;
the STAC-specific typed pipeline built on these primitives lives in
:mod:`odc_stac_spark.sources.stac_items` / :mod:`odc_stac_spark.plans`.

Scale notes: every one of these is a declarative groupBy/window — partial
aggregation and AQE handle them at 100 TB, and none of them collect to the
driver (the reference's planning was driver-resident; ours is not:
SURVEY §7.3 "100 TB scale deltas").
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources.tables import load_table
from . import register


# -- A1: group-by key computation (groupby="time" analog: hour buckets) ----
@register(
    "a1_groupby_time",
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS group_key_us,
           COUNT(*) AS n_items,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1
    """,
    doc="A1 groupby=time: exact-timestamp bucketing (_stac_load.py:525-535 "
    "analog). Group key is an epoch-microsecond BIGINT so the hash gate is "
    "immune to timestamp-rendering drift.",
    tags=("metadata", "agg"),
)
def a1_groupby_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_micros(F.date_trunc("hour", "ts")).alias("group_key_us")
        )
        .agg(F.count(F.lit(1)).alias("n_items"), F.round(F.sum("value"), 2).alias("total_value"))
    )


# -- A1b: groupby=<property name> ------------------------------------------
@register(
    "a1b_groupby_property",
    oracle="""
    SELECT json_extract_string(props, '$.k') AS group_key,
           COUNT(*) AS n_items,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1
    """,
    doc="A1b groupby=<property>: key off the raw STAC-properties map "
    "(reference _groupby_property, _stac_load.py:515-535) — exercises the "
    "catalog path's property-name group-key expression.",
    tags=("metadata", "agg"),
)
def a1b_groupby_property(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.catalog import _group_key_col

    ev = load_table(spark, sf_dir, "events").withColumn(
        "properties", F.from_json("props", "map<string,string>")
    )
    return ev.groupBy(_group_key_col("k").alias("group_key")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# -- A2/F10: solar-day adjustment ------------------------------------------
# Reference semantics (model.py:454-458): utc + int(lon/15) whole hours,
# int() truncating toward zero. Longitude derived deterministically from
# user_id so both engines compute the identical value.
@register(
    "a2_solar_day",
    oracle="""
    SELECT strftime(CAST(ts + to_hours(CAST(trunc(((user_id % 360) - 180) / 15.0) AS BIGINT))
                    AS DATE), '%Y-%m-%d') AS solar_day,
           COUNT(*) AS n_items,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    """,
    doc="A2 solar-day grouping: ts + trunc(lon/15) hours (model.py:454-458 semantics).",
    tags=("metadata", "agg"),
)
def a2_solar_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    lon = (F.col("user_id") % 360) - 180
    # Spark CAST(double AS INT) truncates toward zero == Python int()
    offset_h = (lon / 15.0).cast("int")
    solar_ts = F.timestamp_add("HOUR", offset_h, F.col("ts"))
    return (
        ev.groupBy(F.date_format(solar_ts.cast("date"), "yyyy-MM-dd").alias("solar_day"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# -- A3: nominal-datetime coalesce -----------------------------------------
@register(
    "a3_nominal_datetime",
    oracle="""
    SELECT event_id,
           epoch_us(COALESCE(
               CASE WHEN event_type = 'error' THEN NULL ELSE ts END,
               CASE WHEN user_id % 2 = 0 THEN ts + to_hours(1) ELSE NULL END,
               ts + to_hours(2)
           )) AS nominal_ts_us
    FROM events
    """,
    doc="A3 nominal datetime: coalesce(datetime, start, end) (model.py:341-354). "
    "Emitted as epoch-microsecond BIGINT (rendering-drift-proof).",
    tags=("metadata", "scalar"),
)
def a3_nominal_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dt = F.when(F.col("event_type") != "error", F.col("ts"))
    start = F.when(F.col("user_id") % 2 == 0, F.timestamp_add("HOUR", F.lit(1), F.col("ts")))
    end = F.timestamp_add("HOUR", F.lit(2), F.col("ts"))
    return ev.select(
        "event_id",
        F.unix_micros(F.coalesce(dt, start, end)).alias("nominal_ts_us"),
    )


# -- A4/A5: group sort + bucketize + representative timestamp --------------
@register(
    "a4_group_sort_bucketize",
    oracle="""
    SELECT user_id,
           string_agg(event_type, ',' ORDER BY ts, event_id) AS ordered_types,
           epoch_us(MIN(ts)) AS group_ts_us,
           COUNT(*) AS n
    FROM events
    GROUP BY user_id
    """,
    doc="A4+A5: ordered bucketization by (time, id) and representative group "
    "timestamp (_stac_load.py:538-566, 480-485).",
    tags=("metadata", "agg"),
)
def a4_group_sort_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # sort_array on struct sorts lexicographically by (ts, event_id) — the
    # reference's (time, id) ordering; event_id is unique so order is total.
    ordered = F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type")))
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.transform(ordered, lambda x: x["event_type"])).alias("ordered_types"),
        F.unix_micros(F.min("ts")).alias("group_ts_us"),
        F.count(F.lit(1)).alias("n"),
    )


# -- A6: first-valid mosaic precedence -------------------------------------
# fill_2d_slice semantics (loader/_builder.py:175-212): within a cell,
# sources apply in (time, id) order and only pixels still missing get
# written → the cell value is the FIRST VALID source. Cell=(user_id,
# event_type), validity = value >= 50 (sentinel nodata below).
@register(
    "a6_mosaic_first_valid",
    oracle="""
    SELECT user_id, event_type,
           ROUND(MIN(CASE WHEN rn = 1 THEN value END), 2) AS first_valid,
           COUNT(*) AS n_valid
    FROM (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
        WHERE value >= 50
    )
    GROUP BY user_id, event_type
    """,
    doc="A6 mosaic: first-valid-pixel-wins in (time,id) order "
    "(loader/_builder.py:175-212 semantics).",
    tags=("metadata", "agg"),
)
def a6_mosaic_first_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value") >= 50)
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.min_by("value", F.struct("ts", "event_id")).alias("fv"),
            F.count(F.lit(1)).alias("n_valid"),
        )
        .select(
            "user_id",
            "event_type",
            F.round("fv", 2).alias("first_valid"),
            "n_valid",
        )
    )


# -- A7: majority-vote (mode) election -------------------------------------
@register(
    "a7_mode_election",
    oracle="""
    SELECT p_type, p_brand AS elected_brand, cnt FROM (
        SELECT p_type, p_brand, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY p_type
                                  ORDER BY COUNT(*) DESC, p_brand) AS rn
        FROM part GROUP BY p_type, p_brand
    ) WHERE rn = 1
    """,
    doc="A7 majority-vote grid election → mode() (_mdtools.py:726-749).",
    tags=("metadata", "agg"),
)
def a7_mode_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    counts = p.groupBy("p_type", "p_brand").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("p_type").orderBy(F.desc("cnt"), F.asc("p_brand"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("p_type", F.col("p_brand").alias("elected_brand"), "cnt")
    )


# -- A8: bbox union ---------------------------------------------------------
@register(
    "a8_bbox_union",
    oracle="""
    SELECT event_type,
           ROUND(MIN(value), 2) AS xmin,
           ROUND(MAX(value), 2) AS xmax,
           MIN(user_id) AS ymin,
           MAX(user_id) AS ymax
    FROM events GROUP BY event_type
    """,
    doc="A8 bbox union → ST_Extent-style min/max agg (_mdtools.py:787-803).",
    tags=("metadata", "agg"),
)
def a8_bbox_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.min("value"), 2).alias("xmin"),
        F.round(F.max("value"), 2).alias("xmax"),
        F.min("user_id").alias("ymin"),
        F.max("user_id").alias("ymax"),
    )


# -- A9/O3: grid election (count desc, gsd asc) ----------------------------
@register(
    "a9_grid_election",
    oracle="""
    SELECT p_type, p_size AS elected_size, cnt FROM (
        SELECT p_type, p_size, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY p_type
                                  ORDER BY COUNT(*) DESC, p_size) AS rn
        FROM part GROUP BY p_type, p_size
    ) WHERE rn = 1
    """,
    doc="A9 default-grid election: most members, tie → smallest gsd "
    "(_mdtools.py:334-374).",
    tags=("metadata", "agg"),
)
def a9_grid_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    counts = p.groupBy("p_type", "p_size").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("p_type").orderBy(F.desc("cnt"), F.asc("p_size"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("p_type", F.col("p_size").alias("elected_size"), "cnt")
    )


# -- A10/O4: dtype election (widest itemsize) ------------------------------
_DTYPE_CASE_SQL = """
    CASE p_size % 5 WHEN 0 THEN 'uint8' WHEN 1 THEN 'uint16'
                    WHEN 2 THEN 'int32' WHEN 3 THEN 'float32'
                    ELSE 'float64' END
"""
_ITEMSIZE_CASE_SQL = """
    CASE p_size % 5 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4
                    WHEN 3 THEN 4 ELSE 8 END
"""


@register(
    "a10_dtype_election",
    oracle=f"""
    SELECT p_brand, dtype AS elected_dtype FROM (
        SELECT p_brand, {_DTYPE_CASE_SQL} AS dtype,
               ROW_NUMBER() OVER (PARTITION BY p_brand
                                  ORDER BY {_ITEMSIZE_CASE_SQL} DESC,
                                           {_DTYPE_CASE_SQL} DESC) AS rn
        FROM part
    ) WHERE rn = 1
    """,
    doc="A10 dtype election: widest itemsize wins (_stac_load.py:391-397).",
    tags=("metadata", "agg"),
)
def a10_dtype_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    dtype = (
        F.when(F.col("p_size") % 5 == 0, "uint8")
        .when(F.col("p_size") % 5 == 1, "uint16")
        .when(F.col("p_size") % 5 == 2, "int32")
        .when(F.col("p_size") % 5 == 3, "float32")
        .otherwise("float64")
    )
    itemsize = (
        F.when(F.col("p_size") % 5 == 0, 1)
        .when(F.col("p_size") % 5 == 1, 2)
        .when(F.col("p_size") % 5 == 2, 4)
        .when(F.col("p_size") % 5 == 3, 4)
        .otherwise(8)
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("itemsize"), F.desc("dtype"))
    return (
        p.select("p_brand", dtype.alias("dtype"), itemsize.alias("itemsize"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("p_brand", F.col("dtype").alias("elected_dtype"))
    )


# -- J1/P6: spatio-temporal binning via grid-index explode ------------------
# The core spatial-join strategy (SURVEY §2.3 J1): instead of a theta
# ST_Intersects join, each item EXPLODES into the grid tiles its extent
# covers, turning the spatial join into an equi-join on tile index that
# Catalyst shuffles/prunes like any other key. Here each order spans key
# range [o_custkey, o_custkey+3] over tiles of width 10; time bin = month.
@register(
    "j1_tyx_bins",
    oracle="""
    SELECT t_bin, ix,
           string_agg(o_orderkey, ',' ORDER BY o_orderdate, o_orderkey) AS item_ids,
           COUNT(*) AS n_items
    FROM (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS t_bin,
               UNNEST(generate_series(CAST(floor(o_custkey / 10.0) AS BIGINT),
                                      CAST(floor((o_custkey + 3) / 10.0) AS BIGINT))) AS ix,
               o_orderkey, o_orderdate
        FROM orders
    )
    GROUP BY t_bin, ix
    """,
    doc="J1 _tyx_bins: item→tile explode + grouped ordered item lists "
    "(_stac_load.py:576-588); grid-index equi-join replaces spatial theta-join.",
    tags=("metadata", "join", "spatial"),
)
def j1_tyx_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    lo = F.floor(F.col("o_custkey") / 10.0)
    hi = F.floor((F.col("o_custkey") + 3) / 10.0)
    exploded = o.select(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("t_bin"),
        F.explode(F.sequence(lo, hi)).alias("ix"),
        "o_orderkey",
        "o_orderdate",
    )
    ordered = F.array_sort(F.collect_list(F.struct("o_orderdate", "o_orderkey")))
    return exploded.groupBy("t_bin", "ix").agg(
        F.concat_ws(",", F.transform(ordered, lambda x: x["o_orderkey"].cast("string"))).alias(
            "item_ids"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


# -- F14: deterministic UUID ------------------------------------------------
@register(
    "f14_deterministic_uuid",
    oracle="""
    SELECT o_orderkey,
           substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-' || substr(h, 13, 4)
             || '-' || substr(h, 17, 4) || '-' || substr(h, 21, 12) AS doc_uuid
    FROM (SELECT o_orderkey,
                 md5('orders' || chr(10) || CAST(o_orderkey AS VARCHAR)) AS h
          FROM orders)
    """,
    doc="F14 deterministic uuid from (collection, id) digest "
    "(eo3/_eo3converter.py:125-156 semantics).",
    tags=("metadata", "scalar"),
)
def f14_deterministic_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    h = F.md5(F.concat_ws("\n", F.lit("orders"), F.col("o_orderkey").cast("string")))
    return o.select(
        "o_orderkey",
        F.concat_ws(
            "-",
            F.substring(h, 1, 8),
            F.substring(h, 9, 4),
            F.substring(h, 13, 4),
            F.substring(h, 17, 4),
            F.substring(h, 21, 12),
        ).alias("doc_uuid"),
    )


# -- S3: incremental collection-schema inference ----------------------------
@register(
    "s3_schema_inference",
    oracle="""
    SELECT source,
           arg_min(lang, doc_id) AS first_lang,
           COUNT(DISTINCT lang) AS n_langs,
           COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents GROUP BY source
    """,
    doc="S3 collection-schema inference: first-item bootstrap + per-collection "
    "rollup (_mdtools.py:482-617 as one-pass agg).",
    tags=("metadata", "agg"),
)
def s3_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.min_by("lang", "doc_id").alias("first_lang"),
        F.countDistinct("lang").alias("n_langs"),
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# -- S1/S2: real STAC JSON document ingestion -------------------------------
_STAC_DEMO_DOCS = None


def _stac_demo_docs():
    """Two realistic STAC item documents (nested properties, asset-level
    proj:shape/transform with item-level proj:epsg fallback, eo:bands,
    raster:bands, thumbnail/metadata assets that must be dropped) —
    self-contained so the oracle can pin expected rows as literals."""
    global _STAC_DEMO_DOCS
    if _STAC_DEMO_DOCS is not None:
        return _STAC_DEMO_DOCS

    def asset(res, ny, nx, dtype, nodata, common):
        return {
            "href": f"https://example.com/{common}.tif",
            "type": "image/tiff; application=geotiff; profile=cloud-optimized",
            "roles": ["data"],
            "gsd": float(res),
            "proj:shape": [ny, nx],
            "proj:transform": [float(res), 0.0, 399960.0, 0.0, -float(res), 6800040.0],
            "eo:bands": [{"name": common.upper(), "common_name": common}],
            "raster:bands": [{"data_type": dtype, "nodata": nodata}],
        }

    def doc(i):
        d = {
            "type": "Feature",
            "stac_version": "1.0.0",
            "stac_extensions": [
                "https://stac-extensions.github.io/eo/v1.0.0/schema.json",
                "https://stac-extensions.github.io/projection/v1.0.0/schema.json",
            ],
            "id": f"demo-{i:03d}",
            "collection": "demo-s2",
            "properties": {
                "datetime": f"2020-06-{6 + i:02d}T08:30:00Z",
                "proj:epsg": 32606,
                "gsd": 10.0,
            },
            "assets": {
                "B02": asset(10, 10980, 10980, "uint16", 0, "blue"),
                "B05": asset(20, 5490, 5490, "uint16", 0, "rededge"),
                "SCL": asset(20, 5490, 5490, "uint8", 0, "scl"),
                "thumbnail": {
                    "href": "https://example.com/thumb.png",
                    "type": "image/png",
                    "roles": ["thumbnail"],
                },
                "meta": {
                    "href": "https://example.com/meta.xml",
                    "type": "application/xml",
                    "roles": ["metadata"],
                },
            },
            "links": [],
        }
        if i == 1:
            del d["assets"]["B05"]  # P2: band missing from one item
        return d

    _STAC_DEMO_DOCS = [doc(0), doc(1)]
    return _STAC_DEMO_DOCS


@register(
    "s1_stac_json_parse",
    oracle="""
    SELECT * FROM (VALUES
      ('demo-000', 'B02', 1, 'uint16', 0.0, 10980, 10980, 10.0, 'EPSG:32606'),
      ('demo-000', 'B05', 1, 'uint16', 0.0, 5490, 5490, 20.0, 'EPSG:32606'),
      ('demo-000', 'SCL', 1, 'uint8',  0.0, 5490, 5490, 20.0, 'EPSG:32606'),
      ('demo-001', 'B02', 1, 'uint16', 0.0, 10980, 10980, 10.0, 'EPSG:32606'),
      ('demo-001', 'SCL', 1, 'uint8',  0.0, 5490, 5490, 20.0, 'EPSG:32606')
    ) AS t(id, asset_name, band_idx, data_type, nodata, ny, nx, sx, g_crs)
    """,
    doc="S1/S2 real STAC ingestion: raw item documents (nested properties, "
    "asset proj:shape + ITEM-level proj:epsg fallback, eo:bands, "
    "raster:bands, thumbnail/metadata exclusion, missing-band tolerance) "
    "through the Catalyst from_json pipeline (sources/stac_items.py "
    "stac_json_to_items; reference parse_item _mdtools.py:642-702). "
    "Oracle pins the expected parsed rows as literals.",
    tags=("metadata", "stac"),
)
def s1_stac_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.stac_items import raster_assets_df, stac_dicts_to_items

    items = stac_dicts_to_items(spark, _stac_demo_docs())
    ra = raster_assets_df(items)
    return ra.select(
        "id",
        "asset_name",
        F.col("band_idx").cast("int").alias("band_idx"),
        "data_type",
        "nodata",
        F.col("g_shape").getItem(0).alias("ny"),
        F.col("g_shape").getItem(1).alias("nx"),
        F.col("g_transform").getItem(0).alias("sx"),
        "g_crs",
    )


# -- P3: output-grid snap (anchor/align) over a bbox union ------------------
@register(
    "p3_grid_snap_union",
    oracle="""
    WITH u AS (
      SELECT event_type,
             MIN(value) AS xmin, MAX(value) AS xmax,
             MIN(user_id) AS ymin, MAX(user_id) AS ymax
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           FLOOR(xmin / 25.0) * 25.0 AS gx0,
           CEIL(xmax / 25.0) * 25.0 AS gx1,
           (FLOOR(ymin / 25.0 - 0.5) + 0.5) * 25.0 AS cy0,
           (CEIL(ymax / 25.0 - 0.5) + 0.5) * 25.0 AS cy1,
           CAST(CEIL(xmax / 25.0) - FLOOR(xmin / 25.0) AS BIGINT) AS nx,
           CAST(CEIL(ymax / 25.0 - 0.5) - FLOOR(ymin / 25.0 - 0.5) AS BIGINT) AS ny
    FROM u
    """,
    doc="P3 output-grid snapping: bbox union per group, then anchor=edge "
    "snap on x (pixel edges on multiples of res) and anchor=center snap "
    "on y (edges offset half a pixel) at res=25 — the same snap-grid "
    "math output_geobox/_snapped_geobox applies driver-side "
    "(reference GeoBox.from_bbox anchor semantics, _mdtools.py:806-981).",
    tags=("metadata", "agg", "grid"),
)
def p3_grid_snap_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    res = F.lit(25.0)
    u = ev.groupBy("event_type").agg(
        F.min("value").alias("xmin"),
        F.max("value").alias("xmax"),
        F.min("user_id").alias("ymin"),
        F.max("user_id").alias("ymax"),
    )
    return u.select(
        "event_type",
        (F.floor(F.col("xmin") / res) * res).alias("gx0"),
        (F.ceil(F.col("xmax") / res) * res).alias("gx1"),
        ((F.floor(F.col("ymin") / res - 0.5) + 0.5) * res).alias("cy0"),
        ((F.ceil(F.col("ymax") / res - 0.5) + 0.5) * res).alias("cy1"),
        (F.ceil(F.col("xmax") / res) - F.floor(F.col("xmin") / res)).alias("nx"),
        (F.ceil(F.col("ymax") / res - 0.5) - F.floor(F.col("ymin") / res - 0.5)).alias("ny"),
    )


@register(
    "s_geoparquet_catalog",
    # fixture: 200 items, item i has bbox [i%20, i//20, i%20+3, i//20+3]
    # and collection 'c-<i%4>'; the query writes the catalog as
    # STAC-geoparquet (WKB + bbox covering, executor-side pyarrow files),
    # reads it back, applies a bbox intersection filter via the covering
    # struct, and aggregates — the oracle recomputes from the formula.
    oracle="""
    SELECT 'c-' || CAST(i % 4 AS VARCHAR) AS collection,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM((LEAST(i % 20 + 3, 12.0) - GREATEST(i % 20, 5.0))
                   * (LEAST(i // 20 + 3, 6.0) - GREATEST(i // 20, 2.0))), 6)
               AS overlap_area
    FROM (SELECT UNNEST(generate_series(0, 199)) AS i)
    WHERE i % 20 <= 12.0 AND i % 20 + 3 >= 5.0
      AND i // 20 <= 6.0 AND i // 20 + 3 >= 2.0
    GROUP BY 1
    """,
    doc="STAC-geoparquet catalog round trip: a deterministic catalog is "
    "written as spec-complete geoparquet (WKB footprints + bbox covering "
    "struct + 'geo' footer metadata, one file per partition written BY "
    "THE EXECUTORS via pyarrow — sources/geoparquet.py), read back "
    "through a plain parquet scan, bbox-filtered via the covering "
    "columns (stats-prunable PushedFilters), and aggregated per "
    "collection with the clipped overlap area decoded from the WKB "
    "geometry. The hash gates writer, footer metadata path, WKB "
    "encode/decode and the covering filter together.",
    tags=("stac", "geoparquet", "catalog"),
)
def s_geoparquet_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..sources.geoparquet import (
        bbox_filter,
        read_stac_geoparquet,
        wkb_decode,
        write_stac_geoparquet,
    )

    cat = spark.range(200).select(
        F.concat(F.lit("item-"), F.col("id")).alias("id"),
        F.concat(F.lit("c-"), (F.col("id") % 4).cast("string")).alias("collection"),
        F.array(
            (F.col("id") % 20).cast("double"),
            (F.col("id") / 20).cast("long").cast("double"),
            (F.col("id") % 20 + 3).cast("double"),
            ((F.col("id") / 20).cast("long") + 3).cast("double"),
        ).alias("bbox"),
    )
    path = os.path.join(tempfile.gettempdir(), "odc_stac_spark_geoparquet_cat")
    write_stac_geoparquet(cat.repartition(4), path)

    qx0, qy0, qx1, qy1 = 5.0, 2.0, 12.0, 6.0
    hits = bbox_filter(read_stac_geoparquet(spark, path), qx0, qy0, qx1, qy1)

    schema = StructType(
        [
            StructField("collection", StringType()),
            StructField("overlap", DoubleType()),
            StructField("one", LongType()),
        ]
    )

    def overlap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for coll, wkb in zip(pdf["collection"], pdf["geometry"]):
                _, polys = wkb_decode(bytes(wkb))
                ring = polys[0][0]
                x0, y0 = ring.min(axis=0)
                x1, y1 = ring.max(axis=0)
                rows.append(
                    {
                        "collection": coll,
                        "overlap": (min(x1, qx1) - max(x0, qx0))
                        * (min(y1, qy1) - max(y0, qy0)),
                        "one": 1,
                    }
                )
            yield pd.DataFrame(rows)

    return (
        hits.select("collection", "geometry")
        .mapInPandas(overlap, schema)
        .groupBy("collection")
        .agg(
            F.sum("one").cast("bigint").alias("n_items"),
            F.round(F.sum("overlap"), 6).alias("overlap_area"),
        )
    )
