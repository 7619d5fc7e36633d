"""Scalar-function operators (SURVEY §2.8 F1/F3/F12/F13) as oracle-gated
queries, plus additional TPC-H-shaped relational coverage (Q4/Q6/Q10/Q14/
Q18 analogs adapted to the synthetic schema) and window lag/lead.

Everything is JVM expression work — whole-stage codegen, no UDFs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast

from ..sources.tables import load_table
from . import register


# -- F1: band-key string parse ('asset.idx' ↔ (asset, idx)) ----------------
@register(
    "f1_norm_key",
    oracle="""
    SELECT p_partkey, key,
           regexp_replace(key, '\\.[0-9]+$', '') AS asset,
           CAST(regexp_extract(key, '([0-9]+)$', 1) AS INTEGER) AS idx
    FROM (SELECT p_partkey,
                 p_brand || '.' || CAST(p_size % 3 + 1 AS VARCHAR) AS key
          FROM part)
    """,
    doc="F1 norm_key: 'asset.idx' string parse (model.py:461-472 semantics).",
    tags=("scalar",),
)
def f1_norm_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    key = F.concat_ws(".", F.col("p_brand"), (F.col("p_size") % 3 + 1).cast("string"))
    return p.select(
        "p_partkey",
        key.alias("key"),
        F.regexp_replace(key, r"\.[0-9]+$", "").alias("asset"),
        F.regexp_extract(key, r"([0-9]+)$", 1).cast("int").alias("idx"),
    )


# -- F3/F4: nodata mask semantics (NaN always missing; sentinel equality) --
@register(
    "f3_nodata_mask",
    oracle="""
    SELECT event_type,
           COUNT(*) FILTER (WHERE isnan(x) OR x = -999.0) AS n_missing,
           COUNT(*) FILTER (WHERE NOT (isnan(x) OR x = -999.0)) AS n_valid
    FROM (SELECT event_type,
                 CASE WHEN event_id % 7 = 0 THEN 'NaN'::DOUBLE
                      WHEN event_id % 11 = 0 THEN -999.0
                      ELSE value END AS x
          FROM events)
    GROUP BY event_type
    """,
    doc="F3 nodata mask: isnan(x) | x == nodata for float pixels "
    "(loader/_reader.py:127-134 as relational counts).",
    tags=("scalar",),
)
def f3_nodata_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = (
        F.when(F.col("event_id") % 7 == 0, F.lit(float("nan")))
        .when(F.col("event_id") % 11 == 0, F.lit(-999.0))
        .otherwise(F.col("value"))
    )
    missing = F.isnan(F.col("x")) | (F.col("x") == -999.0)
    return (
        ev.select("event_type", x.alias("x"))
        .groupBy("event_type")
        .agg(
            F.count(F.when(missing, 1)).alias("n_missing"),
            F.count(F.when(~missing, 1)).alias("n_valid"),
        )
    )


# -- F12: affine/grid math as plain DOUBLE expressions ---------------------
@register(
    "f12_affine_grid_math",
    oracle="""
    SELECT event_id,
           CAST(floor((x - 400000.0) / 10.0) AS BIGINT) AS px,
           CAST(floor((9000000.0 - y) / 10.0) AS BIGINT) AS py,
           CAST(floor(floor((x - 400000.0) / 10.0) / 256) AS BIGINT) AS tile_ix,
           CAST(floor(floor((9000000.0 - y) / 10.0) / 256) AS BIGINT) AS tile_iy
    FROM (SELECT event_id,
                 400000.0 + (event_id % 10000) * 1.7 AS x,
                 9000000.0 - (event_id % 7000) * 2.3 AS y
          FROM events)
    """,
    doc="F12 affine math: world→pixel→tile index, pure column arithmetic "
    "(the grid-index spatial join key computation, _mdtools.py:306-313).",
    tags=("scalar", "spatial"),
)
def f12_affine_grid_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = 400000.0 + (F.col("event_id") % 10000) * 1.7
    y = 9000000.0 - (F.col("event_id") % 7000) * 2.3
    px = F.floor((x - 400000.0) / 10.0)
    py = F.floor((9000000.0 - y) / 10.0)
    return ev.select(
        "event_id",
        px.alias("px"),
        py.alias("py"),
        F.floor(px / 256).alias("tile_ix"),
        F.floor(py / 256).alias("tile_iy"),
    )


# -- F13: chunk math (unpack_chunksize) ------------------------------------
@register(
    "f13_chunk_math",
    oracle="""
    SELECT p_partkey, chunk_idx,
           LEAST(4, total - chunk_idx * 4) AS chunk_size
    FROM (SELECT p_partkey, p_size + 10 AS total,
                 UNNEST(generate_series(0,
                     CAST(ceil((p_size + 10) / 4.0) AS BIGINT) - 1)) AS chunk_idx
          FROM part)
    """,
    doc="F13 unpack_chunksize: (chunk=4, total=11) → 4,4,3 "
    "(loader/_dask.py:39-52 as sequence+explode).",
    tags=("scalar",),
)
def f13_chunk_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").withColumn("total", F.col("p_size") + 10)
    return (
        p.select(
            "p_partkey",
            "total",
            F.explode(
                F.sequence(F.lit(0), F.ceil(F.col("total") / 4.0).cast("bigint") - 1)
            ).alias("chunk_idx"),
        )
        .select(
            "p_partkey",
            "chunk_idx",
            F.least(F.lit(4).cast("bigint"), F.col("total") - F.col("chunk_idx") * 4).alias(
                "chunk_size"
            ),
        )
    )


# -- TPC-H Q4 analog: EXISTS subquery --------------------------------------
@register(
    "q4_late_ship_orders",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    )
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS decorrelated to a semi join.",
    tags=("relational", "join"),
)
def q4_late_ship_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.join(o, li.l_orderkey == o.o_orderkey).where(
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 30)
    )
    return (
        o.join(late.select("l_orderkey").distinct(), o.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# -- TPC-H Q6 analog: pure filter + agg ------------------------------------
@register(
    "q6_revenue_forecast",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: tight scan filters, all pushed to parquet.",
    tags=("relational", "agg"),
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# -- TPC-H Q10 analog: returned-item customers -----------------------------
@register(
    "q10_returned_item_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: selective fact filter + dim joins + top-k.",
    tags=("relational", "join", "topk"),
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# -- TPC-H Q14 analog: promo revenue share ---------------------------------
@register(
    "q14_promo_revenue_share",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_share
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-07-01'
    """,
    doc="TPC-H Q14 shape: conditional aggregation over a broadcast join.",
    tags=("relational", "agg"),
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share")
        )
    )


# -- TPC-H Q18 analog: group-having semi join ------------------------------
@register(
    "q18_large_quantity_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, ROUND(t.total_qty, 2) AS total_qty
    FROM orders o
    JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity) > 150) t
      ON t.l_orderkey = o.o_orderkey
    """,
    doc="TPC-H Q18 shape: HAVING-filtered aggregate joined back to orders.",
    tags=("relational", "join", "agg"),
)
def q18_large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select("o_orderkey", "o_custkey", F.round("total_qty", 2).alias("total_qty"))
    )


# -- window lag/lead: inter-arrival deltas ---------------------------------
@register(
    "w_lag_interarrival",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS delta_us,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
    FROM events
    """,
    doc="lag/lead analytics: per-user inter-arrival time and next action.",
    tags=("relational", "window"),
)
def w_lag_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("delta_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


# -- grouping sets via the SQL surface -------------------------------------
@register(
    "gs_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    doc="explicit GROUPING SETS through spark.sql (engine SQL surface).",
    tags=("relational", "agg", "sql"),
)
def gs_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )
