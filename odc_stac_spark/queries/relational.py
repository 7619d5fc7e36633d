"""Relational surface (SURVEY.md §2.3/§2.4/§2.6/§2.7, build plan M3).

The reference has no general relational layer; the engine gets joins, set
ops, windows, rollups from Spark. Each query here is written the way it
should run at 100 TB:

- only genuinely scale-invariant dims (region/nation: 5 and 25 rows at
  every scale factor) and single-row/driver-bounded aggregates carry an
  explicit ``broadcast()`` hint.  customer/supplier/part GROW with the
  scale factor, so they get NO hint: an explicit hint overrides
  ``spark.sql.autoBroadcastJoinThreshold`` and would OOM at 100 TB,
  whereas AQE still picks a broadcast-hash join on its own whenever the
  built side is actually small (plan-asserted in tests/test_plans.py);
- fact-fact joins (orders ⋈ lineitem) are plain equi-joins on the natural
  key so they shuffle-hash/sort-merge on co-partitioned keys and AQE can
  split skew;
- aggregates are declarative so map-side partial aggregation happens
  automatically;
- every top-k has a deterministic tie-break.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast

from ..sources.tables import load_table
from . import register


# --------------------------------------------------------------------------
# TPC-H Q1 style pricing summary: the canonical "wide aggregate" — full
# scan + 4-group groupBy. Partial (map-side) aggregation makes this
# shuffle only ~n_partitions × n_groups rows regardless of input size.
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
           ROUND(AVG(l_discount), 6)                                        AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 analog; exercises scan + filter pushdown + partial agg.",
    tags=("relational", "agg"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q3 style: selective dim filter → fact join → grouped top-k.
# customer joins unhinted (AQE broadcasts it while it fits, demotes to
# sort-merge at scale); orders⋈lineitem shuffles on orderkey (the join
# key both sides are naturally clustered by).
# --------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle="""
    SELECT o.o_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate  > TIMESTAMP '1997-01-01'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 analog; broadcast dim join + grouped top-k.",
    tags=("relational", "join", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# TPC-H Q5 style: 5-way join through the dimension chain. region/nation
# are hint-broadcast (scale-invariant); customer/supplier join unhinted so
# AQE sizes them; the c_nationkey = s_nationkey "local supplier"
# condition rides on the lineitem join.
# --------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey  = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey  = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5 analog; multi-way broadcast joins with a co-nation constraint.",
    tags=("relational", "join", "agg"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="left-semi join (SURVEY §2.3: engine-provided, absent in reference).",
    tags=("relational", "join"),
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="left-anti join.",
    tags=("relational", "join"),
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "setop_nations_with_both",
    oracle="""
    SELECT n_nationkey FROM (
        SELECT c_nationkey AS n_nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS n_nationkey FROM supplier
    )
    """,
    doc="INTERSECT set op (SURVEY §2.7: engine-provided).",
    tags=("relational", "setop"),
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey"))
    return c.intersect(s)


@register(
    "setop_customer_only_nations",
    oracle="""
    SELECT c_nationkey AS n_nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
    doc="EXCEPT set op.",
    tags=("relational", "setop"),
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey"))
    return c.subtract(s)  # EXCEPT (set semantics), not EXCEPT ALL


@register(
    "window_top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
    doc="ranking window function (SURVEY §2.5: engine-provided).",
    tags=("relational", "window"),
)
def window_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "rn")
    )


@register(
    "rollup_orders_by_region_nation",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="ROLLUP grouping sets (SURVEY §2.4: engine-provided).",
    tags=("relational", "agg"),
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "cube_parts_by_brand_size",
    oracle="""
    SELECT p_brand, p_size, COUNT(*) AS n_parts,
           ROUND(AVG(p_retailprice), 4) AS avg_price
    FROM part
    GROUP BY CUBE (p_brand, p_size)
    """,
    doc="CUBE grouping sets.",
    tags=("relational", "agg"),
)
def cube_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.cube("p_brand", "p_size").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
    )


@register(
    "topk_global_orders",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    doc="global top-k (TakeOrderedAndProject — no full sort at scale).",
    tags=("relational", "topk"),
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


@register(
    "distinct_count_groups",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="COUNT DISTINCT (expand + two-phase agg in Spark).",
    tags=("relational", "agg"),
)
def distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )
