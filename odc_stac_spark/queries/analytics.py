"""Analytic-function and range-join coverage (engine extension surface).

The reference has no ranking/distribution window functions or range joins
(SURVEY §2.5, §2.3 — "free in Spark"); these queries pin down that surface
against the DuckDB oracle so the relational layer's claim is hash-gated,
and demonstrate the scale-shaped physical strategies:

- distribution functions (``ntile``/``percent_rank``/``cume_dist``) — one
  shuffle on the partition key, sort within partition;
- exact percentiles — ``percentile()`` is a single-pass typed aggregate
  (no sort-the-world);
- **bucketed interval join** — the 100 TB range-join pattern: bucket both
  sides by ``floor(ts / interval)``, explode the probe side into its two
  candidate buckets, equi-join on (key, bucket), then apply the exact
  interval predicate. Catalyst gets a shuffled hash join on uniform keys
  instead of a broadcast-nested-loop theta join;
- funnel analysis — ordered-sequence state machine per user, computed in
  ONE shuffle via ``sort_array(collect_list(...))`` + an ``aggregate``
  higher-order fold (the batch image of ``applyInPandasWithState``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import StructType

from ..session import literal_df
from ..sources.tables import load_table
from . import register, scoped_persist

INTERVAL_MIN = 30
INTERVAL_US = INTERVAL_MIN * 60 * 1_000_000


@register(
    "w_ntile_cume",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    doc="distribution window functions (ntile/percent_rank/cume_dist) over "
    "customers per market segment — deterministic tie-break on c_custkey.",
    tags=("window",),
)
def w_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "agg_exact_percentiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 4) AS p25,
           ROUND(quantile_cont(value, 0.50), 4) AS p50,
           ROUND(quantile_cont(value, 0.75), 4) AS p75,
           ROUND(quantile_cont(value, 0.95), 4) AS p95
    FROM events
    GROUP BY event_type
    """,
    doc="exact linear-interpolation percentiles per event type — Spark "
    "percentile() is a one-pass typed aggregate (map-side partials), not a "
    "global sort; approx_percentile is the same API shape at 100 TB when "
    "exactness can be traded.",
    tags=("aggregation",),
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        *[
            F.round(F.expr(f"percentile(value, {q})"), 4).alias(f"p{int(q * 100)}")
            for q in (0.25, 0.50, 0.75, 0.95)
        ]
    )


@register(
    "j_interval_bucketed",
    oracle=f"""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id, ROUND(p.value, 2) AS amount
    FROM events c
    JOIN events p ON p.user_id = c.user_id
                 AND c.event_type = 'click' AND p.event_type = 'purchase'
                 AND p.ts >= c.ts
                 AND p.ts <= c.ts + INTERVAL {INTERVAL_MIN} MINUTE
    """,
    doc="interval join via time-bucketing: explode clicks into their two "
    "candidate 30-min buckets, equi-join purchases on (user, bucket), then "
    "the exact interval filter — a shuffled hash join on uniform keys "
    "instead of the theta-join nested loop (the 100 TB range-join plan; "
    "same row set as the stream-stream version t_stream_click_attribution).",
    tags=("join", "temporal"),
)
def j_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
        F.unix_micros("ts").alias("c_us"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        (F.unix_micros("ts") / F.lit(INTERVAL_US)).cast("bigint").alias("bucket"),
        F.round("value", 2).alias("amount"),
    )
    # a purchase within [click_ts, click_ts + 30min] lands in the click's
    # bucket or the next one — two candidate buckets cover the interval
    cand = clicks.select(
        "click_id",
        "user_id",
        "click_ts",
        F.explode(
            F.array(
                (F.col("c_us") / F.lit(INTERVAL_US)).cast("bigint"),
                (F.col("c_us") / F.lit(INTERVAL_US)).cast("bigint") + 1,
            )
        ).alias("bucket"),
    )
    return (
        cand.join(purchases, ["user_id", "bucket"])
        .where(
            (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.unix_micros("purchase_ts") <= F.unix_micros("click_ts") + INTERVAL_US)
        )
        .select("click_id", "purchase_id", "user_id", "amount")
    )


@register(
    "funnel_stages",
    oracle="""
    WITH k AS (
        SELECT user_id, event_type,
               lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                   || lpad(CAST(event_id AS VARCHAR), 12, '0') AS key
        FROM events
    ),
    s AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN key END) AS sk
        FROM k GROUP BY user_id
    ),
    c AS (
        SELECT s.user_id, s.sk,
               MIN(CASE WHEN k.event_type = 'click' AND k.key > s.sk
                        THEN k.key END) AS ck
        FROM s JOIN k ON k.user_id = s.user_id
        GROUP BY s.user_id, s.sk
    ),
    p AS (
        SELECT c.user_id, c.sk, c.ck,
               MIN(CASE WHEN k.event_type = 'purchase' AND k.key > c.ck
                        THEN k.key END) AS pk
        FROM c JOIN k ON k.user_id = c.user_id
        GROUP BY c.user_id, c.sk, c.ck
    )
    SELECT CASE WHEN pk IS NOT NULL THEN 3
                WHEN ck IS NOT NULL THEN 2
                WHEN sk IS NOT NULL THEN 1
                ELSE 0 END AS stage,
           COUNT(*) AS n_users
    FROM p GROUP BY 1
    """,
    doc="funnel analysis (signup → later click → later purchase): ordered "
    "per-user event fold in ONE shuffle — sort_array(collect_list) + an "
    "aggregate() state machine — where the naive formulation is three "
    "self-joins over the event log. Batch image of a stateful streaming op.",
    tags=("temporal", "aggregation"),
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # lexicographically sortable (ts, event_id) key — identical tie-break
    # to the oracle's strict `>` comparisons
    key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    per_user = (
        ev.select("user_id", F.struct(key.alias("key"), "event_type").alias("e"))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("e")).alias("es"))
    )
    stage = F.aggregate(
        "es",
        F.lit(0),
        lambda acc, e: F.when((acc == 0) & (e["event_type"] == "signup"), 1)
        .when((acc == 1) & (e["event_type"] == "click"), 2)
        .when((acc == 2) & (e["event_type"] == "purchase"), 3)
        .otherwise(acc),
    )
    return (
        per_user.select(stage.alias("stage"))
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "json_props_extract",
    oracle="""
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS INTEGER) // 10 AS k_decile,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum
    FROM events
    GROUP BY 1, 2
    """,
    doc="semi-structured JSON column handling (SURVEY §2.8: from_json / "
    "get_json_object): typed extraction from the events.props JSON string, "
    "bucketed aggregation — all Catalyst expressions, pushdown-friendly.",
    tags=("scalar", "json"),
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k INT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type", (F.col("k") / 10).cast("int").alias("k_decile"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").cast("bigint").alias("k_sum"))
    )


@register(
    "hof_vector_stats",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4)
               AS l2_norm,
           len(list_filter(embedding, x -> x > 0)) AS n_pos
    FROM embeddings
    ORDER BY l2_norm DESC, vec_id
    LIMIT 20
    """,
    doc="higher-order array functions over embeddings (transform / filter / "
    "aggregate fold): per-vector L2 norm and positive-component count, all "
    "JVM-side, zero shuffles before the top-k.",
    tags=("similarity", "scalar"),
)
def hof_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vd = F.transform("embedding", lambda x: x.cast("double"))
    l2 = F.sqrt(F.aggregate(F.transform(vd, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return (
        emb.select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.round(l2, 4).alias("l2_norm"),
            F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        )
        .orderBy(F.desc("l2_norm"), "vec_id")
        .limit(20)
    )


@register(
    "w_rolling_avg",
    oracle="""
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4)
               AS avg4
    FROM events
    """,
    doc="bounded-frame moving average (ROWS 3 PRECEDING) per user — the "
    "incremental-metric window shape; partition by user, sort within.",
    tags=("window", "temporal"),
)
def w_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    return ev.select(
        "event_id", "user_id", F.round(F.avg("value").over(w), 4).alias("avg4")
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_user_event_matrix",
    oracle="""
    SELECT user_id,
           CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
           CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
           CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
           CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
    FROM events
    GROUP BY user_id
    """,
    doc="pivot (long → wide): per-user event-type count matrix. The pivot "
    "value list is FIXED so the plan is a single groupBy with conditional "
    "aggregates — no extra distinct-values job, stable schema at any scale.",
    tags=("aggregation",),
)
def pivot_user_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL where a (user, type) pair never occurred; the
    # oracle's conditional COUNT yields 0 — align them
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in EVENT_TYPES]
    )


@register(
    "agg_corr_stats",
    oracle="""
    SELECT event_type,
           ROUND(corr(value, CAST(json_extract(props, '$.k') AS INTEGER)), 6)
               AS corr_vk,
           ROUND(covar_pop(value, CAST(json_extract(props, '$.k') AS INTEGER)), 4)
               AS covar_vk,
           ROUND(stddev_samp(value), 4) AS std_value
    FROM events
    GROUP BY event_type
    """,
    doc="statistical aggregates (corr / covar_pop / stddev_samp) per event "
    "type, correlating the value column with the JSON-extracted k field — "
    "single-pass co-moment aggregation, map-side partials.",
    tags=("aggregation",),
)
def agg_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k INT")["k"].cast("int")
    return ev.select("event_type", F.col("value"), k.alias("k")).groupBy("event_type").agg(
        F.round(F.corr("value", "k"), 6).alias("corr_vk"),
        F.round(F.covar_pop("value", "k"), 4).alias("covar_vk"),
        F.round(F.stddev_samp("value"), 4).alias("std_value"),
    )


@register(
    "cohort_retention",
    oracle="""
    WITH weeks AS (
        SELECT user_id, event_type,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS week
        FROM events
    ),
    cohorts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN week END) AS cohort_week
        FROM weeks GROUP BY user_id
    )
    SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
           CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS active_users
    FROM weeks w
    JOIN cohorts c ON c.user_id = w.user_id
    WHERE c.cohort_week IS NOT NULL AND w.week >= c.cohort_week
    GROUP BY 1, 2
    """,
    doc="cohort retention: users bucketed by signup week, distinct active "
    "users per (cohort, weeks-since-signup) cell. Engine-neutral integer "
    "week arithmetic (epoch days // 7) so Spark and DuckDB agree exactly; "
    "the cohort map is a per-user aggregate joined back (broadcastable "
    "when the user dimension fits, shuffled hash otherwise).",
    tags=("temporal", "aggregation"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    week = (F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) / 7).cast(
        "int"
    )
    weeks = ev.select("user_id", "event_type", week.alias("week"))
    cohorts = weeks.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("week"))).alias("cohort_week")
    )
    return (
        weeks.join(cohorts, "user_id")
        .where(F.col("cohort_week").isNotNull() & (F.col("week") >= F.col("cohort_week")))
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count_distinct("user_id").cast("bigint").alias("active_users"))
    )


@register(
    "w_range_frame_trailing",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           ROUND(SUM(value) OVER w, 2) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    doc="value-based RANGE window frame: per event, count/sum of the same "
    "user's events in the trailing hour — a physical-time frame (ties "
    "share one frame, so the result is deterministic without a "
    "tie-break), complementing the ROWS-frame queries.",
    tags=("window", "temporal"),
)
def w_range_frame_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hour_us = 3600 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-hour_us, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_1h"),
    )


def _spatial_curve_oracle() -> str:
    from ..operators.spacefill import hilbert_sql, morton_sql

    return f"""
    WITH cells AS (
      SELECT DISTINCT CAST(event_id % 64 AS BIGINT) AS cx,
                      CAST((event_id // 64) % 64 AS BIGINT) AS cy
      FROM events
    ),
    {hilbert_sql('cx', 'cy', 6, 'cells')}
    SELECT cy, cx, {morton_sql('cx', 'cy')} AS mkey, hkey
    FROM hfinal
    """


@register(
    "spatial_curve_layout",
    oracle=_spatial_curve_oracle(),
    doc="space-filling-curve layout keys: Morton (Z-order) and Hilbert "
    "indices for a 64x64 tile grid, both computed as pure Catalyst "
    "bitwise/CASE expressions (whole-stage codegen, zero Python) — the "
    "clustering keys a 100 TB catalog sorts by so bbox queries become "
    "contiguous range reads (Delta ZORDER / Iceberg hilbert sort "
    "equivalents). The oracle replays the magic-mask interleave and the "
    "per-level Hilbert rotation walk in DuckDB SQL, hash-gating every "
    "key over every cell.",
    tags=("spatial", "layout", "scale"),
)
def spatial_curve_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spacefill import morton_key, with_hilbert_key

    cells = (
        load_table(spark, sf_dir, "events")
        .select(
            (F.col("event_id") % 64).alias("cx"),
            ((F.col("event_id") / 64).cast("long") % 64).alias("cy"),
        )
        .distinct()
    )
    return (
        with_hilbert_key(cells, "cx", "cy", order=6, out="hkey")
        .withColumn("mkey", morton_key(F.col("cx"), F.col("cy")))
        .select("cy", "cx", "mkey", "hkey")
    )


@register(
    "sketch_hll_rollup",
    # HASH-GATED (r7): at the gate's sf0.01 the per-(event_type, week)
    # distinct-user cardinalities (≤ ~150) keep the lgK=14 DataSketches
    # HLL in its sparse coupon-list regime, where the estimate is EXACTLY
    # the true distinct count — so the merged weekly estimate is
    # SQL-reproducible and any union-algebra error (wrong sketches
    # merged, daily partitioning wrong) flips the hash. The ≤2% bound at
    # dense-mode cardinalities + merge associativity stay pytest-gated
    # (tests/test_sketches.py).
    oracle="""
    WITH ev AS (
      SELECT event_type,
             date_trunc('week', ts) AS week,
             date_trunc('day', ts) AS day,
             user_id
      FROM events
    ),
    daily AS (
      SELECT event_type, week, day,
             COUNT(DISTINCT user_id) AS exact_daily
      FROM ev GROUP BY 1, 2, 3
    )
    SELECT ev.event_type,
           strftime(ev.week, '%Y-%m-%d') AS week_start,
           -- gate precondition guard (moved here from the Spark query in
           -- r11): estimate==exact only holds in the sparse coupon
           -- regime; gating at a denser scale factor must fail LOUDLY in
           -- the gate context, not refuse in the production query
           CASE WHEN COUNT(DISTINCT ev.user_id) > 300
                THEN error('sketch_hll_rollup hash gate ran outside the '
                           'sparse-exact HLL regime (per-group distinct > '
                           '300): gate at a smaller scale factor or relax '
                           'to the pytest error-bound check')
                ELSE CAST(COUNT(DISTINCT ev.user_id) AS BIGINT)
           END AS approx_weekly_users,
           CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS exact_weekly_users,
           CAST(d.sum_daily AS BIGINT) AS sum_daily_exact
    FROM ev
    JOIN (
      SELECT event_type, week, SUM(exact_daily) AS sum_daily
      FROM daily GROUP BY 1, 2
    ) d USING (event_type, week)
    GROUP BY ev.event_type, ev.week, d.sum_daily
    """,
    doc="sketch-based distinct rollup: per-(event_type, day) HLL sketches "
    "via hll_sketch_agg, then the WEEKLY distinct-user count computed by "
    "UNIONING the daily sketches (hll_union_agg) — never re-scanning "
    "events. This is the 100 TB COUNT DISTINCT pattern: daily sketches "
    "are a few KB each and mergeable into any coarser rollup "
    "(week/month/all-time) at interactive cost; an exact count is "
    "emitted alongside to make the approximation error visible. "
    "Hash-gated against DuckDB in the sparse-exact regime (see oracle "
    "note); dense-regime error bounds are pytest-gated.",
    tags=("analytics", "sketch", "scale"),
)
def sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("week", "ts").alias("week"),
        F.date_trunc("day", "ts").alias("day"),
        "user_id",
    )
    daily = ev.groupBy("event_type", "week", "day").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sketch"),
        F.count_distinct("user_id").alias("exact_daily"),
    )
    # The hash gate's precondition — estimate==exact only while every
    # merged sketch stays in the sparse coupon regime (≤300 distinct/
    # group keeps the lgK=14 sketch in coupon SET mode; sf0.01 peaks at
    # ~150) — is guarded in the ORACLE SQL via DuckDB error(), i.e. in
    # the gate context where it belongs. The Spark query itself carries
    # no regime assert and runs at any scale (r11; the r7-r10 in-query
    # assert_true made the query refuse at sf0.1+, which contradicted
    # the 100 TB contract — at dense cardinalities the estimate simply
    # carries the documented ≤2% HLL error, pytest-bounded).
    return (
        daily.groupBy("event_type", "week")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch", F.lit(True)))
            .cast("bigint")
            .alias("approx_weekly_users"),
            F.sum("exact_daily").cast("bigint").alias("sum_daily_exact"),
        )
        .join(
            ev.groupBy("event_type", "week").agg(
                F.count_distinct("user_id").cast("bigint").alias("exact_weekly_users")
            ),
            ["event_type", "week"],
        )
        .select(
            "event_type",
            F.date_format("week", "yyyy-MM-dd").alias("week_start"),
            "approx_weekly_users",
            "exact_weekly_users",
            "sum_daily_exact",
        )
    )


# Count-Min Sketch: D pairwise-ish hash rows x W counters. All integer
# arithmetic (md5-prefix base hash, affine row hashes mod a Mersenne
# prime) so Spark and the DuckDB oracle reproduce the sketch bit-for-bit.
CMS_D = 4
CMS_W = 256
CMS_P = 2147483647
CMS_ROWS = [  # (row, a, b) — odd multipliers < 2^31, arbitrary offsets
    (0, 1540483477, 11),
    (1, 2246822519, 101),
    (2, 1274126177, 1009),
    (3, 668265263, 10007),
]


# Shared by the batch query AND the streaming window-merged variant
# (t_stream_cms_freq): cell-addition merge of per-window sketches is
# EXACT, so both must reproduce this same direct-build image.
CMS_ORACLE_SQL = f"""
    WITH params(i, a, b) AS (VALUES {", ".join(f"({i}, {a}, {b})" for i, a, b in CMS_ROWS)}),
    ev AS (
      SELECT user_id,
             CAST(('0x' || substr(md5('cms:' || CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % {CMS_P} AS hp
      FROM events
    ),
    cms AS (
      SELECT p.i, ((e.hp * p.a + p.b) % {CMS_P}) % {CMS_W} AS bucket,
             COUNT(*) AS cnt
      FROM ev e, params p GROUP BY 1, 2
    ),
    keys AS (
      SELECT user_id, hp, COUNT(*) AS exact_count FROM ev GROUP BY 1, 2
    )
    SELECT k.user_id,
           CAST(k.exact_count AS BIGINT) AS exact_count,
           CAST(MIN(c.cnt) AS BIGINT) AS cms_estimate,
           CAST(MIN(c.cnt) - k.exact_count AS BIGINT) AS overestimate
    FROM keys k
    JOIN params p ON TRUE
    JOIN cms c ON c.i = p.i
             AND c.bucket = ((k.hp * p.a + p.b) % {CMS_P}) % {CMS_W}
    GROUP BY k.user_id, k.exact_count
    """


@register(
    "sketch_cms_heavyhitters",
    # the oracle rebuilds the IDENTICAL sketch (same base hash, same
    # affine row hashes, same widths), so every counter and every
    # estimate is hash-gated — including collision overestimates
    oracle=CMS_ORACLE_SQL,
    doc="Count-Min Sketch heavy hitters (Cormode & Muthukrishnan 2005 — "
    "the frequency-estimation sibling of the HLL rollup): every event "
    "increments D={} counters (affine row hashes mod a Mersenne prime, "
    "W={} buckets); a key's frequency estimate is the MIN of its D "
    "counters, never an underestimate. Scale shape: the sketch build is "
    "a map-side partial aggregate onto a FIXED D*W grid (a few KB "
    "regardless of corpus size — shuffles carry at most D*W rows per "
    "partition, and sketches for different days/shards merge by cell "
    "addition); the probe is a broadcast join of the D*W table against "
    "the key list. Exact counts emitted alongside so collision error is "
    "visible and the guarantee estimate>=exact is auditable.".format(CMS_D, CMS_W),
    tags=("analytics", "sketch"),
)
def sketch_cms_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17 (§2.3 aggregate before you shuffle): ONE events-wide aggregation
    # (count per user) instead of two. The old shape scanned events twice
    # — once 4×-replicated through the params crossJoin into the (i,
    # bucket) grid, once into the per-user exact counts — and computed
    # the md5 base hash per EVENT ROW on both scans. Every CMS cell is a
    # pure function of user_id, so cnt(i, bucket) = Σ exact_count over
    # the users hashing there: build the sketch by cell-ADDITION from the
    # per-user counts (the same mergeability the streaming variant's
    # oracle gate proves), with md5 evaluated once per DISTINCT user.
    # Identical counters, estimates and output rows.
    keys = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .withColumn(
            "hp",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("cms:"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % CMS_P,
        )
    )
    # both the sketch build and the probe read the per-user counts
    keys = scoped_persist(keys)
    params = F.broadcast(
        literal_df(spark, CMS_ROWS, StructType.fromDDL("i INT, a BIGINT, b BIGINT"))
    )
    bucket = ((F.col("hp") * F.col("a") + F.col("b")) % CMS_P) % CMS_W
    cms = (
        keys.crossJoin(params)
        .groupBy(F.col("i"), bucket.alias("bucket"))
        .agg(F.sum("exact_count").alias("cnt"))
    )
    return (
        keys.crossJoin(params)
        .withColumn("bucket", bucket)
        .join(F.broadcast(cms), ["i", "bucket"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("cnt").cast("bigint").alias("cms_estimate"))
        .select(
            "user_id",
            F.col("exact_count").cast("bigint").alias("exact_count"),
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("bigint")
            .alias("overestimate"),
        )
    )


# Bloom filter: M bits as 32-bit words (values stay positive in BIGINT
# in both engines), K md5-derived bit positions per key.
BLOOM_M = 512
BLOOM_K = 3
BLOOM_FLAGGED_BELOW = 30  # flagged-user key set: user_id < 30


def _bloom_bits_sql(expr: str) -> str:
    """K (word, mask) pairs for a key expression — DuckDB side."""
    return " UNION ALL ".join(
        f"""SELECT {expr} AS key,
                   (CAST(('0x' || substr(md5('bf{j}:' || CAST({expr} AS VARCHAR)), 1, 8))
                        AS BIGINT) % {BLOOM_M}) // 32 AS word,
                   (1::BIGINT << ((CAST(('0x' || substr(md5('bf{j}:' || CAST({expr} AS VARCHAR)), 1, 8))
                        AS BIGINT) % {BLOOM_M}) % 32)) AS mask
            FROM __SRC__"""
        for j in range(BLOOM_K)
    )


@register(
    "sketch_bloom_prefilter",
    # the oracle rebuilds the IDENTICAL bitmap (same md5 bit positions,
    # same word layout), so every pass/false-positive count is hash-gated
    oracle=f"""
    WITH flagged AS (
      SELECT DISTINCT user_id FROM events WHERE user_id < {BLOOM_FLAGGED_BELOW}
    ),
    build_bits AS ({_bloom_bits_sql("user_id").replace("__SRC__", "flagged")}),
    bloom AS (
      SELECT word, bit_or(mask) AS bits FROM build_bits GROUP BY word
    ),
    probe_bits AS ({_bloom_bits_sql("e.user_id").replace("FROM __SRC__", "FROM events e")}),
    probe AS (
      SELECT p.key AS user_id,
             BOOL_AND((COALESCE(b.bits, 0) & p.mask) = p.mask) AS bloom_pass
      FROM probe_bits p LEFT JOIN bloom b ON b.word = p.word
      GROUP BY p.key
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE pr.bloom_pass) AS BIGINT) AS bloom_pass,
           CAST(COUNT(*) FILTER (WHERE e.user_id < {BLOOM_FLAGGED_BELOW}) AS BIGINT)
               AS exact_match,
           CAST(COUNT(*) FILTER (WHERE pr.bloom_pass
                                 AND e.user_id >= {BLOOM_FLAGGED_BELOW}) AS BIGINT)
               AS false_positives
    FROM events e JOIN probe pr ON pr.user_id = e.user_id
    GROUP BY e.event_type
    """,
    doc="Bloom-filter pre-filtered join (the explicit runtime-filter "
    "primitive — what Spark's InjectRuntimeFilter/BloomFilterAggregate "
    "does implicitly, and the standard 100 TB decontamination/anti-join "
    "accelerator): build a {m}-bit / {k}-hash Bloom bitmap over the "
    "flagged key set via bit_or onto 32-bit words (map-side partial "
    "aggregate; the bitmap is KBs at any key-set size), broadcast it, "
    "and test membership map-side so only Bloom survivors reach the "
    "exact join — eliminating the big side's shuffle for the ~never-"
    "matching majority. Exact matches and false positives are emitted "
    "side by side, auditing the no-false-negative guarantee.".format(
        m=BLOOM_M, k=BLOOM_K
    ),
    tags=("analytics", "sketch", "join"),
)
def sketch_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")

    def bits(df: DataFrame, key: str) -> DataFrame:
        pos = [
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"bf{j}:"), F.col(key).cast("string"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % BLOOM_M
            )
            for j in range(BLOOM_K)
        ]
        return df.select(
            F.col(key).alias("key"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            (p / 32).cast("bigint").alias("word"),
                            # 2^(p%32) exact in float64 (< 2^53), so the
                            # cast is the integer mask; F.shiftleft only
                            # takes a literal shift amount
                            F.pow(F.lit(2.0), (p % 32).cast("double"))
                            .cast("bigint")
                            .alias("mask"),
                        )
                        for p in pos
                    ]
                )
            ).alias("wb"),
        ).select("key", F.col("wb.word").alias("word"), F.col("wb.mask").alias("mask"))

    flagged = ev.where(F.col("user_id") < BLOOM_FLAGGED_BELOW).select("user_id").distinct()
    bloom = (
        bits(flagged, "user_id").groupBy("word").agg(F.bit_or("mask").alias("bits"))
    )
    probe = (
        bits(ev.select("user_id").distinct(), "user_id")
        .join(F.broadcast(bloom), "word", "left")
        .groupBy("key")
        .agg(
            F.min(
                (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask")) == F.col("mask")).cast("int")
            ).cast("boolean").alias("bloom_pass")
        )
        .withColumnRenamed("key", "p_user")
    )
    return (
        ev.join(F.broadcast(probe), ev.user_id == F.col("p_user"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("bloom_pass"), 1)).alias("bloom_pass"),
            F.count(F.when(F.col("user_id") < BLOOM_FLAGGED_BELOW, 1)).alias(
                "exact_match"
            ),
            F.count(
                F.when(
                    F.col("bloom_pass")
                    & (F.col("user_id") >= BLOOM_FLAGGED_BELOW),
                    1,
                )
            ).alias("false_positives"),
        )
    )


# --- mergeable fixed-grid histogram quantile sketch --------------------------
#
# Exact percentiles (agg_exact_percentiles) need a full sort per group; at
# 100 TB the mergeable-sketch form is the production path: a fixed-width
# bucket histogram is a CRDT (bucket counts add), builds map-side in one
# pass, and answers any quantile to +-bucket_width. Sketch size is bounded
# by the VALUE RANGE / width (here ~105 buckets), independent of row count.
HIST_Q_WIDTH = 1000.0  # bucket width over l_extendedprice (range ~0.9k-105k)
HIST_QS = (0.5, 0.9, 0.99)


@register(
    "agg_histogram_quantiles",
    oracle=f"""
    WITH hist AS (
        SELECT CAST(floor(l_extendedprice / {HIST_Q_WIDTH}) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1),
    cum AS (
        SELECT bucket,
               CAST(SUM(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER () AS BIGINT) AS n_total
        FROM hist),
    qs AS (SELECT unnest([{", ".join(str(q) for q in HIST_QS)}]::DOUBLE[]) AS q)
    SELECT q,
           CAST(MIN(bucket) * {HIST_Q_WIDTH} AS DOUBLE) AS est_lo,
           CAST((MIN(bucket) + 1) * {HIST_Q_WIDTH} AS DOUBLE) AS est_hi,
           any_value(n_total) AS n_total
    FROM qs JOIN cum ON cum.cum >= ceil(q * cum.n_total)
    GROUP BY q
    """,
    doc="mergeable histogram quantile sketch: one map-side pass builds a "
    "fixed-grid bucket histogram (size bounded by value range / width, "
    "NOT by rows), cumulative counts over the ~100-bucket sketch locate "
    "each quantile to +-width. The unpartitioned window runs over the "
    "bounded sketch, never the data.",
    tags=("analytics", "sketch"),
)
def agg_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    hist = li.groupBy(
        F.floor(F.col("l_extendedprice") / HIST_Q_WIDTH).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # both windows run over the BOUNDED sketch (~105 rows), so the single
    # partition is fine at any data scale
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n_total"),
    )
    qs = F.broadcast(
        spark.range(1).select(
            F.explode(F.array(*[F.lit(float(q)) for q in HIST_QS])).alias("q")
        )
    )
    return (
        qs.join(cum, F.col("cum") >= F.ceil(F.col("q") * F.col("n_total")))
        .groupBy("q")
        .agg(
            (F.min("bucket") * HIST_Q_WIDTH).alias("est_lo"),
            ((F.min("bucket") + 1) * HIST_Q_WIDTH).alias("est_hi"),
            F.first("n_total").alias("n_total"),
        )
    )


DECILE_W = 2000.0  # sketch bucket width over o_totalprice (range ~1k-500k)


@register(
    "orders_decile_by_sketch",
    oracle=f"""
    WITH hist AS (
        SELECT CAST(floor(o_totalprice / {DECILE_W}) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1),
    cum AS (
        SELECT bucket,
               CAST(SUM(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum,
               CAST(SUM(cnt) OVER () AS BIGINT) AS n FROM hist),
    ds AS (SELECT unnest(generate_series(1, 9)) AS d),
    thr AS (
        SELECT d, MIN(bucket) AS tb
        FROM ds JOIN cum ON cum.cum >= ceil(d * n / 10.0)
        GROUP BY d)
    SELECT decile, CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS lo, ROUND(MAX(o_totalprice), 2) AS hi
    FROM (
        SELECT o.o_totalprice,
               1 + (SELECT CAST(count(*) AS BIGINT) FROM thr
                    WHERE thr.tb < CAST(floor(o.o_totalprice / {DECILE_W}) AS BIGINT))
                   AS decile
        FROM orders o)
    GROUP BY 1
    """,
    doc="scale-safe decile bucketing: a global ntile() would sort the "
    "corpus on one reducer; instead the histogram sketch (bounded by "
    "value range / width) yields the nine decile thresholds from one "
    "map-side pass, the 9-row threshold table ships as a plan literal, "
    "and assignment is a map-side array filter — the fact side never "
    "shuffles for the bucketing (only the final per-decile rollup "
    "exchanges 10 groups).",
    tags=("analytics", "sketch"),
)
def orders_decile_by_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / DECILE_W)
    hist = o.groupBy(bucket.alias("bucket")).agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    ds = spark.range(1, 10).select(F.col("id").alias("d"))
    thr_rows = (
        F.broadcast(ds)
        .join(cum, F.col("cum") >= F.ceil(F.col("d") * F.col("n") / 10.0))
        .groupBy("d")
        .agg(F.min("bucket").alias("tb"))
        .collect()  # bounded: exactly 9 rows, the broadcast-threshold pattern
    )
    thr_arr = F.array(*[F.lit(int(r.tb)) for r in sorted(thr_rows, key=lambda r: r.d)])
    decile = (F.lit(1) + F.size(F.filter(thr_arr, lambda t: t < bucket))).alias("decile")
    return (
        o.select(decile, "o_totalprice")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "agg_grouped_sketch_median",
    oracle=f"""
    WITH hist AS (
        SELECT n.n_name, CAST(floor(o.o_totalprice / {DECILE_W}) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2),
    cum AS (
        SELECT n_name, bucket,
               CAST(SUM(cnt) OVER (PARTITION BY n_name ORDER BY bucket
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER (PARTITION BY n_name) AS BIGINT) AS n FROM hist)
    SELECT n_name,
           CAST(MIN(bucket) * {DECILE_W} AS DOUBLE) AS median_lo,
           CAST((MIN(bucket) + 1) * {DECILE_W} AS DOUBLE) AS median_hi,
           any_value(n) AS n_orders
    FROM cum WHERE cum >= ceil(0.5 * n) GROUP BY 1
    """,
    doc="grouped approximate median via per-group histogram sketches: the "
    "exact grouped median sorts every group; here each group's sketch is "
    "bounded by value-range/width, the group-partitioned cumulative "
    "window runs over sketch rows only, and the dims broadcast. The "
    "grouped form of agg_histogram_quantiles — the shape a 100 TB "
    "GROUP-BY-median actually ships with.",
    tags=("analytics", "sketch"),
)
def agg_grouped_sketch_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    hist = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name", F.floor(F.col("o_totalprice") / DECILE_W).alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = (
        Window.partitionBy("n_name")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("n_name")
    cum = hist.select(
        "n_name",
        "bucket",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    return (
        cum.where(F.col("cum") >= F.ceil(0.5 * F.col("n")))
        .groupBy("n_name")
        .agg(
            (F.min("bucket") * DECILE_W).alias("median_lo"),
            ((F.min("bucket") + 1) * DECILE_W).alias("median_hi"),
            F.first("n").alias("n_orders"),
        )
    )


BASKET_TOP_K = 15


@register(
    "basket_pair_lift",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS item
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    nb AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_baskets FROM items),
    freq AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY 1),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, CAST(count(*) AS BIGINT) AS n_ab
        FROM items a JOIN items b ON a.okey = b.okey AND a.item < b.item
        GROUP BY 1, 2)
    SELECT item_a, item_b, n_ab, lift, rn FROM (
        SELECT item_a, item_b, n_ab,
               ROUND(n_ab * 1.0 * nb.n_baskets / (fa.n * fb.n), 6) AS lift,
               ROW_NUMBER() OVER (ORDER BY n_ab DESC, item_a, item_b) AS rn
        FROM pairs
        JOIN freq fa ON fa.item = item_a
        JOIN freq fb ON fb.item = item_b
        CROSS JOIN nb)
    WHERE rn <= {BASKET_TOP_K}
    """,
    doc="market-basket co-occurrence with lift: baskets are orders, items "
    "the (broadcast-joined) part brand; the pair self-join fans out by "
    "basket-size squared PER BASKET (bounded by order width, never by "
    "order count), pair counts partial-agg onto the brand-pair-bounded "
    "space, and item frequencies + the basket total broadcast back. "
    "The frequent-itemset primitive of recommendation pipelines.",
    tags=("analytics", "recommendation"),
)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("item"))
        .distinct()
    )
    from . import scoped_persist

    items = scoped_persist(items)
    nb = items.agg(F.count_distinct("okey").alias("n_baskets"))
    freq = items.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    a = items.select("okey", F.col("item").alias("item_a"))
    b = items.select("okey", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "okey")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    fa = freq.select(F.col("item").alias("item_a"), F.col("n").alias("na"))
    fb = freq.select(F.col("item").alias("item_b"), F.col("n").alias("nb"))
    w = Window.orderBy(F.desc("n_ab"), F.asc("item_a"), F.asc("item_b"))
    return (
        pairs.join(F.broadcast(fa), "item_a")
        .join(F.broadcast(fb), "item_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            F.round(
                F.col("n_ab") * F.lit(1.0) * F.col("n_baskets") / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= BASKET_TOP_K)
        .select("item_a", "item_b", "n_ab", "lift", "rn")
    )


RFM_M_W_C = 100000  # monetary sketch bucket width in integer cents ($1000)


@register(
    "events_rfm_segmentation",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey,
               CAST(date_diff('day', MAX(o_orderdate),
                    (SELECT MAX(o_orderdate) FROM orders)) AS BIGINT) AS rec,
               CAST(count(*) AS BIGINT) AS freq,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS mon_c
        FROM orders GROUP BY 1),
    qs AS (SELECT unnest(generate_series(1, 3)) AS q),
    rthr AS (
        SELECT q, MIN(bucket) AS tb FROM qs JOIN (
            SELECT bucket,
                   CAST(SUM(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cum,
                   CAST(SUM(cnt) OVER () AS BIGINT) AS n
            FROM (SELECT rec AS bucket, CAST(count(*) AS BIGINT) AS cnt
                  FROM cust GROUP BY 1)) c
        ON c.cum >= ceil(q * n / 4.0) GROUP BY q),
    fthr AS (
        SELECT q, MIN(bucket) AS tb FROM qs JOIN (
            SELECT bucket,
                   CAST(SUM(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cum,
                   CAST(SUM(cnt) OVER () AS BIGINT) AS n
            FROM (SELECT freq AS bucket, CAST(count(*) AS BIGINT) AS cnt
                  FROM cust GROUP BY 1)) c
        ON c.cum >= ceil(q * n / 4.0) GROUP BY q),
    mthr AS (
        SELECT q, MIN(bucket) AS tb FROM qs JOIN (
            SELECT bucket,
                   CAST(SUM(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cum,
                   CAST(SUM(cnt) OVER () AS BIGINT) AS n
            FROM (SELECT mon_c // {RFM_M_W_C} AS bucket,
                         CAST(count(*) AS BIGINT) AS cnt
                  FROM cust GROUP BY 1)) c
        ON c.cum >= ceil(q * n / 4.0) GROUP BY q),
    scored AS (
        SELECT o_custkey,
               1 + (SELECT CAST(count(*) AS INT) FROM rthr WHERE tb < rec) AS r_q,
               1 + (SELECT CAST(count(*) AS INT) FROM fthr WHERE tb < freq) AS f_q,
               1 + (SELECT CAST(count(*) AS INT) FROM mthr
                    WHERE tb < mon_c // {RFM_M_W_C}) AS m_q,
               mon_c
        FROM cust)
    SELECT r_q, f_q, m_q,
           CASE WHEN r_q <= 2 AND f_q >= 3 AND m_q >= 3 THEN 'champion'
                WHEN r_q >= 3 AND f_q <= 2 THEN 'at_risk'
                WHEN f_q >= 3 THEN 'loyal'
                ELSE 'regular' END AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           ROUND(SUM(mon_c) / 100.0, 2) AS total_spend
    FROM scored GROUP BY 1, 2, 3, 4
    """,
    doc="RFM customer segmentation, the sketch-threshold way: per-customer "
    "recency/frequency/monetary in ONE custkey shuffle, then quartile "
    "thresholds for each metric from bounded histogram sketches (recency "
    "and frequency are already integers; monetary buckets on a fixed "
    "grid) — NEVER a global ntile sort of the customer table, which at "
    "100 TB would funnel every customer through one reducer. The 3x3 "
    "threshold rows ship as plan literals; score assignment and the "
    "segment CASE are map-side; the final rollup exchanges <=64 "
    "(r,f,m)-cells. Thresholds and scores are integer-exact, so the "
    "hash gate has no float boundary (spend totals round to 2dp).",
    tags=("analytics", "llm-pipeline"),
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("gmax"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("freq"),
            # monetary in integer cents: fold-order noise on a double SUM
            # can flip a bucket/quartile across engines; integer sums
            # cannot (the repo-wide revenue convention)
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("mon_c"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff(F.col("gmax"), F.col("last_order")).cast("long").alias("rec"),
            "freq",
            "mon_c",
        )
    )
    from . import scoped_persist

    cust = scoped_persist(cust)

    def quartile_thresholds(bucket_col):
        hist = cust.groupBy(bucket_col.alias("bucket")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
        w_all = Window.orderBy("bucket").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = hist.select(
            "bucket",
            F.sum("cnt").over(w_cum).alias("cum"),
            F.sum("cnt").over(w_all).alias("n"),
        )
        qs = spark.range(1, 4).select(F.col("id").alias("q"))
        rows = (
            F.broadcast(qs)
            .join(cum, F.col("cum") >= F.ceil(F.col("q") * F.col("n") / 4.0))
            .groupBy("q")
            .agg(F.min("bucket").alias("tb"))
            .collect()  # bounded: exactly 3 rows (the plan-literal pattern)
        )
        return F.array(
            *[F.lit(int(r.tb)) for r in sorted(rows, key=lambda r: r.q)]
        )

    mon_bucket = F.expr(f"mon_c div {RFM_M_W_C}")
    r_thr = quartile_thresholds(F.col("rec"))
    f_thr = quartile_thresholds(F.col("freq"))
    m_thr = quartile_thresholds(mon_bucket)
    r_q = (F.lit(1) + F.size(F.filter(r_thr, lambda t: t < F.col("rec")))).cast("int")
    f_q = (F.lit(1) + F.size(F.filter(f_thr, lambda t: t < F.col("freq")))).cast("int")
    m_q = (F.lit(1) + F.size(F.filter(m_thr, lambda t: t < mon_bucket))).cast("int")
    scored = cust.select(
        "o_custkey", r_q.alias("r_q"), f_q.alias("f_q"), m_q.alias("m_q"), "mon_c"
    )
    segment = (
        F.when((F.col("r_q") <= 2) & (F.col("f_q") >= 3) & (F.col("m_q") >= 3),
               "champion")
        .when((F.col("r_q") >= 3) & (F.col("f_q") <= 2), "at_risk")
        .when(F.col("f_q") >= 3, "loyal")
        .otherwise("regular")
    )
    return (
        scored.withColumn("segment", segment)
        .groupBy("r_q", "f_q", "m_q", "segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("mon_c") / 100.0, 2).alias("total_spend"),
        )
    )


@register(
    "agg_skewed_distinct_twophase",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(floor(count(*) * 1.0 / COUNT(DISTINCT user_id)) AS BIGINT)
               AS events_per_user_floor
    FROM events GROUP BY 1
    """,
    doc="skew-proof distinct counting: event_type has single-digit "
    "cardinality, so a naive COUNT(DISTINCT user_id) GROUP BY event_type "
    "hashes the whole corpus onto a handful of reducers — the classic "
    "hot-key funnel. The two-phase form first reduces on the COMPOSITE "
    "key (event_type, user_id), which spreads across all partitions "
    "(Spark plans this as two exchanges, the second one tiny), then "
    "counts rows per type. Emits exact counts identical to the naive "
    "plan; at 100 TB phase 1 is the only full-data shuffle and it is "
    "uniform by construction. The same rewrite is what Spark's own "
    "distinct-aggregate planning does internally — expressed explicitly "
    "here so the shape is pinned and plan-testable.",
    tags=("analytics", "scale"),
)
def agg_skewed_distinct_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    phase1 = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return phase1.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cnt").alias("n_events"),
        F.floor(F.sum("cnt") * F.lit(1.0) / F.count(F.lit(1))).alias(
            "events_per_user_floor"
        ),
    )


@register(
    "funnel_time_to_convert",
    oracle="""
    WITH first_click AS (
        SELECT user_id, MIN(ts) AS c_ts FROM events
        WHERE event_type = 'click' GROUP BY 1),
    conv AS (
        SELECT f.user_id,
               CAST(floor(date_diff('second', f.c_ts, MIN(p.ts)) / 60.0)
                    AS BIGINT) AS mins
        FROM first_click f
        JOIN events p ON p.user_id = f.user_id
                     AND p.event_type = 'purchase' AND p.ts >= f.c_ts
        GROUP BY 1, f.c_ts)
    SELECT CAST(count(*) AS BIGINT) AS n_conversions,
           ROUND(quantile_cont(mins, 0.25), 4) AS p25_mins,
           ROUND(quantile_cont(mins, 0.50), 4) AS p50_mins,
           ROUND(quantile_cont(mins, 0.75), 4) AS p75_mins,
           ROUND(quantile_cont(mins, 0.90), 4) AS p90_mins,
           ROUND(AVG(mins), 4) AS avg_mins
    FROM conv
    """,
    doc="funnel latency: minutes from a user's FIRST click to their first "
    "subsequent purchase, summarized as exact interpolated percentiles. "
    "Two user-keyed reductions (first click, then earliest qualifying "
    "purchase via an equi-join on user_id with the time predicate as a "
    "residual filter) — never an event x event range join; percentile() "
    "is Spark's one-pass typed aggregate, map-side partials, no global "
    "sort. Deltas are floored to integer minutes before the quantile so "
    "interpolation happens over identical integer multisets in both "
    "engines. Complements funnel_stages (conversion counts) with the "
    "WHEN of conversion.",
    tags=("analytics", "funnel"),
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_click = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    conv = (
        first_click.join(purchases, "user_id")
        .where(F.col("p_ts") >= F.col("c_ts"))
        .groupBy("user_id", "c_ts")
        .agg(F.min("p_ts").alias("first_p"))
        .select(
            F.floor(
                (F.unix_timestamp("first_p") - F.unix_timestamp("c_ts")) / 60.0
            ).alias("mins")
        )
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(F.expr("percentile(mins, 0.25)"), 4).alias("p25_mins"),
        F.round(F.expr("percentile(mins, 0.50)"), 4).alias("p50_mins"),
        F.round(F.expr("percentile(mins, 0.75)"), 4).alias("p75_mins"),
        F.round(F.expr("percentile(mins, 0.90)"), 4).alias("p90_mins"),
        F.round(F.avg("mins"), 4).alias("avg_mins"),
    )


@register(
    "orders_pareto_curve",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_c
        FROM orders GROUP BY 1),
    hist AS (
        SELECT spend_c // {RFM_M_W_C} AS bucket,
               CAST(count(*) AS BIGINT) AS n_cust,
               SUM(spend_c) AS rev_c
        FROM cust GROUP BY 1),
    cum AS (
        SELECT bucket,
               CAST(SUM(n_cust) OVER (ORDER BY bucket DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cust,
               SUM(rev_c) OVER (ORDER BY bucket DESC
                    ROWS UNBOUNDED PRECEDING) AS cum_rev_c,
               CAST(SUM(n_cust) OVER () AS BIGINT) AS n,
               SUM(rev_c) OVER () AS total_rev_c
        FROM hist),
    ds AS (SELECT unnest(generate_series(1, 9)) AS d)
    SELECT CAST(d * 10 AS INT) AS top_pct,
           MIN(cum_cust) AS n_top_customers,
           ROUND(MIN(cum_rev_c * 1.0 / total_rev_c), 4) AS rev_share
    FROM ds JOIN cum ON cum.cum_cust >= ceil(d * n / 10.0)
    GROUP BY 1
    """,
    doc="revenue concentration (Pareto) curve: for the top 10%..90% of "
    "customers by spend, the fraction of total revenue they carry — "
    "computed ENTIRELY from the bounded per-spend-bucket histogram "
    "(per-customer reduction, then a fixed-grid rollup), never a global "
    "sort of customers. The descending cumulative window runs over the "
    "bucket table (bounded by spend-range/width); joining the 9 decile "
    "probes against it is a broadcast of 9 rows. Granularity is the "
    "bucket grid — deterministic and identical in both engines because "
    "the curve is a pure function of the integer histogram.",
    tags=("analytics",),
)
def orders_pareto_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # spend in integer cents so the bucket boundary and the rev_share
    # ratio are pure functions of exact integers (no double fold-order
    # sensitivity) — same convention as events_rfm_segmentation
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("spend_c")
    )
    hist = cust.groupBy(
        F.expr(f"spend_c div {RFM_M_W_C}").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_cust"), F.sum("spend_c").alias("rev_c"))
    w_cum = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "bucket",
        F.sum("n_cust").over(w_cum).alias("cum_cust"),
        F.sum("rev_c").over(w_cum).alias("cum_rev_c"),
        F.sum("n_cust").over(w_all).alias("n"),
        F.sum("rev_c").over(w_all).alias("total_rev_c"),
    )
    ds = spark.range(1, 10).select(F.col("id").alias("d"))
    return (
        F.broadcast(ds)
        .join(cum, F.col("cum_cust") >= F.ceil(F.col("d") * F.col("n") / 10.0))
        .groupBy((F.col("d") * 10).cast("int").alias("top_pct"))
        .agg(
            F.min("cum_cust").alias("n_top_customers"),
            F.round(
                F.min(F.col("cum_rev_c") * F.lit(1.0) / F.col("total_rev_c")), 4
            ).alias("rev_share"),
        )
    )


BKT_N = 8  # bucket count for the co-located join demo tables


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """One-off build of orders+lineitem bucketed by the join key.

    Mirrors the LSH-index persist pattern (similarity.py): cache keyed by
    the source fingerprint so a replica or refreshed fixture rebuilds.
    At 100 TB this is the ETL step a warehouse does ONCE so every later
    join on the key is exchange-free."""
    import hashlib
    import os
    import tempfile

    st = os.stat(os.path.join(sf_dir, "lineitem.parquet"))
    key = hashlib.sha256(
        f"{os.path.abspath(sf_dir)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:16]
    t_orders, t_lineitem = f"bkt_orders_{key}", f"bkt_lineitem_{key}"
    root = os.path.join(tempfile.gettempdir(), "spark_graft_bkt", key)
    if not spark.catalog.tableExists(t_orders):
        o = load_table(spark, sf_dir, "orders")
        (
            o.write.mode("overwrite")
            .format("parquet")
            .bucketBy(BKT_N, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", os.path.join(root, "orders"))
            .saveAsTable(t_orders)
        )
    if not spark.catalog.tableExists(t_lineitem):
        li = load_table(spark, sf_dir, "lineitem")
        (
            li.write.mode("overwrite")
            .format("parquet")
            .bucketBy(BKT_N, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", os.path.join(root, "lineitem"))
            .saveAsTable(t_lineitem)
        )
    return t_orders, t_lineitem


@register(
    "j_bucketed_colocated",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(count(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    doc="co-located join via bucketing — the 100 TB fact-to-fact join "
    "pattern: orders and lineitem are materialized ONCE as parquet "
    "tables bucketed (and sorted) by the join key, so the join reads "
    "bucket i of each side into the same task and Catalyst plans a "
    "SortMergeJoin with NO shuffle exchange on either side "
    "(plan-asserted in tests/test_scale_patterns.py). The per-query "
    "cost at scale drops from two full-table exchanges to zero; the "
    "one-off bucketed write is the amortized ETL step. Result is gated "
    "against the plain oracle join, proving the physical rewrite "
    "changes nothing semantically.",
    tags=("analytics", "scale", "join"),
)
def j_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    t_orders, t_lineitem = _bucketed_tables(spark, sf_dir)
    o = spark.table(t_orders)
    li = spark.table(t_lineitem)
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@register(
    "cdc_merge_latest_wins",
    oracle="""
    WITH base AS (
        SELECT c_custkey, ROUND(c_acctbal, 2) AS bal FROM customer
        WHERE c_custkey % 3 != 0),
    latest AS (
        SELECT o_custkey, ROUND(o_totalprice, 2) AS new_bal
        FROM (SELECT o_custkey, o_totalprice,
                     ROW_NUMBER() OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders
              WHERE o_orderdate >= (SELECT MAX(o_orderdate)
                                    FROM orders) - INTERVAL 90 DAY)
        WHERE rn = 1),
    merged AS (
        SELECT COALESCE(b.c_custkey, l.o_custkey) AS custkey,
               CASE WHEN b.c_custkey IS NULL THEN 'insert'
                    WHEN l.o_custkey IS NULL THEN 'unchanged'
                    ELSE 'update' END AS action,
               COALESCE(l.new_bal, b.bal) AS final_bal
        FROM base b FULL OUTER JOIN latest l ON l.o_custkey = b.c_custkey)
    SELECT action, CAST(count(*) AS BIGINT) AS n_rows,
           ROUND(SUM(final_bal), 2) AS total_balance
    FROM merged GROUP BY 1
    """,
    doc="MERGE INTO / CDC upsert semantics without a table format: the "
    "change set is reduced to ONE winning row per key map-side-first "
    "(latest order by (date, orderkey) — the at-least-once CDC "
    "compaction), then a single keyed full-outer join against the base "
    "classifies every key as insert / update / unchanged and applies "
    "latest-wins. The change set is the last 90 days of orders (a real "
    "CDC window; the horizon is a 1-row broadcast scalar) and the base "
    "filter (custkey % 3 != 0) simulates keys missing from the base, so "
    "all three MERGE branches are exercised and gated. At 100 TB: one exchange for the change compaction, one "
    "co-partitioned join — exactly what Delta/Iceberg MERGE plans do "
    "under the hood, expressed in stock DataFrame ops.",
    tags=("analytics", "cdc"),
)
def cdc_merge_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    base = c.where(F.col("c_custkey") % 3 != 0).select(
        "c_custkey", F.round("c_acctbal", 2).alias("bal")
    )
    o = load_table(spark, sf_dir, "orders")
    # the CDC batch = the last 90 days of orders (customers quiet in the
    # window fall through as 'unchanged'); the horizon is a 1-row scalar
    # aggregate broadcast back, never a driver collect
    horizon = o.agg(
        (F.max("o_orderdate") - F.expr("INTERVAL 90 DAYS")).alias("h0")
    )
    recent = o.crossJoin(F.broadcast(horizon)).where(
        F.col("o_orderdate") >= F.col("h0")
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    latest = (
        recent.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", F.round("o_totalprice", 2).alias("new_bal"))
    )
    merged = base.join(
        latest, base.c_custkey == latest.o_custkey, "full_outer"
    ).select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("o_custkey").isNull(), "unchanged")
        .otherwise("update")
        .alias("action"),
        F.coalesce("new_bal", "bal").alias("final_bal"),
    )
    return merged.groupBy("action").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("final_bal"), 2).alias("total_balance"),
    )


@register(
    "orders_cohort_ltv",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS cohort
        FROM orders GROUP BY 1),
    spend AS (
        SELECT f.cohort,
               CAST(date_diff('month', f.cohort,
                    date_trunc('month', o.o_orderdate)) AS BIGINT) AS offset_m,
               CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
               CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
        GROUP BY 1, 2),
    sized AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
              FROM firsts GROUP BY 1)
    SELECT epoch_us(s.cohort) AS cohort_us, s.offset_m, s.n_active,
           z.cohort_size,
           ROUND(s.rev_cents / 100.0, 2) AS revenue,
           (CAST(SUM(s.rev_cents) OVER (PARTITION BY s.cohort
                 ORDER BY s.offset_m ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 // z.cohort_size) / 100.0 AS cum_ltv_per_customer
    FROM spend s JOIN sized z ON z.cohort = s.cohort
    """,
    doc="cohort LTV curve: customers cohorted by first-order month, then "
    "revenue per (cohort, month offset) and the running "
    "LTV-per-customer — the curve a growth team reads retention "
    "economics from. One custkey reduction for cohorts, one "
    "(cohort, offset) rollup of the fact join, and the cumulative "
    "window runs over the BOUNDED months^2/2 cohort matrix, never raw "
    "orders. Complements cohort_retention (activity) with the revenue "
    "axis; distinct-active counts are exact.",
    tags=("analytics",),
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    from . import scoped_persist

    firsts = scoped_persist(firsts)
    spend = (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort",
            (
                (F.year(F.date_trunc("month", "o_orderdate")) - F.year("cohort")) * 12
                + (F.month(F.date_trunc("month", "o_orderdate")) - F.month("cohort"))
            )
            .cast("long")
            .alias("offset_m"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            # integer cents: the cumulative window then sums EXACT
            # BIGINTs, so no fold-order penny flip can split the gate
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_cents"
            ),
        )
    )
    sized = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    w = Window.partitionBy("cohort").orderBy("offset_m").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        spend.join(F.broadcast(sized), "cohort")
        .select(
            F.unix_micros("cohort").alias("cohort_us"),
            "offset_m",
            "n_active",
            "cohort_size",
            F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
            ((F.sum("rev_cents").over(w).cast("long") / F.col("cohort_size"))
             .cast("long") / 100.0).alias("cum_ltv_per_customer"),
        )
    )


@register(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS fk, CAST(count(*) AS BIGINT) AS child_rows,
           CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT)
               AS orphans,
           CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS child_keys
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 'orders->customer', CAST(count(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT),
           CAST(count(DISTINCT o.o_custkey) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'lineitem->part', CAST(count(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE p.p_partkey IS NULL) AS BIGINT),
           CAST(count(DISTINCT l.l_partkey) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
    UNION ALL
    SELECT 'lineitem->supplier', CAST(count(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE s.s_suppkey IS NULL) AS BIGINT),
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
    UNION ALL
    SELECT 'customer->nation', CAST(count(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT),
           CAST(count(DISTINCT c.c_nationkey) AS BIGINT)
    FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    """,
    doc="referential-integrity audit across the star schema: for each FK "
    "edge, child row count, orphan count (child keys with no parent) "
    "and distinct child keys — the contract check a warehouse runs "
    "after every load. Each edge is ONE left join + counting aggregate; "
    "parent dims (nation/supplier/part/customer) broadcast when small, "
    "the two fact-fact edges shuffle on the key like any q-series join. "
    "All-integer output, exact gate. Complements data_quality_report "
    "(intra-table nulls/ranges) with the INTER-table axis.",
    tags=("analytics", "quality"),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")

    def edge(name, child, ck, parent, pk):
        j = child.join(parent, child[ck] == parent[pk], "left")
        return j.agg(
            F.lit(name).alias("fk"),
            F.count(F.lit(1)).alias("child_rows"),
            F.sum(parent[pk].isNull().cast("long")).alias("orphans"),
            F.countDistinct(child[ck]).alias("child_keys"),
        ).select("fk", "child_rows", "orphans", "child_keys")

    return (
        edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey")
        .unionAll(edge("orders->customer", o, "o_custkey", c, "c_custkey"))
        .unionAll(edge("lineitem->part", li, "l_partkey", p, "p_partkey"))
        .unionAll(edge("lineitem->supplier", li, "l_suppkey", s, "s_suppkey"))
        .unionAll(edge("customer->nation", c, "c_nationkey", n, "n_nationkey"))
    )


@register(
    "orders_ship_delay_percentiles",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           ROUND(quantile_cont(date_diff('day', o.o_orderdate, l.l_shipdate),
                 0.50), 4) AS p50_days,
           ROUND(quantile_cont(date_diff('day', o.o_orderdate, l.l_shipdate),
                 0.90), 4) AS p90_days,
           ROUND(quantile_cont(date_diff('day', o.o_orderdate, l.l_shipdate),
                 0.99), 4) AS p99_days,
           CAST(MAX(date_diff('day', o.o_orderdate, l.l_shipdate)) AS BIGINT)
               AS max_days
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
    doc="order-to-ship latency distribution per priority class — the "
    "fulfillment SLA readout: integer day deltas through the "
    "fact-to-fact orderkey join (the same join j_bucketed_colocated "
    "materializes exchange-free), exact interpolated percentiles as "
    "one-pass typed aggregates. Day deltas are integers on both "
    "engines, so interpolation runs over identical multisets.",
    tags=("analytics",),
)
def orders_ship_delay_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("d"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.expr("percentile(d, 0.50)"), 4).alias("p50_days"),
        F.round(F.expr("percentile(d, 0.90)"), 4).alias("p90_days"),
        F.round(F.expr("percentile(d, 0.99)"), 4).alias("p99_days"),
        F.max("d").alias("max_days"),
    )


@register(
    "orders_seasonality_decomposition",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1),
    trended AS (
        SELECT m, rev_cents,
               CAST(SUM(rev_cents) OVER (ORDER BY m
                    ROWS 11 PRECEDING) AS BIGINT)
                 // CAST(COUNT(*) OVER (ORDER BY m ROWS 11 PRECEDING)
                    AS BIGINT) AS trend_cents
        FROM monthly),
    dev AS (
        SELECT m, rev_cents, trend_cents,
               rev_cents - trend_cents AS dev_cents,
               EXTRACT(month FROM m) AS moy
        FROM trended),
    seasonal AS (
        -- dev_cents is signed and DuckDB integer // truncates toward
        -- zero: floor-divide via the pmod identity so it matches the
        -- Spark side exactly (numerator is an exact multiple of nd)
        SELECT moy,
               (sd - ((sd % nd) + nd) % nd) // nd AS seasonal_cents
        FROM (SELECT moy, CAST(SUM(dev_cents) AS BIGINT) AS sd,
                     CAST(count(*) AS BIGINT) AS nd
              FROM dev GROUP BY 1))
    SELECT epoch_us(d.m) AS month_us,
           d.rev_cents / 100.0 AS revenue,
           d.trend_cents / 100.0 AS trend,
           s.seasonal_cents / 100.0 AS seasonal,
           (d.dev_cents - s.seasonal_cents) / 100.0 AS residual
    FROM dev d JOIN seasonal s ON s.moy = d.moy
    """,
    doc="classical additive seasonality decomposition of monthly revenue: "
    "trend = trailing-12 moving average, seasonal index = mean "
    "month-of-year deviation from trend, residual = the rest. ALL "
    "arithmetic in integer cents with integer division (the "
    "orders_cohort_ltv lesson: double sums and ROUND half-cases both "
    "split cross-engine gates; integer DIV cannot), floats appear only "
    "as the final /100.0 of identical BIGINTs. Every window runs over "
    "the BOUNDED monthly series — one fact exchange builds it, the "
    "decomposition is span-bounded like ts_gap_fill_locf. Complements "
    "ts_seasonal_naive_error (forecast) with the structural readout.",
    tags=("analytics", "temporal"),
)
def orders_seasonality_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.date_trunc("month", "o_orderdate").alias("m")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_cents")
    )
    w12 = Window.orderBy("m").rowsBetween(-11, 0)
    trended = monthly.select(
        "m",
        "rev_cents",
        F.sum("rev_cents").over(w12).alias("s12"),
        F.count(F.lit(1)).over(w12).alias("n12"),
    ).selectExpr("m", "rev_cents", "s12 div n12 as trend_cents")
    dev = trended.select(
        "m",
        "rev_cents",
        "trend_cents",
        (F.col("rev_cents") - F.col("trend_cents")).alias("dev_cents"),
        F.month("m").alias("moy"),
    )
    from . import scoped_persist

    dev = scoped_persist(dev)
    # dev_cents is signed: DuckDB // FLOORS while Spark div TRUNCATES,
    # so floor-divide explicitly via pmod (exact: sd - pmod(sd, nd) is a
    # whole multiple of nd)
    seasonal = (
        dev.groupBy("moy")
        .agg(F.sum("dev_cents").alias("sd"), F.count(F.lit(1)).alias("nd"))
        .selectExpr("moy", "(sd - pmod(sd, nd)) div nd as seasonal_cents")
    )
    return (
        dev.join(F.broadcast(seasonal), "moy")
        .select(
            F.unix_micros("m").alias("month_us"),
            (F.col("rev_cents") / 100.0).alias("revenue"),
            (F.col("trend_cents") / 100.0).alias("trend"),
            (F.col("seasonal_cents") / 100.0).alias("seasonal"),
            ((F.col("dev_cents") - F.col("seasonal_cents")) / 100.0).alias(
                "residual"
            ),
        )
    )


ABC_W = 100000  # part-revenue histogram bucket width (cents)


@register(
    "orders_abc_classification",
    oracle=f"""
    WITH part_rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem GROUP BY 1),
    hist AS (
        SELECT rev_cents // {ABC_W} AS bucket,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(SUM(rev_cents) AS BIGINT) AS rev
        FROM part_rev GROUP BY 1),
    cum AS (
        SELECT bucket,
               CAST(SUM(rev) OVER (ORDER BY bucket DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev,
               CAST(SUM(rev) OVER () AS BIGINT) AS total_rev
        FROM hist),
    thr AS (
        -- descending accumulation: cum grows as bucket FALLS, so the
        -- crossing point is the HIGHEST bucket already over the target
        SELECT MAX(bucket) FILTER (WHERE cum_rev * 100 >= 80 * total_rev)
                   AS tb_a,
               MAX(bucket) FILTER (WHERE cum_rev * 100 >= 95 * total_rev)
                   AS tb_b
        FROM cum)
    SELECT abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev_cents) AS BIGINT) / 100.0 AS revenue,
           ROUND(CAST(SUM(rev_cents) AS BIGINT) * 1.0 /
                 (SELECT CAST(SUM(rev_cents) AS BIGINT) FROM part_rev), 6)
               AS rev_share
    FROM (
        SELECT p.rev_cents,
               CASE WHEN p.rev_cents // {ABC_W} >= t.tb_a THEN 'A'
                    WHEN p.rev_cents // {ABC_W} >= t.tb_b THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM part_rev p, thr t)
    GROUP BY 1
    """,
    doc="ABC (80/15/5) inventory classification of parts by revenue — "
    "the sketch-threshold pattern a third time (deciles, Pareto, now "
    "classification): per-part revenue in integer cents (ONE partkey "
    "exchange), a fixed-grid histogram bounds the descending cumulative "
    "window, the two class-boundary buckets come from integer "
    "cross-multiplies (cum*100 >= 80*total — no float thresholds), and "
    "class assignment is map-side against the 2-value literal. Never a "
    "global revenue sort of the part table.",
    tags=("analytics",),
)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part_rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                "long"
            )
        ).alias("rev_cents")
    )
    from . import scoped_persist

    part_rev = scoped_persist(part_rev)
    hist = part_rev.selectExpr(f"rev_cents div {ABC_W} as bucket", "rev_cents").groupBy(
        "bucket"
    ).agg(F.count(F.lit(1)).alias("n_parts"), F.sum("rev_cents").alias("rev"))
    w_cum = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "bucket",
        F.sum("rev").over(w_cum).alias("cum_rev"),
        F.sum("rev").over(w_all).alias("total_rev"),
    )
    # descending accumulation: the crossing point is the HIGHEST bucket
    # whose cumulative (from the top) is already over the target
    thr = cum.agg(
        F.max(
            F.when(F.col("cum_rev") * 100 >= 80 * F.col("total_rev"), F.col("bucket"))
        ).alias("tb_a"),
        F.max(
            F.when(F.col("cum_rev") * 100 >= 95 * F.col("total_rev"), F.col("bucket"))
        ).alias("tb_b"),
    )
    total = part_rev.agg(F.sum("rev_cents").alias("tot"))
    classed = (
        part_rev.crossJoin(F.broadcast(thr))
        .selectExpr(
            "rev_cents",
            f"CASE WHEN rev_cents div {ABC_W} >= tb_a THEN 'A' "
            f"WHEN rev_cents div {ABC_W} >= tb_b THEN 'B' "
            "ELSE 'C' END AS abc_class",
        )
    )
    return (
        classed.groupBy("abc_class")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.sum("rev_cents").alias("rc"))
        .crossJoin(F.broadcast(total))
        .select(
            "abc_class",
            "n_parts",
            (F.col("rc") / 100.0).alias("revenue"),
            F.round(F.col("rc") * F.lit(1.0) / F.col("tot"), 6).alias("rev_share"),
        )
    )


@register(
    "returns_rate_by_brand",
    oracle="""
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_returnflag = 'R' AS INT)) AS BIGINT)
               AS n_returned,
           ROUND(SUM(CAST(l.l_returnflag = 'R' AS INT)) * 1.0 / count(*), 6)
               AS return_rate,
           CAST(SUM(CASE WHEN l.l_returnflag = 'R'
                THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                          AS BIGINT) ELSE 0 END) AS BIGINT) / 100.0
               AS returned_revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1
    """,
    doc="return-rate analysis by brand — the merchandising quality "
    "readout: returned-line share and returned revenue per brand. The "
    "part dimension broadcasts into the fact scan; counts are exact "
    "integers, revenue is integer cents, the rate is an integer ratio "
    "rounded at 6dp — no float boundary anywhere. One fact exchange on "
    "the brand rollup.",
    tags=("analytics",),
)
def returns_rate_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ret = (F.col("l_returnflag") == "R").cast("int")
    rev_cents = F.when(
        F.col("l_returnflag") == "R",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
            "long"
        ),
    ).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(ret).cast("long").alias("n_returned"),
            F.round(F.sum(ret) * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
                "return_rate"
            ),
            (F.sum(rev_cents) / 100.0).alias("returned_revenue"),
        )
    )


@register(
    "supplier_concentration_hhi",
    oracle="""
    WITH sup AS (
        SELECT s.s_nationkey AS nationkey, l.l_suppkey,
               CAST(SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                    * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY 1, 2),
    tot AS (SELECT nationkey, CAST(SUM(rev_cents) AS BIGINT) AS tot
            FROM sup GROUP BY 1)
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           ROUND(SUM((s.rev_cents * 1.0 / t.tot)
                     * (s.rev_cents * 1.0 / t.tot)) * 10000, 4) AS hhi,
           CAST(ROUND(SUM((s.rev_cents * 1.0 / t.tot)
                     * (s.rev_cents * 1.0 / t.tot)) * 10000, 4) > 2500 AS INT)
               AS concentrated
    FROM sup s JOIN tot t ON t.nationkey = s.nationkey
    JOIN nation n ON n.n_nationkey = s.nationkey
    GROUP BY 1
    """,
    doc="Herfindahl-Hirschman supplier-concentration index per nation "
    "(HHI = sum of squared revenue shares x 10000; > 2500 flags a "
    "concentrated market — the antitrust/sourcing-risk readout). One "
    "(nation, supplier) revenue reduction in integer cents, per-nation "
    "totals broadcast back, squared shares summed over the bounded "
    "supplier-per-nation domain. Share inputs are divisions of "
    "identical exact integers; round 4 absorbs the sub-1e-10 "
    "summation noise over <= suppliers-per-nation terms.",
    tags=("analytics",),
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sup = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nationkey"), "l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("rev_cents")
        )
    )
    from . import scoped_persist

    sup = scoped_persist(sup)
    tot = sup.groupBy("nationkey").agg(F.sum("rev_cents").alias("tot"))
    share = F.col("rev_cents") * F.lit(1.0) / F.col("tot")
    hhi = F.round(F.sum(share * share) * 10000, 4)
    return (
        sup.join(F.broadcast(tot), "nationkey")
        .join(F.broadcast(n), F.col("nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            hhi.alias("hhi"),
            (hhi > 2500).cast("int").alias("concentrated"),
        )
    )


@register(
    "orders_weekday_profile",
    oracle="""
    -- DuckDB dayofweek is 0=Sunday; Spark's is 1=Sunday — shim +1
    SELECT CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               / 100.0 AS gmv,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY 1
    """,
    doc="weekday demand profile: orders, GMV (integer cents) and distinct "
    "customers by day-of-week — the staffing/capacity baseline every "
    "commerce dashboard carries. One map-side-combined rollup onto 7 "
    "groups; DuckDB dayofweek is 0-based Sunday while Spark's is "
    "1-based, so the oracle carries the +1 shim (caught by the gate).",
    tags=("analytics",),
)
def orders_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.dayofweek("o_orderdate").cast("int").alias("dow")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0
        ).alias("gmv"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


KEY_SKEW_ORACLE = """
    WITH perkey AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
    hist AS (
        SELECT c, CAST(count(*) AS BIGINT) AS k FROM perkey GROUP BY 1),
    cum AS (
        SELECT c, k,
               CAST(SUM(k) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cumk,
               CAST(SUM(k) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) - k AS prevk
        FROM hist),
    tot AS (
        SELECT CAST(SUM(c * k) AS BIGINT) AS n_events,
               CAST(SUM(k) AS BIGINT) AS n_keys,
               MAX(c) AS max_per_key,
               -- sum of rank*value over ascending per-key counts, exactly
               -- from the histogram: a block of k keys at value c holds
               -- ranks prevk+1 .. prevk+k, so sum(i*x_i) over the block is
               -- c * (prevk*k + k*(k+1)/2) — all integer-exact
               SUM(CAST(c AS HUGEINT)
                   * (CAST(prevk AS HUGEINT) * k + k * (k + 1) // 2)) AS s
        FROM cum),
    pct AS (
        SELECT MIN(CASE WHEN cumk * 100 >= 50 * (SELECT n_keys FROM tot)
                        THEN c END) AS p50_per_key,
               MIN(CASE WHEN cumk * 100 >= 99 * (SELECT n_keys FROM tot)
                        THEN c END) AS p99_per_key
        FROM cum)
    SELECT n_events, n_keys, max_per_key, p50_per_key, p99_per_key,
           CAST(max_per_key * 1000000 // n_events AS BIGINT)
               AS top_share_ppm,
           ROUND(CAST(2 * s - (n_keys + 1) * CAST(n_events AS HUGEINT)
                      AS DOUBLE)
                 / CAST(CAST(n_keys AS HUGEINT) * n_events AS DOUBLE), 6)
               AS gini
    FROM tot, pct
    """


@register(
    "dq_key_skew_report",
    oracle=KEY_SKEW_ORACLE,
    doc="key-skew diagnostic report — the measurement you run BEFORE "
    "choosing a salting / AQE-skew-join / two-phase-agg strategy for a "
    "shuffle key. Per-key counts reduce once on the key (uniform by "
    "construction), then EVERYTHING else — max, p50/p99, top-key share, "
    "and the Gini concentration coefficient — derives from the bounded "
    "count-of-counts histogram: Gini's sum-of-rank-times-value is "
    "computed exactly per histogram block (a block of k keys at count c "
    "holds ranks prevk+1..prevk+k), so no global sort of keys ever "
    "happens — the same sketch-threshold discipline as the RFM/Pareto "
    "rollups, and the cumulative window runs over the count-value grid, "
    "not the key table. All inputs integer-exact (HUGEINT/decimal for "
    "the rank sum); the single final division is of identical integers "
    "on both engines.",
    tags=("analytics", "quality", "scale"),
)
def dq_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    perkey = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    return _key_skew_from_perkey(spark, perkey)


def _key_skew_from_perkey(spark, perkey: DataFrame) -> DataFrame:
    """(key, c) counts -> the one-row skew report. Shared by the batch
    query and its streaming image; see dq_key_skew_report's doc for the
    blockwise exact-Gini derivation."""
    from . import scoped_persist

    hist = scoped_persist(perkey.groupBy("c").agg(F.count(F.lit(1)).alias("k")))
    w_cum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "c",
        "k",
        F.sum("k").over(w_cum).alias("cumk"),
        (F.sum("k").over(w_cum) - F.col("k")).alias("prevk"),
    )
    dec = "decimal(38,0)"
    tot = cum.agg(
        F.sum(F.col("c") * F.col("k")).alias("n_events"),
        F.sum("k").alias("n_keys"),
        F.max("c").alias("max_per_key"),
        F.sum(
            F.col("c").cast(dec)
            * (
                F.col("prevk").cast(dec) * F.col("k").cast(dec)
                + F.expr(
                    "cast(k as decimal(38,0))"
                    " * (cast(k as decimal(38,0)) + 1) div 2"
                ).cast(dec)
            )
        ).alias("s"),
    )
    pct = cum.crossJoin(F.broadcast(tot.select("n_keys"))).agg(
        F.min(
            F.when(F.col("cumk") * 100 >= 50 * F.col("n_keys"), F.col("c"))
        ).alias("p50_per_key"),
        F.min(
            F.when(F.col("cumk") * 100 >= 99 * F.col("n_keys"), F.col("c"))
        ).alias("p99_per_key"),
    )
    return tot.crossJoin(F.broadcast(pct)).select(
        "n_events",
        "n_keys",
        "max_per_key",
        "p50_per_key",
        "p99_per_key",
        F.expr("max_per_key * 1000000 div n_events").alias("top_share_ppm"),
        F.round(
            (
                F.lit(2).cast(dec) * F.col("s")
                - (F.col("n_keys") + 1).cast(dec) * F.col("n_events").cast(dec)
            ).cast("double")
            / (F.col("n_keys").cast(dec) * F.col("n_events").cast(dec)).cast(
                "double"
            ),
            6,
        ).alias("gini"),
    )


@register(
    "t_stream_key_skew",
    # gate: the IDENTICAL SQL image as the batch dq_key_skew_report —
    # the stream-maintained per-key counts must reproduce the batch
    # counts exactly, so every derived statistic (max, percentiles,
    # top-share, exact Gini) is identical.
    oracle=KEY_SKEW_ORACLE,
    doc="REAL streaming image of the key-skew diagnostic: events stream "
    "(availableNow) -> running groupBy(user_id) counts in update mode "
    "(memory sink; counts are monotone so the final state per key is "
    "the max across updates) -> the bounded count-of-counts histogram, "
    "percentile probes and exact blockwise Gini derive from the "
    "MAINTAINED state, never a raw re-scan. This is how a shuffle-key "
    "health monitor actually runs in production: per-key state is the "
    "same size as the batch reduction's output, and the report stays "
    "current per micro-batch. Shares the batch query's SQL gate, so "
    "stream==batch parity of the WHOLE report is the check.",
    tags=("analytics", "streaming", "quality", "scale"),
)
def t_stream_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import stream_events
    from .temporal import _stream_to_table

    counts = stream_events(spark, sf_dir).groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    perkey = (
        _stream_to_table(spark, "t_stream_key_skew_sink", counts, "update")
        .groupBy("user_id")
        .agg(F.max("c").alias("c"))
    )
    return _key_skew_from_perkey(spark, perkey)


@register(
    "cdc_scd2_intervals",
    oracle="""
    WITH ordered AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
               LAG(o_orderpriority) OVER w AS prev_p
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)),
    flagged AS (
        SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
               CASE WHEN prev_p IS NULL OR prev_p <> o_orderpriority
                    THEN 1 ELSE 0 END AS chg
        FROM ordered),
    runs AS (
        SELECT o_custkey, o_orderdate, o_orderpriority,
               CAST(SUM(chg) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey
                    ROWS UNBOUNDED PRECEDING) AS INT) AS version
        FROM flagged),
    versions AS (
        SELECT o_custkey, version, o_orderpriority AS priority,
               MIN(o_orderdate) AS valid_from,
               CAST(count(*) AS BIGINT) AS n_orders_in_version
        FROM runs GROUP BY 1, 2, 3)
    SELECT o_custkey, version, priority, valid_from,
           LEAD(valid_from) OVER (PARTITION BY o_custkey
                ORDER BY version) AS valid_to,
           n_orders_in_version
    FROM versions
    """,
    doc="SCD Type-2 dimension history build — the warehouse operator that "
    "turns an append-only change log into versioned validity intervals: "
    "treat each customer's order stream (totally ordered by date, "
    "orderkey) as attribute changes, start a NEW version only when the "
    "tracked attribute actually changes (change-aware compaction via "
    "LAG), then close each version with the next version's start via "
    "LEAD (open tail → NULL valid_to, the is-current marker; the "
    "9999-12-31 sentinel convention would overflow pandas/Arrow ns "
    "timestamps in the comparison harness). All three "
    "windows are keyed by custkey — ONE hash exchange total, then "
    "map-side window evaluation per key; at 100 TB the plan is one "
    "shuffle of the change log, identical shape to any sessionization. "
    "Version numbers are exact running integers; no floats anywhere.",
    tags=("analytics", "cdc", "window"),
)
def cdc_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    flagged = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_orderpriority",
        F.when(
            F.lag("o_orderpriority").over(w).isNull()
            | (F.lag("o_orderpriority").over(w) != F.col("o_orderpriority")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    runs = flagged.select(
        "o_custkey",
        "o_orderdate",
        "o_orderpriority",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int")
        .alias("version"),
    )
    versions = runs.groupBy(
        "o_custkey", "version", F.col("o_orderpriority").alias("priority")
    ).agg(
        F.min("o_orderdate").alias("valid_from"),
        F.count(F.lit(1)).alias("n_orders_in_version"),
    )
    wv = Window.partitionBy("o_custkey").orderBy("version")
    return versions.select(
        "o_custkey",
        "version",
        "priority",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_orders_in_version",
    )


_PK_TABLES = [
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("supplier", "s_suppkey"),
    ("part", "p_partkey"),
    ("orders", "o_orderkey"),
    ("events", "event_id"),
    ("documents", "doc_id"),
    ("embeddings", "vec_id"),
]


@register(
    "dq_pk_uniqueness_audit",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT '{t}' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT {k}) AS BIGINT) AS n_keys,
           CAST(count(*) FILTER (WHERE {k} IS NULL) AS BIGINT) AS null_keys,
           CAST(count(*) AS BIGINT) - CAST(count(DISTINCT {k}) AS BIGINT)
               AS dup_rows
    FROM {t}"""
        for t, k in _PK_TABLES
    ),
    doc="primary-key uniqueness audit across every keyed table — the "
    "complement of dq_referential_integrity (that one proves children "
    "point at existing parents; this one proves the parents themselves "
    "are unique and non-null). One map-side-combined count + distinct "
    "per table, each a single uniform-key exchange; output is one row "
    "per table so a warehouse health dashboard reads it directly. All "
    "counts exact integers.",
    tags=("analytics", "quality"),
)
def dq_pk_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for t, k in _PK_TABLES:
        df = load_table(spark, sf_dir, t)
        row = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(F.col(k)).alias("n_keys"),
            F.count(F.when(F.col(k).isNull(), 1)).alias("null_keys"),
        ).select(
            F.lit(t).alias("tbl"),
            "n_rows",
            "n_keys",
            "null_keys",
            (F.col("n_rows") - F.col("n_keys")).alias("dup_rows"),
        )
        out = row if out is None else out.unionAll(row)
    return out
