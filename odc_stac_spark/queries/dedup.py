"""Deduplication operators (training-data pipeline surface).

Four families, each scale-shaped differently:

- **exact** — hash-groupBy; shuffles one digest per doc. 100 TB: trivially
  scalable (digest is computed map-side, group keys are uniform).
- **n-gram Jaccard** — inverted-index self-join on shingles (the classic
  similarity-join). Exact answer; at 100 TB you bound fan-out with LSH
  (below) or prefix filtering.
- **MinHash + LSH** — signature → band → bucket equi-join. Candidate
  generation touches only docs sharing a band bucket, so cost follows the
  (tiny) collision count, not the pair count. This is the 100 TB path.
- **SimHash** — 32-bit fingerprints; bucket by fingerprint for blocking.

Everything is deterministic cross-engine: shingle hashes come from
``md5`` (identical in Spark and DuckDB) mapped to a 32-bit integer, and the
MinHash permutations are fixed ``(a*h + b) mod p`` with ``a·h`` kept below
2^53 so no overflow ambiguity exists — the DuckDB oracle reproduces the
LSH output bit-for-bit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import sql_literal
from ..sources.tables import load_table
from . import register, scoped_persist

# MinHash parameters: 16 permutations → 4 bands × 4 rows.
# P is prime (2^31-1); A_j < 2^21 keeps a*h < 2^53 (h < 2^32): exact in
# int64 AND in float64, so every engine agrees.
MINHASH_P = 2147483647
MINHASH_A = [1000003, 999983, 824633, 756839, 524287, 432109, 216091, 131071,
             110503, 86243, 23209, 19937, 9941, 4423, 2281, 1279]
MINHASH_B = [12345, 54321, 98765, 13579, 24680, 11111, 77777, 31415,
             27182, 16180, 14142, 17320, 22360, 26457, 30000, 33166]
N_BANDS, ROWS_PER_BAND = 4, 4
JACCARD_THRESHOLD = 0.5


def _tokens(col):
    return F.split(F.trim(F.lower(col)), " +")


def shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, shingles: array<string>) — distinct token
    3-grams per doc. Pure map-side transformation, so it works identically
    on batch tables and structured streams (streaming/dedup.py).

    Kept as one array row per document so signature computation (MinHash,
    SimHash) can stay entirely map-side: at 100 TB a signature is a pure
    function of the document and must not cost a shuffle."""
    toks = _tokens(F.col("text"))
    d = docs.select("doc_id", toks.alias("ts")).where(F.size("ts") >= 3)
    sh = F.transform(
        F.sequence(F.lit(0), F.size("ts") - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at("ts", i + 1),
            F.element_at("ts", i + 2),
            F.element_at("ts", i + 3),
        ),
    )
    return d.select("doc_id", F.array_distinct(sh).alias("shingles"))


def _shingle_arrays_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingle_arrays(load_table(spark, sf_dir, "documents"))


def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) — exploded form, for inverted-index joins.

    The array stage is persisted BEFORE the explode: CollapseProject
    otherwise inlines the interpreted HOF chain (transform + concat_ws +
    array_distinct) into Generate, which re-evaluates it per OUTPUT row —
    measured 25x slower (11.7 s → 0.5 s for the sf0.1 explode). At 100 TB
    the same barrier applies (persist with spill, or a materialized
    shingle table)."""
    arrays = scoped_persist(_shingle_arrays_df(spark, sf_dir))
    return arrays.select("doc_id", F.explode("shingles").alias("shingle"))


def _hash32(col):
    """md5-derived 32-bit integer hash — bit-identical in Spark and DuckDB.

    Usable both on top-level columns and inside higher-order-function
    lambdas (pure expression, no SQL-parser round trip)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


_SHINGLES_SQL = """
    SELECT DISTINCT doc_id,
           array_to_string(list_slice(ts, i, i + 2), ' ') AS shingle
    FROM (SELECT doc_id, ts, UNNEST(generate_series(1, len(ts) - 2)) AS i
          FROM (SELECT doc_id,
                       string_split_regex(trim(lower(text)), ' +') AS ts
                FROM documents)
          WHERE len(ts) >= 3)
"""


def _shingles_sql_from(table: str) -> str:
    """The shingle CTE body over an arbitrary (doc_id, text) relation —
    dedup_pipeline_e2e shingles only the exact-collapse representatives,
    not the raw corpus."""
    assert _SHINGLES_SQL.count("FROM documents") == 1
    return _SHINGLES_SQL.replace("FROM documents", f"FROM {table}")


@register(
    "dedup_exact",
    oracle="""
    SELECT fingerprint, keep_doc_id, n_copies FROM (
        SELECT md5(trim(lower(text))) AS fingerprint,
               MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY 1
    )
    """,
    doc="exact dedup: normalize → digest → hash-groupBy, keep min doc_id.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.trim(F.lower(F.col("text")))).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(shared * 1.0 / (ca.n + cb.n - shared), 4) AS jaccard
    FROM pairs
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE shared * 1.0 / (ca.n + cb.n - shared) >= {JACCARD_THRESHOLD}
    """,
    doc="n-gram Jaccard near-dup: inverted-index similarity self-join on "
    "token 3-gram shingles (exact answer).",
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist: the shingle table feeds the self-join twice plus the count
    # side — at scale this is a materialized intermediate, not a recompute
    sh = scoped_persist(_shingles_df(spark, sf_dir))
    cnt = scoped_persist(sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("shared") * 1.0 / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


CONTAINMENT_THRESHOLD = 0.8


@register(
    "text_containment_dedup",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT CASE WHEN ca.n <= cb.n THEN doc_a ELSE doc_b END AS doc_contained,
           CASE WHEN ca.n <= cb.n THEN doc_b ELSE doc_a END AS doc_container,
           CAST(shared AS BIGINT) AS n_shared,
           ROUND(shared * 1.0 / LEAST(ca.n, cb.n), 4) AS containment,
           ROUND(shared * 1.0 / (ca.n + cb.n - shared), 4) AS jaccard
    FROM pairs
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE shared * 1.0 / LEAST(ca.n, cb.n) >= {CONTAINMENT_THRESHOLD}
    """,
    doc="shingle CONTAINMENT dedup (Broder's resemblance-vs-containment "
    "distinction): C = |S(A) ∩ S(B)| / |S(smaller)| flags a small "
    "document embedded inside a larger one — quote farms, boilerplate "
    "wrappers, excerpt pages — which symmetric Jaccard structurally "
    "misses (a 50-shingle doc inside a 5000-shingle doc has J ≈ 0.01 "
    "but C = 1.0). Same inverted-index self-join and materialized "
    "shingle/count tables as dedup_ngram_jaccard (one extra projection, "
    "no new shuffle); the contained/container roles are deterministic "
    "(fewer shingles, tie → smaller id via the a<b pair enumeration). "
    "Both ratios are divisions of identical exact integers, so the gate "
    "has no fold-order exposure.",
    tags=("dedup", "text", "llm-pipeline"),
)
def text_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = scoped_persist(_shingles_df(spark, sf_dir))
    cnt = scoped_persist(sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cont = F.col("shared") * 1.0 / F.least(F.col("na"), F.col("nb"))
    jac = F.col("shared") * 1.0 / (F.col("na") + F.col("nb") - F.col("shared"))
    a_small = F.col("na") <= F.col("nb")
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .where(cont >= CONTAINMENT_THRESHOLD)
        .select(
            F.when(a_small, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_contained"),
            F.when(a_small, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_container"),
            F.col("shared").alias("n_shared"),
            F.round(cont, 4).alias("containment"),
            F.round(jac, 4).alias("jaccard"),
        )
    )


#: the 16 MinHash minima of a doc's ``shingles`` as one SQL ``aggregate``
#: fold: each shingle's :func:`_hash32` is computed once, and the 16
#: affine permutations fold off it
_MINHASH_SQL = (
    "aggregate(transform(shingles, s -> CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)), "
    f"array({', '.join([f'{MINHASH_P}L'] * 16)}), "
    "(acc, h) -> array("
    + ", ".join(
        f"least(acc[{j}], ({a} * h + {b}) % {MINHASH_P})"
        for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    + "))"
)

#: one (band_idx, bh) struct per LSH band: bh = md5 of the band's minima
_BANDS_SQL = (
    "inline(array("
    + ", ".join(
        f"named_struct('band_idx', {band}, 'bh', md5(concat_ws(',', "
        + ", ".join(f"CAST(m{band * ROWS_PER_BAND + j} AS STRING)" for j in range(ROWS_PER_BAND))
        + ")))"
        for band in range(N_BANDS)
    )
    + "))"
)


def _minhash_sig(sharr: DataFrame) -> DataFrame:
    """(doc_id, shingles) → (doc_id, m0..m15) MinHash signature, computed
    map-side by one ``aggregate`` fold over the shingle array: a signature
    is a pure per-document function, so it costs no shuffle. Stream-safe."""
    return sharr.selectExpr("doc_id", f"{_MINHASH_SQL} AS ms").selectExpr(
        "doc_id", *[f"ms[{j}] AS m{j}" for j in range(16)]
    )


def minhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, m0..m15) → (doc_id, band_idx, bh): the LSH bucket rows.
    Map-side (explode of a per-row array) — stream-safe."""
    return sig.selectExpr("doc_id", _BANDS_SQL)


def _minhash_sig_sql() -> str:
    mins = ",\n           ".join(
        f"MIN(({MINHASH_A[j]} * h + {MINHASH_B[j]}) % {MINHASH_P}) AS m{j}"
        for j in range(16)
    )
    return f"""
    SELECT doc_id,
           {mins}
    FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
          FROM sh)
    GROUP BY doc_id
    """


def _band_cols_sql() -> str:
    selects = []
    for band in range(N_BANDS):
        ms = " || ',' || ".join(
            f"CAST(m{band * ROWS_PER_BAND + j} AS VARCHAR)" for j in range(ROWS_PER_BAND)
        )
        selects.append(f"SELECT doc_id, {band} AS band_idx, md5({ms}) AS bh FROM sig")
    return " UNION ALL ".join(selects)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sig AS ({_minhash_sig_sql()}),
    bands AS ({_band_cols_sql()}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.bh = b.bh
                     AND a.doc_id < b.doc_id
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT s.doc_a, s.doc_b,
           ROUND(s.shared * 1.0 / (ca.n + cb.n - s.shared), 4) AS jaccard
    FROM shared s
    JOIN cnt ca ON ca.doc_id = s.doc_a
    JOIN cnt cb ON cb.doc_id = s.doc_b
    WHERE s.shared * 1.0 / (ca.n + cb.n - s.shared) >= {JACCARD_THRESHOLD}
    """,
    doc="MinHash+LSH near-dup: shingle→minhash(16)→4×4 bands→bucket "
    "equi-join→exact-Jaccard verify. The 100 TB dedup path: candidate "
    "generation cost follows bucket collisions, not O(n²) pairs.",
    tags=("dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one shingle-array materialization feeds the (map-side) signature
    # and the verify stage
    sharr = scoped_persist(_shingle_arrays_df(spark, sf_dir))
    return _lsh_verified_pairs(sharr)


def jaccard_sql(a: str, b: str) -> str:
    """Exact Jaccard of two shingle-array expressions as SQL text:
    shingles are distinct per doc, so |a ∩ b| / |a ∪ b| is
    ``array_intersect`` over the two rows — the verify stage of every
    MinHash-LSH dedup (batch, incremental and streaming)."""
    shared = f"size(array_intersect({a}, {b}))"
    return f"{shared} * 1.0D / (size({a}) + size({b}) - {shared})"


def _lsh_verified_pairs(sharr: DataFrame) -> DataFrame:
    """(doc_id, shingles) → verified near-dup pairs (doc_a, doc_b,
    jaccard >= JACCARD_THRESHOLD) via MinHash signatures → LSH band
    bucket join (singleton-bucket skip + hot-bucket salting) → exact
    array-intersect Jaccard verify. The body of dedup_minhash_lsh,
    shared with the composed dedup_pipeline_e2e so the production chain
    runs the EXACT gated candidate generator. ``sharr`` should already
    be persisted (it feeds both the signature and the verify stage)."""
    # singleton-bucket skip: a (band, bh) bucket with one doc can't
    # produce a candidate pair (doc_a < doc_b needs two), and at corpus
    # scale MOST buckets are singletons — filtering them before the
    # self-join shrinks both join inputs to only colliding rows. One
    # window count over the same (band_idx, bh) key the join shuffles on.
    # persist: both sides of the bucket self-join read this — without the
    # cache the 16-min signature aggregation runs twice (verified: two
    # identical exchanges in the unpersisted plan)
    bands = scoped_persist(
        minhash_bands(_minhash_sig(sharr))
        .selectExpr("*", "count(1) OVER (PARTITION BY band_idx, bh) AS bkt_n")
        .where("bkt_n >= 2")
        .drop("bkt_n")
    )
    # hot-bucket salting (operators/skew.salted_join): a boilerplate-heavy
    # corpus can put thousands of docs in ONE (band, bh) bucket — the
    # pair join's quadratic work for that bucket lands on a single
    # partition. Salting the left side by doc and replicating the right
    # across the n_salt sub-keys spreads the hot bucket's pair
    # generation over n_salt partitions; each (a, b) pair still appears
    # exactly once (under a's salt), so results are identical (asserted
    # in tests/test_scale_patterns.py).
    from ..operators.skew import salted_join

    a = bands.selectExpr("doc_id AS doc_a", "band_idx", "bh")
    b = bands.selectExpr("doc_id AS doc_b", "band_idx", "bh")
    cand = (
        salted_join(a, b, ["band_idx", "bh"], salt_on="doc_a", n_salt=8)
        .where("doc_a < doc_b")
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact-Jaccard verify straight off the persisted shingle ARRAYS
    # (jaccard_sql). The candidate set is tiny relative
    # to the corpus, so both joins broadcast the candidate side (AQE) and
    # the full shingle table is never exploded or shuffled — at 100 TB
    # the old explode-join re-shuffled EVERY doc's shingles by value to
    # verify a handful of pairs; this shape's verify cost follows the
    # candidate count instead.
    A = sharr.selectExpr("doc_id AS doc_a", "shingles AS sh_a")
    B = sharr.selectExpr("doc_id AS doc_b", "shingles AS sh_b")
    jac = jaccard_sql("sh_a", "sh_b")
    return (
        cand.join(A, "doc_a")
        .join(B, "doc_b")
        .where(f"{jac} >= {sql_literal(JACCARD_THRESHOLD)}")
        .selectExpr("doc_a", "doc_b", f"round({jac}, 4) AS jaccard")
    )


def _simhash_sql() -> str:
    return """
    SELECT doc_id,
           -- CAST: DuckDB SUM(int) yields HUGEINT which pandas turns into
           -- float; Spark yields BIGINT — keep both engines on int64
           CAST(SUM(CASE WHEN vote > 0 THEN CAST(power(2, pos) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS simhash32
    FROM (
        SELECT doc_id, pos,
               SUM(CASE WHEN (h // CAST(power(2, pos) AS BIGINT)) % 2 = 1
                        THEN 1 ELSE -1 END) AS vote
        FROM (SELECT DISTINCT doc_id,
                     CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
              FROM (SELECT doc_id, UNNEST(string_split_regex(trim(lower(text)), ' +')) AS tok
                    FROM documents)),
             (SELECT UNNEST(generate_series(0, 31)) AS pos)
        GROUP BY doc_id, pos
    )
    GROUP BY doc_id
    """


@register(
    "dedup_simhash",
    oracle=_simhash_sql(),
    doc="SimHash: 32-bit bit-vote fingerprint over distinct tokens; equal "
    "fingerprints (or low Hamming distance via banding) ⇒ near-dup.",
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Entirely MAP-SIDE: a SimHash is a pure per-document function. The
    # bit-votes are per-position counts over the doc's distinct token
    # hashes — `size(filter(hashes, bit set))` per position instead of a
    # 32× row-inflating crossJoin + two shuffled aggregations. At 100 TB
    # this runs as a single scan with zero exchanges.
    d = load_table(spark, sf_dir, "documents")
    hs = F.array_distinct(
        F.transform(F.array_distinct(_tokens(F.col("text"))), lambda t: _hash32(t))
    )
    d = d.select("doc_id", hs.alias("hs"))
    n = F.size("hs")
    # vote(pos) = (#set bits) - (#unset bits) = 2*cnt - n; bit = 2^pos
    # contributes iff vote > 0
    simhash = None
    for pos in range(32):
        cnt = F.size(
            F.filter(F.col("hs"), lambda h: F.shiftright(h, pos).bitwiseAND(F.lit(1)) == 1)
        )
        bit = F.when(2 * cnt - n > 0, F.lit(1 << pos).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        simhash = bit if simhash is None else simhash + bit
    return d.select("doc_id", simhash.alias("simhash32"))


@register(
    "text_source_overlap_matrix",
    oracle="""
    WITH grams AS (
        SELECT DISTINCT source, g FROM (
            SELECT d.source, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
            FROM (SELECT doc_id, source,
                         string_split_regex(trim(lower(text)), ' +') AS ts
                  FROM documents) d,
                 LATERAL (SELECT unnest(generate_series(1, len(ts) - 2)) AS i) s
            WHERE len(ts) >= 3)),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM grams GROUP BY 1),
    shared AS (
        SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS inter
        FROM grams a JOIN grams b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2)
    SELECT src_a, src_b, inter,
           ROUND(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
    doc="cross-source corpus-overlap matrix: distinct 3-gram sets per "
    "source, pairwise Jaccard via an inverted-index self-join — the "
    "'how redundant are my crawls' curation dashboard. Output and the "
    "per-gram join fan-out are bounded by SOURCE-count squared (not "
    "documents), so the matrix stays a few hundred rows at any corpus "
    "size; the gram sets dedupe map-side before the join.",
    tags=("dedup", "text", "llm"),
)
def text_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    grams = scoped_persist(
        _shingles_df(spark, sf_dir)
        .join(src, "doc_id")
        .select("source", F.col("shingle").alias("g"))
        .distinct()
    )
    sizes = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = grams.select(F.col("source").alias("src_a"), "g")
    b = grams.select(F.col("source").alias("src_b"), "g")
    shared = (
        a.join(b, "g")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        shared.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "inter",
            F.round(
                F.col("inter") * F.lit(1.0) / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "dedup_lsh_recall_report",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    allp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT doc_a, doc_b
        FROM allp JOIN cnt ca ON ca.doc_id = doc_a
                  JOIN cnt cb ON cb.doc_id = doc_b
        WHERE shared * 1.0 / (ca.n + cb.n - shared) >= {JACCARD_THRESHOLD}
    ),
    sig AS ({_minhash_sig_sql()}),
    bands AS ({_band_cols_sql()}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.bh = b.bh
                     AND a.doc_id < b.doc_id
    ),
    lsh AS (SELECT e.doc_a, e.doc_b
            FROM exact e JOIN cand c
              ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b),
    ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM exact),
    nl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lsh)
    SELECT ne.n AS n_exact, nl.n AS n_lsh, ne.n - nl.n AS n_missed,
           CASE WHEN ne.n = 0 THEN 1000000
                ELSE nl.n * 1000000 // ne.n END AS recall_ppm
    FROM ne, nl
    """,
    doc="LSH completeness critic (round 15): how much of the EXACT "
    "near-dup pair set (inverted-index n-gram Jaccard, the ground "
    "truth dedup_ngram_jaccard computes) does the production MinHash-"
    "LSH path recover? LSH's verify stage already guarantees precision "
    "1.0 (candidates are exact-Jaccard checked), so the one number that "
    "can silently rot is RECALL — a banding scheme mis-sized for the "
    "corpus' similarity distribution quietly drops true duplicates, "
    "and nothing downstream ever notices. One row: exact pairs, LSH "
    "pairs, missed pairs, integer-exact recall_ppm. The Spark side "
    "composes the two GATED queries (shared shingle/signature code "
    "paths) with a left-anti count; the oracle replays both chains. "
    "At 100 TB the exact side is the audit's cost bound (quadratic in "
    "dup-cluster size) — production runs it on a sampled stratum, the "
    "same composition at a WHERE-sampled input.",
    tags=("dedup", "quality", "evaluation"),
)
def dedup_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r16 optimization (VERDICT r15 finding #3): the two driver-side
    # .count() actions + createDataFrame are folded into ONE distributed
    # aggregation — exact pairs LEFT-JOIN the (unique-by-construction)
    # LSH pair set with a hit flag, and a single 1-row agg yields both
    # counts; the report row never touches the driver. Same numbers:
    # count(left join) == count(exact) and sum(hit) == count(left_semi)
    # because LSH pairs are distinct on (doc_a, doc_b).
    exact = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    lsh = dedup_minhash_lsh(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    rep = exact.join(lsh, ["doc_a", "doc_b"], "left").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_lsh"),
    )
    return rep.select(
        "n_exact",
        "n_lsh",
        (F.col("n_exact") - F.col("n_lsh")).alias("n_missed"),
        F.when(F.col("n_exact") == 0, F.lit(1_000_000).cast("long"))
        .otherwise(F.expr("n_lsh * 1000000 div n_exact"))
        .alias("recall_ppm"),
    )


INCREMENTAL_NEW_MOD = 20  # doc_id % 20 == 0 -> the 5% "new batch" slice


@register(
    "dedup_incremental_lsh",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    sig AS ({_minhash_sig_sql()}),
    bands AS ({_band_cols_sql()}),
    cls AS (SELECT doc_id,
                   CAST(doc_id % {INCREMENTAL_NEW_MOD} = 0 AS INT) AS is_new
            FROM documents),
    newb AS (SELECT b.doc_id, b.band_idx, b.bh
             FROM bands b JOIN cls ON cls.doc_id = b.doc_id
             WHERE cls.is_new = 1),
    cand AS (
        SELECT DISTINCT n.doc_id AS doc_new, b.doc_id AS doc_old
        FROM newb n
        JOIN bands b ON b.band_idx = n.band_idx AND b.bh = n.bh
        JOIN cls c ON c.doc_id = b.doc_id
        WHERE c.is_new = 0 OR b.doc_id < n.doc_id
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
        SELECT c.doc_new, c.doc_old, COUNT(*) AS shared
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_new
        JOIN sh b ON b.doc_id = c.doc_old AND b.shingle = a.shingle
        GROUP BY 1, 2
    ),
    dups AS (
        SELECT s.doc_new, s.doc_old
        FROM shared s
        JOIN cnt ca ON ca.doc_id = s.doc_new
        JOIN cnt cb ON cb.doc_id = s.doc_old
        WHERE s.shared * 1.0 / (ca.n + cb.n - s.shared) >= {JACCARD_THRESHOLD}
    ),
    verdict AS (SELECT doc_new, MIN(doc_old) AS dup_of FROM dups GROUP BY 1)
    SELECT cls.doc_id, v.dup_of,
           CAST(v.dup_of IS NULL AS INT) AS keep
    FROM cls LEFT JOIN verdict v ON v.doc_new = cls.doc_id
    WHERE cls.is_new = 1
    """,
    doc="INCREMENTAL dedup — the daily-increment production shape: a "
    f"delta batch (doc_id % {INCREMENTAL_NEW_MOD} == 0, a deterministic "
    "~5% slice standing in for today's crawl) is deduplicated against "
    "the EXISTING corpus plus earlier arrivals in the same batch, "
    "WITHOUT ever pairing existing docs with each other — at 100 TB "
    "the corpus side contributes only its (persisted) LSH band index "
    "and the candidate join is delta × colliding-buckets, so daily "
    "cost follows the delta, not the corpus. Candidates from the "
    "gated MinHash band machinery, exact-Jaccard verify on the shingle "
    "arrays, verdict per new doc: keep, or dup_of = the smallest "
    "matching partner (deterministic). Per-batch arrival order is "
    "doc_id; existing docs always count as earlier.",
    tags=("dedup", "lsh", "llm-pipeline", "scale"),
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    is_new = (F.col("doc_id") % INCREMENTAL_NEW_MOD == 0).cast("int")
    sharr = scoped_persist(_shingle_arrays_df(spark, sf_dir))
    bands = minhash_bands(_minhash_sig(sharr)).withColumn("is_new", is_new)
    bands = scoped_persist(bands)
    newb = bands.where(F.col("is_new") == 1).select(
        F.col("doc_id").alias("doc_new"), "band_idx", "bh"
    )
    allb = bands.select(
        F.col("doc_id").alias("doc_old"), "band_idx", "bh",
        F.col("is_new").alias("old_is_new"),
    )
    cand = (
        newb.join(allb, ["band_idx", "bh"])
        .where((F.col("old_is_new") == 0) | (F.col("doc_old") < F.col("doc_new")))
        .select("doc_new", "doc_old")
        .distinct()
    )
    A = sharr.selectExpr("doc_id AS doc_new", "shingles AS sh_a")
    B = sharr.selectExpr("doc_id AS doc_old", "shingles AS sh_b")
    verdict = (
        cand.join(A, "doc_new")
        .join(B, "doc_old")
        .where(f"{jaccard_sql('sh_a', 'sh_b')} >= {sql_literal(JACCARD_THRESHOLD)}")
        .groupBy("doc_new")
        .agg(F.min("doc_old").alias("dup_of"))
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id").where(is_new == 1)
    return d.join(verdict, d.doc_id == verdict.doc_new, "left").select(
        "doc_id", "dup_of", F.col("dup_of").isNull().cast("int").alias("keep")
    )
